"""Deterministic synthetic Common-Crawl-style web-page corpus.

Generates the exact input shape from ``BASELINE.json`` ``input_hint``::

    documents(url string, warc_ts timestamp, html binary, text string,
              lang string)

Every page is a pure function of ``(seed, doc_id)`` (``random.Random`` with
an integer seed — Mersenne Twister, stable across processes and platforms),
so golden outputs are reproducible byte-for-byte. No external data.

Page ingredients per FIXTURES.md section 1.1 — each exercises a reference
operator analog (see SURVEY.md section 2): nav/header/footer boilerplate
(high link density), a main article (the byte-checked text), bank-statement
tables with an exact balance invariant (releve_bancaire.py:172-231), field
lines (process_fields.py), MRZ blocks (document_identite.py:211-262), and
fiscal-code rows (bilan.py:166-209). Hosts follow a skewed distribution
(~3 hot hosts owning ~30% of rows) for the salting/skew tests.
"""

from __future__ import annotations

import datetime as dt
import random
from html import escape as _esc

from .kernel import (
    BANK_DATE_FORMATS,
    FISCAL_LETTER_CODES,
    FISCAL_NUMBER_CODES,
    FR_MONTHS,
)

SEED = 42
N_VARIANTS = 9

_HOT_HOSTS = ("news.bigportal.example", "shop.megastore.example",
              "blog.contentfarm.example")

_VOCAB = (
    "spark table query data column filter join window batch stream merge "
    "scan sort hash value row partition shuffle broadcast codegen vector "
    "arrow parquet snapshot lineage metric executor driver stage task plan "
    "catalyst adaptive skew salt bucket prune pushdown schema union pivot"
).split()

_FR_WORDS = (
    "le la les un une des et ou dans sur avec pour par relevé compte banque "
    "montant virement prélèvement carte achat facture opération échéance "
    "agence client titulaire période intérêts frais cotisation retrait dépôt"
).split()

_FIRST_NAMES = ("JEAN", "MARIE", "PIERRE", "SOPHIE", "LUC", "CLAIRE",
                "PAUL", "ANNE", "HUGO", "LEA")
_LAST_NAMES = ("MARTIN", "BERNARD", "DUBOIS", "THOMAS", "ROBERT", "RICHARD",
               "PETIT", "DURAND", "LEROY", "MOREAU")
_STREETS = ("rue", "avenue", "boulevard", "route", "square")
_BANK_MARKERS = (
    "Banque Populaire", "Crédit Agricole", "CIC", "LCL", "Crédit du Nord",
    "Crédit Mutuel", "BNP Paribas", "Caisse d'Épargne",
)
# parallel to _BANK_MARKERS: the bank_id the kernel detects for each marker
_BANK_IDS = (
    "banque_populaire", "credit_agricole", "cic", "lcl", "credit_du_nord",
    "credit_mutuel", "bnp_paribas", "caisse_d_epargne",
)


def _host_for(seed: int, doc_id: int, rng: random.Random | None = None
              ) -> str:
    """Host of ``doc_id``'s page. When called with the page's own rng the
    two draws advance its stream exactly as before; when called without
    one (cross-doc canonical targets need ANOTHER doc's host) a fresh rng
    replays the same leading draws, so the answer matches what
    make_page(doc_id) produces without touching the caller's stream."""
    if rng is None:
        rng = random.Random(seed * 1_000_003 + doc_id)
    if rng.random() < 0.30:
        return _HOT_HOSTS[doc_id % len(_HOT_HOSTS)]
    return f"site-{rng.randint(0, 499):03d}.example.org"


def _date_in_bank_format(day: int, month: int, year: int, fmt: str) -> str:
    if fmt == "slash":
        return f"{day:02d}/{month:02d}/{year}"
    if fmt == "dot":
        return f"{day:02d}.{month:02d}.{year}"
    return f"{day:02d} {FR_MONTHS[month - 1]} {year}"

_LETTER_CODE_POOL = tuple(FISCAL_LETTER_CODES[1][:8] + FISCAL_LETTER_CODES[2][:8])
_NUMBER_CODE_POOL = tuple(
    FISCAL_NUMBER_CODES[1][:8] + FISCAL_NUMBER_CODES[2][:8]
    + FISCAL_NUMBER_CODES[3][:8]
)


def _amount(rng: random.Random, lo: float = 1.0, hi: float = 2000.0) -> float:
    return round(rng.uniform(lo, hi), 2)


def _fr(v: float) -> str:
    """French decimal-comma rendering (releve_bancaire.py:167 inverse)."""
    return f"{v:.2f}".replace(".", ",")


def _sentence(rng: random.Random, vocab, lo=8, hi=14) -> str:
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(lo, hi)))


def _statement_rows(rng: random.Random, corrupt: bool, drop_date: bool,
                    no_solde: bool) -> list[list[str]]:
    """Bank-statement table rows with an exact balance invariant:
    closing = opening + sum(debit) - sum(credit), solde markers in the
    debit column (so check_solde picks side='debit')."""
    header = ["Date", "Libellé", "Débit", "Crédit"]
    opening = _amount(rng, 100, 5000)
    rows = [header]
    if not no_solde:
        rows.append(["", "Solde précédent", _fr(opening), ""])
    deb_sum = cred_sum = 0.0
    for i in range(rng.randint(4, 9)):
        day = (i % 27) + 1
        date = f"{day:02d}/03/2024"
        label = _sentence(rng, _FR_WORDS, 2, 4)
        v = _amount(rng)
        if rng.random() < 0.5:
            row = [date, label, _fr(v), ""]
            deb_sum = round(deb_sum + v, 2)
        else:
            row = [date, label, "", _fr(v)]
            cred_sum = round(cred_sum + v, 2)
        # ragged tail beyond header width ('solde' marker that must be
        # truncated away, check_solde body slicing / ADVICE ragged cases)
        if rng.random() < 0.12:
            row = row + ["cf solde"]
        rows.append(row)
        # occasional short row (fewer cells than the header)
        if rng.random() < 0.10:
            rows.append([f"{day:02d}/04/2024", _sentence(rng, _FR_WORDS, 1, 2)])
    closing = round(opening + deb_sum - cred_sum, 2)
    if corrupt:
        closing = round(closing + 7.77, 2)
    if not no_solde:
        rows.append(["", "Solde final", _fr(closing), ""])
    if drop_date:
        rows = [r[1:4] for r in rows]
    return rows


def _fiscal_rows(rng: random.Random) -> list[list[str]]:
    rows = [["Code", "N", "N-1", "N-2"]]
    for _ in range(rng.randint(3, 6)):
        if rng.random() < 0.5:
            code = rng.choice(_NUMBER_CODE_POOL)
        else:
            code = rng.choice(_LETTER_CODE_POOL)
        rows.append([code, f"{rng.randint(100, 99999)} €",
                     f"{rng.randint(100, 99999)} €",
                     f"{rng.randint(100, 99999)} €"])
    return rows


def _mrz_id_card(rng: random.Random) -> tuple[str, str]:
    name = rng.choice(_LAST_NAMES)
    given = rng.choice(_FIRST_NAMES)
    l1 = ("IDFRA" + name.ljust(25, "<") + f"{rng.randint(10, 99)}")
    l1 = l1.ljust(36, "<")[:36]
    l2 = (
        f"{rng.randint(10 ** 12, 10 ** 13 - 1)}"[:13]
        + given.ljust(14, "<")
        + f"{rng.randint(60, 99)}{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}"
        + "1" + rng.choice("MF") + "1"
    )
    return l1, l2[:36].ljust(36, "<")


def _mrz_passport(rng: random.Random) -> tuple[str, str]:
    name = rng.choice(_LAST_NAMES)
    given = rng.choice(_FIRST_NAMES)
    l1 = ("P<FRA" + name + "<<" + given).ljust(44, "<")[:44]
    l2 = (
        f"{rng.randint(10 ** 8, 10 ** 9 - 1)}"
        + "4FRA"
        + f"{rng.randint(60, 99)}{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}"
        + "5" + rng.choice("MF")
        + f"{rng.randint(25, 33)}{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}"
    )
    return l1, l2[:44].ljust(44, "<")


def _table_html(rows: list[list[str]]) -> str:
    body = "".join(
        "<tr>" + "".join(f"<td>{c}</td>" for c in row) + "</tr>" for row in rows
    )
    return f"<table>{body}</table>"


def make_page(doc_id: int, seed: int = SEED) -> dict:
    """One deterministic page: dict(url, warc_ts, html: bytes, text, lang)."""
    rng = random.Random(seed * 1_000_003 + doc_id)
    variant = doc_id % N_VARIANTS

    host = _host_for(seed, doc_id, rng)
    url = f"https://{host}/articles/{doc_id:08d}"
    # Canonical-URL declarations (kernel head_metadata + canonical_dedup):
    # some pages are tracking-suffixed VARIANTS of a clean target and say
    # so — via <link rel=canonical> (7%3), via og:url fallback (7%5), or
    # via a RELATIVE token-list rel on the clean page itself (11%4) — so
    # the canonical-collapse dedup has real variant groups to merge and
    # every resolution branch is exercised through the goldens.
    canon_target = url
    head_meta = ""
    if doc_id % 7 == 3:
        url = f"{canon_target}?utm_source=news&ref={doc_id % 5}"
        head_meta = f'<link rel="canonical" href="{canon_target}">'
    elif doc_id % 7 == 4:
        # Second tracking-variant of the PREVIOUS doc's clean target (the
        # %7==3 doc declares the same one) — so canonical_dedup has real
        # multi-variant groups to merge, not 1:1 self-groups.
        canon_target = (f"https://{_host_for(seed, doc_id - 1)}"
                        f"/articles/{doc_id - 1:08d}")
        url = f"{canon_target}?utm_medium=social&s={doc_id % 3}"
        head_meta = f'<link rel="canonical" href="{canon_target}">'
    elif doc_id % 7 == 5:
        url = f"{canon_target}?utm_medium=feed"
        head_meta = f'<meta property="og:url" content="{canon_target}">'
    elif doc_id % 11 == 4:
        head_meta = ('<link rel="alternate canonical" '
                     f'href="/articles/{doc_id:08d}">')
    warc_ts = dt.datetime(2024, 1, 1) + dt.timedelta(minutes=doc_id % 525_600)
    lang = "fra" if rng.random() < 0.7 else "eng"

    nav_links = " ".join(
        f'<a href="/{w}">{w.capitalize()}</a>' for w in rng.sample(_VOCAB, 6)
    )
    title = _sentence(rng, _VOCAB, 4, 7).capitalize()
    paragraphs = [_sentence(rng, _VOCAB) for _ in range(rng.randint(3, 7))]

    content_parts = [f"<h1>{title}</h1>"]
    content_parts += [f"<p>{p}</p>" for p in paragraphs]

    if variant <= 4:  # bank-statement style page with field lines
        first, last = rng.choice(_FIRST_NAMES), rng.choice(_LAST_NAMES)
        street = rng.choice(_STREETS)
        honorific = rng.choice(("M.", "Mme"))
        bank_i = rng.randrange(len(_BANK_MARKERS))
        fmt = BANK_DATE_FORMATS.get(_BANK_IDS[bank_i], "fr")
        day, month, year = rng.randint(1, 28), rng.randint(1, 12), 2024
        content_parts.append(
            f"<p>{honorific} {first} {last}</p>"
            f"<p>{rng.randint(1, 99)} {street} des {rng.choice(_FR_WORDS)}</p>"
            f"<p>75{rng.randint(1, 20):03d} Paris</p>"
            f"<p>Tél: 01{rng.randint(10 ** 7, 10 ** 8 - 1)}</p>"
            f"<p>contact.{doc_id}@agence-{rng.randint(0, 99)}.fr</p>"
            f"<p>Relevé édité le</p>"
            f"<p>{_date_in_bank_format(day, month, year, fmt)}</p>"
            f"<p>{_BANK_MARKERS[bank_i]} — relevé de compte</p>"
        )
        rows = _statement_rows(
            rng,
            corrupt=(variant == 3),
            drop_date=(variant == 4),
            no_solde=(variant == 2),
        )
        content_parts.append(_table_html(rows))
    elif variant == 5:
        l1, l2 = _mrz_id_card(rng)
        # 'Carte,' and 'n°:' are punctuation-attached on purpose: the
        # reference's trigger match is substring-in-word, and these tokens
        # only hit under that semantics (exact word equality misses them).
        content_parts.append(
            "<p>Carte nationale d'identité</p>"
            f"<pre>{_esc(l1)}\n{_esc(l2)}</pre>"
            f"<p>Nom: {rng.choice(_LAST_NAMES)}</p>"
            f"<p>Prénom: {rng.choice(_FIRST_NAMES)}</p>"
            f"<p>Taille: 1,{rng.randint(50, 95)}</p>"
            f"<p>Carte, n°: {rng.randint(10 ** 11, 10 ** 12 - 1)}</p>"
        )
    elif variant == 6:
        l1, l2 = _mrz_passport(rng)
        if rng.random() < 0.5:
            content_parts.append(
                "<p>Passeport République Française</p>"
                f"<pre>{_esc(l1)}\n{_esc(l2)}</pre>"
                f"<p>Taille: 1,{rng.randint(50, 95)}</p>"
            )
        else:
            # titre de séjour: same 44-char MRZ shape as a passport
            # (document_identite.py:173-177); 'sejour' rendered unaccented
            # the way the reference's accent-sensitive pattern expects.
            content_parts.append(
                "<p>Carte de sejour / titre de séjour</p>"
                f"<pre>{_esc(l1)}\n{_esc(l2)}</pre>"
            )
    elif variant == 7:  # fiscal bundle page
        content_parts.append("<p>Liasse fiscale formulaire 2050</p>")
        content_parts.append(_table_html(_fiscal_rows(rng)))
    else:  # variant == 8: tax notice page
        day, month = rng.randint(1, 28), rng.randint(1, 12)
        content_parts.append(
            "<p>Direction générale des finances publiques</p>"
            "<p>Impôt sur le revenu</p>"
            f"<p>Avis d’impôt établi le {day:02d}/{month:02d}/2024</p>"
        )

    footer_links = " ".join(
        f'<a href="/{w}">{w}</a>' for w in rng.sample(_VOCAB, 8)
    )
    html = (
        "<html><head><title>"
        + title
        + "</title>"
        + head_meta
        + "<style>body{margin:0}</style>"
        + "<script>var t=1;</script></head><body>"
        + f"<nav>{nav_links}</nav>"
        + f"<header><a href='/'>{host}</a> breaking latest popular</header>"
        + "<!-- boilerplate comment -->"
        + '<div class="content">'
        + "".join(content_parts)
        + "</div>"
        + f"<footer>{footer_links} copyright {host}</footer>"
        + "</body></html>"
    )

    # Raw visible text (pre-extraction, boilerplate included) per FIXTURES.md.
    import re as _re

    visible = _re.sub(r"<script>.*?</script>|<style>.*?</style>|<!--.*?-->",
                      " ", html)
    visible = _re.sub(r"<[^>]+>", " ", visible)
    visible = " ".join(visible.split())

    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": html.encode("utf-8"),
        "text": visible,
        "lang": lang,
    }


def corpus_rows(n: int, seed: int = SEED) -> list[dict]:
    return [make_page(i, seed) for i in range(n)]


CORPUS_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def corpus_df(spark, n: int, seed: int = SEED):
    """Synthetic corpus as a Spark DataFrame with the input_hint schema.

    Built via distributed range -> pandas UDF-free mapInPandas generation so
    corpus creation itself scales with partitions (no driver-side collect of
    page bytes for large n).
    """
    from pyspark.sql import functions as F  # noqa: N812

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = [make_page(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    n_parts = max(2, min(32, n // 250 or 2))
    base = spark.range(0, n, 1, n_parts)
    return base.mapInPandas(gen, schema=CORPUS_SCHEMA).select(
        "url", F.col("warc_ts").cast("timestamp"), "html", "text", "lang"
    )


# ---------------------------------------------------------------------------
# PDF corpus: minimal valid PDFs (catalog/pages/page/font/content xref) with
# deterministic text content — the fixture for the kernel's layout-parse
# path (kernel.pdf_text). Even doc_ids get FlateDecode content streams,
# odd ids raw streams, so both decode paths stay exercised.
# ---------------------------------------------------------------------------


def _pdf_escape(s: str) -> bytes:
    # cp1252 = WinAnsiEncoding (the kernel decodes the same way)
    out = s.encode("cp1252", errors="replace")
    return out.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


def build_pdf(lines: list[str], compress: bool) -> bytes:
    """One-page PDF whose content stream shows `lines` top-to-bottom."""
    import zlib

    def show_one(i: int, l: str) -> bytes:
        if i % 2 == 0 or " " not in l:
            return b"0 -14 Td (" + _pdf_escape(l) + b") Tj"
        # odd lines render as TJ kern arrays with inter-word gaps encoded
        # as -250/1000-em kerns (how real PDFs encode spaces) plus a small
        # -20 same-word kern — extracted text is identical (the parser
        # emits a space for kerns <= -180 and concatenates smaller ones),
        # so every golden check exercises the TJ word-gap path
        words = l.split(" ")
        arr = b" -250 ".join(b"(" + _pdf_escape(w) + b")" for w in words)
        return b"0 -14 Td [" + arr + b" -20 ()] TJ"

    shows = b" ".join(show_one(i, l) for i, l in enumerate(lines))
    content = b"BT /F1 12 Tf 50 780 Td " + shows + b" ET"
    filt = b""
    if compress:
        content = zlib.compress(content)
        filt = b" /Filter /FlateDecode"
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Length " + str(len(content)).encode() + filt
        + b" >>\nstream\n" + content + b"\nendstream",
    ]
    buf = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(buf))
        buf += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += b"xref\n0 " + str(len(objs) + 1).encode() + b"\n"
    buf += b"0000000000 65535 f \n"
    for off in offsets:
        buf += f"{off:010d} 00000 n \n".encode()
    buf += (
        b"trailer\n<< /Size " + str(len(objs) + 1).encode()
        + b" /Root 1 0 R >>\nstartxref\n" + str(xref_at).encode()
        + b"\n%%EOF\n"
    )
    return bytes(buf)


def make_pdf_page(doc_id: int, seed: int = SEED) -> dict:
    """One deterministic PDF document row (same schema as make_page).

    Three content kinds so the per-kind dispatch runs on PDF payloads too:
    statements (with a bank marker and its configured date format), tax
    notices, and plain articles."""
    rng = random.Random(seed * 7_000_003 + doc_id)
    url = f"https://files.site-{rng.randint(0, 99):03d}.example.org/docs/{doc_id:06d}.pdf"
    warc_ts = dt.datetime(2024, 2, 1) + dt.timedelta(minutes=doc_id % 525_600)

    kind = doc_id % 3
    if kind == 0:  # bank statement rendered as PDF text
        bank_i = rng.randrange(len(_BANK_MARKERS))
        fmt = BANK_DATE_FORMATS.get(_BANK_IDS[bank_i], "fr")
        day, month, year = rng.randint(1, 28), rng.randint(1, 12), 2024
        lines = [
            f"{rng.choice(('M.', 'Mme'))} {rng.choice(_FIRST_NAMES)} {rng.choice(_LAST_NAMES)}",
            f"{rng.randint(1, 99)} {rng.choice(_STREETS)} des {rng.choice(_FR_WORDS)}",
            f"Tél: 01{rng.randint(10 ** 7, 10 ** 8 - 1)}",
            f"contact.{doc_id}@agence-{rng.randint(0, 99)}.fr",
            "Relevé édité le",
            _date_in_bank_format(day, month, year, fmt),
            f"{_BANK_MARKERS[bank_i]} — relevé de compte (pdf)",
        ]
    elif kind == 1:  # tax notice
        day, month = rng.randint(1, 28), rng.randint(1, 12)
        lines = [
            "Direction générale des finances publiques",
            "Impôt sur le revenu",
            f"Avis d'impôt établi le {day:02d}/{month:02d}/2024",
        ]
    else:  # plain article
        lines = [
            _sentence(rng, _VOCAB, 4, 7).capitalize(),
            *(_sentence(rng, _VOCAB) for _ in range(rng.randint(2, 5))),
        ]

    return {
        "url": url,
        "warc_ts": warc_ts,
        "html": build_pdf(lines, compress=(doc_id % 2 == 0)),
        "text": " ".join(lines),
        "lang": "fra",
    }


def pdf_corpus_df(spark, n: int, seed: int = SEED):
    """PDF corpus as a Spark DataFrame (input_hint schema; the html column
    carries PDF bytes — the content-type sniff in the kernel routes them)."""
    from pyspark.sql import functions as F  # noqa: N812

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = [make_pdf_page(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    n_parts = max(2, min(32, n // 250 or 2))
    base = spark.range(0, n, 1, n_parts)
    return base.mapInPandas(gen, schema=CORPUS_SCHEMA).select(
        "url", F.col("warc_ts").cast("timestamp"), "html", "text", "lang"
    )
