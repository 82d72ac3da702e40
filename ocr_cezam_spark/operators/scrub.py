"""Corpus hygiene operators for a web-text training pipeline: PII
redaction, mojibake (double-encoding) repair, benchmark decontamination,
and URL blocklist filtering.

These are the scrubbing stages that sit between extraction and dedup in a
C4/RefinedWeb-style pipeline (reference analog: ocr-cezam normalizes and
filters per-document text before field extraction, utils/utils.py:30-62;
here the same hygiene concern is generalized to crawl scale).

Every operator is pure native expressions — regexp_replace /
regexp_extract_all / replace chains / broadcast joins — so the whole
stage codegens and runs JVM-side with zero Python in the hot path.
Regex patterns are restricted to the Java-regex ∩ RE2 common subset
(character classes, non-capturing groups, bounded repetition, \\b) so the
DuckDB oracle twins evaluate the exact same language.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..functions.url import host_suffix
from .dedup import with_words

# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------
# Order matters and is part of the contract: emails first (their local
# parts contain digits/dots that could otherwise feed the phone/IP
# patterns), then phones, then IPs. The oracle applies the same order.
PII_PATTERNS: list[tuple[str, str, str]] = [
    # (kind, pattern, replacement)
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    # French-style numbers as rendered by the reference's bank statements
    # (+33 or 0, then 9 digits in space/dot/dash-separated pairs)
    ("phone", r"(?:\+33 ?|0)[1-9](?:[ .-]?[0-9]{2}){4}", "[PHONE]"),
    ("ip", r"\b[0-9]{1,3}(?:\.[0-9]{1,3}){3}\b", "[IP]"),
]


def pii_redact(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text",
               keep_cols: tuple[str, ...] = ()) -> DataFrame:
    """Mask emails / phone numbers / IPv4 addresses and count each kind.

    Counts are taken on the PRE-redaction text (a phone inside an email
    would otherwise be double-counted or hidden depending on order), then
    the three regexp_replace passes run in the fixed PII_PATTERNS order.

    Scale shape: three regexp_extract_all + three regexp_replace over one
    projected column — a single narrow map stage, no shuffle, codegen'd.
    At 100 TB this is scan-bound; the patterns are anchored character
    classes (no catastrophic backtracking constructs).
    """
    text = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0)))
        .cast("long").alias(f"n_{kind}s")
        for kind, pat, _ in PII_PATTERNS
    ]
    redacted = text
    for _, pat, repl in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, repl)
    return docs.select(
        F.col(id_col), *counts, redacted.alias("text_redacted"),
        *[F.col(c) for c in keep_cols],
    )


# ---------------------------------------------------------------------------
# Mojibake repair
# ---------------------------------------------------------------------------
# The classic crawl corruption: UTF-8 bytes decoded as latin-1/cp1252, so
# every accented character becomes a 2-char 'Ã?' / 'Â?' sequence. The map
# below covers the French repertoire the reference's documents use
# (utils/utils.py date/field text); each key is the latin-1 rendering of
# the value's UTF-8 bytes. Keys all start with 'Ã'/'Â' and values never
# contain those lead bytes, so the replace chain is order-insensitive —
# but both engines apply it in this exact order anyway.
MOJIBAKE_MAP: list[tuple[str, str]] = [
    ("Ã©", "é"), ("Ã¨", "è"), ("Ãª", "ê"),
    ("Ã¢", "â"), ("Ã´", "ô"), ("Ã®", "î"),
    ("Ã»", "û"), ("Ã§", "ç"), ("Ã¹", "ù"),
    ("Ã¼", "ü"), ("Ã ", "à"),
    ("Â«", "«"), ("Â»", "»"), ("Â°", "°"),
]


import re as _re

_NON_ASCII_RUNS = _re.compile(r"[^\x00-\x7f]+")


def _deep_fix_text(s: str, max_passes: int = 3) -> str:
    """ftfy-style span repair: maximal non-ASCII runs that round-trip
    cp1252/latin-1 -> UTF-8 are re-decoded; repeated until fixpoint (each
    pass peels ONE layer of mis-decoding, so double/triple-encoded text
    needs multiple passes — the case the constant chain cannot express).
    ASCII spans never change; a legitimate accented span fails the UTF-8
    decode and passes through untouched. Called once per ROW in the
    mapInArrow batch loop — the pattern is module-level, nothing
    compiles per call."""
    runs = _NON_ASCII_RUNS

    def fix_span(m) -> str:
        span = m.group(0)
        for enc in ("cp1252", "latin-1"):
            try:
                repaired = span.encode(enc).decode("utf-8")
            except (UnicodeEncodeError, UnicodeDecodeError):
                continue
            if repaired != span:
                return repaired
        return span

    for _ in range(max_passes):
        fixed = runs.sub(fix_span, s)
        if fixed == s:
            break
        s = fixed
    return s


def fix_mojibake(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", deep: bool = False) -> DataFrame:
    """Repair latin-1-decoded UTF-8 sequences via a fixed replace chain.

    Returns (id, text_fixed, n_fixed) where n_fixed is the character
    count repaired away: each single-layer repair shrinks the text
    (2-char mojibake -> 1 accented char), so
    n_fixed = len(before) - len(after); both engines' length() count
    characters, not bytes.

    Scale shape: a chain of constant replace() calls over one column —
    pure codegen, no shuffle. The native chain covers the dominant
    single-pass corruption crawls actually exhibit and stays the
    default.

    ``deep=True`` switches to the ftfy-style escalation path for
    multi-layer corruption (double/triple-encoded text the constant
    chain misses): per-row span detection + iterated cp1252/latin-1 ->
    UTF-8 round-trips, Arrow-batched through ``mapInArrow`` (bytes-level
    logic has no native expression). Still shuffle-free — one narrow
    Python stage instead of the codegen'd chain, so reserve it for
    corpora where the cheap chain's n_fixed signals residual damage.
    """
    if deep:
        import pyarrow as pa

        id_field = docs.schema[id_col]

        def batches(it):
            for rb in it:
                tbl = pa.table(rb)
                texts = tbl.column(text_col).to_pylist()
                ids = tbl.column(id_col).to_pylist()
                fixed = [None if t is None else _deep_fix_text(t)
                         for t in texts]
                n_fixed = [
                    None if t is None else len(t) - len(ft)
                    for t, ft in zip(texts, fixed)
                ]
                yield pa.record_batch(
                    [
                        pa.array(ids, type=tbl.column(id_col).type),
                        pa.array(fixed, type=pa.string()),
                        pa.array(n_fixed, type=pa.int32()),
                    ],
                    names=[id_col, "text_fixed", "n_fixed"],
                )

        from pyspark.sql.types import IntegerType, StringType, StructField, StructType

        out_schema = StructType([
            StructField(id_col, id_field.dataType, id_field.nullable),
            StructField("text_fixed", StringType(), True),
            StructField("n_fixed", IntegerType(), True),
        ])
        return docs.select(id_col, text_col).mapInArrow(batches, out_schema)

    text = F.col(text_col)
    fixed = text
    for bad, good in MOJIBAKE_MAP:
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    return docs.select(
        F.col(id_col),
        fixed.alias("text_fixed"),
        (F.length(text) - F.length(fixed)).cast("int").alias("n_fixed"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------
def _ngram_hashes(df: DataFrame, id_col: str, text_col: str,
                  n: int) -> DataFrame:
    """(id, gh): md5 of every word-level n-gram, whitespace tokenized.
    Native exprs only: the text is split once (dedup.with_words), then
    transform(sequence) builds each window with slice, explode yields one
    row per gram."""
    grams = with_words(text_col, lambda ws: F.transform(
        F.sequence(F.lit(0), F.size(ws) - n),
        lambda i: F.md5(F.concat_ws(" ", F.slice(ws, i + 1, F.lit(n)))),
    ))
    return (
        df.filter(F.size(F.split(F.col(text_col), " ")) >= n)
        .select(F.col(id_col), F.explode(grams).alias("gh"))
    )


def decontaminate(docs: DataFrame, bench: DataFrame, n: int = 8,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Flag training documents sharing any word n-gram with a benchmark
    set (GPT-3/PaLM-style 13-gram decontamination, here parameterized).

    Returns (id, n_hits): per contaminated document, the number of
    DISTINCT benchmark n-grams it contains. Clean documents are absent.

    Scale shape: the benchmark side is tiny by construction (eval sets
    are thousands of documents, not billions) — its distinct gram hashes
    broadcast, and the broadcast join runs FIRST so the corpus grams are
    pruned to benchmark matches before anything shuffles (a
    distinct-then-join order would shuffle every gram of every document —
    the scale-killer). The per-doc distinct-hit count then aggregates the
    few surviving rows. The explode is the honest cost: ~|words| rows per
    doc, all narrow and map-side. At 100 TB the gram hash would drop to
    xxhash64 (cheaper, same plan); md5 here for bit-identical
    cross-engine checks.
    """
    bench_g = _ngram_hashes(bench, id_col, text_col, n).select("gh").distinct()
    return (
        _ngram_hashes(docs, id_col, text_col, n)
        .join(F.broadcast(bench_g), "gh")
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("gh")).alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# URL blocklist filtering
# ---------------------------------------------------------------------------
BLOCK_PATH_RULE = r"/ads/"  # path-segment rule (UT1-style category block)


def url_blocklist_filter(pages: DataFrame, blocklist: DataFrame,
                         url_col: str = "url", levels: int = 3,
                         path_rule: str = BLOCK_PATH_RULE) -> DataFrame:
    """Drop pages whose site (host suffix at ``levels`` labels) is on a
    blocklist, or whose URL matches a path-category rule — the standard
    RefinedWeb/C4 URL-filter stage.

    ``blocklist`` is a one-column DataFrame ``site`` of blocked suffixes.

    Scale shape: the blocklist (UT1 ~4M entries worst case) broadcasts;
    the filter is one broadcast left-anti hash join plus a native rlike —
    no shuffle of the page table, predicate evaluated inside the scan
    stage. Keeps (id-cols.., url, site) for downstream per-site quotas.
    """
    site = host_suffix(F.col(url_col), levels=levels)
    kept = (
        pages.withColumn("site", site)
        .filter(~F.col(url_col).rlike(path_rule))
        .join(F.broadcast(blocklist), "site", "left_anti")
    )
    return kept


def blocklist_of(spark, sites: list[str]) -> DataFrame:
    """Tiny dimension: one row per blocked site suffix."""
    return spark.createDataFrame([(s,) for s in sites], ["site"])
