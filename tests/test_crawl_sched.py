"""Adaptive recrawl scheduling + crawler-trap mining (operators/pipeline.py)
and host-scoped boilerplate stripping (operators/dedup.py)."""

from __future__ import annotations

import math

from ocr_cezam_spark.operators import dedup, pipeline, sampling


def test_recrawl_schedule_lambda_matches_estimator(spark):
    # u1: changes every visit; u2: never; u3: one change; u4: one visit
    rows = []
    for snap in range(1, 5):
        rows.append(("u1", snap, f"d{snap}"))
        rows.append(("u2", snap, "same"))
        rows.append(("u3", snap, "a" if snap < 3 else "b"))
    rows.append(("u4", 1, "x"))
    hist = spark.createDataFrame(rows, ["url", "snap", "digest"])
    got = {r["url"]: r for r in pipeline.recrawl_schedule(hist).collect()}

    def lam(n, x):
        raw = -math.log((n - x + 0.5) / (n + 0.5))
        return math.floor(raw * 1e4 + 0.5) / 1e4

    assert (got["u1"]["n_intervals"], got["u1"]["n_changes"]) == (3, 3)
    assert abs(got["u1"]["lambda_hat"] - lam(3, 3)) < 1e-9
    assert (got["u2"]["n_intervals"], got["u2"]["n_changes"]) == (3, 0)
    assert abs(got["u2"]["lambda_hat"] - lam(3, 0)) < 1e-9
    assert got["u3"]["n_changes"] == 1
    # single visit: no intervals, no evidence -> NULL, not 0
    assert got["u4"]["n_intervals"] == 0
    assert got["u4"]["lambda_hat"] is None
    # ordering: the always-changing url must out-rank the stable one
    assert got["u1"]["lambda_hat"] > got["u3"]["lambda_hat"] \
        > got["u2"]["lambda_hat"]


def test_url_trap_stats_flags_low_content_templates(spark):
    rows = (
        # calendar trap: 25 urls, one shared digest
        [(f"http://t.ex/cal/2026/{i}", "samedoc") for i in range(25)]
        # healthy archive: 25 urls, 25 digests (same template shape)
        + [(f"http://ok.ex/cal/2026/{i}", f"d{i}") for i in range(25)]
        # below min_urls: never flagged however trappy
        + [(f"http://small.ex/cal/2026/{i}", "same") for i in range(3)]
    )
    pages = spark.createDataFrame(rows, ["url", "digest"])
    got = pipeline.url_trap_stats(pages, min_urls=5, min_ratio=3.0)
    out = [(r["host"], r["template"], r["n_urls"], r["n_contents"])
           for r in got.collect()]
    assert out == [("t.ex", "/cal/N/N", 25, 1)]


def test_url_trap_stats_query_string_traps_group_by_path(spark):
    # session-id traps vary only the query string: distinct urls, one
    # digest, one path template
    rows = [(f"http://s.ex/page?sid={i}", "same") for i in range(10)]
    pages = spark.createDataFrame(rows, ["url", "digest"])
    got = pipeline.url_trap_stats(pages, min_urls=5, min_ratio=3.0).collect()
    assert len(got) == 1
    assert got[0]["template"] == "/page" and got[0]["n_urls"] == 10


def test_host_boilerplate_strip_is_host_scoped(spark):
    nav = "nav menu"
    docs = spark.createDataFrame(
        [
            (1, "a.ex", f"{nav}\nbody one"),
            (2, "a.ex", f"{nav}\nbody two"),
            (3, "a.ex", f"{nav}\nbody three"),
            # same line on b.ex, but only 1 of 3 docs -> kept there
            (4, "b.ex", f"{nav}\nother one"),
            (5, "b.ex", "other two"),
            (6, "b.ex", "other three"),
        ],
        ["doc_id", "host", "text"],
    )
    got = {r["doc_id"]: r for r in
           dedup.host_boilerplate_strip(docs, min_frac=0.5).collect()}
    assert got[1]["text_clean"] == "body one" and got[1]["n_removed"] == 1
    assert got[4]["text_clean"] == f"{nav}\nother one"
    assert got[4]["n_removed"] == 0
    assert len(got) == 6  # lineage invariant: every doc survives


def test_host_boilerplate_strip_empty_lines_and_full_removal(spark):
    docs = spark.createDataFrame(
        [
            (1, "h", "tpl\n\ntpl2"),
            (2, "h", "tpl\n\ntpl2"),
            (3, "h", "tpl\nunique\ntpl2"),
        ],
        ["doc_id", "host", "text"],
    )
    got = {r["doc_id"]: r for r in
           dedup.host_boilerplate_strip(docs, min_frac=0.6).collect()}
    # tpl/tpl2 saturate (3/3 and 3/3 >= 0.6): stripped; the empty line
    # is layout, kept; doc 3 keeps its unique line
    assert got[1]["text_clean"] == "" and got[1]["n_removed"] == 2
    assert got[3]["text_clean"] == "unique" and got[3]["n_removed"] == 2


def test_mirror_hosts_full_and_partial_overlap(spark):
    rows = []
    for h in ("m1.ex", "m2.ex"):        # full mirrors: 4 shared digests
        rows += [(h, f"d{i}") for i in range(4)]
    rows += [("p.ex", "d0"), ("p.ex", "x1"), ("p.ex", "x2"), ("p.ex", "x3")]
    rows += [("solo.ex", "y1")]
    pages = spark.createDataFrame(rows, ["host", "digest"])
    got = {(r["host_a"], r["host_b"]): (r["n_shared"], r["overlap_frac"])
           for r in dedup.mirror_hosts(pages, min_shared=2,
                                       min_frac=0.5).collect()}
    # p.ex shares 1/4 with each mirror: below both gates
    assert got == {("m1.ex", "m2.ex"): (4, 1.0)}


def test_mirror_hosts_hot_digest_cap_drops_boilerplate(spark):
    # a soft-404 digest served by every host must not fabricate mirrors
    rows = [(f"h{i}.ex", "soft404") for i in range(10)]
    rows += [(f"h{i}.ex", f"own{i}") for i in range(10)]
    pages = spark.createDataFrame(rows, ["host", "digest"])
    capped = dedup.mirror_hosts(pages, min_shared=1, min_frac=0.4,
                                max_hosts_per_digest=5)
    assert capped.count() == 0
    uncapped = dedup.mirror_hosts(pages, min_shared=1, min_frac=0.4,
                                  max_hosts_per_digest=100)
    assert uncapped.count() == 45  # all pairs via the shared digest


def test_domain_token_quota_caps_each_domain(spark):
    docs = spark.createDataFrame(
        [(1, "a.ex", "w " * 5), (2, "a.ex", "w " * 5), (3, "a.ex", "w " * 5),
         (4, "b.ex", "w " * 20), (5, "b.ex", "w " * 20),
         (6, "c.ex", ""), (7, "c.ex", "one")],
        ["doc_id", "domain", "text"],
    )
    got = {r["doc_id"]: r for r in
           sampling.domain_token_quota(docs, quota=12).collect()}
    # a.ex: 5+5 fits, third doc would hit 15 > 12
    assert set(got) == {1, 2, 7}
    assert got[2]["cum_tokens"] == 10
    # b.ex: even the first doc exceeds the quota
    # c.ex: zero-token doc consumes nothing; the 1-token doc is kept
    assert got[7]["cum_tokens"] == 1


def test_domain_token_quota_is_deterministic_id_order(spark):
    docs = spark.createDataFrame(
        [(i, "d.ex", "t " * 3) for i in range(10, 0, -1)],
        ["doc_id", "domain", "text"],
    )
    got = sorted(r["doc_id"] for r in
                 sampling.domain_token_quota(docs, quota=9).collect())
    assert got == [1, 2, 3]  # lowest ids first, never insertion order


def test_refresh_frontier_end_to_end_semantics(spark):
    # two hosts: slow.ex has robots (delay 4, /old blocked); fast.ex none
    rows = []
    for u, period in (("http://slow.ex/a", 1), ("http://slow.ex/b", 2),
                      ("http://slow.ex/old/x", 1),   # blocked by robots
                      ("http://fast.ex/a", 2)):
        for snap in range(1, 5):
            rows.append((u, snap, f"{u}|{snap // period}"))
    rows.append(("http://fast.ex/once", 1, "d"))      # single visit: no evidence
    hist = spark.createDataFrame(rows, ["url", "snap", "digest"])
    robots = spark.createDataFrame(
        [("slow.ex", "User-agent: *\nDisallow: /old\nCrawl-delay: 4\n")],
        ["host", "robots_txt"])
    got = {r["url"]: r for r in
           pipeline.refresh_frontier(hist, robots).collect()}
    assert "http://slow.ex/old/x" not in got       # robots re-check
    assert "http://fast.ex/once" not in got        # no change evidence
    assert got["http://slow.ex/a"]["delay_sec"] == 4.0
    assert got["http://fast.ex/a"]["delay_sec"] == 1.0  # default
    # within slow.ex the every-snap changer out-ranks the period-2 one
    assert got["http://slow.ex/a"]["refresh_pos"] == 1
    assert got["http://slow.ex/b"]["refresh_pos"] == 2
    # worth-per-budget: lambda/(delay+1)
    lam_a = got["http://slow.ex/a"]["lambda_hat"]
    assert abs(got["http://slow.ex/a"]["priority"] - round(lam_a / 5.0, 8)) \
        < 1e-8


def test_refresh_frontier_top_k_caps_each_host(spark):
    rows = []
    for i in range(10):
        for snap in range(1, 4):
            rows.append((f"http://h.ex/p{i}", snap, f"{i}|{snap}"))
    hist = spark.createDataFrame(rows, ["url", "snap", "digest"])
    robots = spark.createDataFrame([], "host string, robots_txt string")
    got = pipeline.refresh_frontier(hist, robots, top_k_per_host=3).collect()
    assert len(got) == 3
    assert sorted(r["refresh_pos"] for r in got) == [1, 2, 3]


def test_cdc_chunks_reconstruct_and_expected_size(spark):
    from ocr_cezam_spark.operators import textstats

    text = " ".join(f"w{i * 37 % 101}" for i in range(200))
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(textstats.cdc_chunks(docs, g=3, divisor=8).collect(),
                  key=lambda r: r["chunk_id"])
    # chunks reconstruct the token stream exactly, in order
    assert " ".join(r["chunk_text"] for r in rows) == text
    assert [r["start_tok"] for r in rows] == sorted(
        r["start_tok"] for r in rows)
    assert sum(r["n_tokens"] for r in rows) == 200
    # boundary density ~ 1/divisor: loose 3x band, seed-deterministic
    assert 5 <= len(rows) <= 75


def test_cdc_chunks_insertion_robust_where_fixed_windows_shift(spark):
    """THE motivating property: a 2-token prefix insertion leaves every
    CDC chunk after the first boundary byte-identical, while the
    fixed-geometry chunker shifts every window."""
    from ocr_cezam_spark.operators import textstats

    text = " ".join(f"w{i * 37 % 101}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, text), (2, "added banner " + text)], ["doc_id", "text"])
    cdc = textstats.cdc_chunks(docs, g=3, divisor=8).collect()
    a = {r["chunk_md5"] for r in cdc if r["id"] == 1}
    b = {r["chunk_md5"] for r in cdc if r["id"] == 2}
    shared = len(a & b) / len(a)
    assert shared >= 0.8, shared
    fixed = textstats.chunk_passages(docs, chunk=16, stride=16).collect()
    fa = {r["chunk_md5"] for r in fixed if r["id"] == 1}
    fb = {r["chunk_md5"] for r in fixed if r["id"] == 2}
    assert len(fa & fb) / len(fa) <= 0.1  # fixed geometry goes blind


def test_cdc_chunks_validates_params(spark):
    import pytest

    from ocr_cezam_spark.operators import textstats

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        textstats.cdc_chunks(docs, g=1)
    with pytest.raises(ValueError):
        textstats.cdc_chunks(docs, divisor=0)


def test_cdc_dedup_stats_sees_shifted_clone_redundancy(spark):
    from ocr_cezam_spark.operators import textstats

    text = " ".join(f"w{i * 37 % 101}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, text), (2, "x y " + text), (3, "totally different words only")],
        ["doc_id", "text"])
    got = {r["id"]: r for r in
           textstats.cdc_dedup_stats(docs, g=3, divisor=8).collect()}
    assert got[1]["dup_frac"] >= 0.8
    assert got[2]["dup_frac"] >= 0.8
    assert got[3]["dup_frac"] == 0.0


def test_tracking_params_inference(spark):
    """DUST param inference on a hand-built crawl: utm is content-
    neutral (same residual => same digest), page is a content param
    (digest follows it), solo appears on one url only (no evidence =>
    NOT neutral, fail open), and a query-less url contributes nothing."""
    rows = [
        # utm varies over identical content
        ("https://a.ex/p?page=1&utm=x", "d1"),
        ("https://a.ex/p?page=1&utm=y", "d1"),
        # page varies content under identical utm
        ("https://a.ex/p?page=2&utm=x", "d2"),
        # a param seen once: no evidence groups
        ("https://a.ex/q?solo=1", "d3"),
        # no query string: ignored entirely
        ("https://a.ex/r", "d4"),
    ]
    df = spark.createDataFrame(rows, "url string, digest string")
    got = {
        r["param"]: r
        for r in pipeline.tracking_params(df).collect()
    }
    assert set(got) == {"page", "utm", "solo"}
    assert got["utm"]["content_neutral"]
    assert got["utm"]["n_evidence_groups"] == 1
    assert not got["page"]["content_neutral"]
    # page's evidence group (?utm=x residual) mixes d1/d2
    assert got["page"]["n_evidence_groups"] == 1
    assert got["page"]["n_uniform_groups"] == 0
    assert not got["solo"]["content_neutral"]
    assert got["solo"]["n_evidence_groups"] == 0

    # null digest / null url safety: nulls don't crash the plan
    df2 = spark.createDataFrame(
        [("https://a.ex/p?x=1", None)], "url string, digest string"
    )
    assert pipeline.tracking_params(df2).count() == 1

    # duplicate param occurrences collapse: ?a=1&a=2 counts 'a' once
    df3 = spark.createDataFrame(
        [("https://a.ex/p?a=1&a=2&b=3", "d")], "url string, digest string"
    )
    out = {r["param"]: r["n_urls"]
           for r in pipeline.tracking_params(df3).collect()}
    assert out == {"a": 1, "b": 1}


def test_corpus_report_fields(spark):
    """Every card field from a corpus where each is hand-computable."""
    rows = [
        (1, "a b c", "en", "s1"),       # 3 tokens, quality 1.0
        (2, "a b c", "en", "s1"),       # exact clone
        (3, "x x x x", "fr", "s2"),     # quality 0.25
        (4, "", "en", "s2"),            # empty: 0 tokens, quality 0.0
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    r = pipeline.corpus_report(df).collect()[0]
    assert r["n_docs"] == 4 and r["n_tokens"] == 10
    assert r["n_distinct_digests"] == 3 and r["dup_frac"] == 0.25
    assert r["mean_tokens"] == 2.5
    assert r["mean_quality"] == round((1.0 + 1.0 + 0.25 + 0.0) / 4, 4)
    assert (r["n_langs"], r["top_lang"], r["top_lang_frac"]) == (2, "en", 0.75)
    assert r["n_sources"] == 2 and r["top_source_frac"] == 0.5
    # count tie between s1 (2 docs) and s2 (2 docs): max name wins
    assert r["top_source"] == "s2"


def test_ingest_delta_verdicts_and_batch_collapse(spark):
    """Every verdict class on a hand fixture, plus the within-batch
    recrawl collapse (two batch rows on one canonical url keep max id)
    and the verdict precedence: exact before near, and url / exact /
    near matches all before the quality gate. A canonical url held by
    two corpus rows still gives one verdict: the same-digest row wins,
    else the highest corpus id."""
    corpus = spark.createDataFrame(
        [
            (1, "https://a.ex/p1", "alpha beta gamma delta"),
            (2, "https://a.ex/p2", "one two three four"),
            (3, "https://a.ex/p3", "plain words about the weather today"),
            (4, "https://a.ex/p4", "m m m m m m m m m m m w"),  # low quality
            # two corpus copies of one canonical url each
            (5, "https://b.ex/p1#a", "sigma tau upsilon phi chi psi"),
            (6, "https://b.ex/p1#b", "quartz violet harbor lantern"),
            (7, "https://c.ex/p#a", "granite meadow copper river"),
            (8, "https://c.ex/p#b", "saffron glacier thunder orchid"),
        ],
        "doc_id long, url string, text string",
    )
    batch = spark.createDataFrame(
        [
            # two fetches of p1 (fragment variants): max id wins; the
            # winner's text matches corpus -> skip_unchanged
            (10, "https://a.ex/p1#x", "STALE"),
            (11, "https://a.ex/p1#y", "alpha beta gamma delta"),
            # same url, new content -> update
            (12, "https://a.ex/p2", "one two three four five"),
            # novel url, corpus content -> exact dup (beats near dup)
            (13, "https://a.ex/q", "alpha beta gamma delta"),
            # novel url, near clone of doc 2 -> near dup
            (14, "https://a.ex/r", "one two three four znew"),
            # novel url, novel low-quality content
            (15, "https://a.ex/s", "j j j j j j j j j j j u"),
            # novel url, novel good content -> insert
            (16, "https://a.ex/t", "completely different fresh words"),
            # matched url, changed low-quality text -> update (updates
            # bypass the quality gate)
            (17, "https://a.ex/p3", "k k k k k k k k k k k v"),
            # novel url, text of the low-quality doc 4 -> exact dup
            (18, "https://a.ex/u", "m m m m m m m m m m m w"),
            # novel url, low-quality near clone of doc 4 -> near dup
            (19, "https://a.ex/v", "m m m m m m m m m m m m w"),
            # url held twice in the corpus, text of the LOWER id copy ->
            # skip_unchanged against that copy, not also update
            (20, "https://b.ex/p1", "sigma tau upsilon phi chi psi"),
            # url held twice, new text -> one update, highest corpus id
            (21, "https://c.ex/p", "pebble lagoon falcon ember"),
        ],
        "doc_id long, url string, text string",
    )
    from ocr_cezam_spark.operators.pipeline import ingest_delta

    rows = ingest_delta(batch, corpus).collect()
    assert len(rows) == len({r["id"] for r in rows})  # one verdict per row
    got = {r["id"]: r for r in rows}
    assert 10 not in got  # collapsed away by the max-id rule
    assert got[11]["verdict"] == "skip_unchanged"
    assert got[11]["corpus_id"] == 1
    assert got[12]["verdict"] == "update" and got[12]["corpus_id"] == 2
    assert got[13]["verdict"] == "skip_exact_dup"
    assert got[13]["corpus_id"] == 1 and got[13]["sim_est"] is None
    assert got[14]["verdict"] == "skip_near_dup"
    assert got[14]["corpus_id"] == 2 and got[14]["sim_est"] >= 0.5
    assert got[15]["verdict"] == "skip_low_quality"
    assert got[16]["verdict"] == "insert"
    assert got[16]["corpus_id"] is None
    assert got[17]["verdict"] == "update" and got[17]["corpus_id"] == 3
    assert got[18]["verdict"] == "skip_exact_dup"
    assert got[18]["corpus_id"] == 4
    assert got[19]["verdict"] == "skip_near_dup"
    assert got[19]["corpus_id"] == 4 and got[19]["sim_est"] >= 0.5
    assert got[20]["verdict"] == "skip_unchanged"
    assert got[20]["corpus_id"] == 5
    assert got[21]["verdict"] == "update" and got[21]["corpus_id"] == 8


def test_hdr_length_gate_trims_both_tails(spark):
    rows = (
        [(i, " ".join(f"w{j}" for j in range(30))) for i in range(100)]
        + [(200 + i, "a") for i in range(3)]              # stubs
        + [(300 + i, " ".join("x" for _ in range(5000)))  # giants
           for i in range(2)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = pipeline.hdr_length_gate(df, lo_q=0.05, hi_q=0.95).collect()[0]
    assert r["n_docs"] == 105
    assert r["n_below"] == 3 and r["n_above"] == 2
    assert r["n_kept"] == 100 and r["kept_frac"] == round(100 / 105, 4)
    assert r["p_lo"] <= 30 <= r["p_hi"]


def test_sitemap_tree_resolution_and_missing_children(spark):
    from ocr_cezam_spark.operators import robots as R

    files = spark.createDataFrame(
        [
            ("A.EX", "https://a.ex/sitemap.xml",
             "<sitemapindex><sitemap><loc>https://a.ex/s1.xml</loc>"
             "</sitemap><sitemap><loc> https://a.ex/gone.xml </loc>"
             "</sitemap></sitemapindex>"),
            ("a.ex", "https://a.ex/s1.xml",
             "<urlset><url><loc>https://a.ex/p1</loc></url>"
             "<url><loc>https://a.ex/p2?a=1&amp;b=2</loc></url></urlset>"),
            ("a.ex", "https://a.ex/solo.xml",
             "<urlset><url><loc>https://a.ex/alone</loc></url></urlset>"),
        ],
        "host string, url string, sitemap_xml string",
    )
    rows = R.sitemap_tree_urls(files).collect()
    got = [(r["via_index"], r["sitemap"], r["pos"], r["loc"]) for r in rows]
    assert ("https://a.ex/sitemap.xml", "https://a.ex/s1.xml", 0,
            "https://a.ex/p1") in got
    assert ("https://a.ex/sitemap.xml", "https://a.ex/s1.xml", 1,
            "https://a.ex/p2?a=1&b=2") in got          # entity decoded
    assert ("https://a.ex/sitemap.xml", "https://a.ex/gone.xml", None,
            None) in got                               # fail-visible
    assert (None, "https://a.ex/solo.xml", 0,
            "https://a.ex/alone") in got               # standalone
    assert all(r["host"] == "a.ex" for r in rows)      # host lowercased
    assert len(rows) == 4
