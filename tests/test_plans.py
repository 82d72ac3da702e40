"""Physical-plan regression tests: the optimizations SURVEY.md section 4
promises must be visible in the actual plans (pushdown, pruning,
broadcast, TakeOrderedAndProject for top-k)."""

from __future__ import annotations

import pytest

from ocr_cezam_spark import queries as Q
from ocr_cezam_spark.plans.audit import assert_column_pruned, assert_has, formatted_plan

SF = "/root/testdata/sf0.01"


def test_pricing_summary_pushdown_and_pruning(spark):
    df = Q.QUERIES["pricing_summary"](spark, SF)
    assert_has(df, "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate")
    # 16-column lineitem scan must read only the 6 needed columns
    assert_column_pruned(df, "lineitem", 6)


def test_dim_joins_broadcast(spark):
    df = Q.QUERIES["region_rollup"](spark, SF)
    plan = formatted_plan(df)
    # each join appears in the tree and the detail section of the
    # formatted plan -> 2 joins show up as 4 mentions
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(spark):
    df = Q.QUERIES["top_revenue_customers"](spark, SF)
    assert_has(df, "TakeOrderedAndProject", "BroadcastHashJoin")


def test_probe_filter_pushed_to_scan(spark):
    df = Q.QUERIES["cosine_topk"](spark, SF)
    assert_has(df, "In(vec_id, [0,1,2,3,4])")


def test_extraction_plan_prunes_to_kernel_columns(spark):
    from ocr_cezam_spark.corpus import corpus_df
    from ocr_cezam_spark.operators import extract as X

    docs = corpus_df(spark, 8)
    out = X.run_extract(docs)
    plan = formatted_plan(out)
    # only url/html/lang cross the Arrow boundary (no warc_ts/text)
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "PythonMapInArrow" in plan
    assert "warc_ts" not in plan.split("MapInArrow")[0].split("Project")[-1]


def test_no_python_udf_in_relational_queries(spark):
    """No row-at-a-time Python in any relational/dedup/textstats/simsearch
    plan: no BatchEvalPython (row-at-a-time UDF) anywhere. Arrow-batched
    Python, like the MinHash signature, is allowed."""
    for name in (
        "pricing_summary", "sessionize", "dedup_exact", "minhash_lsh_pairs",
        "simhash_buckets", "simhash_hamming_pairs", "token_quality", "langid",
        "fingerprint", "cosine_topk", "ivf_bucket_stats",
        "near_dup_dedup_first", "gopher_quality",
    ):
        plan = formatted_plan(Q.QUERIES[name](spark, SF))
        assert "BatchEvalPython" not in plan, name
        assert "PythonUDF" not in plan, name


def test_candidate_joins_are_hash_joins_not_all_pairs(spark):
    """The dedup/similarity candidate generators must never compile to a
    nested-loop / cartesian join: candidates come from equi-joins on band
    or bucket keys (the scale contract of SURVEY.md section 2)."""
    for name in ("minhash_lsh_pairs", "simhash_hamming_pairs",
                 "embedding_near_dup", "ivf_bucket_stats",
                 "near_dup_dedup_first"):
        plan = formatted_plan(Q.QUERIES[name](spark, SF))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_large_nlist_ann_uses_broadcast_join_not_literal_tree(spark):
    """At K=64 the IVF assignment must be the broadcast-join path: a
    BroadcastHashJoin on the constant key (never a nested-loop join) and
    no K x dim literal centroid tree inflating the plan."""
    df = Q.QUERIES["ann_ivf_topk_k64"](spark, SF)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the literal path inlines 64 centroid arrays (64 doubles each) into
    # the plan text; the join path keeps the plan orders of magnitude
    # smaller — a loose ceiling that the literal tree blows through
    assert len(plan) < 200_000, len(plan)
    # K=8 stays on the literal-projection path: no join before the
    # probe/candidate stage introduces extra exchanges
    small = formatted_plan(Q.QUERIES["ann_ivf_topk"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in small


def test_domain_quota_uses_window_group_limit(spark):
    """rank<=k must compile to WindowGroupLimit (map-side partial top-k
    pruning) — the property that keeps a hot domain from shipping its full
    row count through the exchange."""
    df = Q.QUERIES["domain_quota_sample"](spark, SF)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan
    # paragraph dedup stays JVM-side and equi-join only
    p = formatted_plan(Q.QUERIES["paragraph_dedup"](spark, SF))
    assert "BatchEvalPython" not in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_minhash_signature_exchange_reused_at_runtime(spark):
    """Both sides of the band self-join read the same banded signature
    table, so its shuffle on (band_idx, band_key) must be computed once
    and reused. AQE only marks reuse in the FINAL adaptive plan, so this
    asserts after execution."""
    for name, min_reuse in (("minhash_lsh_pairs", 1),
                            ("near_dup_dedup_first", 1)):
        df = Q.QUERIES[name](spark, SF)
        df.collect()
        ep = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in ep, name
        assert ep.count("ReusedExchange") >= min_reuse, (name, ep[:500])


def _lambda_bodies(plan: str) -> list[str]:
    """The text inside each ``lambdafunction(...)`` of a plan string."""
    bodies = []
    start = plan.find("lambdafunction(")
    while start >= 0:
        i = start + len("lambdafunction(")
        depth = 1
        for j in range(i, len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            if depth == 0:
                break
        bodies.append(plan[i:j])
        start = plan.find("lambdafunction(", start + 1)
    return bodies


def test_ngram_builders_split_once(spark, monkeypatch):
    """Every word n-gram builder splits each text ONCE: no split(...)
    inside a lambda body, where it would re-split the text per n-gram
    position (O(words^2) per document). Checked on the optimized plan,
    after CollapseProject could have inlined a projected split back into
    the lambda. The builders' checkpoints (all in dedup) are made no-ops
    so the plans keep the expressions a lazy checkpoint would hide."""
    from ocr_cezam_spark.operators import dedup, scrub, textstats

    docs = spark.createDataFrame([(1, "a b c d e f g h i j")],
                                 "doc_id long, text string")
    monkeypatch.setattr(dedup, "materialize",
                        lambda df, reason, eager=False: df)
    builders = {
        "shingles": docs.select(dedup.shingles("text")),
        "substring_span_dedup": dedup.substring_span_dedup(docs),
        "window_dedup_stats": dedup.window_dedup_stats(docs),
        "dup_ngram_fraction": textstats.dup_ngram_fraction(docs),
        "winnowing_fingerprints": textstats.winnowing_fingerprints(docs),
        "chunk_passages": textstats.chunk_passages(docs),
        "_ngram_hashes": scrub._ngram_hashes(docs, "doc_id", "text", 8),
    }
    for name, df in builders.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bodies = _lambda_bodies(plan)
        assert bodies, name
        assert not [b for b in bodies if "split(" in b], (name, plan)


def test_spread_keeps_column_pruning(spark):
    """The floor hashes on the table's id column only, so a narrow select
    over a spread table still prunes the scan: the FileScan reads exactly
    the selected columns, not the whole row."""
    df = Q._t(spark, SF, "documents").select("doc_id", "source")
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in ep, ep
    scans = [ln for ln in ep.splitlines() if "FileScan" in ln]
    assert len(scans) == 1, ep
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in scans[0], scans[0]


def test_new_operator_plans_stay_native(spark):
    """No row-at-a-time Python UDF in any of the continuation operators;
    BM25 and temperature sampling broadcast their small sides."""
    from pyspark.sql import functions as F  # noqa: N812

    from ocr_cezam_spark.operators import graph, retrieval, sampling, textstats

    docs = spark.createDataFrame(
        [(i, f"w{i} common tok{i % 5} end", f"s{i % 4}") for i in range(40)],
        ["doc_id", "text", "source"],
    )
    plans = {
        "unigram": textstats.unigram_logprob(docs),
        "pmi": textstats.bigram_pmi(docs, min_count=2),
        "budget": sampling.token_budget_select(docs, budget=100),
        "temp": sampling.temperature_sample(docs),
        "pagerank": graph.pagerank(
            docs.select(F.col("source").alias("src"),
                        F.concat(F.lit("s"), (F.col("doc_id") % 4)
                                 .cast("string")).alias("dst"))),
    }
    for name, df in plans.items():
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in p, name
    bp = (retrieval.bm25_topk(docs, ["common"])._jdf.queryExecution()
          .executedPlan().toString())
    assert "BatchEvalPython" not in bp
    tp = (sampling.temperature_sample(docs)._jdf.queryExecution()
          .executedPlan().toString())
    assert "BroadcastHashJoin" in tp  # probs join back broadcast


def test_crawl_ops_aggregate_without_windows(spark):
    """latest_crawl_dedup and crawl_churn must stay pure hash
    aggregations: a hot url's snapshots combine map-side (partial_max /
    partial_min in the plan), and no Window operator appears — the
    row_number-per-url shape both docstrings reject would funnel a hot
    url through one sorting task."""
    from ocr_cezam_spark.operators import dedup as D

    pages = spark.createDataFrame(
        [(f"u{i % 5}", i, i) for i in range(40)],
        "url string, warc_ts long, doc_id long")
    p1 = formatted_plan(D.latest_crawl_dedup(pages))
    assert "Window" not in p1 and "partial_max" in p1
    docs = spark.createDataFrame(
        [(f"u{i}", f"t{i}") for i in range(20)], "url string, text string")
    p2 = formatted_plan(D.crawl_churn(docs, docs))
    assert "Window" not in p2 and "BatchEvalPython" not in p2
    assert "partial_min" in p2  # per-snapshot url collapse combines map-side


def test_bm25_multi_is_one_job_with_window_group_limit(spark):
    """Multi-query BM25 must score every query in ONE plan: the query
    table broadcasts, per-query top-k compiles to WindowGroupLimit
    (map-side pruning), and nothing degenerates to a nested-loop join
    or a Python UDF."""
    from pyspark.sql import functions as F  # noqa: N812

    from ocr_cezam_spark.operators import retrieval

    docs = spark.createDataFrame(
        [(i, f"w{i} common tok{i % 5} end") for i in range(40)],
        ["doc_id", "text"],
    )
    q = spark.createDataFrame(
        [(1, "common", 1.0), (2, "tok1", 2.0), (2, "end", 0.5)],
        "query_id long, term string, weight double",
    )
    df = retrieval.bm25_multi_topk(docs, q, k=3)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # the query table side is broadcast, never shuffled
    assert plan.count("BroadcastHashJoin") >= 2
    # weighted duplicate terms summed: query 2's 'end' weight is 0.5
    rows = {(r["query_id"], r["rank"]): r for r in df.collect()}
    assert all(r["n_matched"] >= 1 for r in rows.values())


def test_frontier_next_plan_and_semantics(spark):
    """frontier_next: no cartesian/nested-loop join anywhere, no forced
    broadcast hint on the robots rules side (Catalyst may still CHOOSE a
    broadcast — the assert is on the hint, i.e. the logical plan), no
    Python UDF, and the top_k_per_host filter rides the window as a
    WindowGroupLimit (partial per-host top-k before the shuffle)."""
    from pyspark.sql import functions as F  # noqa: N812

    from ocr_cezam_spark.operators.pipeline import frontier_next

    links = spark.createDataFrame(
        [("https://a.example/p", 0, "https://b.example/x"),
         ("https://a.example/p", 1, "https://b.example/secret"),
         ("https://a.example/p", 2, "https://c.example/y"),
         ("https://b.example/x", 0, "https://a.example/old"),
         ("https://b.example/x", 1, "https://c.example/z")],
        "url string, pos int, href string")
    crawled = spark.createDataFrame(
        [("https://a.example/old", 1, 10), ("https://a.example/old", 2, 20)],
        "url string, doc_id long, warc_ts long")
    robots = spark.createDataFrame(
        [("b.example", "User-agent: *\nDisallow: /secret\nCrawl-delay: 4\n")],
        "host string, robots_txt string")
    out = frontier_next(links, crawled, robots, top_k_per_host=2)
    rows = {r["url"]: r for r in out.collect()}
    # already-held url dropped; robots-disallowed url dropped
    assert "https://a.example/old" not in rows
    assert "https://b.example/secret" not in rows
    assert set(rows) == {"https://b.example/x", "https://c.example/y",
                         "https://c.example/z"}
    b = rows["https://b.example/x"]
    assert b["delay_sec"] == 4.0 and b["fetch_pos"] == 1
    # priority = rank / (delay+1): b.example's slow host scores below an
    # equally-ranked fast host would — check the arithmetic directly
    assert abs(b["priority"] - b["host_rank"] / 5.0) <= 5e-9  # 8 dp round
    c = rows["https://c.example/y"]
    assert c["delay_sec"] == 1.0  # default_delay for robots-less hosts
    assert {rows[u]["fetch_pos"] for u in
            ("https://c.example/y", "https://c.example/z")} == {1, 2}
    qe = out._jdf.queryExecution()
    phys = qe.executedPlan().toString()
    opt = qe.optimizedPlan().toString()
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
    assert "BatchEvalPython" not in phys
    assert "ResolvedHint" not in opt  # rules side not force-broadcast
    assert "WindowGroupLimit" in phys


def test_sketch_plans_are_partial_hash_aggs(spark):
    """HLL registers and the CM counter table must combine map-side
    (partial_max / partial_count in the plan) with no Window and no
    Python UDF — the mergeable-sketch contract in plan form."""
    from pyspark.sql import functions as F  # noqa: N812

    from ocr_cezam_spark.operators import sketch

    df = spark.range(200).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").cast("string").alias("k"),
    )
    p1 = formatted_plan(sketch.hll_cardinality(df, "k", "g"))
    assert "partial_max" in p1          # register max folds map-side
    assert "Window" not in p1 and "BatchEvalPython" not in p1
    p2 = formatted_plan(sketch.cm_heavy_hitters(df, "k"))
    assert "partial_count" in p2 or "partial_count_star" in p2 \
        or "count" in p2                # counter build folds map-side
    assert "Window" not in p2 and "BatchEvalPython" not in p2
    assert "CartesianProduct" not in p2.replace(
        "BroadcastNestedLoopJoin", "")  # only the 1-row total broadcast
    # the one nested-loop join allowed is the single-row total attach
    # (a formatted plan names each join twice: tree + detail section)
    assert p2.count("BroadcastNestedLoopJoin") <= 2


def test_semantic_dedup_no_global_pairs(spark):
    """semantic_dedup's pairwise stage must be an equi-join on
    centroid_id (SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin), never
    a cartesian/nested-loop over the vectors, and JVM-side throughout."""
    from ocr_cezam_spark.operators import simsearch

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    p = formatted_plan(simsearch.semantic_dedup(emb, n_centroids=4))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_anchor_and_target_stats_no_window_spark_side(spark):
    """anchor_text_topk votes via min-of-struct (two hash aggs, no
    Window on the Spark side — the twin restates it as a window);
    link_target_stats is one aggregation keyed on the target."""
    from ocr_cezam_spark.operators import graph as G

    links = spark.createDataFrame(
        [(f"http://s{i % 3}.x/p", i % 4, f"http://t{i % 5}.z/", f"a{i % 2}")
         for i in range(40)],
        "url string, pos int, href string, anchor string",
    )
    p1 = formatted_plan(G.anchor_text_topk(links))
    assert "Window" not in p1 and "BatchEvalPython" not in p1
    assert "partial_min" in p1          # the vote folds map-side
    p2 = formatted_plan(G.link_target_stats(links))
    assert "Window" not in p2 and "BatchEvalPython" not in p2


def test_intra_doc_line_dedup_is_map_only(spark):
    """The C4 within-doc rule must stay a projection: no shuffle
    (Exchange), no window, no Python."""
    from ocr_cezam_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, "a\nb\na") for i in range(10)], "doc_id long, text string")
    p = formatted_plan(D.intra_doc_line_dedup(docs))
    assert "Exchange" not in p
    assert "Window" not in p and "BatchEvalPython" not in p


def test_registered_domain_is_plan_literal_no_join(spark):
    """The PSL rule set must ride the plan as literals: domain extraction
    is a pure projection (no join against a rules table, no Python), and
    the stats query is one hash aggregation over it."""
    df = Q.QUERIES["registered_domain_stats"](spark, SF)
    p = formatted_plan(df)
    assert "Join" not in p and "BatchEvalPython" not in p
    assert "Window" not in p
    assert "partial_count" in p  # map-side partial aggregation


def test_dup_ngram_fraction_two_hash_joins_no_window(spark):
    """Dup-ngram tagging must stay the agg+join shape: gram-count
    aggregation plus equi-joins, never a window over the corpus, never a
    nested-loop pair join, never Python."""
    df = Q.QUERIES["dup_ngram_fraction"](spark, SF)
    p = formatted_plan(df)
    assert "Window" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_asof_join_is_linear_union_window(spark):
    """The as-of join must keep its linear union+window shape: one window
    over the key, never the quadratic theta-join fallbacks."""
    df = Q.QUERIES["asof_click_attribution"](spark, SF)
    p = formatted_plan(df)
    assert "Window" in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p and "BatchEvalPython" not in p


def test_fetch_join_is_equi_hash_join(spark):
    """The dispatch x completion horizon match must plan as an EQUI join
    on the url key (hash or sort-merge) with the horizon as a residual
    range filter — never a nested-loop/cartesian pair walk."""
    df = Q.QUERIES["fetch_join"](spark, SF)
    p = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert ("BroadcastHashJoin" in p or "SortMergeJoin" in p
            or "ShuffledHashJoin" in p)


def test_dsir_select_is_broadcast_topk(spark):
    """DSIR's bucket models must ride broadcast joins (n_buckets rows)
    and the final cutoff must be a TakeOrdered, never a full sort or a
    window over the corpus."""
    df = Q.QUERIES["dsir_select"](spark, SF)
    p = formatted_plan(df)
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "Window" not in p and "BatchEvalPython" not in p
    assert "SortMergeJoin" not in p


def test_weighted_sample_is_single_pass_topk(spark):
    """A-ES sampling is one projection + TakeOrdered: no join, no window,
    no Python, no full sort."""
    df = Q.QUERIES["weighted_sample"](spark, SF)
    p = formatted_plan(df)
    assert "TakeOrderedAndProject" in p
    assert "Join" not in p and "Window" not in p
    assert "BatchEvalPython" not in p


def test_substring_span_dedup_no_window_no_python(spark):
    """Span removal must stay the agg+equi-join shape: gram count, dup
    attach, anti-join, reassembly agg — no window over the corpus, no
    Python, no nested-loop join."""
    df = Q.QUERIES["substring_span_dedup"](spark, SF)
    p = formatted_plan(df)
    assert "Window" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_winnowing_is_one_window_scan(spark):
    """Winnowing must be one ordered per-doc window scan: exactly the
    gram explode, a Window, and a distinct — no join, no Python."""
    df = Q.QUERIES["winnowing_fingerprints"](spark, SF)
    p = formatted_plan(df)
    assert "Window" in p
    assert "Join" not in p and "BatchEvalPython" not in p


def test_winnowing_pairs_is_equi_join_no_cartesian(spark):
    df = Q.QUERIES["winnowing_pairs"](spark, SF)
    p = formatted_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p


def test_build_training_corpus_plan_shape(spark):
    """The curation composition's visible plan (downstream of the
    localCheckpoint stage cuts): no cartesian products or nested-loop
    joins, no Python, and NO corpus-wide window — every window
    partitions (the budget selector by quality band, the packer by
    shard), so no stage funnels the corpus through one sort task."""
    df = Q.QUERIES["build_training_corpus"](spark, SF)
    p = formatted_plan(df)
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    # the only nested-loop joins allowed are DSIR's 1-row-total
    # broadcast CROSS joins (model normalizers riding the plan): every
    # BNLJ in the tree must be the Cross/BuildRight form, never an
    # inner/conditioned pairwise join
    for line in p.splitlines():
        if "BroadcastNestedLoopJoin" in line and "- " in line:
            assert "Cross BuildRight" in line, line.strip()
    # every windowspecdefinition names a partition column before the
    # sort spec — a global window renders as windowspecdefinition(<sort>
    # ASC..., i.e. the sort-direction keyword appears before any comma
    for frag in p.split("windowspecdefinition(")[1:]:
        head = frag.split(",")[0]
        assert " ASC" not in head and " DESC" not in head, frag[:80]


def test_sketch64_and_hdr_plans_partial_aggs(spark):
    """The r7 sketch additions keep the mergeable-sketch plan contract:
    64-bit HLL registers fold map-side (partial_max), the HDR histogram
    folds map-side (partial_count), and the HDR quantile window runs
    over the BOUNDED sketch, partitioned when grouped — no Python, no
    cartesian products anywhere."""
    from pyspark.sql import functions as F  # noqa: N812

    from ocr_cezam_spark.operators import sketch

    df = spark.range(200).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").cast("string").alias("k"),
        (F.col("id") * 7 % 997 + 1).alias("v"),
    )
    p1 = formatted_plan(sketch.hll_cardinality64(df, "k", "g"))
    assert "partial_max" in p1
    assert "Window" not in p1 and "BatchEvalPython" not in p1
    p2 = formatted_plan(sketch.hdr_quantiles(df, "v", group_col="g"))
    assert "partial_count" in p2 or "count" in p2
    assert "BatchEvalPython" not in p2 and "CartesianProduct" not in p2
    # grouped: every window partitions (by grp) — no global sort funnel
    for frag in p2.split("windowspecdefinition(")[1:]:
        head = frag.split(",")[0]
        assert " ASC" not in head and " DESC" not in head, frag[:80]


def test_kmv_sketch_uses_window_group_limit(spark):
    """The per-group bottom-k must ride Spark's rank-limit pushdown
    (WindowGroupLimit: partial per-partition top-k BEFORE the shuffle) —
    the property that makes a KMV sketch one bounded pass at 10^12
    rows instead of a full per-group sort."""
    from pyspark.sql import functions as F

    from ocr_cezam_spark.operators import sketch as SK

    df = spark.range(100).select(
        F.concat(F.lit("k"), "id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
    )
    p = formatted_plan(SK.kmv_sketch(df, "k", "g", 8))
    assert "WindowGroupLimit" in p
    assert "BatchEvalPython" not in p


def test_chunk_passages_is_map_only(spark):
    """Chunking must stay a projection: no shuffle, no window, no
    Python — 100 TB chunks at scan speed."""
    from ocr_cezam_spark.operators import textstats as T

    docs = spark.createDataFrame(
        [(1, "a b c d e f g")], "doc_id long, text string")
    p = formatted_plan(T.chunk_passages(docs))
    assert "Exchange" not in p
    assert "Window" not in p and "BatchEvalPython" not in p


def test_containment_pairs_equi_join_no_cartesian(spark):
    """Candidate generation is the df-capped inverted-index equi-join —
    never a nested-loop/cartesian pair enumeration."""
    from ocr_cezam_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"a{i} b{i} c{i} d e f") for i in range(10)],
        "doc_id long, text string")
    p = formatted_plan(D.containment_pairs(docs))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_incremental_near_dup_is_band_equi_join(spark):
    """The delta-vs-corpus candidate join must be an equi-join on the
    band key — never an all-pairs shape — and stay UDF-free."""
    plan = formatted_plan(Q.QUERIES["incremental_near_dup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_phrase_search_single_aggregation_no_self_join(spark):
    """Positional phrase matching compiles to scan -> filter-to-phrase-
    terms -> one (id, start) aggregation: no m-way self-join chain (the
    textbook positional-index plan) and no Python."""
    plan = formatted_plan(Q.QUERIES["phrase_search"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    # no join at all: the slot trick replaces the per-term join chain
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the multi-phrase form is the same matcher: one literal slot map
    # looked up per token, so no join of any kind either
    multi = formatted_plan(Q.QUERIES["phrase_search_multi"](spark, SF))
    assert "BatchEvalPython" not in multi and "PythonUDF" not in multi
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in multi, join


def test_ingest_delta_is_one_projection_no_union(spark):
    """ingest_delta assigns every verdict in one projection over left
    joins: no per-verdict branches glued back by a union."""
    plan = formatted_plan(Q.QUERIES["ingest_delta"](spark, SF))
    assert "Union" not in plan


def test_trustrank_stays_jvm_side(spark):
    plan = formatted_plan(Q.QUERIES["trustrank"](spark, SF))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "CartesianProduct" not in plan


def test_url_trap_stats_is_map_plus_one_agg(spark):
    """Template mining is codegen'd regexps + ONE hash aggregation —
    no joins, no windows, no Python."""
    plan = formatted_plan(Q.QUERIES["url_trap_stats"](spark, SF))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, join
    assert "Window" not in plan


def test_host_boilerplate_no_corpus_wide_window(spark):
    plan = formatted_plan(Q.QUERIES["host_boilerplate"](spark, SF))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan  # agg+anti-join, never a digest window


def test_domain_token_quota_uses_window_group_limit(spark):
    """The rank <= quota pre-filter must compile to WindowGroupLimit so
    a giant domain ships ~quota rows into the running-sum sort, never
    its full page count."""
    plan = formatted_plan(Q.QUERIES["domain_token_quota"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_mirror_hosts_is_digest_equi_join(spark):
    plan = formatted_plan(Q.QUERIES["mirror_hosts"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_refresh_frontier_plan_shape(spark):
    """Revisit scheduling: WindowGroupLimit on the per-host top-k, no
    cartesian anywhere, no Python, and the url-sized frames never
    funnel through a global (unpartitioned) window."""
    plan = formatted_plan(Q.QUERIES["refresh_frontier"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan


def test_cdc_chunks_per_doc_windows_no_joins(spark):
    """CDC chunking: per-doc windows (bounded by document length) and
    one reassembly agg — no joins, no Python, no corpus-wide window."""
    plan = formatted_plan(Q.QUERIES["cdc_chunks"](spark, SF))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    for join in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join not in plan, join


def test_continuation2_plans_scale_shapes(spark):
    """Scale-shape asserts for the second round-7 continuation batch:
    no cartesian/nested-loop joins anywhere, no row-at-a-time Python,
    and the stated join-free/map-only claims hold mechanically."""
    for name in (
        "bloom_membership", "bloom_merge", "tracking_params",
        "domain_disjoint_split", "reciprocal_links", "sq8_ann_topk",
        "reshard_movement", "lsh_threshold_curve", "url_versions",
        "bm25f_topk", "corpus_report", "corpus_drift", "ingest_delta",
        "hdr_length_gate", "dedup_weights", "truncated_ann_topk",
    ):
        plan = formatted_plan(Q.QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        # BroadcastNestedLoopJoin appears ONLY for the whitelisted
        # bounded crosses: 1-row summary totals, or sq8's deliberate
        # 5-probe broadcast against the corpus (the cosine_topk
        # brute-force scoring pattern)
        if "BroadcastNestedLoopJoin" in plan:
            assert name in (
                # 1-row summary/stat crosses
                "bloom_membership", "domain_disjoint_split",
                "reshard_movement", "lsh_threshold_curve",
                "corpus_report", "corpus_drift", "hdr_length_gate",
                "bm25f_topk", "ingest_delta", "dedup_weights",
                # deliberate bounded probe broadcasts
                "sq8_ann_topk", "truncated_ann_topk",
            ), name

    # tracking_params claims join-free: two hash aggs only
    plan = formatted_plan(Q.QUERIES["tracking_params"](spark, SF))
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2
