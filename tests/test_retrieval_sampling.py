"""Lexical retrieval (inverted index, BM25), windowed substring dedup,
and data-selection operators (token budget, temperature sampling)."""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.operators import dedup, retrieval, sampling


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_inverted_index_stats(spark):
    df = _docs(spark, [
        (1, "a b a c"),
        (2, "a b b"),
        (3, "c"),
    ])
    out = {r["term"]: r for r in
           retrieval.inverted_index_stats(df).collect()}
    assert out["a"]["doc_freq"] == 2 and out["a"]["total_tf"] == 3
    assert out["a"]["champion_doc"] == 1 and out["a"]["champion_tf"] == 2
    assert out["b"]["champion_doc"] == 2  # tf 2 beats doc 1's tf 1
    assert out["c"]["doc_freq"] == 2 and out["c"]["champion_tf"] == 1


def test_bm25_ranks_matching_docs_first(spark):
    df = _docs(spark, [
        (1, "spark spark spark join"),
        (2, "spark filler filler filler filler filler filler filler"),
        (3, "unrelated words entirely here"),
        (4, "join only"),
    ])
    rows = retrieval.bm25_topk(df, ["spark", "join"], k=3).collect()
    ids = [r["doc_id"] for r in rows]
    assert ids[0] == 1  # matches both terms, high tf, short doc
    assert 3 not in ids  # no query term -> absent
    assert all(rows[i]["score"] >= rows[i + 1]["score"]
               for i in range(len(rows) - 1))


def test_window_dedup_flags_cloned_docs(spark):
    body = " ".join(f"w{i % 7}x{i}" for i in range(60))
    unique = " ".join(f"u{i}" for i in range(60))
    df = _docs(spark, [(1, body), (2, body), (3, unique)])
    out = {r["doc_id"]: r for r in
           dedup.window_dedup_stats(df, window=30, stride=15).collect()}
    # 60 tokens -> windows at 0, 15, 30 -> 3 windows
    assert out[1]["n_windows"] == 3
    assert out[1]["dup_frac"] == 1.0 and out[2]["dup_frac"] == 1.0
    assert out[3]["dup_frac"] == 0.0


def test_token_budget_select_matches_global_order(spark):
    # quality = distinct/total; doc 1 all-distinct (1.0), doc 2 repeats
    rows = [
        (1, "a b c d e f g h i j"),                  # 10 tokens, q=1.0
        (2, "a a a a a b b b b b"),                  # 10 tokens, q=0.2
        (3, "p q r s t u v w x y z aa bb cc dd ee"),  # 16 tokens, q=1.0
    ]
    out = sampling.token_budget_select(_docs(spark, rows), budget=27)
    got = {r["doc_id"]: r["cum_tokens"] for r in out.collect()}
    # order: q=1.0 -> docs 1 (10) then 3 (26); doc 2 would hit 36 > 27
    assert got == {1: 10, 3: 26}


def test_token_budget_equals_naive_single_partition(spark):
    import random

    rng = random.Random(7)
    rows = [
        (i, " ".join(rng.choice("abcdefgh") for _ in range(rng.randint(5, 40))))
        for i in range(200)
    ]
    df = _docs(spark, rows)
    fast = sampling.token_budget_select(df, budget=900, n_buckets=16)
    from pyspark.sql import Window

    words = F.filter(F.split("text", " "), lambda w: w != "")
    base = df.select(
        "doc_id", F.size(words).cast("long").alias("n_tokens"),
        sampling.doc_quality(df).alias("quality"),
    )
    w = (Window.orderBy(F.col("quality").desc(), F.col("doc_id").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    naive = (base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
             .filter(F.col("cum_tokens") <= 900))
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, naive.collect()))


def test_token_budget_band_pruning_filters_below_window(spark):
    """Bands whose start offset exceeds the budget must be filtered
    BEFORE the window (pre-sort pruning — the 100 TB lever), and the
    pruned plan must still match the naive global window bit-for-bit
    even at a tiny budget where most bands prune away."""
    rows = [(i, " ".join(f"w{j}" for j in range(i % 7 + 1))
             + (" rep rep" if i % 3 == 0 else ""))
            for i in range(60)]
    df = _docs(spark, rows)
    out = sampling.token_budget_select(df, budget=25, n_buckets=8)
    from pyspark.sql import Window

    words = F.filter(F.split("text", " "), lambda w: w != "")
    base = df.select(
        "doc_id", F.size(words).cast("long").alias("n_tokens"),
        sampling.doc_quality(df).alias("quality"),
    )
    w = (Window.orderBy(F.col("quality").desc(), F.col("doc_id").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    naive = (base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
             .filter(F.col("cum_tokens") <= 25))
    assert sorted(r["doc_id"] for r in out.collect()) == \
        sorted(r["doc_id"] for r in naive.collect())
    # plan shape: the band-offset filter sits BELOW the window operator
    # (executedPlan prints top-down, so the pre-window filter appears
    # AFTER the Window line in the string)
    plan = out._jdf.queryExecution().executedPlan().toString()
    win_pos = plan.index("Window")
    pre_filters = [i for i in range(len(plan))
                   if plan.startswith("Filter", i) and i > win_pos]
    assert pre_filters, "no filter below the window — band pruning lost"


def test_temperature_sample_downweights_hot_source(spark):
    rows = [(i, "hot" if i < 400 else f"cold{i % 5}") for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = sampling.temperature_sample(df, alpha=0.5).groupBy("source").count()
    got = {r["source"]: r["count"] for r in kept.collect()}
    # cold sources are capped at p=1 -> all 20 docs each survive
    for i in range(5):
        assert got[f"cold{i}"] == 20
    # hot source must lose a substantial fraction
    assert got["hot"] < 320


def test_retrieval_plans_native_and_broadcast(spark):
    df = _docs(spark, [(i, f"a b c d{i}") for i in range(10)])
    plan = (retrieval.bm25_topk(df, ["a", "b"])._jdf.queryExecution()
            .executedPlan().toString())
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_split_is_content_keyed_and_covers_fractions(spark):
    # identical text under different ids -> identical split
    df = spark.createDataFrame(
        [(1, "same words here"), (2, "same words here"), (3, "other words")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["split"]
           for r in sampling.train_val_test_split(df).collect()}
    assert got[1] == got[2]
    # fractions roughly honored over many distinct docs
    big = spark.createDataFrame(
        [(i, f"doc number {i} body") for i in range(2000)],
        ["doc_id", "text"],
    )
    counts = {r["split"]: r["count"]
              for r in sampling.train_val_test_split(big)
              .groupBy("split").count().collect()}
    assert counts["train"] > 1700
    assert 50 < counts["val"] < 150 and 50 < counts["test"] < 150


def test_unigram_logprob_ranks_common_text_higher(spark):
    common = "the the the cat cat sat"
    rare = "zyx qwv jkp"
    df = _docs(spark, [(1, common), (2, rare), (3, "the cat sat")])
    from ocr_cezam_spark.operators import textstats

    out = {r["doc_id"]: r for r in
           textstats.unigram_logprob(df).collect()}
    assert out[1]["logprob"] > out[2]["logprob"]
    assert out[1]["n_tokens"] == 6
    import math
    # doc 2: three singleton tokens over a 12-token corpus -> ln(1/12)
    assert abs(out[2]["logprob"] - round(math.log(1 / 12), 4)) < 1e-9


def test_nfc_normalize_composes_and_flags(spark):
    from ocr_cezam_spark.operators import multimodal

    decomposed = "cafe\u0301 nai\u0308ve"
    composed = "caf\u00e9 na\u00efve"
    df = _docs(spark, [(1, decomposed), (2, composed)])
    out = {r["doc_id"]: r for r in multimodal.nfc_normalize(df).collect()}
    assert out[1]["text_nfc"] == composed and out[1]["changed"]
    assert out[2]["text_nfc"] == composed and not out[2]["changed"]


def test_select_and_pack_only_packs_selected_docs(spark):
    rows = [
        (1, "a b c d e f g h i j"),                   # q=1.0, 10 toks
        (2, "a a a a a b b b b b"),                   # q=0.2 -> dropped
        (3, "p q r s t u v w x y z aa bb cc dd ee"),  # q=1.0, 16 toks
    ]
    out = sampling.select_and_pack(_docs(spark, rows), budget_tokens=27,
                                   pack=8, n_shards=2)
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {1, 3}
    # both ids are odd -> same shard; doc 1 (10 toks) lays first, doc 3
    # starts at stream offset 10 -> pack 1 (8-token packs), offset 2
    assert got[1]["pack_id"] == 0 and got[1]["offset_in_pack"] == 0
    assert got[3]["pack_id"] == 1 and got[3]["offset_in_pack"] == 2


def test_bigram_pmi_favors_fixed_collocations(spark):
    from ocr_cezam_spark.operators import textstats

    # 'new york' always together; 'the' everywhere -> low pmi with 'a'
    rows = [(i, "new york " + "the a " * 10) for i in range(10)]
    out = {(r["w1"], r["w2"]): r
           for r in textstats.bigram_pmi(_docs(spark, rows), min_count=5)
           .collect()}
    assert ("new", "york") in out
    ny = out[("new", "york")]
    assert ny["n_ab"] == 10
    assert ny["pmi"] > out[("the", "a")]["pmi"]
    assert ny["pmi"] > out[("a", "the")]["pmi"]


def test_empty_doc_quality_is_zero_not_crash(spark):
    df = _docs(spark, [(1, "a b c d e"), (2, ""), (3, "x y z")])
    out = sampling.token_budget_select(df, budget=100)
    got = {r["doc_id"]: (r["quality"], r["n_tokens"]) for r in out.collect()}
    assert got[2] == (0.0, 0)  # empty doc: worst quality, zero tokens, no 0/0
    assert got[1][0] == 1.0 and got[3][0] == 1.0
    # empty doc sorts LAST (quality 0), not into the best band
    assert max(r["cum_tokens"] for r in out.collect()) == \
        [r["cum_tokens"] for r in out.collect()
         if r["doc_id"] == 2][0]


def test_bm25_duplicate_query_terms_deduplicated(spark):
    df = _docs(spark, [
        (1, "spark spark join"), (2, "spark other words"), (3, "unrelated"),
    ])
    once = sorted(map(tuple, retrieval.bm25_topk(df, ["spark", "join"]).collect()))
    dup = sorted(map(tuple, retrieval.bm25_topk(
        df, ["spark", "spark", "join"]).collect()))
    assert once == dup


def test_pagerank_empty_links_returns_empty(spark):
    from ocr_cezam_spark.operators import graph

    empty = spark.createDataFrame([], "src string, dst string")
    out = graph.pagerank(empty)
    assert out.count() == 0 and out.columns == ["host", "rank"]


def test_dsir_degenerate_pools_select_nothing(spark):
    """An empty surviving TARGET pool (or raw pool) must yield an EMPTY
    selection, never an arbitrary one: with no model to rank against,
    every log-weight is NULL and ranking on NULL used to pick k
    arbitrary documents silently."""
    from ocr_cezam_spark.operators.sampling import dsir_select

    no_target = spark.createDataFrame(
        [(1, "a b c", False), (2, "b c d", False)],
        "doc_id long, text string, is_target boolean",
    )
    assert dsir_select(no_target, k=5).count() == 0
    all_target = spark.createDataFrame(
        [(1, "a b c", True)], "doc_id long, text string, is_target boolean"
    )
    assert dsir_select(all_target, k=5).count() == 0


def test_phrase_search_exact_adjacent_occurrences(spark):
    docs = spark.createDataFrame(
        [
            (1, "x new york city new york x"),  # two hits
            (2, "new x york"),                  # terms present, not adjacent
            (3, "york new"),                    # wrong order
        ],
        ["doc_id", "text"],
    )
    got = {r["id"]: (r["n_hits"], r["first_start"])
           for r in retrieval.phrase_search(docs, "new york").collect()}
    assert got == {1: (2, 1)}


def test_phrase_search_repeated_terms_and_overlap(spark):
    docs = spark.createDataFrame(
        [(4, "b b b"), (5, "a b a b a"), (6, "b x b")],
        ["doc_id", "text"],
    )
    # "b b" in "b b b": overlapping starts 0 and 1; a lone "b" must not
    # fire (slot-distinct: the same token hit can't fill both slots at
    # one start)
    got = {r["id"]: (r["n_hits"], r["first_start"])
           for r in retrieval.phrase_search(docs, "b b").collect()}
    assert got == {4: (2, 0)}
    # "a b a": starts 0 and 2 in doc 5 (shared middle "a" serves both)
    got3 = {r["id"]: (r["n_hits"], r["first_start"])
            for r in retrieval.phrase_search(docs, "a b a").collect()}
    assert got3 == {5: (2, 0)}


def test_phrase_search_empty_phrase_raises(spark):
    import pytest

    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        retrieval.phrase_search(docs, " ")


def test_domain_disjoint_split_audit(spark):
    """Domain split keeps whole sites on one side (in-plan invariant),
    same-site clones can NEVER leak under it, and the per-document
    baseline split's leak count is computed on the same digests."""
    import hashlib

    def side(domain: str, pct: int = 30) -> bool:
        h = int(hashlib.md5(f"split:{domain}".encode()).hexdigest()[:8], 16)
        return h % 100 < pct

    # two sites on opposite sides of the 30% cut (found deterministically)
    hosts = [f"s{i}.ex" for i in range(20)]
    a = next(h for h in hosts if side(h))          # val side
    b = next(h for h in hosts if not side(h))      # train side
    rows = [
        # same-site template clones on each side: never a domain leak
        (f"https://{a}/p1", "tmpl-a"), (f"https://{a}/p2", "tmpl-a"),
        (f"https://{b}/p1", "tmpl-b"), (f"https://{b}/p2", "tmpl-b"),
        # true syndication across the cut: exactly ONE domain leak
        (f"https://{a}/syn", "shared"), (f"https://{b}/syn", "shared"),
        # unique pages
        (f"https://{a}/u", "ua"), (f"https://{b}/u", "ub"),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    r = sampling.domain_disjoint_split(df, val_pct=30).collect()[0]
    assert r["domain_disjoint"]
    assert r["n_docs"] == 8
    assert r["n_train_domains"] == 1 and r["n_val_domains"] == 1
    assert r["n_train"] == 4 and r["n_val"] == 4
    assert r["digest_leak_domain"] == 1  # only the syndicated digest
    assert r["digest_leak_random"] >= 0  # baseline is data-dependent


def test_bm25f_title_hits_outrank_body_hits(spark):
    """BM25F weights occurrences BEFORE saturation: one title hit must
    outrank one body hit in same-length docs, and a doc hit in both
    fields outranks both."""
    pad = " ".join(f"f{i}" for i in range(20))
    rows = [
        (1, "spark " + pad),                 # title hit
        (2, pad + " spark"),                 # body hit
        (3, "spark " + pad + " spark"),      # both fields
        (4, pad + " x"),                     # no hit
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["score"]
           for r in retrieval.bm25f_topk(df, ["spark"], k=4,
                                         title_words=8).collect()}
    assert set(got) == {1, 2, 3}
    assert got[3] > got[1] > got[2] > 0


def test_corpus_drift_directional_and_identical(spark):
    """Identical snapshots drift ~0; a vocabulary shift moves KL and TV;
    drift grows with the size of the shift."""
    a = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(50)],
        "doc_id long, text string")
    same = sampling.corpus_drift(a, a).collect()[0]
    assert same["kl_new_vs_old"] == 0.0 and same["tv_distance"] == 0.0
    assert same["tokens_old"] == same["tokens_new"] == 200

    small = spark.createDataFrame(
        [(i, "alpha beta gamma NEW") for i in range(50)],
        "doc_id long, text string")
    big = spark.createDataFrame(
        [(i, "NEW1 NEW2 NEW3 NEW4") for i in range(50)],
        "doc_id long, text string")
    d_small = sampling.corpus_drift(a, small).collect()[0]
    d_big = sampling.corpus_drift(a, big).collect()[0]
    assert 0 < d_small["kl_new_vs_old"] < d_big["kl_new_vs_old"]
    assert 0 < d_small["tv_distance"] < d_big["tv_distance"]


def test_phrase_search_multi_equals_single(spark):
    """Per-phrase results must equal the single-phrase operator,
    including the repeated-term phrase; empty phrases rejected."""
    import pytest as _pytest

    docs = spark.createDataFrame(
        [
            (1, "x a a a y"),          # "a a": two overlapping hits
            (2, "a b a"),              # lone 'a's: no "a a" hit
            (3, "new york new york"),  # "new york": two hits
        ],
        "doc_id long, text string",
    )
    phrases = ["a a", "new york", "absent phrase"]
    multi = retrieval.phrase_search_multi(docs, phrases).collect()
    got = {(r["phrase_id"], r["id"]): (r["n_hits"], r["first_start"])
           for r in multi}
    for pid, phrase in enumerate(phrases):
        want = {(pid, r["id"]): (r["n_hits"], r["first_start"])
                for r in retrieval.phrase_search(docs, phrase).collect()}
        assert {k: v for k, v in got.items() if k[0] == pid} == want
    assert got[(0, 1)] == (2, 1) and (0, 2) not in got
    assert got[(1, 3)] == (2, 0)
    assert not any(k[0] == 2 for k in got)

    with _pytest.raises(ValueError):
        retrieval.phrase_search_multi(docs, ["ok phrase", " "])


def test_retrieval_empty_queries_return_no_rows(spark):
    """An empty query (no terms, no query rows, no phrases) is a valid
    request with an empty answer, never a schema-inference error; a
    blank phrase is still a caller error."""
    import pytest as _pytest

    docs = spark.createDataFrame(
        [(1, "spark join"), (2, "window fast")], "doc_id long, text string")
    no_queries = spark.createDataFrame(
        [], "query_id long, term string, weight double")
    assert retrieval.bm25_topk(docs, []).collect() == []
    assert retrieval.bm25f_topk(docs, []).collect() == []
    assert retrieval.bm25_multi_topk(docs, no_queries).collect() == []
    assert retrieval.phrase_search_multi(docs, []).collect() == []
    with _pytest.raises(ValueError):
        retrieval.phrase_search(docs, "  ")
    with _pytest.raises(ValueError):
        retrieval.phrase_search_multi(docs, [" "])


def test_bm25_entry_points_agree(spark):
    """The three BM25 entry points share one scorer: bm25_topk is
    bm25_multi_topk on one weight-1.0 query (its duplicate term
    dropped), and bm25f_topk with equal field weights is bm25_topk —
    row for row, in rank order, scores bit-identical."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)] + ["spark", "join", "window"]
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(1, 40))))
            for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["spark", "join", "spark", "w3", "absent"]
    single = [tuple(r) for r in retrieval.bm25_topk(docs, terms, k=25)
              .collect()]
    q = spark.createDataFrame(
        [(1, t, 1.0) for t in dict.fromkeys(terms)],
        "query_id long, term string, weight double")
    multi = [(r["doc_id"], r["score"], r["n_matched"])
             for r in retrieval.bm25_multi_topk(docs, q, k=25)
             .orderBy("rank").collect()]
    fielded = [tuple(r) for r in retrieval.bm25f_topk(
        docs, terms, k=25, w_title=1.0, w_body=1.0).collect()]
    assert len(single) == 25
    assert single == multi
    assert fielded == single
