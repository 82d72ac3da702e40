"""Connected-components dedup clustering vs a python union-find oracle."""

from __future__ import annotations

from ocr_cezam_spark.operators.dedup import connected_components, dedup_clusters


def _union_find(pairs):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_components_match_union_find(spark):
    # chain 1-2-3, pair 10-11, triangle 20-21-22, chain 30-31-32-33
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22),
             (30, 31), (31, 32), (32, 33)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == _union_find(edges)


def test_long_chain_converges(spark):
    # path graph of diameter 14 (> the old silent cap of 10): label
    # propagation must run to fixpoint, not stop early with wrong labels
    edges = [(i, i + 1) for i in range(15)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(16)}


def test_unconverged_raises(spark):
    import pytest

    edges = [(i, i + 1) for i in range(6)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)


def test_iteration_budget_accepts_diameter_below_max_iter(spark):
    """Two half-steps per round must keep the one-step budget: a chain of
    diameter max_iter - 1 converges."""
    edges = [(i, i + 1) for i in range(5)]
    pairs = spark.createDataFrame(edges, "a long, b long")
    rows = connected_components(pairs, max_iter=6).collect()
    assert len(rows) == 6
    assert all(r["component"] == 0 for r in rows)


def test_dedup_clusters_bounds_pathological_identical_corpus(spark):
    """ONE page copied 1500 times: the default clustering path must
    collapse the exact group to a single representative before LSH (no
    1.1M-pair band bucket) and still report the group as one component
    with all members counted."""
    from pyspark.sql import functions as F  # noqa: N812

    docs = spark.range(0, 1500).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate page body repeated verbatim").alias("text"),
    )
    rows = dedup_clusters(docs).collect()
    assert len(rows) == 1
    assert rows[0]["component"] == 0
    assert rows[0]["n_members"] == 1500
    assert rows[0]["max_member"] == 1499


def test_dedup_clusters_mixed_exact_and_near(spark):
    """Exact groups merge with near-dup neighbors through their
    representative; members are re-attached through the digest mapping."""
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta"),
         (1, "alpha beta gamma delta epsilon zeta eta theta"),   # exact of 0
         (2, "alpha beta gamma delta epsilon zeta eta theta iota"),  # near
         (3, "completely different words nothing shared here at all"),
         (4, "completely different words nothing shared here at all")],
        "doc_id long, text string",
    )
    got = {r["component"]: (r["n_members"], r["max_member"])
           for r in dedup_clusters(docs).collect()}
    # {0,1,2} via near-dup rep pairing; {3,4} pure exact group
    assert got == {0: (3, 2), 3: (2, 4)}


def test_dedup_clusters_on_cloned_docs(spark):
    # fully disjoint vocabularies per doc: no shared shingles, so the only
    # candidate pairs are the exact clones
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(8)), "s")
            for i in range(20)]
    rows += [(i + 100, rows[i][1], "s") for i in range(20)]  # exact clones
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    clusters = {r["component"]: (r["n_members"], r["max_member"])
                for r in dedup_clusters(docs).collect()}
    # every doc pairs with its clone: component i -> {i, i+100}
    assert len(clusters) == 20
    for i in range(20):
        assert clusters[i] == (2, i + 100)


def test_url_version_history_scd2(spark):
    """SCD-2 compaction: same-digest runs collapse with fetch counts,
    intervals chain (valid_to = next valid_from, NULL for current),
    single-fetch urls are one open version."""
    from ocr_cezam_spark.operators import dedup

    rows = [
        # u1: d1 d1 d2 d1 -> 3 versions (digest REVERTS open a new one)
        ("u1", 10, "d1"), ("u1", 20, "d1"), ("u1", 30, "d2"),
        ("u1", 40, "d1"),
        # u2: one fetch
        ("u2", 10, "x"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts long, digest string")
    got = [
        (r["url"], r["version"], r["digest"], r["valid_from"],
         r["valid_to"], r["n_fetches"])
        for r in dedup.url_version_history(df).collect()
    ]
    assert got == [
        ("u1", 1, "d1", 10, 30, 2),
        ("u1", 2, "d2", 30, 40, 1),
        ("u1", 3, "d1", 40, None, 1),
        ("u2", 1, "x", 10, None, 1),
    ]


def test_dedup_weights_unit_mass_per_cluster(spark):
    """Every doc keeps a row; cluster mass sums to ~1; singletons 1.0."""
    from ocr_cezam_spark.operators import dedup

    t = "the quick brown fox jumps over the lazy dog again today"
    rows = [
        (1, t), (2, t),                       # exact pair
        (3, t + " extra"),                    # near dup of the pair
        (4, "completely different unique words here now ok fine yes"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup.dedup_weights(df).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["cluster_size"] == 3 == got[3]["cluster_size"]
    assert got[1]["weight"] == got[3]["weight"] == 0.3333
    assert got[4]["cluster_size"] == 1 and got[4]["weight"] == 1.0
    assert got[1]["component"] == got[2]["component"] == got[3]["component"]
