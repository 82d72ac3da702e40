"""Round-8 optimization regression tests.

Each test pins an operator-internal change from the optimization round:
the physical improvement must not drift back (plan-size assertions) and
the rewrites must preserve the exact pre-change semantics on the edge
cases the old implementations handled implicitly.
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.operators.dedup import connected_components, simhash64
from ocr_cezam_spark.operators.graph import hits
from ocr_cezam_spark.plans.audit import formatted_plan


def test_hits_plan_stays_truncated(spark):
    """The unrolled HITS loop used to DOUBLE its plan per half-step
    (measured 1506 Exchange lines at iters=3); the per-half-step lazy
    localCheckpoint keeps it linear. Bound the plan size so a refactor
    cannot silently reintroduce the blowup."""
    links = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], "src string, dst string"
    )
    out = hits(links, iters=3)
    plan = formatted_plan(out)
    assert plan.count("Exchange") < 60, plan.count("Exchange")
    # and it still computes: 3 hosts, L1-normalized scores
    rows = {r["host"]: r for r in out.collect()}
    assert set(rows) == {"a", "b", "c"}
    assert abs(sum(r["auth"] for r in rows.values()) - 1.0) < 1e-6


def test_simhash64_null_and_empty_text(spark):
    """The explode+aggregate vote rewrite must keep the in-row form's
    edge behavior: a null-text doc emits all-zero chunks (explode_outer
    keeps its row; all votes null -> 0), an empty-text doc hashes the
    single empty word exactly as before."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "x y z")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in simhash64(df).collect()}
    assert set(rows) == {1, 2, 3}
    assert [rows[1][c] for c in ("c0", "c1", "c2", "c3")] == [0, 0, 0, 0]
    # empty string = one "" word: its md5 bits win every majority vote
    # (1 of 1), so the signature equals md5("")'s first 64 bits per chunk
    md5_empty = "d41d8cd98f00b204e9800998ecf8427e"
    expected = [int(md5_empty[4 * t: 4 * t + 4], 16) for t in range(4)]
    assert [rows[2][c] for c in ("c0", "c1", "c2", "c3")] == expected


def test_connected_components_chain_converges(spark):
    """The two-steps-per-round fixpoint must still label a long chain
    (diameter > one round's reach) with the min id, and converge."""
    edges = [(i, i + 1) for i in range(1, 10)]  # chain 1-2-...-10
    pairs = spark.createDataFrame(edges, "a long, b long")
    out = connected_components(pairs)
    rows = out.collect()
    assert len(rows) == 10
    assert all(r["component"] == 1 for r in rows)


def test_spread_floor_is_scale_adaptive(spark):
    """_spread repartitions an under-partitioned scan to the default
    parallelism and is a NO-OP (plan-identical input) when the input
    already carries at least that many partitions — the property that
    makes it free at production scale."""
    from ocr_cezam_spark.queries import _spread

    n = spark.sparkContext.defaultParallelism
    small = spark.range(100).coalesce(1)
    assert _spread(small, "id").rdd.getNumPartitions() == n
    big = spark.range(1000).repartition(n * 2)
    assert _spread(big, "id") is big
