"""PageRank over the host link graph (operators/graph.py)."""

from __future__ import annotations

import numpy as np

from ocr_cezam_spark.operators import graph


def test_pagerank_matches_numpy_power_iteration(spark):
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    links = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["host"]: r["rank"]
           for r in graph.pagerank(links, iters=4).collect()}

    hosts = sorted({h for e in edges for h in e})
    idx = {h: i for i, h in enumerate(hosts)}
    n = len(hosts)
    outd = np.zeros(n)
    for s, _ in edges:
        outd[idx[s]] += 1
    m = np.zeros((n, n))
    for s, d in edges:
        m[idx[d], idx[s]] += 1.0 / outd[idx[s]]
    r = np.full(n, 1.0 / n)
    for _ in range(4):
        r = 0.15 / n + 0.85 * (m @ r)
    for h in hosts:
        assert abs(got[h] - r[idx[h]]) < 1e-8, h
    # sink-free sanity: c has the most in-links -> highest rank
    assert got["c"] == max(got.values())


def test_pagerank_no_inlink_host_keeps_teleport_mass(spark):
    links = spark.createDataFrame([("x", "y")], ["src", "dst"])
    got = {r["host"]: r["rank"]
           for r in graph.pagerank(links, iters=2).collect()}
    assert got["x"] == round(0.15 / 2, 8)
    assert got["y"] > got["x"]


def _numpy_pagerank_dangling(edges, damping=0.85, iters=200):
    hosts = sorted({h for e in edges for h in e})
    idx = {h: i for i, h in enumerate(hosts)}
    n = len(hosts)
    outd = np.zeros(n)
    for s, _ in edges:
        outd[idx[s]] += 1
    m = np.zeros((n, n))
    for s, d in edges:
        m[idx[d], idx[s]] += 1.0 / outd[idx[s]]
    dangling = outd == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dm = r[dangling].sum()
        r = (1 - damping) / n + damping * (m @ r + dm / n)
    return {h: r[idx[h]] for h in hosts}


def test_pagerank_converged_matches_numpy_with_dangling_nodes(spark):
    """b and e have no out-links: their rank must redistribute (total
    mass stays 1), and the converged ranks must match the true
    eigenvector from numpy power iteration."""
    edges = [("a", "b"), ("a", "c"), ("c", "a"), ("c", "e"), ("d", "a")]
    links = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["host"]: r["rank"]
           for r in graph.pagerank_converged(links, tol=1e-12).collect()}
    want = _numpy_pagerank_dangling(edges)
    assert set(got) == set(want)
    for h, w in want.items():
        assert abs(got[h] - w) < 1e-9, (h, got[h], w)
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def test_pagerank_converged_stops_before_max_iters(spark):
    """A loose tolerance converges in a handful of iterations — the loop
    must stop early and still conserve mass."""
    edges = [("a", "b"), ("b", "a"), ("b", "c")]
    links = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["host"]: r["rank"]
           for r in graph.pagerank_converged(
               links, tol=1e-6, max_iters=100).collect()}
    want = _numpy_pagerank_dangling(edges)
    for h, w in want.items():
        assert abs(got[h] - w) < 1e-5, (h, got[h], w)
    assert abs(sum(got.values()) - 1.0) < 1e-6


def _numpy_trustrank(edges, seeds, damping=0.85, iters=4):
    hosts = sorted({h for e in edges for h in e})
    idx = {h: i for i, h in enumerate(hosts)}
    n = len(hosts)
    outd = np.zeros(n)
    for s, _ in edges:
        outd[idx[s]] += 1
    m = np.zeros((n, n))
    for s, d in edges:
        m[idx[d], idx[s]] += 1.0 / outd[idx[s]]
    present = [h for h in seeds if h in idx]
    t = np.zeros(n)
    for h in present:
        t[idx[h]] = 1.0 / len(present)
    r = t.copy()
    for _ in range(iters):
        r = (1 - damping) * t + damping * (m @ r)
    return {h: r[idx[h]] for h in hosts}


def test_trustrank_matches_numpy_and_ignores_absent_seeds(spark):
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    links = spark.createDataFrame(edges, ["src", "dst"])
    seeds = ["a", "zzz-not-in-graph"]
    got = {r["host"]: r["rank"]
           for r in graph.trustrank(links, seeds, iters=4).collect()}
    want = _numpy_trustrank(edges, seeds)
    assert set(got) == set(want)
    for h, w in want.items():
        assert abs(got[h] - w) < 1e-8, (h, got[h], w)
    # d is not a seed and nothing links to it: zero trust (the spam-
    # demotion property — dense out-linking buys d nothing)
    assert got["d"] == 0.0


def test_trustrank_no_present_seed_scores_all_zero(spark):
    links = spark.createDataFrame([("x", "y")], ["src", "dst"])
    got = graph.trustrank(links, ["absent"], iters=2).collect()
    assert {r["host"] for r in got} == {"x", "y"}
    assert all(r["rank"] == 0.0 for r in got)


def test_trustrank_empty_seed_list_raises(spark):
    import pytest

    links = spark.createDataFrame([("x", "y")], ["src", "dst"])
    with pytest.raises(ValueError):
        graph.trustrank(links, [])


def test_resolve_redirects_chains_cycles_and_multi_out(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "home"),   # 3-hop chain
         ("x", "y"), ("y", "x"),                  # 2-cycle
         ("z", "z"),                              # self-loop
         ("m", "home"),                           # direct
         ("dup", "q"), ("dup", "p")],             # multi-out -> min(dst)
        ["src", "dst"])
    got = {r["url"]: (r["final_url"], r["hops"], r["is_cycle"])
           for r in graph.resolve_redirects(edges, max_hops=8).collect()}
    assert got["a"] == ("home", 3, 0)
    assert got["b"] == ("home", 2, 0)
    assert got["c"] == ("home", 1, 0)
    assert got["m"] == ("home", 1, 0)
    assert got["dup"] == ("p", 1, 0)
    for cyc in ("x", "y", "z"):
        assert got[cyc] == (None, None, 1), cyc


def test_resolve_redirects_hop_cap_flags_overlong_chains(spark):
    # chain n0 -> n1 -> ... -> n6 -> end: 7 hops from n0
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(6)] + [("n6", "end")],
        ["src", "dst"])
    ok = {r["url"]: r for r in
          graph.resolve_redirects(edges, max_hops=8).collect()}
    assert ok["n0"]["final_url"] == "end" and ok["n0"]["hops"] == 7
    capped = {r["url"]: r for r in
              graph.resolve_redirects(edges, max_hops=4).collect()}
    assert capped["n0"]["is_cycle"] == 1  # not terminated within cap
    assert capped["n0"]["final_url"] is None
    assert capped["n4"]["final_url"] == "end"  # 3 hops: inside the cap


def test_reciprocal_links_flags_mutual_edges(spark):
    from ocr_cezam_spark.operators import graph

    rows = [
        # a <-> b mutual; a -> c one-way; c self-loop (dropped);
        # duplicate edge collapses before counting
        ("a", "b"), ("b", "a"), ("a", "c"), ("c", "c"), ("a", "b"),
    ]
    df = spark.createDataFrame(rows, "src string, dst string")
    got = {r["host"]: r for r in graph.reciprocal_links(df).collect()}
    assert set(got) == {"a", "b"}  # c has no qualifying out-edge
    assert got["a"]["n_out"] == 2 and got["a"]["n_recip"] == 1
    assert got["a"]["recip_frac"] == 0.5
    assert got["b"]["n_out"] == 1 and got["b"]["recip_frac"] == 1.0
