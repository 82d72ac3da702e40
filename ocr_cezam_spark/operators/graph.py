"""Host-graph operators: PageRank over the crawl's host link graph — the
standard quality prior a web-text pipeline joins back onto documents
(alongside the per-source skew stats in textstats.py).

Reference analog: none (ocr-cezam is per-document); this is a pipeline
extension like dedup/sampling. The companion graph op, connected
components, lives in dedup.connected_components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.functions.numeric import round_he
from ocr_cezam_spark.materialize import materialize

DAMPING = 0.85


def pagerank(links: DataFrame, iters: int = 3, damping: float = DAMPING,
             src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Fixed-iteration PageRank over a (src, dst) edge table (parallel
    edges count as weight). Returns (host, rank) for every host appearing
    as source or destination, rank rounded to 8 dp.

    Hosts without in-links keep the teleport mass
    (1 - d)/N; dangling mass is not redistributed (every synthetic host
    has out-links; production would add the dangling-sum term).

    Scale shape: one iteration = join ranks to edges on src (ranks is
    |hosts|-sized — broadcast when it fits, which for web HOSTS, ~10^8
    rows max, it does on big executors; Spark falls back to sort-merge
    when not), aggregate contributions by dst, left-join back to the host
    list. The edge table partitioning on src is reused every iteration.
    The iterations are a driver loop: one driver action, ``hosts.count()``
    (the host count is the only scalar driver state), and a lazy
    checkpoint of ``ranks`` on every iteration, so each
    iteration's plan starts from the previous ranks instead of nesting
    all earlier iterations. ``pagerank_converged`` is the convergence-loop
    form.
    """
    # Lazy plan truncation before the loop (the hits / trustrank /
    # connected_components lesson): the degree-annotated edge frame and
    # the host frame are each referenced once per unrolled iteration, so
    # without the cut every iteration re-embeds (and re-executes) the
    # caller's full link-derivation subtree — in frontier_next that is
    # the kernel extraction chain, replicated iters+1 times. hosts is
    # checkpointed BEFORE the count so the counting action doubles as
    # its materialization.
    hosts = materialize(_hosts(links, src_col, dst_col), "pagerank hosts")
    n = hosts.count()  # scalar driver state: the host count only
    if n == 0:  # empty edge table: no hosts, not a ZeroDivisionError
        return links.sparkSession.createDataFrame(
            [], "host string, rank double"
        )
    teleport = (1.0 - damping) / n
    return _rank_loop(links, hosts, F.lit(1.0 / n), F.lit(teleport), iters,
                      damping, src_col, dst_col)


def _rank_loop(links: DataFrame, hosts: DataFrame, init: F.Column,
               teleport: F.Column, iters: int, damping: float,
               src_col: str, dst_col: str) -> DataFrame:
    """The fixed-iteration rank loop shared by ``pagerank`` and
    ``trustrank``: ranks start at ``init`` over the (checkpointed) host
    frame, and each iteration is edges ⋈ ranks on src, sum(rank/outd)
    by dst, hosts ⟕ contrib, rank = teleport + d * coalesce(s, 0).
    Returns (host, rank) rounded to 8 dp."""
    deg = links.groupBy(src_col).agg(F.count("*").alias("outd"))
    edges = materialize(links.join(deg, src_col), "rank loop edges")
    ranks = hosts.select("host", init.alias("rank"))
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges[src_col] == ranks["host"])
            .groupBy(F.col(dst_col).alias("host"))
            .agg(F.sum(F.col("rank") / F.col("outd")).alias("s"))
        )
        ranks = hosts.join(contrib, "host", "left").select(
            "host",
            (teleport + damping * F.coalesce(F.col("s"), F.lit(0.0)))
            .alias("rank"),
        )
        # |hosts|-sized per-iteration truncation keeps the unrolled plan
        # linear instead of nesting each iteration inside the next
        ranks = materialize(ranks, "rank loop ranks")
    return ranks.select("host", round_he("rank", 8).alias("rank"))


def _hosts(links: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    return (
        links.select(F.col(src_col).alias("host"))
        .union(links.select(F.col(dst_col).alias("host")))
        .distinct()
    )


def pagerank_converged(links: DataFrame, tol: float = 1e-9,
                       max_iters: int = 50, damping: float = DAMPING,
                       src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Production-shape PageRank: dangling-mass redistribution plus an
    L1-convergence loop — the full model, vs the fixed-iteration
    ``pagerank`` above (kept unrolled because its DuckDB oracle twin is a
    fixed recursive CTE).

    Dangling hosts (no out-links — crawl frontier leaves, robots-blocked
    pages) hold rank that a plain contribution join silently destroys;
    each iteration redistributes their summed rank uniformly, so total
    rank mass stays 1 and converged ranks match the true eigenvector
    (numpy power-iteration pytest with dangling nodes).

    Scale shape: per iteration, one edges-to-ranks equi-join +
    aggregation (the only |edges|-sized shuffle), then a left join back
    to the host list carrying the OLD rank so the L1 delta and the new
    ranks come out of the same frame. Driver state is scalars only: the
    dangling sum (single-row aggregate over the |hosts|-sized anti-join)
    and the delta. An eager checkpoint of every iteration's frame
    truncates the growing lineage (the dedup.connected_components
    pattern) — without it the plan doubles per iteration and Catalyst
    analysis dominates past ~15 iterations. Each iteration runs two
    driver actions (dangling sum, delta) plus feeds the next, so an
    un-materialized iteration would re-execute its |edges|-sized
    join+agg once per reader; materializing the |hosts|-sized frame
    once is cheaper.

    Returns (host, rank) with raw double ranks (callers round; the
    convergence loop's iteration count is data-dependent, so a frozen
    rounding here would suggest cross-engine stability this operator
    does not promise)."""
    hosts = _hosts(links, src_col, dst_col)
    n = hosts.count()
    if n == 0:
        return links.sparkSession.createDataFrame(
            [], "host string, rank double"
        )
    teleport = (1.0 - damping) / n
    deg = links.groupBy(src_col).agg(F.count("*").alias("outd"))
    edges = links.join(deg, src_col)
    dangling_hosts = materialize(
        hosts.join(deg, hosts["host"] == deg[src_col], "left_anti"),
        "pagerank_converged dangling hosts", eager=True)
    ranks = materialize(hosts.select("host", F.lit(1.0 / n).alias("rank")),
                        "pagerank_converged ranks", eager=True)
    for _ in range(max_iters):
        dangling = (
            ranks.join(dangling_hosts, "host")
            .agg(F.sum("rank").alias("s"))
            .first()["s"]
        ) or 0.0
        contrib = (
            edges.join(ranks, edges[src_col] == ranks["host"])
            .groupBy(F.col(dst_col).alias("host"))
            .agg(F.sum(F.col("rank") / F.col("outd")).alias("s"))
        )
        stepped = materialize(
            hosts.join(contrib, "host", "left")
            .join(ranks.withColumnRenamed("rank", "old"), "host")
            .select(
                "host",
                "old",
                (
                    F.lit(teleport)
                    + damping * (F.coalesce(F.col("s"), F.lit(0.0))
                                 + F.lit(dangling / n))
                ).alias("rank"),
            ),
            "pagerank_converged step", eager=True,
        )
        delta = stepped.agg(
            F.sum(F.abs(F.col("rank") - F.col("old"))).alias("d")
        ).first()["d"]
        ranks = stepped.select("host", "rank")
        if delta < tol:
            break
    return ranks


def link_target_stats(links: DataFrame, url_col: str = "url",
                      href_col: str = "href") -> DataFrame:
    """In-link statistics per link TARGET — the url-level ranking signal
    a crawl prioritizer reads next to host PageRank: total in-links,
    distinct linking pages, distinct linking hosts, and the earliest
    position at which any page links to the target (nav links come
    first in document order; a min pos near 0 marks a navigational
    target).

    ONE hash aggregation keyed on the target url: count and min fold
    map-side; the two distinct-counts make it a partial-dedup agg Spark
    plans as two-stage hash aggregation — still a single shuffle on the
    target key. No windows, no joins; at web scale this runs right
    after extract_links on the same partitioning.
    """
    from ..functions.url import url_host

    return (
        links.select(
            F.col(href_col).alias("target"),
            F.col(url_col).alias("src"),
            url_host(F.col(url_col)).alias("src_host"),
            F.col("pos"),
        )
        .groupBy("target")
        .agg(
            F.count("*").alias("n_inlinks"),
            F.countDistinct("src").alias("n_src_pages"),
            F.countDistinct("src_host").alias("n_src_hosts"),
            F.min("pos").alias("first_pos"),
        )
        .orderBy(F.desc("n_inlinks"), "target")
    )


def anchor_text_topk(links: DataFrame, href_col: str = "href",
                     anchor_col: str = "anchor") -> DataFrame:
    """The dominant anchor text per link target — what the web "calls"
    a page, the classic retrieval/ranking signal WAT-style link metadata
    exists to carry (anchor text of in-links describes the TARGET better
    than the target's own text describes itself).

    Two hash aggregations, no window: count per (target, anchor), then
    min-of-struct((-n, anchor)) per target — highest count wins, ties to
    the lexicographically smallest anchor, the same negation trick as
    cluster_best_docs so a mega-target (millions of in-links) reduces
    map-side instead of funneling one sort task. Empty anchors (image
    links, icon links) are excluded from the vote but counted in
    n_inlinks.
    """
    votes = (
        links.filter(F.col(anchor_col) != "")
        .groupBy(F.col(href_col).alias("target"),
                 F.col(anchor_col).alias("anchor"))
        .agg(F.count("*").alias("n"))
    )
    top = (
        votes.groupBy("target")
        .agg(
            F.min(F.struct((-F.col("n")).alias("neg_n"),
                           F.col("anchor").alias("anchor"))).alias("w"),
            F.count("*").alias("n_anchors"),
        )
        .select(
            "target",
            F.col("w.anchor").alias("top_anchor"),
            (-F.col("w.neg_n")).alias("top_anchor_n"),
            "n_anchors",
        )
    )
    inlinks = links.groupBy(F.col(href_col).alias("target")).agg(
        F.count("*").alias("n_inlinks")
    )
    return (
        inlinks.join(top, "target", "left")
        .select(
            "target", "n_inlinks",
            "top_anchor", "top_anchor_n",
            F.coalesce("n_anchors", F.lit(0)).alias("n_anchors"),
        )
        .orderBy(F.desc("n_inlinks"), "target")
    )


def hits(links: DataFrame, iters: int = 3,
         src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """HITS hubs & authorities over the host link graph (Kleinberg 1999)
    — the companion ranking signal to PageRank: authorities are hosts
    many good hubs point AT (content sites), hubs are hosts that point
    at many good authorities (directories, link lists). A crawl
    prioritizer reads both: PageRank for global importance, authority
    for topical endorsement, and a high hub / low authority host is the
    classic link-farm shape worth down-weighting.

    Fixed unrolled iterations with L1 normalization after each half-step
    (the rank ORDER is what callers consume; L1 keeps the oracle twin a
    plain sum instead of a sqrt whose cross-engine bit pattern is not
    guaranteed). Parallel edges collapse to one (adjacency-matrix
    semantics, matching the published algorithm) — a distinct on (src,
    dst), one shuffle, reused by every iteration.

    Scale shape, per iteration: two |edges|-sized equi-joins (edges to
    the |hosts|-sized score frame — broadcast when hosts fit, sort-merge
    otherwise) + two aggregations on the opposite endpoint, plus two
    single-row normalization aggregates attached by crossJoin so the
    unrolled computation needs no per-iteration driver actions (the
    pagerank_converged contrast). The distinct edge list and the host
    frame are checkpointed before the loop (lazily — nothing
    materializes until the caller's first action): each is referenced
    2*iters times in the unrolled plan, and without the cut every
    reference re-executes the upstream link derivation — 6+ rescans of
    a corpus-sized input at web scale for iters=3 (the same lesson as
    connected_components' edge checkpoint). Scores rounded to 8 dp, far
    above float accumulation error for web-sized sums.

    Reference analog: none (ocr-cezam is per-document); pipeline
    extension like pagerank above.
    """
    hosts = _hosts(links, src_col, dst_col)
    if links.isEmpty():
        return links.sparkSession.createDataFrame(
            [], "host string, auth double, hub double"
        )
    edges = materialize(links.select(
        F.col(src_col).alias("e_src"), F.col(dst_col).alias("e_dst")
    ).distinct(), "hits edges")
    hosts = materialize(hosts, "hits hosts")

    def _l1(scores: DataFrame, col: str) -> DataFrame:
        total = scores.agg(F.sum(col).alias("_t"))
        return scores.crossJoin(total).select(
            "host", (F.col(col) / F.col("_t")).alias(col)
        )

    hub = hosts.select("host", F.lit(1.0).alias("hub"))
    auth = None
    for _ in range(iters):
        a = (
            edges.join(hub, edges["e_src"] == hub["host"])
            .groupBy(F.col("e_dst").alias("host"))
            .agg(F.sum("hub").alias("s"))
        )
        auth = _l1(
            hosts.join(a, "host", "left").select(
                "host", F.coalesce("s", F.lit(0.0)).alias("auth")
            ),
            "auth",
        )
        # Truncate the plan after every half-step (lazily — nothing runs
        # until the caller's action): _l1 references its input twice
        # (scores + the crossJoin'd total) and the next half-step joins
        # the result again, so the un-truncated unrolled plan DOUBLES per
        # half-step — 2^(2*iters) copies of the base subtree (measured:
        # 1506 Exchange nodes at iters=3, and Catalyst analysis dominated
        # the query). The checkpointed frame is |hosts|-sized — the same
        # bound as the ranks frame pagerank_converged materializes.
        auth = materialize(auth, "hits auth")
        h = (
            edges.join(auth, edges["e_dst"] == auth["host"])
            .groupBy(F.col("e_src").alias("host"))
            .agg(F.sum("auth").alias("s"))
        )
        hub = _l1(
            hosts.join(h, "host", "left").select(
                "host", F.coalesce("s", F.lit(0.0)).alias("hub")
            ),
            "hub",
        )
        hub = materialize(hub, "hits hub")
    return (
        auth.join(hub, "host")
        .select(
            "host",
            round_he("auth", 8).alias("auth"),
            round_he("hub", 8).alias("hub"),
        )
        .orderBy("host")
    )


def trustrank(links: DataFrame, seeds: list[str], iters: int = 3,
              damping: float = DAMPING, src_col: str = "src",
              dst_col: str = "dst") -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004):
    PageRank with the teleport vector concentrated on a human-vetted
    seed set instead of uniform — trust flows out from the seeds along
    links, so hosts reachable only from spam neighborhoods score near
    zero no matter how densely they interlink. The spam-demotion prior
    a crawl scheduler combines with plain PageRank (high PR + low trust
    = link-farm signature; graph.hits exposes the same shape from the
    hub side).

    The same rank loop as ``pagerank`` (``_rank_loop``: one
    |edges|-sized equi-join + agg per iteration, ranks |hosts|-sized and
    lazily checkpointed every iteration) with two deltas: teleport mass
    (1-d)/|seeds∩hosts| lands on seed hosts only (seeds outside the
    graph are ignored), and ranks initialize to the teleport vector.
    Driver state: the present-seed count, one scalar. The
    degree-annotated edge frame and the host frame are
    checkpointed (lazily) before the loop — each is referenced
    once per unrolled iteration, and without the cut every reference
    re-executes the upstream link derivation (the hits /
    connected_components lesson). Ranks rounded 8 dp; rank mass is NOT
    1 when dangling hosts exist (same convention as ``pagerank`` —
    documented there; the converged/dangling-aware variant pattern
    applies equally if needed).
    """
    if not seeds:
        raise ValueError("need at least one seed host")
    hosts = materialize(_hosts(links, src_col, dst_col), "trustrank hosts")
    n_seeds = hosts.filter(F.col("host").isin(seeds)).count()
    if n_seeds == 0:  # no seed present in the graph: nothing is trusted
        return hosts.select("host", F.lit(0.0).alias("rank"))
    tele = F.when(
        F.col("host").isin(seeds), F.lit((1.0 - damping) / n_seeds)
    ).otherwise(F.lit(0.0))
    # init = the teleport vector scaled to unit mass (the standard
    # TrustRank static score vector start)
    init = F.when(F.col("host").isin(seeds),
                  F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))
    return _rank_loop(links, hosts, init, tele, iters, damping,
                      src_col, dst_col)


def resolve_redirects(edges: DataFrame, max_hops: int = 32,
                      src_col: str = "src",
                      dst_col: str = "dst") -> DataFrame:
    """Redirect-chain resolution by POINTER DOUBLING: each source url
    resolves to its terminal target (a url with no outgoing redirect)
    in ceil(log2(max_hops)) self-join rounds instead of max_hops
    sequential ones — the difference between 5 shuffles and 32 at the
    crawl-store design point, where 3xx chains must collapse before
    dedup/frontier admission so mirror urls key to one canonical page.

    Per round, every pointer jumps to its pointer's pointer (hops add),
    so reachable-within-max_hops chains terminate in O(log max_hops)
    rounds; each round's frame is checkpointed (lazily) — the
    self-join doubles the lineage per round, the same analyze-time
    blowup build_training_corpus documents. Multiple out-edges per src
    collapse to min(dst) first (deterministic; real redirect stores are
    already functional). A chain that has not terminated after the
    rounds (length > max_hops, i.e. a redirect CYCLE at any sane cap)
    reports is_cycle=1 with NULL final_url/hops — fail-visible, never
    an arbitrary member of the loop.

    Returns one row per distinct source: (url, final_url, hops,
    is_cycle), hops = exact chain length for terminated rows.

    Reference analog: none (ocr-cezam is per-document); crawl-side
    pipeline extension like frontier_next.
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    f = materialize(
        edges.groupBy(F.col(src_col).alias("node"))
        .agg(F.min(dst_col).alias("cur"))
        .withColumn("hops", F.lit(1).cast("long")),
        "resolve_redirects pointers",
    )
    rounds = max(1, (max_hops - 1).bit_length())  # 2^rounds >= max_hops
    for _ in range(rounds):
        nxt = f.select(
            F.col("node").alias("j_node"),
            F.col("cur").alias("j_cur"),
            F.col("hops").alias("j_hops"),
        )
        f = materialize(
            f.join(nxt, f["cur"] == nxt["j_node"], "left")
            .select(
                "node",
                F.coalesce("j_cur", "cur").alias("cur"),
                (F.col("hops") + F.coalesce("j_hops", F.lit(0)))
                .alias("hops"),
            ),
            "resolve_redirects round",
        )
    srcs = f.select(F.col("node").alias("s_node")).distinct()
    return (
        f.join(srcs, f["cur"] == srcs["s_node"], "left")
        .select(
            F.col("node").alias("url"),
            F.when(F.col("s_node").isNull() & (F.col("hops") <= max_hops),
                   F.col("cur")).alias("final_url"),
            F.when(F.col("s_node").isNull() & (F.col("hops") <= max_hops),
                   F.col("hops")).alias("hops"),
            (F.col("s_node").isNotNull() | (F.col("hops") > max_hops))
            .cast("int").alias("is_cycle"),
        )
        .orderBy("url")
    )


def reciprocal_links(links: DataFrame, src_col: str = "src",
                     dst_col: str = "dst") -> DataFrame:
    """Reciprocal-link ratio per host — the classic nepotistic-link
    feature (Davison, "Recognizing Nepotistic Links on the Web",
    AAAI-2000 workshop on AI for Web Search; a standard degree-based
    spam feature in Becchetti et al., "Link Analysis for Web Spam
    Detection", ACM TWEB 2008): mutual host-to-host links are
    disproportionately navigational or collusive (link exchanges /
    link farms), so hosts whose out-links are mostly reciprocated get
    demoted before rank-weighted frontier scheduling — compose with
    `trustrank`'s seed-biased demotion, which this complements from
    the pure topology side.

    Scale shape: collapse to DISTINCT host edges first (|E_host| <<
    |links| — the same reduction every graph op here leans on), drop
    self-loops, then ONE equi-join of the edge table against its own
    reversal on both endpoints and one per-src aggregation. Nothing
    corpus-sized crosses a shuffle; no windows, no UDFs.

    Returns (host, n_out, n_recip, recip_frac 4 dp) ordered by host —
    every host that has at least one qualifying out-edge.
    """
    e = (
        links.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        F.lit(1).alias("recip"),
    )
    return (
        e.join(rev, ["src", "dst"], "left")
        .groupBy(F.col("src").alias("host"))
        .agg(
            F.count("*").alias("n_out"),
            F.sum(F.coalesce("recip", F.lit(0))).cast("long")
            .alias("n_recip"),
        )
        .select(
            "host", "n_out", "n_recip",
            round_he(F.col("n_recip").cast("double")
                     / F.col("n_out").cast("double"), 4)
            .alias("recip_frac"),
        )
        .orderBy("host")
    )
