"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline; IVF bucketing is the
scale path: vectors are assigned to their nearest of K centroids and all
candidate generation happens within buckets, so the shuffle key is
centroid_id and the candidate set shrinks ~K-fold (never all-pairs).

Centroid assignment is a pure PROJECTION, not a join: the K centroids are
collected to the driver (they are a tiny dimension — exactly like k-means
state in any production ANN build) and inlined as literal arrays, so
assignment is `array_min` over K (dist, cid) structs — one codegen'd pass,
no crossJoin, no window shuffle. Struct ordering gives the (dist asc,
cid asc) tie-break for free.

Dot products use zip_with + aggregate (JVM-side higher-order functions —
no Python). Distances use the algebraic identity
``|a-b|^2 = a.a - 2 a.b + b.b`` so the same float operation order is
reproducible in the DuckDB oracle (list_dot_product three times).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.functions.numeric import round_he
from ocr_cezam_spark.materialize import materialize
from ocr_cezam_spark.operators.dedup import shared_key_pairs


def _to_double(col) -> F.Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _lit_vec(vals: list[float]) -> F.Column:
    return F.array(*[F.lit(float(x)) for x in vals])


Centroids = list[tuple[int, list[float]]]


def seed_centroids(emb: DataFrame, n_centroids: int = 8,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> Centroids:
    """Deterministic seed centroids: the first K vectors by id (the
    k-means|| init stand-in; see train_centroids for the Lloyd step)."""
    # literally the first K vectors BY id — orderBy+limit (TakeOrdered),
    # not filter(id < K): sparse/offset/hash id spaces would otherwise
    # seed short or empty and crash train_centroids downstream
    rows = (
        emb.select(
            F.col(id_col).cast("long").alias("cid"),
            _to_double(F.col(vec_col)).alias("c"),
        )
        .orderBy("cid")
        .limit(n_centroids)
        .collect()
    )
    return [(int(r["cid"]), [float(x) for x in r["c"]]) for r in rows]


def _self_dot(vals: list[float]) -> float:
    """Sequential left-to-right x*x accumulation — the same float op order
    as the _dot fold and DuckDB's list_dot_product, so the precomputed
    centroid norm is bit-identical to computing it in-engine."""
    acc = 0.0
    for x in vals:
        acc = acc + x * x
    return acc


def _dist_entries(v: F.Column, cents: Centroids, vv: F.Column) -> F.Column:
    """Array of (dist, cid) structs for every centroid — argmin / top-n
    probing both read from this one expression. ``vv`` is the precomputed
    v.v column (computed once per row, not once per centroid).

    The centroids enter as ONE literal array-of-arrays consumed by a
    runtime zip_with, not K inlined per-centroid expression trees — the
    inlined form made Catalyst analysis of the query dominate wall time
    (K x dim literals replicated per struct). Arithmetic is unchanged:
    vv - 2*(v.c) + (c.c), sequential folds, so oracle hashes are stable.

    The per-centroid self-dot c.c is a CONSTANT: it is precomputed
    driver-side with ``_self_dot`` (the same left-to-right fold as the
    in-plan ``_dot(c, c)``, so the double is bit-identical — the
    equivalence ``centroids_df`` already relies on) and enters as a
    literal, instead of being re-folded once per row per centroid inside
    the interpreted lambda — that re-fold was half the assignment
    projection's CPU (guide section 1.2: per-task work)."""
    cb_arr = F.array(*[_lit_vec(c) for _cid, c in cents])
    cc_cid_arr = F.array(*[
        F.struct(
            F.lit(_self_dot(c)).alias("cc"),
            F.lit(int(cid)).cast("long").alias("cid"),
        )
        for cid, c in cents
    ])
    return F.zip_with(
        cb_arr,
        cc_cid_arr,
        lambda c, meta: F.struct(
            (vv - 2 * _dot(v, c) + meta["cc"]).alias("dist"),
            meta["cid"].alias("cid"),
        ),
    )


def _nearest(v: F.Column, cents: Centroids, vv: F.Column) -> F.Column:
    # struct comparison is lexicographic: min dist, then min cid (the same
    # tie-break as ORDER BY dist ASC, centroid_id ASC in the oracle)
    return F.array_min(_dist_entries(v, cents, vv))


def probe_cents(v: F.Column, cents: Centroids, vv: F.Column,
                nprobe: int) -> F.Column:
    """The nprobe nearest centroid ids for a vector — the multi-probe
    routing expression shared by IVF near-dup, IVF top-k and the HNSW
    bucket router (one definition so the (dist, cid) tie-break can never
    silently diverge between paths)."""
    return F.transform(
        F.slice(F.array_sort(_dist_entries(v, cents, vv)), 1, nprobe),
        lambda s: s["cid"],
    )


def train_centroids(emb: DataFrame, n_centroids: int = 8,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    iters: int = 1,
                    quantize: int | None = None) -> Centroids:
    """Lloyd iterations from the deterministic seed: assign every vector to
    its nearest centroid (projection, no join), recompute centroids as the
    per-bucket mean. One shuffle per iteration (the groupBy); the collected
    state is K*dim floats.

    The raw means are deterministic only up to float summation order (the
    partial-aggregation merge order varies run to run and engine to
    engine). `quantize` rounds each mean coordinate to that many decimals,
    absorbing the ~1e-15 relative wobble so the trained centroids — and
    every downstream bucket assignment — are bit-identical across engines:
    the oracle-checked path. quantize=None keeps raw means (recall
    pytest)."""
    cents = seed_centroids(emb, n_centroids, id_col, vec_col)
    dim = len(cents[0][1])
    base = emb.select(
        F.col(id_col).alias("vid"), _to_double(F.col(vec_col)).alias("v")
    ).withColumn("_vv", _dot(F.col("v"), F.col("v")))
    for _ in range(iters):
        assigned = base.withColumn(
            "cid", _nearest(F.col("v"), cents, F.col("_vv"))["cid"]
        )
        rows = (
            assigned.groupBy("cid")
            .agg(*[F.avg(F.element_at("v", i + 1)).alias(f"d{i}") for i in range(dim)])
            .collect()
        )
        means = {
            int(r["cid"]): [
                float(r[f"d{i}"]) if quantize is None
                else round(float(r[f"d{i}"]), quantize)
                for i in range(dim)
            ]
            for r in rows
        }
        # empty buckets keep their previous centroid
        cents = [(cid, means.get(cid, vec)) for cid, vec in cents]
    return cents


def cosine_topk(emb: DataFrame, probe_ids: list[int], k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k: broadcast the probe set against the full
    table; rank per probe. One shuffle (the window) on probe_id."""
    base = emb.select(
        F.col(id_col).alias("nb_id"), _to_double(F.col(vec_col)).alias("v")
    )
    probes = base.filter(F.col("nb_id").isin(probe_ids)).select(
        F.col("nb_id").alias("probe_id"), F.col("v").alias("p")
    )
    joined = base.crossJoin(F.broadcast(probes)).filter(
        F.col("nb_id") != F.col("probe_id")
    )
    sim = _dot(F.col("p"), F.col("v")) / (
        F.sqrt(_dot(F.col("p"), F.col("p"))) * F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim_raw"), F.asc("nb_id"))
    return (
        joined.select("probe_id", "nb_id", sim.alias("sim_raw"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "rank", "nb_id", round_he("sim_raw", 4).alias("cosine"))
    )


def sq8_stats(emb: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding") -> tuple[list[float], list[float]]:
    """Per-dimension (min, scale) for 8-bit scalar quantization, from
    ONE posexplode + (dim)-row min/max aggregation. The collect is
    2 x dim doubles — bounded by geometry like the centroid collects,
    never by data. scale = (max-min)/255, 0.0 for constant dims."""
    stats = (
        emb.select(F.posexplode(_to_double(F.col(vec_col)))
                   .alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("i")
        .collect()
    )
    mn = [float(r["mn"]) for r in stats]
    scale = [(float(r["mx"]) - float(r["mn"])) / 255.0 for r in stats]
    return mn, scale


def sq8_topk(emb: DataFrame, probe_ids: list[int], k: int = 5,
             shortlist_mult: int = 4,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """ANN by 8-bit SCALAR quantization with exact re-ranking — the
    memory-bandwidth member of the quantization family (PQ/ADC in
    pq.py compresses harder; SQ8 keeps per-dim fidelity): store
    uint8 codes (4x smaller than float32, the scan-bandwidth win a
    brute-force pass at 10^12 vectors actually needs), shortlist
    shortlist_mult*k candidates per probe by ASYMMETRIC similarity
    (exact float probe against dequantized codes — the SDC/ADC
    distinction from Jegou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011, applied to scalar codes), then
    re-rank the shortlist with exact cosine.

    Determinism, cross-engine: codes are floor((x-mn)/s + 0.5) on
    doubles — single correctly-rounded IEEE ops, identical in DuckDB;
    similarity folds are sequential in-row accumulations (_dot ==
    list_dot_product order), so shortlist cutoffs land identically.
    Constant dimensions (s=0) dequantize to mn exactly.

    Output: (probe_id, rank, nb_id, cosine exact 4 dp, cosine_sq
    4 dp) — the quantized similarity rides along so the quantization
    error is driver-visible per row.

    Scale shape: quantization is map-only; scoring broadcasts the
    probe set (like cosine_topk); ONE window per stage, both pruned
    to WindowGroupLimit by the rank filter. At production the
    shortlist window runs over the uint8-coded table (the 4x-smaller
    scan); the exact pass touches shortlist_mult*k rows per probe.
    """
    mn, scale = sq8_stats(emb, id_col, vec_col)
    mn_a, s_a = _lit_vec(mn), _lit_vec(scale)
    base = emb.select(
        F.col(id_col).alias("nb_id"),
        _to_double(F.col(vec_col)).alias("v"),
    )
    # dequantized vector: mn + floor((x-mn)/s + .5)*s, elementwise
    dq = F.transform(
        F.col("v"),
        lambda x, i: F.when(
            F.element_at(s_a, i + 1) > 0.0,
            F.element_at(mn_a, i + 1)
            + F.floor((x - F.element_at(mn_a, i + 1))
                      / F.element_at(s_a, i + 1) + F.lit(0.5))
            * F.element_at(s_a, i + 1),
        ).otherwise(F.element_at(mn_a, i + 1)),
    )
    coded = base.select("nb_id", "v", dq.alias("dqv"))
    probes = base.filter(F.col("nb_id").isin(probe_ids)).select(
        F.col("nb_id").alias("probe_id"), F.col("v").alias("p")
    )
    cand = coded.crossJoin(F.broadcast(probes)).filter(
        F.col("nb_id") != F.col("probe_id")
    )
    sim_sq = _dot(F.col("p"), F.col("dqv")) / (
        F.sqrt(_dot(F.col("p"), F.col("p")))
        * F.sqrt(_dot(F.col("dqv"), F.col("dqv")))
    )
    w_sq = Window.partitionBy("probe_id").orderBy(
        F.desc("sim_sq"), F.asc("nb_id"))
    short = (
        cand.select("probe_id", "nb_id", "p", "v", sim_sq.alias("sim_sq"))
        .withColumn("rs", F.row_number().over(w_sq))
        .filter(F.col("rs") <= shortlist_mult * k)
    )
    sim_ex = _dot(F.col("p"), F.col("v")) / (
        F.sqrt(_dot(F.col("p"), F.col("p")))
        * F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    w_ex = Window.partitionBy("probe_id").orderBy(
        F.desc("sim_ex"), F.asc("nb_id"))
    return (
        short.select("probe_id", "nb_id", "sim_sq",
                     sim_ex.alias("sim_ex"))
        .withColumn("rank", F.row_number().over(w_ex).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id", "rank", "nb_id",
            round_he("sim_ex", 4).alias("cosine"),
            round_he("sim_sq", 4).alias("cosine_sq"),
        )
    )


def truncated_ann_topk(emb: DataFrame, probe_ids: list[int], k: int = 5,
                       trunc_dim: int = 16, shortlist_mult: int = 4,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """ANN by DIMENSION truncation — the third member of the
    compression family (pq.py = codebook, sq8_topk = scalar width,
    this = dimensionality): shortlist shortlist_mult*k candidates per
    probe by cosine over the FIRST trunc_dim dimensions (a dim/trunc_dim
    reduction in both multiply-adds and scan bandwidth), then re-rank
    the shortlist with exact full-dimension cosine. This is the
    retrieval pattern Matryoshka representation learning trains for
    (Kusupati et al., "Matryoshka Representation Learning", NeurIPS
    2022 — prefix sub-vectors carry most of the similarity signal);
    on embeddings NOT trained that way the truncated ordering is only
    correlated with the full one, which is exactly what the emitted
    cosine_trunc column makes visible next to the exact score.

    Determinism: both similarities are the sequential in-row _dot fold
    (== DuckDB's list_dot_product order); the shortlist cutoff ranks on
    bit-identical doubles in both engines, ties to nb_id.

    Output: (probe_id, rank, nb_id, cosine exact 4 dp, cosine_trunc
    4 dp). Same plan shape as sq8_topk: broadcast probes, one window
    per stage, WindowGroupLimit-pruned.
    """
    base = emb.select(
        F.col(id_col).alias("nb_id"),
        _to_double(F.col(vec_col)).alias("v"),
    ).withColumn("t", F.slice(F.col("v"), 1, trunc_dim))
    probes = base.filter(F.col("nb_id").isin(probe_ids)).select(
        F.col("nb_id").alias("probe_id"), F.col("v").alias("p"),
        F.col("t").alias("pt"),
    )
    cand = base.crossJoin(F.broadcast(probes)).filter(
        F.col("nb_id") != F.col("probe_id")
    )
    sim_t = _dot(F.col("pt"), F.col("t")) / (
        F.sqrt(_dot(F.col("pt"), F.col("pt")))
        * F.sqrt(_dot(F.col("t"), F.col("t")))
    )
    w_t = Window.partitionBy("probe_id").orderBy(
        F.desc("sim_t"), F.asc("nb_id"))
    short = (
        cand.select("probe_id", "nb_id", "p", "v", sim_t.alias("sim_t"))
        .withColumn("rs", F.row_number().over(w_t))
        .filter(F.col("rs") <= shortlist_mult * k)
    )
    sim_ex = _dot(F.col("p"), F.col("v")) / (
        F.sqrt(_dot(F.col("p"), F.col("p")))
        * F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    w_ex = Window.partitionBy("probe_id").orderBy(
        F.desc("sim_ex"), F.asc("nb_id"))
    return (
        short.select("probe_id", "nb_id", "sim_t",
                     sim_ex.alias("sim_ex"))
        .withColumn("rank", F.row_number().over(w_ex).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id", "rank", "nb_id",
            round_he("sim_ex", 4).alias("cosine"),
            round_he("sim_t", 4).alias("cosine_trunc"),
        )
    )


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.99,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             n_centroids: int = 8,
                             nprobe: int = 2) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, IVF-BLOCKED with multi-probe.

    Operates on the input vectors EXACTLY as given — every emitted id
    exists in `emb` (test fixtures that need guaranteed near-dups inject
    clones in the query layer, like queries._cloned_docs). Each vector is
    assigned to its ``nprobe`` nearest centroids by projection; candidate
    pairs are ``dedup.shared_key_pairs`` on centroid_id, then the exact
    cosine filters at `threshold`. Multi-probe closes the single-bucket
    recall hole: a pair straddling a centroid boundary (each member's
    argmin flips to a different centroid) still shares its second-nearest
    bucket. The plan contains no nested-loop join: cost is
    nprobe^2 * sum(bucket^2)/2, not n^2/2."""
    base = emb.select(
        F.col(id_col).alias("a"), _to_double(F.col(vec_col)).alias("va")
    )
    cents = seed_centroids(emb, n_centroids, id_col, vec_col)
    # norms computed once per VECTOR (not once per candidate pair): the
    # pair stage then does exactly one dot product per pair. The prepped
    # frame feeds FOUR plan references (bucket left/right, vector attach
    # a-side/b-side) — a lazy checkpoint computes the projection
    # once instead of once per reference (guide section 3.3).
    prepped = materialize(base.withColumn(
        "_vv", _dot(F.col("va"), F.col("va"))
    ), "embedding_near_dup_pairs vectors")
    probes = probe_cents(F.col("va"), cents, F.col("_vv"), nprobe)
    # candidate generation on (id, centroid_id) ONLY — the multi-probe
    # explode duplicates pairs up to nprobe^2 times, so dedup the id pairs
    # BEFORE attaching vectors: the dim-wide cosine is computed exactly
    # once per unique candidate (same shape as minhash_lsh_pairs)
    buckets = prepped.select("a", F.explode(probes).alias("centroid_id"))
    cand = shared_key_pairs(buckets, "a", ["centroid_id"]).select("a", "b")
    vecs = prepped.select("a", "va", F.sqrt(F.col("_vv")).alias("norm"))
    pairs = cand.join(vecs, "a").join(
        vecs.select(
            F.col("a").alias("b"),
            F.col("va").alias("vb"),
            F.col("norm").alias("nb"),
        ),
        "b",
    )
    sim = _dot(F.col("va"), F.col("vb")) / (F.col("norm") * F.col("nb"))
    return (
        pairs.select("a", "b", sim.alias("sim_raw"))
        .filter(F.col("sim_raw") >= threshold)
        .select("a", "b", round_he("sim_raw", 4).alias("cosine"))
    )


# Above this K the literal-centroid expression tree (O(K*dim) literals,
# re-analyzed per consumer) is replaced by a broadcast-join assignment:
# Catalyst analysis was measured dominating wall time well before
# production nlist (thousands).
IVF_LITERAL_MAX_K = 63


def centroids_df(spark, cents: Centroids) -> DataFrame:
    """Centroids as a broadcastable dimension table (cid, c, _cc) — the
    per-centroid self-dot is precomputed driver-side with the same
    sequential fold as the in-engine _dot, so distances are bit-identical
    to the literal path."""
    # `_k` is carried as DATA (all zeros), not a literal column: a literal
    # constant key would be folded away by the optimizer, degrading the
    # equi-join below into a BroadcastNestedLoopJoin
    return spark.createDataFrame(
        [(int(cid), [float(x) for x in c], _self_dot(c), 0)
         for cid, c in cents],
        "cid long, c array<double>, _cc double, _k int",
    )


def _dist_join(base: DataFrame, cdf: DataFrame) -> DataFrame:
    """(vid-side columns) x broadcast centroids -> one row per (vector,
    centroid) with the squared distance ``dd``. The join key is a
    constant-valued but non-foldable expression (pmod of the id — always
    0) matched against a data column of zeros on the broadcast side, so
    the plan is a BroadcastHashJoin fanning each row out K-fold
    executor-side (a literal key folds to a cross join ->
    BroadcastNestedLoopJoin; a BHJ on a single-valued key is fine because
    the build side is the tiny centroid table) — no K-wide literal tree
    in the plan."""
    # single-valued non-foldable join key: pmod(xxhash64(col), 1) is 0 on
    # every row, but the column reference keeps Catalyst from folding it
    # to a literal (which would turn the BHJ into a BNLJ cross join).
    # xxhash64 accepts ANY column type and maps NULL to the seed, so this
    # works for string ids and never drops NULL-id rows (a numeric
    # pmod(id, 1) would yield NULL keys and silently lose those vectors).
    left = base.withColumn(
        "_k", F.pmod(F.xxhash64(F.col(base.columns[0])), F.lit(1)).cast("int")
    )
    right = F.broadcast(cdf)
    dd = F.col("_vv") - 2 * _dot(F.col("v"), F.col("c")) + F.col("_cc")
    return (
        left.join(right, "_k")
        .select(*[c for c in base.columns if c != "_k"], "cid",
                dd.alias("dd"))
    )


def ivf_assign_join(emb: DataFrame, n_centroids: int = 64,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    centroids: Centroids | None = None) -> DataFrame:
    """Large-nlist IVF assignment: broadcast-join the centroid dimension,
    argmin per vector via min-of-struct with map-side partial aggregation
    (the K-fold fan-out collapses back to one row per vector before the
    exchange, so the shuffle carries n rows, not n*K)."""
    cents = centroids or seed_centroids(emb, n_centroids, id_col, vec_col)
    base = emb.select(
        F.col(id_col).alias("vid"), _to_double(F.col(vec_col)).alias("v")
    ).withColumn("_vv", _dot(F.col("v"), F.col("v")))
    d = _dist_join(base, centroids_df(emb.sparkSession, cents))
    best = d.groupBy("vid").agg(
        F.min(F.struct(F.col("dd").alias("dist"),
                       F.col("cid").alias("cid"))).alias("best")
    )
    return best.select(
        "vid",
        F.col("best.cid").alias("centroid_id"),
        round_he(F.col("best.dist"), 3).alias("dist"),
    )


def ivf_topk_join(emb: DataFrame, probe_ids: list[int], k: int = 3,
                  n_centroids: int = 64, id_col: str = "vec_id",
                  vec_col: str = "embedding", nprobe: int = 2,
                  centroids: Centroids | None = None) -> DataFrame:
    """IVF-bucketed ANN for large nlist — same semantics (and tie-breaks)
    as ivf_topk, with both centroid assignments computed through the
    broadcast-join path instead of literal expression trees:

    - dataset side: BroadcastHashJoin fan-out + min-of-struct argmin
      (shuffle of n rows after map-side partial agg);
    - probe side: the probe subset is filtered FIRST (tiny), then ranked
      to its ``nprobe`` nearest centroids with a window over probe rows
      only. Candidate generation stays an equi-join on centroid_id."""
    cents = centroids or seed_centroids(emb, n_centroids, id_col, vec_col)
    cdf = centroids_df(emb.sparkSession, cents)
    base = emb.select(
        F.col(id_col).alias("nb_id"), _to_double(F.col(vec_col)).alias("v")
    ).withColumn("_vv", _dot(F.col("v"), F.col("v")))
    d = _dist_join(base, cdf)
    assigned = (
        d.groupBy("nb_id")
        .agg(
            F.min(F.struct(F.col("dd").alias("dist"),
                           F.col("cid").alias("cid"))).alias("best"),
            F.first("v").alias("v"),
            F.first("_vv").alias("_vv"),
        )
        .select("nb_id", "v", "_vv", F.col("best.cid").alias("centroid_id"))
    )
    pw = Window.partitionBy("nb_id").orderBy(F.asc("dd"), F.asc("cid"))
    probes = (
        _dist_join(base.filter(F.col("nb_id").isin(probe_ids)), cdf)
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") <= nprobe)
        .select(
            F.col("nb_id").alias("probe_id"),
            F.col("v").alias("p"),
            F.sqrt(F.col("_vv")).alias("np"),
            F.col("cid").alias("centroid_id"),
        )
    )
    cands = assigned.join(F.broadcast(probes), "centroid_id").filter(
        F.col("nb_id") != F.col("probe_id")
    )
    sim = _dot(F.col("p"), F.col("v")) / (F.col("np") * F.sqrt(F.col("_vv")))
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim_raw"), F.asc("nb_id"))
    return (
        cands.select("probe_id", "centroid_id", "nb_id", sim.alias("sim_raw"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "centroid_id", "rank", "nb_id",
                round_he("sim_raw", 4).alias("cosine"))
    )


def ivf_assign(emb: DataFrame, n_centroids: int = 8,
               id_col: str = "vec_id", vec_col: str = "embedding",
               centroids: Centroids | None = None) -> DataFrame:
    """IVF bucketing: nearest-centroid assignment as a single projection
    (literal centroids, argmin over structs) — no join, no window. Above
    IVF_LITERAL_MAX_K centroids the broadcast-join path takes over (the
    literal tree's Catalyst analysis cost grows O(K*dim) per consumer)."""
    cents = centroids or seed_centroids(emb, n_centroids, id_col, vec_col)
    if len(cents) > IVF_LITERAL_MAX_K:
        return ivf_assign_join(emb, n_centroids, id_col, vec_col, cents)
    base = emb.select(
        F.col(id_col).alias("vid"), _to_double(F.col(vec_col)).alias("v")
    ).withColumn("_vv", _dot(F.col("v"), F.col("v")))
    best = _nearest(F.col("v"), cents, F.col("_vv"))
    return base.select(
        "vid",
        best["cid"].alias("centroid_id"),
        round_he(best["dist"], 3).alias("dist"),
    )


def ivf_topk(emb: DataFrame, probe_ids: list[int], k: int = 3,
             n_centroids: int = 8, id_col: str = "vec_id",
             vec_col: str = "embedding", nprobe: int = 2,
             centroids: Centroids | None = None) -> DataFrame:
    """IVF-bucketed ANN: each probe searches the buckets of its `nprobe`
    nearest centroids — the scale path where the candidate set shrinks
    ~n_centroids/nprobe-fold vs brute force. Join key: centroid_id.
    Above IVF_LITERAL_MAX_K centroids the broadcast-join assignment path
    takes over."""
    cents = centroids or seed_centroids(emb, n_centroids, id_col, vec_col)
    if len(cents) > IVF_LITERAL_MAX_K:
        return ivf_topk_join(emb, probe_ids, k, n_centroids, id_col,
                             vec_col, nprobe, cents)
    # referenced by both the probe filter and the candidate join:
    # compute the K-centroid assignment once (guide section 3.3)
    base = materialize(
        emb.select(
            F.col(id_col).alias("nb_id"), _to_double(F.col(vec_col)).alias("v")
        )
        .withColumn("_vv", _dot(F.col("v"), F.col("v")))
        .withColumn("centroid_id", _nearest(F.col("v"), cents, F.col("_vv"))["cid"]),
        "ivf_topk assignment",
    )
    probes_expr = probe_cents(F.col("v"), cents, F.col("_vv"), nprobe)
    probes = base.filter(F.col("nb_id").isin(probe_ids)).select(
        F.col("nb_id").alias("probe_id"),
        F.col("v").alias("p"),
        F.sqrt(F.col("_vv")).alias("np"),
        F.explode(probes_expr).alias("centroid_id"),
    )
    cands = base.join(F.broadcast(probes), "centroid_id").filter(
        F.col("nb_id") != F.col("probe_id")
    )
    sim = _dot(F.col("p"), F.col("v")) / (F.col("np") * F.sqrt(F.col("_vv")))
    w = Window.partitionBy("probe_id").orderBy(F.desc("sim_raw"), F.asc("nb_id"))
    return (
        cands.select("probe_id", "centroid_id", "nb_id", sim.alias("sim_raw"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("probe_id", "centroid_id", "rank", "nb_id",
                round_he("sim_raw", 4).alias("cosine"))
    )


def ivf_bucket_stats(emb: DataFrame, n_centroids: int = 8) -> DataFrame:
    # min/max instead of avg: they are order-independent, so the cross-engine
    # value is bit-stable (avg sums floats in partition order and can flip a
    # rounding boundary).
    return (
        ivf_assign(emb, n_centroids)
        .groupBy("centroid_id")
        .agg(
            F.count("*").alias("n_assigned"),
            F.min("dist").alias("min_dist"),
            F.max("dist").alias("max_dist"),
        )
        .orderBy("centroid_id")
    )


def semantic_dedup(emb: DataFrame, threshold: float = 0.95,
                   n_centroids: int = 8, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   centroids: Centroids | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space, then within each cluster drop every vector that
    has a near-identical neighbor, keeping one exemplar per duplicate
    group.

    Exemplar rule, made deterministic: a vector is DROPPED iff a
    LOWER-id vector in the same cluster has cosine >= threshold with it
    (the paper keeps a random/centroid-distance exemplar; id-rank is the
    order-stable equivalent — quality-based survivor selection is
    cluster_best_docs' job). `dropped_by` records the lowest such id,
    NULL for keepers.

    Scale shape (the SemDeDup insight is exactly what makes this
    100 TB-safe): the cluster assignment BOUNDS the quadratic — pairwise
    cosine runs per-bucket via one equi-join on centroid_id, never
    globally; cost is sum(bucket^2)/2, not n^2/2. Vectors and norms are
    attached once each side of the join; no nested loop (same plan
    discipline as embedding_near_dup_pairs). Single-probe assignment:
    dedup within the cluster is the published semantics — boundary
    pairs straddling clusters are near-dup detection's job (nprobe=2
    there), not dedup's.

    Production K rule: pairwise work is sum(bucket^2)/2, so K must GROW
    with the corpus — K ~ n / target_bucket (e.g. 10^12 vectors at
    ~100k-vector buckets means K ~ 10^7 trained centroids); pass
    ``centroids=train_centroids(emb, K, quantize=...)`` for the trained
    assignment (the `semantic_dedup_trained` query's path; the quantize
    step keeps bucket assignment engine-identical). The fixed default
    K=8 is fixture scale, not a recommendation.
    """
    base = emb.select(
        F.col(id_col).alias("vid"), _to_double(F.col(vec_col)).alias("v")
    ).withColumn("_vv", _dot(F.col("v"), F.col("v")))
    cents = (centroids if centroids is not None
             else seed_centroids(emb, n_centroids, id_col, vec_col))
    best = _nearest(F.col("v"), cents, F.col("_vv"))
    # The assignment frame is referenced THREE times (pair-join left,
    # pair-join right/broadcast, final output join). Un-truncated, each
    # reference re-runs the K-centroid argmin projection over the corpus
    # — a lazy checkpoint computes it once (guide section 3.3:
    # materialize a multiply-referenced intermediate). At production the
    # cluster assignment is exactly the table a SemDeDup run persists
    # between the assign and dedup phases.
    assigned = materialize(base.select(
        "vid", "v", F.sqrt(F.col("_vv")).alias("norm"),
        best["cid"].alias("centroid_id"),
    ), "semantic_dedup assignment")
    right = assigned.select(
        F.col("vid").alias("b"), F.col("v").alias("vb"),
        F.col("norm").alias("nb"), "centroid_id",
    )
    sim = _dot(F.col("v"), F.col("vb")) / (F.col("norm") * F.col("nb"))
    dropped = (
        assigned.join(right, "centroid_id")
        .filter(F.col("vid") < F.col("b"))
        .filter(sim >= threshold)
        .groupBy("b")
        .agg(F.min("vid").alias("dropped_by"))
    )
    return (
        assigned.join(dropped, assigned.vid == dropped.b, "left")
        .select(
            "vid", "centroid_id",
            F.col("dropped_by").isNull().alias("kept"),
            "dropped_by",
        )
        .orderBy("vid")
    )
