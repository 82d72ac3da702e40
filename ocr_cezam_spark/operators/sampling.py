"""Data-selection operators: global token-budget selection and
source-temperature resampling — the mixing stage that decides WHICH
cleaned documents feed training, after hygiene (scrub.py) and dedup
(dedup.py) decide which are usable.

Reference analog: ocr-cezam processes whole folders unconditionally; at
corpus scale the pipeline must instead select a token budget's worth of
the best documents and rebalance over-represented sources.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.functions.numeric import round_he
from ocr_cezam_spark.materialize import materialize

QUALITY_DP = 4  # quality is rounded before ordering so both engines sort alike


def doc_quality(docs: DataFrame, text_col: str = "text") -> F.Column:
    """Deterministic quality proxy: lexical diversity (distinct words /
    words), rounded. Repetitive boilerplate scores low. Swappable for a
    model-based score column at production."""
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    # empty docs score 0.0 (worst), never 0/0 — under Spark 4's default
    # ANSI mode an unguarded division would abort the whole job, and with
    # ANSI off a NULL quality would sort into the BEST band via least()
    return F.when(
        F.size(words) > 0,
        round_he(F.size(F.array_distinct(words)) / F.size(words), QUALITY_DP),
    ).otherwise(F.lit(0.0))


def token_budget_select(docs: DataFrame, budget: int,
                        id_col: str = "doc_id", text_col: str = "text",
                        n_buckets: int = 20) -> DataFrame:
    """Select the highest-quality documents until a global token budget is
    filled: order all docs by (quality desc, id asc) and keep every doc
    whose running token total stays within ``budget``.

    A naive running sum over a global ORDER BY collapses into ONE window
    partition — the classic scale-killer. This implements the distributed
    prefix-sum instead:
      1. bucket docs by quality band (fixed binning, no shuffle);
      2. aggregate per-bucket token totals — n_buckets rows, collected to
         the driver (bounded state, independent of corpus size);
      3. compute each band's starting offset (sum of better bands) and
         map it back as a literal;
      4. run the window PARTITIONED by band — parallel across bands —
         adding the band offset to the within-band running sum.
    The result equals the single-partition global window exactly, because
    band order extends (quality desc, id asc): equal qualities share a
    band. Bands whose starting offset already exceeds the budget are
    pruned BEFORE the window (their rows can never satisfy cum <= budget
    since cum >= offset): on a 100 TB corpus with a 1% budget, ~99% of
    rows never enter the window sort. `offset <= budget` (not <) keeps
    the edge band whose first doc may still land exactly on the budget.

    The narrow (id, n_tokens, quality, band) projection is lazily
    checkpointed (``materialize``) before the band-totals pass: the totals collect
    and the window pass would otherwise each re-read AND re-tokenize the
    full corpus (and re-run whatever plan produced ``docs``) —
    tokenization dominates, so the double scan doubled the operator's
    cost. The totals collect materializes ~32 bytes/doc of bounded
    intermediate state in executor block storage, the window pass reads
    it back; unlike persist() it leaves no entry in the session's cache
    manager. At production you'd write the projection to a scratch table
    instead, which is the same shape. The band-pruning filter is a
    literal map over `band`, so it still pushes below the window's
    exchange — pruned bands are never shuffled, only read from the
    materialized projection. (A single-job alternative — broadcast-
    joining the offsets and sharing one repartition-by-band exchange via
    ReuseExchange — was rejected: it defeats map-side partial aggregation
    and shuffles 100% of rows, where this shape shuffles only the kept
    bands.)

    Output: (id, n_tokens, quality, cum_tokens) for selected docs, where
    cum_tokens is the inclusive running total in global order.
    """
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    base = materialize(docs.select(
        F.col(id_col),
        F.size(words).cast("long").alias("n_tokens"),
        doc_quality(docs, text_col).alias("quality"),
    ).withColumn(
        "band",
        F.least(F.floor(F.col("quality") * n_buckets).cast("int"),
                F.lit(n_buckets - 1)),
    ), "token_budget_select projection")
    per_band = {
        r["band"]: r["toks"]
        for r in base.groupBy("band").agg(F.sum("n_tokens").alias("toks"))
        .collect()
    }
    offsets = {
        b: sum(t for bb, t in per_band.items() if bb > b)
        for b in per_band
    }
    offset_expr = F.element_at(
        F.create_map(*[
            x for b, off in sorted(offsets.items())
            for x in (F.lit(b), F.lit(off))
        ]),
        F.col("band"),
    )
    w = (
        Window.partitionBy("band")
        .orderBy(F.col("quality").desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.filter(offset_expr <= F.lit(budget))  # band pruning, pre-window
        .withColumn(
            "cum_tokens", (F.sum("n_tokens").over(w) + offset_expr)
            .cast("long"))
        .filter(F.col("cum_tokens") <= budget)
        .select(id_col, "n_tokens", "quality", "cum_tokens")
    )


def temperature_sample(docs: DataFrame, alpha: float = 0.7,
                       id_col: str = "doc_id",
                       source_col: str = "source") -> DataFrame:
    """Source-temperature resampling (multilingual-mixing style): source s
    with n_s docs is kept with probability
        p_s = min(1, N * n_s^alpha / (sum_s n_s^alpha) / n_s)
    so the expected kept distribution follows n_s^alpha — hot sources
    down-weighted, small sources kept whole (p capped at 1; upsampling is
    a repeat-factor concern, out of scope for a filter).

    Membership is deterministic: doc u-value = first 8 md5 hex chars of
    its id as a fraction of 2^32, kept when u < p_s — reproducible across
    runs and engines, no RNG state.

    Scale shape: per-source counts are one hash aggregation (millions of
    sources aggregate fine); the tiny stats row rides a broadcast
    crossJoin and p_s joins back by source broadcast — the doc table
    itself never shuffles.
    """
    counts = docs.groupBy(source_col).agg(F.count("*").alias("n_s"))
    sums = counts.agg(
        F.sum("n_s").cast("double").alias("n_total"),
        F.sum(F.pow(F.col("n_s").cast("double"), alpha)).alias("w_total"),
    )
    probs = counts.crossJoin(F.broadcast(sums)).select(
        source_col,
        F.least(
            F.lit(1.0),
            F.col("n_total")
            * F.pow(F.col("n_s").cast("double"), alpha)
            / F.col("w_total") / F.col("n_s").cast("double"),
        ).alias("p_keep"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
               16, 10).cast("double") / F.lit(float(2 ** 32))
    )
    return (
        docs.join(F.broadcast(probs), source_col)
        .filter(u < F.col("p_keep"))
        .select(id_col, source_col)
    )


def target_mix_sample(docs: DataFrame, targets: DataFrame,
                      id_col: str = "doc_id",
                      source_col: str = "source",
                      weight_col: str = "target_frac") -> DataFrame:
    """Sample the corpus DOWN to an arbitrary target domain mixture
    (DoReMi/Pile-style domain weights) — the generalization of
    ``temperature_sample`` from the n^alpha family to explicit weights.

    ``targets``: (source, target_frac) with positive fractions. The
    largest achievable corpus T satisfies every source's capacity
    (T * t_s <= n_s), so T = min_s n_s / t_s and source s keeps
    p_s = T * t_s / n_s of its docs — the binding (scarcest relative to
    its target) source keeps everything, the rest downsample to match
    the mixture in expectation. Sources absent from ``targets`` drop
    entirely (weight zero).

    Membership is the same deterministic md5 u-value as
    temperature_sample — reproducible across runs and engines.

    Scale shape: per-source counts are one hash aggregation; T is a
    single-row broadcast (bounded driver-free state); p_s joins back by
    source broadcast — the doc table itself never shuffles.
    """
    counts = docs.groupBy(source_col).agg(F.count("*").alias("n_s"))
    cap = counts.join(F.broadcast(targets), source_col)
    t_row = cap.agg(
        F.min(F.col("n_s") / F.col(weight_col)).alias("t_max")
    )
    probs = cap.crossJoin(F.broadcast(t_row)).select(
        source_col,
        F.least(
            F.lit(1.0),
            F.col("t_max") * F.col(weight_col) / F.col("n_s"),
        ).alias("p_keep"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
               16, 10).cast("double") / F.lit(float(2 ** 32))
    )
    return (
        docs.join(F.broadcast(probs), source_col)
        .filter(u < F.col("p_keep"))
        .select(id_col, source_col)
    )


def train_val_test_split(docs: DataFrame, val_frac: float = 0.05,
                         test_frac: float = 0.05,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Deterministic, leakage-safe split assignment: the u-value hashes
    the CONTENT digest, not the id, so byte-identical documents always
    land in the same split even across crawls/ids — the split analog of
    exact dedup. (Near-duplicate-safe splitting hashes the dedup cluster
    representative instead; compose with dedup.dedup_clusters when that
    guarantee is needed.)

    Output: (id, split) with split in {'train','val','test'}.

    Scale shape: one md5 + comparison per row, no shuffle, no RNG state —
    re-running on a grown corpus never reassigns an existing document.
    """
    u = (
        F.conv(F.substring(F.md5(F.col(text_col)), 1, 8), 16, 10)
        .cast("double") / F.lit(float(2 ** 32))
    )
    split = (
        F.when(u < test_frac, F.lit("test"))
        .when(u < test_frac + val_frac, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return docs.select(F.col(id_col), split.alias("split"))


def domain_disjoint_split(docs: DataFrame, url_col: str = "url",
                          text_col: str = "text",
                          val_pct: int = 10) -> DataFrame:
    """Domain-disjoint held-out split with a built-in LEAKAGE AUDIT —
    the eval-contamination guard `train_val_test_split` cannot give:
    hashing the content digest keeps exact clones together, but a
    site's near-identical template pages (different digests, same
    boilerplate) still straddle a per-document split and leak eval
    content into training. Assigning whole DOMAINS to splits removes
    every same-site pathway by construction; what remains is true
    cross-site syndication, which the audit measures side by side
    with a per-document baseline split at the same rate.

    Assignment: val iff md5('split:'||domain) mod 100 < val_pct — one
    scan-speed hash per row, no RNG state, stable as the corpus grows
    (the same properties as train_val_test_split). The baseline split
    hashes 'rsplit:'||url at the same rate. The domain here is
    `url_host`; production callers on multi-label suffixes pass
    registered_domain(url_host(url)) (functions/url.py) so
    sub.host.co.uk and host.co.uk land together.

    Output: ONE row —
      n_docs, n_train, n_val, val_frac (4 dp),
      n_train_domains, n_val_domains,
      domain_disjoint (in-plan invariant: no domain in both splits),
      digest_leak_domain (distinct content digests present in BOTH
      splits under the domain split — cross-site syndication only),
      digest_leak_random (same count under the per-document baseline —
      includes all within-site duplication; on site-duplicated corpora
      this is the strictly larger number, and the gap is exactly the
      leakage the domain split removed).

    Scale shape: one projection computes (domain, digest, two split
    flags); three bounded aggregations over it (per-digest two-side
    check, per-domain two-side check, global counts), each with
    map-side partials; single-row frames broadcast-crossed. No joins
    over the corpus, no windows, no UDFs.
    """
    from ..functions.url import url_host

    dom = url_host(F.col(url_col))
    pick = lambda salt, key: (  # noqa: E731
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), key)), 1, 8),
               16, 10).cast("long") % 100 < val_pct
    )
    base = docs.select(
        dom.alias("domain"),
        F.md5(F.col(text_col)).alias("digest"),
        pick("split:", dom).alias("dv"),
        pick("rsplit:", F.col(url_col)).alias("rv"),
    )
    counts = base.groupBy().agg(
        F.count("*").alias("n_docs"),
        F.sum((~F.col("dv")).cast("long")).alias("n_train"),
        F.sum(F.col("dv").cast("long")).alias("n_val"),
    )
    doms = base.groupBy("domain").agg(
        F.max(F.col("dv").cast("int")).alias("any_v"),
        F.min(F.col("dv").cast("int")).alias("all_v"),
    ).groupBy().agg(
        F.sum(F.lit(1) - F.col("any_v")).cast("long")
        .alias("n_train_domains"),
        F.sum("all_v").cast("long").alias("n_val_domains"),
        (F.sum((F.col("any_v") != F.col("all_v")).cast("long")) == 0)
        .alias("domain_disjoint"),
    )
    leaks = base.groupBy("digest").agg(
        (F.countDistinct("dv") == 2).cast("long").alias("ld"),
        (F.countDistinct("rv") == 2).cast("long").alias("lr"),
    ).groupBy().agg(
        F.sum("ld").cast("long").alias("digest_leak_domain"),
        F.sum("lr").cast("long").alias("digest_leak_random"),
    )
    return (
        counts.crossJoin(F.broadcast(doms))
        .crossJoin(F.broadcast(leaks))
        .select(
            "n_docs", "n_train", "n_val",
            round_he(F.col("n_val").cast("double")
                     / F.col("n_docs").cast("double"), 4)
            .alias("val_frac"),
            "n_train_domains", "n_val_domains", "domain_disjoint",
            "digest_leak_domain", "digest_leak_random",
        )
    )



def select_and_pack(docs: DataFrame, budget_tokens: int, pack: int = 512,
                    n_shards: int = 8, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """The composed data-selection tail of a training build: pick the
    best documents up to a global token budget (token_budget_select),
    then lay the survivors into training packs (sequence_pack's layout)
    — one Catalyst plan from corpus to batch layout.

    The packer takes the selection's own (id, n_tokens) rows: the
    selection already counts each document's tokens with the same
    whitespace-filtered rule sequence_pack uses, so nothing joins back
    to ``docs``. With unique ids the output equals
    ``sequence_pack(docs ⋉ token_budget_select(docs))``, and ``docs`` is
    read once — a semi-join back would re-run whatever plan produced
    ``docs`` (DSIR, in build_training_corpus) when the result is written.

    Scale shape: the selection's per-band windows and the packer's
    per-shard windows are both partitioned (no global window), and the
    plan has no join.
    """
    from .textstats import _pack_counts

    sel = token_budget_select(docs, budget_tokens, id_col=id_col,
                              text_col=text_col)
    return _pack_counts(sel, pack, n_shards, id_col)


def dsir_select(docs: DataFrame, k: int = 100, n_buckets: int = 1024,
                id_col: str = "doc_id", text_col: str = "text",
                target_col: str = "is_target") -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, Data Selection with
    Importance Resampling): score each RAW document by the log importance
    weight ln(p_target(x) / p_raw(x)) under hashed bag-of-unigram models
    estimated from the corpus itself, then keep the top-k. A small trusted
    target set (``target_col`` true) pulls raw-crawl documents that look
    like it; the hashed feature space bounds model size at ``n_buckets``
    regardless of vocabulary.

    Reference analog: ocr-cezam admits whole folders unconditionally
    (ocr_cezam.py process loop); at corpus scale admission must rank raw
    pages against a quality target instead.

    Model: bucket b = md5-hash(term) mod n_buckets; add-one smoothing,
    p(b) = (c_b + 1) / (total + n_buckets). Doc score =
    sum_tokens [ln p_tgt(b) - ln p_raw(b)], deterministic — the hash is
    md5, no RNG state. (The paper perturbs with Gumbel noise for a
    SAMPLED top-k; the deterministic argmax-k variant drops the noise so
    runs and engines reproduce bit-identically. Callers wanting the
    sampled flavor add ln(-ln(u)) of a hash-u to the score.)

    Output: (id, n_tokens, logweight) — the k raw docs with the highest
    logweight. The cutoff ranks on the 4-dp ``round_he`` quantization of
    lw (ties broken by id, ascending), NOT on the raw double: lw is a
    non-associative float sum whose accumulation order differs between
    Spark (partition-dependent) and DuckDB, so near-equal raw values at
    the k boundary could flip across engines or partitionings —
    quantizing before the cutoff makes the boundary decision, like the
    emitted value, engine-stable.

    Scale shape: token explode aggregates to (doc, bucket) counts
    map-side; ONE n_buckets-row model table carries both class counts
    (c_tgt, c_raw — one groupBy(bucket) with a conditional sum per
    class) and rides a broadcast join; the two totals come from one
    aggregation of that table and ride a single-row broadcast crossJoin;
    the final top-k is a TakeOrdered, never a full sort. The 100-TB
    corpus never shuffles except the (doc, bucket) aggregation.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10)
        .cast("long") % n_buckets
    ).alias("bucket")
    toks = (
        docs.select(
            F.col(id_col), F.col(target_col),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .select(id_col, target_col, bucket)
    )
    doc_b = (
        toks.groupBy(id_col, target_col, "bucket")
        .agg(F.count("*").alias("tf"))
    )
    is_tgt = F.col(target_col)
    model = doc_b.groupBy("bucket").agg(
        F.sum(F.when(is_tgt, F.col("tf"))).alias("c_tgt"),
        F.sum(F.when(~is_tgt, F.col("tf"))).alias("c_raw"),
    )
    totals = model.agg(
        F.sum("c_tgt").cast("double").alias("t_tgt"),
        F.sum("c_raw").cast("double").alias("t_raw"),
    )
    scored = (
        doc_b.filter(~is_tgt)
        .join(F.broadcast(model), "bucket")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(
                F.col("tf")
                * (F.log((F.coalesce(F.col("c_tgt"), F.lit(0)) + 1)
                         / (F.col("t_tgt") + n_buckets))
                   - F.log((F.coalesce(F.col("c_raw"), F.lit(0)) + 1)
                           / (F.col("t_raw") + n_buckets)))
            ).alias("lw"),
        )
    )
    # Degenerate pools fail EMPTY, not arbitrary: with no target docs
    # (or no raw docs) the model normalizers are NULL, so every lw is
    # NULL — ranking on that would select k arbitrary documents. The
    # filter turns both cases into an empty selection, which downstream
    # composition surfaces immediately (mirrored in the SQL twins).
    return (
        scored.filter(F.col("lw").isNotNull())
        .withColumn("logweight", round_he(F.col("lw"), 4))
        .orderBy(F.col("logweight").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "n_tokens", "logweight")
    )


def weighted_sample(docs: DataFrame, k: int = 100,
                    id_col: str = "doc_id",
                    weight_col: str = "w") -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spiliotis A-ES):
    each row draws key = ln(u) / w for a uniform u in (0,1); the k largest
    keys are exactly a weight-proportional sample without replacement.
    u is the deterministic md5 u-value (same idiom as temperature_sample)
    so the "draw" reproduces across runs, retries, and engines — the
    reproducibility a training-data pipeline needs for lineage.

    ln(u) is negative, so key = ln(u)/w is equivalent to the classic
    u^(1/w) ranking but never underflows to 0.0 for tiny weights the way
    pow does (u^(1/w) for w=1e-6 is sub-denormal; ln(u)/w stays a
    well-scaled negative double).

    Output: (id, w, key) for the k winners; key rounded to 6 dp after the
    cutoff ranks on unrounded doubles, ties broken by id.

    Scale shape: one projection + TakeOrdered(k) — no shuffle beyond the
    top-k tree reduction, no RNG state to coordinate across executors.
    """
    u = (
        (F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
                16, 10).cast("double") + 1.0) / F.lit(float(2 ** 32 + 1))
    )
    key = F.log(u) / F.col(weight_col)
    return (
        docs.select(F.col(id_col), F.col(weight_col).alias("w"),
                    key.alias("k_raw"))
        .orderBy(F.col("k_raw").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "w", round_he(F.col("k_raw"), 6).alias("key"))
    )


def corpus_drift(old: DataFrame, new: DataFrame, text_col: str = "text",
                 n_buckets: int = 1024) -> DataFrame:
    """Distribution drift between two corpus snapshots over the hashed
    unigram space (the dsir_select feature space): KL(new || old) and
    total-variation distance on add-one-smoothed bucket models — the
    cheap retraining/repartition signal ("did this month's crawl
    change what the model will see?") computed without any vocabulary
    state, bounded at n_buckets regardless of corpus size.

    Determinism: the per-bucket KL terms p*ln(p/q) and |p-q| are
    QUANTIZED to 1e-8 integers (floor(x*1e8+0.5), signed-safe) and
    summed exactly (a raw double sum
    over the bucket terms would be partition-order-dependent; ln()
    itself agrees across these engines on this platform, the same
    dependency bm25's idf already carries). The reported 4-dp values
    therefore cannot wobble across runs or partitionings.

    Output (ONE row): n_buckets_used (buckets hit by either side),
    tokens_old, tokens_new, kl_new_vs_old 4 dp, tv_distance 4 dp.

    Scale shape: one token-explode + bucket aggregation per side
    (map-side partials, n_buckets rows out), one full-outer join of
    two n_buckets-row tables, single-row totals broadcast-crossed.
    The corpora never shuffle beyond their bucket aggregations.
    """
    def buckets(df: DataFrame, name: str) -> DataFrame:
        b = (
            F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10)
            .cast("long") % n_buckets
        ).alias("bucket")
        return (
            df.select(F.explode(F.split(F.col(text_col), " "))
                      .alias("term"))
            .filter(F.col("term") != "")
            .select(b)
            .groupBy("bucket")
            .agg(F.count("*").alias(name))
        )

    ob, nb = buckets(old, "c_old"), buckets(new, "c_new")
    joined = ob.join(nb, "bucket", "full").select(
        "bucket",
        F.coalesce("c_old", F.lit(0)).alias("c_old"),
        F.coalesce("c_new", F.lit(0)).alias("c_new"),
    )
    tot = joined.groupBy().agg(
        F.sum("c_old").alias("t_old"), F.sum("c_new").alias("t_new"),
        F.count("*").alias("n_used"),
    )
    p = (F.col("c_new") + 1).cast("double") / (
        F.col("t_new") + n_buckets).cast("double")
    q = (F.col("c_old") + 1).cast("double") / (
        F.col("t_old") + n_buckets).cast("double")
    # floor(x*1e8+0.5), never round(): engine round() half-rule
    # semantics differ on negatives (KL terms are signed); the floor
    # idiom is the repo-standard engine-identical quantizer
    kl_term = F.floor((p * F.log(p / q)) * 1e8 + 0.5).cast("long")
    tv_term = F.floor(F.abs(p - q) * 0.5 * 1e8 + 0.5).cast("long")
    terms = joined.crossJoin(F.broadcast(tot)).select(
        "t_old", "t_new", "n_used",
        kl_term.alias("klq"), tv_term.alias("tvq"),
    )
    return terms.groupBy().agg(
        F.max("n_used").cast("long").alias("n_buckets_used"),
        F.max("t_old").cast("long").alias("tokens_old"),
        F.max("t_new").cast("long").alias("tokens_new"),
        round_he(F.sum("klq").cast("double") / F.lit(1e8), 4)
        .alias("kl_new_vs_old"),
        round_he(F.sum("tvq").cast("double") / F.lit(1e8), 4)
        .alias("tv_distance"),
    )



def domain_token_quota(docs: DataFrame, quota: int,
                       id_col: str = "doc_id", domain_col: str = "domain",
                       text_col: str = "text") -> DataFrame:
    """Per-DOMAIN token cap (the Dolma/C4-style anti-domination rule
    token_budget_select cannot express: a single giant domain must not
    fill the global budget however good its quality scores): within
    each domain, keep documents in deterministic (id asc) order while
    the domain's running token total stays within ``quota``.

    Scale shape: zero-token docs drop first (they consume no quota and
    carry no signal), so every counted doc holds >= 1 token and a doc
    at within-domain position r has cum >= r — ``row_number() <=
    quota`` is therefore a sound pre-filter, and Spark compiles it to
    WindowGroupLimit: each map task emits at most ``quota`` rows per
    domain BEFORE the exchange, so a 10^8-page domain ships ~quota
    rows, not 10^8, into the running-sum sort. (InferWindowGroupLimit
    only fires while the limit is <= spark.sql.window.group.limit.
    threshold, default 1000 — a deployment running token quotas above
    that raises the threshold to the quota; the filter itself is
    correct either way, the setting only gates the map-side prune.) The cumulative sum then
    rides the SAME window spec (one sort, two window functions). The
    caller supplies the domain column (functions.url.registered_domain
    for PSL-correct keys — mis-keying on raw host splits a quota
    across www./m./cdn. aliases).

    Output: (id, domain, n_tokens, cum_tokens) for kept docs.
    """
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    base = docs.select(
        F.col(id_col),
        F.col(domain_col).alias("domain"),
        F.size(words).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = Window.partitionBy("domain").orderBy(F.col(id_col).asc())
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        base.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= quota)  # WindowGroupLimit map-side prune
        .withColumn("cum_tokens", F.sum("n_tokens").over(wsum))
        .filter(F.col("cum_tokens") <= quota)
        .select(id_col, "domain", "n_tokens", "cum_tokens")
    )
