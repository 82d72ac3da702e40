"""End-to-end C4-style corpus cleaning — the composition showpiece: the
individual operators (paragraph-level boilerplate dedup, exact document
dedup, token/Gopher quality gates) chained into ONE declarative plan that
Catalyst optimizes as a whole. No collects, no barriers: the paragraph
frequency aggregation, the digest keeper aggregation and the one quality-gate
projection all pipeline; at 100 TB the only shuffles are the three key
aggregations/joins (paragraph digest, doc digest, doc id).

Order matters and mirrors production pipelines (C4, CCNet, RefinedWeb):
boilerplate is removed FIRST so document digests and quality stats are
computed over the cleaned text (two docs differing only in boilerplate
ARE duplicates; a page that is 90% boilerplate should be judged on its
10% content).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..materialize import materialize
from .dedup import paragraph_dedup
from .textstats import _gopher_stats, _token_stats


def clean_corpus(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", max_freq: int = 5,
                 keep_text: bool = False) -> DataFrame:
    """Boilerplate-paragraph dedup -> empty-doc drop -> exact document
    dedup on the CLEANED text (min-id keeper wins) -> token-quality and
    Gopher gates. Returns the surviving documents with their quality
    stats (doc id, n_tokens, stopword_ratio, avg_word_len, mean_word_len,
    alpha_word_frac); with ``keep_text`` the cleaned text itself (the
    '\\n'-joined paragraph form) rides along for downstream composition
    (build_training_corpus) instead of being re-derived. With unique ids
    the output holds one document per cleaned-text md5.

    Both gates are ONE filter + projection over the representatives,
    built from the same Column builders as textstats.token_quality and
    textstats.gopher_quality: a document survives iff token_quality's
    ``quality_ok`` and gopher_quality's ``passes`` are both 1 on its
    flattened text, with no join between the two gates or back to the
    text."""
    cleaned = paragraph_dedup(docs, id_col, text_col, max_freq)
    # c feeds the keeper aggregation and the representative semi-join. A
    # lazy checkpoint computes that frontier once — and, as important at
    # this plan size, keeps both consumers from re-EMBEDDING (and
    # re-analyzing) the whole paragraph-dedup subtree: Catalyst analysis
    # of the un-truncated composition measurably dominated construction
    # (guide sections 3.3 and 7.3).
    c = materialize(cleaned.filter(F.col("text_dedup") != "").select(
        F.col(id_col), F.col("text_dedup").alias(text_col)
    ), "clean_corpus non-empty docs")
    keepers = (
        c.select(F.col(id_col), F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keeper"))
    )
    reps = c.join(
        keepers.select(F.col("keeper").alias(id_col)), id_col, "left_semi"
    )
    # The quality gates tokenize on single spaces; the reassembled text
    # joins paragraphs with '\n', which would otherwise merge the words
    # around every boundary into one token (and count the newline as a
    # word character). Dedup keeps the '\n' form — layout is part of
    # content identity — only the stats input flattens separators.
    flat = F.translate(F.col(text_col), "\n", " ")
    tq, gq = _token_stats(flat), _gopher_stats(flat)
    return reps.filter(
        (tq["quality_ok"] == 1) & (gq["passes"] == 1)
    ).select(
        F.col(id_col),
        *(tq[n].alias(n) for n in ("n_tokens", "stopword_ratio",
                                   "avg_word_len")),
        *(gq[n].alias(n) for n in ("mean_word_len", "alpha_word_frac")),
        *([F.col(text_col)] if keep_text else []),
    )


def frontier_next(links: DataFrame, crawled: DataFrame, robots: DataFrame,
                  href_col: str = "href",
                  agent: str | None = None,
                  default_delay: float = 1.0,
                  pr_iters: int = 3,
                  top_k_per_host: int | None = None) -> DataFrame:
    """The crawl-side composition showpiece: from this crawl's extracted
    anchors to the next fetch batch, as ONE declarative chain —

      extracted links -> canonicalize -> drop urls whose newest snapshot
      we already hold (latest_crawl_dedup) -> robots admission for the
      configured agent (allowed only) -> per-host ranking, PageRank-
      weighted and crawl-delay-aware.

    Reference analog: the admission-guard shape of releve_bancaire.py:35-42
    (check the artifact is admissible BEFORE spending work on it)
    generalized to the crawl loop: politeness (robots), novelty (recrawl
    dedup) and worth (host rank) are all decided before a fetch is
    scheduled.

    Output: (url, host, host_rank, delay_sec, fetch_pos, priority) —
    fetch_pos is the url's deterministic position within its host queue
    (row_number by url), priority = host_rank / (delay_sec + 1) rounded
    to 8 dp (a slow-host candidate is worth less per unit of crawl
    budget). ``top_k_per_host`` caps each host's batch; pass it in
    production — the rank filter sits directly on the row_number so
    Spark's WindowGroupLimit computes partial per-host top-k BEFORE the
    shuffle, which is what keeps a million-candidate hot host from
    funneling through one sort task.

    Scale shape: candidate dedup and the anti-join shuffle on the url
    key; robots/delay joins shuffle on host (rules side deliberately NOT
    hint-broadcast — millions of hosts; Catalyst/AQE picks); PageRank
    over the HOST graph (|hosts| << |urls|) reuses graph.pagerank's
    shape. One driver scalar (the host count inside pagerank); no
    collects over url-sized data."""
    from ..functions.url import canonicalize_url, url_host
    from ..functions.numeric import round_he
    from .dedup import latest_crawl_dedup
    from .graph import pagerank
    from .robots import crawl_delays, robots_filter
    from pyspark.sql import Window

    candidates = links.select(
        canonicalize_url(F.col(href_col)).alias("url")
    ).distinct()
    holdings = latest_crawl_dedup(crawled).select(
        canonicalize_url(F.col("url")).alias("url")
    )
    fresh = candidates.join(holdings, "url", "left_anti")
    admitted = (
        robots_filter(fresh, robots, agent=agent)
        .filter(F.col("allowed") == 1)
        .select("url")
    )
    host_graph = links.select(
        url_host(F.col("url")).alias("src"),
        url_host(F.col(href_col)).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    ranks = pagerank(host_graph, iters=pr_iters)
    delays = crawl_delays(robots, default_delay=default_delay, agent=agent)
    w = Window.partitionBy("host").orderBy("url")
    out = (
        admitted.withColumn("host", url_host(F.col("url")))
        .join(ranks, "host", "left")
        .join(delays, "host", "left")
        .select(
            "url", "host",
            F.coalesce("rank", F.lit(0.0)).alias("host_rank"),
            F.coalesce("delay_sec", F.lit(float(default_delay)))
            .alias("delay_sec"),
        )
        .withColumn("fetch_pos", F.row_number().over(w))
    )
    if top_k_per_host is not None:
        out = out.filter(F.col("fetch_pos") <= top_k_per_host)
    return out.withColumn(
        "priority",
        round_he(F.col("host_rank") / (F.col("delay_sec") + 1.0), 8),
    )


def fetch_schedule(frontier: DataFrame, n_workers: int = 4) -> DataFrame:
    """Turn a ranked frontier batch (frontier_next's output) into a
    wall-clock fetch plan: every url gets a fetcher WORKER and a start
    OFFSET inside that worker's timeline.

    Hosts pin to workers by deterministic hash — politeness is a
    PER-HOST serial constraint, so all of a host's fetches must live on
    one worker for its crawl-delay spacing to mean anything; within a
    host the offset is (fetch_pos-1) * delay_sec. Map-only over the
    frontier (the window work was already paid in frontier_next): at
    100 TB the schedule is a projection, not a new shuffle. Worker
    count is the only knob; host->worker skew is bounded by the hash
    (a single mega-host still serializes on its delay — that is the
    politeness contract, not a defect).
    """
    from ..functions.numeric import round_he
    from .sketch import _h32

    worker = (_h32(F.col("host"), "w:") % n_workers).cast("int")
    off = round_he(
        (F.col("fetch_pos") - 1).cast("double") * F.col("delay_sec"), 4
    )
    return frontier.select(
        "url", "host",
        worker.alias("worker"),
        "fetch_pos",
        off.alias("fetch_offset_s"),
    ).orderBy("url")


def _with_near_dup_component(docs: DataFrame, id_col: str,
                             text_col: str) -> DataFrame:
    """``docs`` plus cluster_members' near-dup ``component``, for input
    that holds ONE row per text md5 (build_training_corpus' stage 2):
    MinHash-LSH pairs (sim_est >= 0.5) -> connected components, every id
    outside a pair its own component. On such input cluster_members'
    exact-duplicate collapse is the identity, so the component per id
    is the same (tests/test_btc_once.py)."""
    from .dedup import connected_components, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, id_col, text_col).filter(
        F.col("sim_est") >= 0.5
    )
    comp = connected_components(pairs).withColumnRenamed("node", id_col)
    return docs.join(comp, id_col, "left").withColumn(
        "component", F.coalesce("component", id_col)
    )


def build_training_corpus(docs: DataFrame, budget_tokens: int,
                          pack: int = 512, n_shards: int = 8,
                          dsir_k: int = 100, max_freq: int = 5,
                          id_col: str = "doc_id", text_col: str = "text",
                          target_col: str = "is_target") -> DataFrame:
    """Raw crawl -> packed training shards: the curation counterpart of
    `frontier_next`'s crawl composition, chaining every hygiene stage a
    production corpus build runs into ONE declarative plan. (Reference
    semantics generalized: the two-phase admit-then-extract contract of
    file_types/file_type.py:23-39 — admit a document, then process only
    what was admitted — applied stage over stage to corpus curation.)
    Precondition: ``id_col`` is unique in ``docs``.

    1. clean_corpus: boilerplate-paragraph dedup, exact-doc dedup on
       cleaned text, token + Gopher word gates in one pass (keep_text=
       True — the cleaned '\\n' form feeds everything downstream);
    2. near-dup keep-BEST: MinHash-LSH pairs (sim_est >= 0.5) and
       connected components over the cleaned docs, every doc outside a
       pair its own component; then one max-of-(quality, -id) struct
       per component — every component including singletons, so this
       stage IS the near-dup dedup, with the best-quality member (ties
       to min id) as the survivor. This is cluster_members' clustering
       minus its exact-duplicate collapse: with unique ids, stage 1
       leaves ONE document per cleaned-text md5 (the min-id keeper of
       each digest), so every digest group is a singleton, the
       representative semi-join keeps every row and the digest
       re-attach maps each id to its own component — no work to do;
    3. substring_span_dedup: cross-doc duplicated n-gram RUNS removed
       from the surviving text (boilerplate whole-doc dedup can't touch;
       docs cleaned to '' drop out). Newlines survive inside the
       space-joined words, so the line structure reaches stage 4;
    4. gopher_line_quality gate over the span-cleaned text (the line
       gates need the '\\n' structure stage 3 preserved), applied as a
       filter on its ``passes`` expression;
    5. dsir_select: importance-rank the surviving RAW docs against the
       surviving trusted-target docs (``target_col``), keep top
       ``dsir_k``;
    6. select_and_pack: fill ``budget_tokens`` with the best survivors
       (distributed banded prefix sum) and lay them into ``pack``-token
       training packs across ``n_shards`` shards, packing the
       selection's own token counts.

    Output: (id, shard, n_tokens, pack_id, offset_in_pack) — the final
    batch layout, one row per packed document.

    Scale shape: every stage keeps its own audited plan (no cartesian
    products, no corpus-wide window — the only windows are per-shard /
    per-band; plan-asserted in tests/test_plans.py) and stages hand off
    by id equi-joins. The stage frontiers (cleaned corpus, kept docs,
    span-cleaned survivors) are checkpointed, for two reasons:
    the chain is action-heavy (CC fixpoint, band totals and DSIR model
    collects each launch jobs that would otherwise recompute paragraph
    dedup + minhash from the raw scan), and — the one that actually
    kills the un-checkpointed composition — LOGICAL PLAN blowup: every
    stage references its input several times (span dedup alone joins
    its source five ways), so the un-truncated tree multiplies stage
    over stage and Catalyst spends minutes ANALYZING, not executing.
    persist() does not truncate lineage for planning; a checkpoint
    does. At production these frontiers are exactly the intermediate
    tables a multi-day build writes to scratch storage anyway — same
    shape, same bound (the corpus itself, once per stage boundary).
    Each stage runs once: the DSIR selection is computed by the
    token-budget pass's band-totals job and packed from its
    checkpoint, not re-run by the write.
    """
    from .dedup import substring_span_dedup
    from .sampling import doc_quality, dsir_select, select_and_pack
    from .textstats import _gopher_line_stats

    # The raw input is referenced by stage 1 AND by the stage-5 target
    # flag join; the caller's fixture subtree can itself be a deep plan,
    # and every un-truncated reference re-embeds it in each stage's
    # analysis. One lazy checkpoint up front bounds that (guide 3.3).
    docs = materialize(docs, "build_training_corpus input")
    cleaned = materialize(clean_corpus(docs, id_col, text_col, max_freq,
                                       keep_text=True).select(id_col, text_col),
                          "build_training_corpus cleaned")
    scored = _with_near_dup_component(cleaned, id_col, text_col).select(
        id_col, doc_quality(cleaned, text_col).alias("q"), "component"
    )
    best = F.max(F.struct(F.col("q"), (-F.col(id_col)).alias("nid")))
    kept_ids = (
        scored.groupBy("component").agg(best.alias("best"))
        .select((-F.col("best.nid")).alias(id_col))
    )
    kept = materialize(cleaned.join(kept_ids, id_col, "left_semi"),
                       "build_training_corpus kept")
    line_ok = _gopher_line_stats(F.col(text_col))["passes"] == 1
    survivors = materialize(
        substring_span_dedup(kept, id_col=id_col, text_col=text_col)
        .filter(F.col("clean_text") != "")
        .select(F.col(id_col), F.col("clean_text").alias(text_col))
        .filter(line_ok),
        "build_training_corpus survivors",
    )
    flagged = survivors.join(
        docs.select(F.col(id_col), F.col(target_col)), id_col
    )
    sel = dsir_select(flagged, k=dsir_k, id_col=id_col,
                      text_col=text_col, target_col=target_col)
    chosen = survivors.join(sel.select(id_col), id_col, "left_semi")
    return select_and_pack(chosen, budget_tokens, pack=pack,
                           n_shards=n_shards, id_col=id_col,
                           text_col=text_col)


def recrawl_schedule(history: DataFrame, url_col: str = "url",
                     snap_col: str = "snap",
                     digest_col: str = "digest") -> DataFrame:
    """Adaptive recrawl scheduling from snapshot history (Cho &
    Garcia-Molina, TOIT 2003): per url, estimate the Poisson change
    rate from "did the content digest change between consecutive
    visits" observations with the bias-reduced estimator

        lambda_hat = -ln((n - X + 0.5) / (n + 0.5))

    (n = observation intervals, X = changed intervals; the +0.5 terms
    keep the all-changed case finite and shrink the small-n bias). A
    scheduler revisits high-lambda urls first — the graded, per-url
    refinement of crawl_churn's snapshot-pair flag, feeding the same
    frontier that fetch_schedule packs.

    Scale shape: one lag window PARTITIONED BY url — safe here where a
    corpus-wide window is not, because a partition is bounded by the
    crawl count (dozens), never by corpus size — then one hash
    aggregation on url. Urls seen once (n = 0) emit NULL lambda_hat
    (no evidence), not 0 (evidence of stability).

    Returns (url, n_intervals, n_changes, lambda_hat) with lambda_hat
    rounded 4 dp (the unigram_logprob ln convention).
    """
    from pyspark.sql import Window

    from ..functions.numeric import round_he

    w = Window.partitionBy(url_col).orderBy(snap_col)
    obs = history.select(
        F.col(url_col).alias("url"),
        (F.col(digest_col) != F.lag(digest_col).over(w))
        .cast("int").alias("chg"),
    )
    agg = obs.groupBy("url").agg(
        F.count("chg").alias("n_intervals"),
        F.coalesce(F.sum("chg"), F.lit(0)).alias("n_changes"),
    )
    n = F.col("n_intervals").cast("double")
    x = F.col("n_changes").cast("double")
    lam = -F.log((n - x + 0.5) / (n + 0.5))
    return agg.select(
        "url", "n_intervals", "n_changes",
        F.when(F.col("n_intervals") > 0, round_he(lam, 4))
        .alias("lambda_hat"),
    ).orderBy("url")


def url_trap_stats(pages: DataFrame, url_col: str = "url",
                   digest_col: str = "digest", min_urls: int = 20,
                   min_ratio: float = 10.0) -> DataFrame:
    """Crawler-trap detection by URL-template mining: collapse every
    path's digit runs to 'N' (``/cal/2026/08/31`` -> ``/cal/N/N/N``),
    aggregate per (host, template), and flag templates where many
    distinct urls serve few distinct contents — the calendar /
    session-id / pagination-trap signature that wastes fetch budget at
    crawl scale (n_urls >= min_urls and n_urls >= min_ratio *
    n_contents). frontier_next callers anti-join flagged templates
    before scheduling.

    Scale shape: host/template/path are pure codegen'd regexps at scan
    speed (the digit class [0-9]+ compiles identically under Java
    regex and RE2); then ONE hash aggregation on (host, template) with
    two distinct-counts (two-stage agg, partials map-side). No joins,
    no windows, no UDFs.

    Returns flagged (host, template, n_urls, n_contents, urls_per_content
    rounded 2 dp), ordered by n_urls desc then host/template.
    """
    from ..functions.numeric import round_he
    from ..functions.url import url_host

    path = F.regexp_extract(
        F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    template = F.regexp_replace(path, "[0-9]+", "N")
    agg = (
        pages.select(
            url_host(F.col(url_col)).alias("host"),
            template.alias("template"),
            F.col(url_col).alias("u"),
            F.col(digest_col).alias("d"),
        )
        .groupBy("host", "template")
        .agg(
            F.countDistinct("u").alias("n_urls"),
            F.countDistinct("d").alias("n_contents"),
        )
    )
    return (
        agg.filter(
            (F.col("n_urls") >= min_urls)
            & (F.col("n_urls")
               >= F.lit(min_ratio) * F.col("n_contents"))
        )
        .select(
            "host", "template", "n_urls", "n_contents",
            round_he(F.col("n_urls") / F.col("n_contents"), 2)
            .alias("urls_per_content"),
        )
        .orderBy(F.desc("n_urls"), "host", "template")
    )


def corpus_report(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", lang_col: str = "lang",
                  source_col: str = "source") -> DataFrame:
    """The DATASET CARD in one row — the corpus-level facts an LLM-data
    engineer reads before committing a training run (the per-corpus
    analog of the reference's per-document summary outputs): volume,
    exact-duplication mass, quality distribution, and concentration of
    language / source (the two imbalances temperature_sample and
    domain_token_quota exist to correct — this is the measurement those
    knobs are set from).

    Output (ONE row): n_docs, n_tokens, n_chars, mean_tokens 4 dp,
    n_distinct_digests, dup_frac 4 dp (1 - distinct/total),
    mean_quality 4 dp (sampling.doc_quality lexical diversity),
    n_langs, top_lang, top_lang_frac 4 dp,
    n_sources, top_source, top_source_frac 4 dp.

    Scale shape: ONE projection computes (tokens, chars, digest,
    quality, lang, source) per doc; then one global aggregation plus
    two bounded group-bys (|langs| and |sources| rows) whose argmax
    rides a max-of-struct — everything map-side partial, single-row
    frames broadcast-crossed. No windows, no joins over the corpus.
    Tie-break on top_lang/top_source: max count, then max name
    (struct comparison), deterministic in both engines.
    """
    from ..functions.numeric import round_he
    from ..operators.sampling import doc_quality

    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    base = docs.select(
        F.size(words).cast("long").alias("tokens"),
        F.length(text_col).cast("long").alias("chars"),
        F.md5(F.col(text_col)).alias("digest"),
        doc_quality(docs, text_col).alias("quality"),
        F.col(lang_col).alias("lang"),
        F.col(source_col).alias("source"),
    )
    # means come from EXACT integer sums + one divide, never avg() of
    # doubles (a partition-order-dependent float sum could flip the
    # 4 dp rounding cross-engine): tokens are ints already; quality is
    # 4 dp-quantized, so round(q*1e4) recovers its exact integer form
    q4 = F.round(F.col("quality") * 1e4).cast("long")
    g = base.groupBy().agg(
        F.count("*").alias("n_docs"),
        F.sum("tokens").cast("long").alias("n_tokens"),
        F.sum("chars").cast("long").alias("n_chars"),
        F.countDistinct("digest").alias("n_distinct_digests"),
        F.sum(q4).alias("_sum_q4"),
    )

    def top_of(col: str, n_name: str, top_name: str, frac_name: str):
        cnt = base.groupBy(col).agg(F.count("*").alias("c"))
        return cnt.groupBy().agg(
            F.count("*").cast("long").alias(n_name),
            F.max(F.struct(F.col("c"), F.col(col).alias("v")))
            .alias(f"_{top_name}"),
        ).select(
            n_name,
            F.col(f"_{top_name}.v").alias(top_name),
            F.col(f"_{top_name}.c").cast("long").alias(f"_{frac_name}_c"),
        )

    langs = top_of("lang", "n_langs", "top_lang", "top_lang_frac")
    srcs = top_of("source", "n_sources", "top_source", "top_source_frac")
    return (
        g.crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(srcs))
        .select(
            "n_docs", "n_tokens", "n_chars",
            round_he(F.col("n_tokens").cast("double")
                     / F.col("n_docs").cast("double"), 4)
            .alias("mean_tokens"),
            "n_distinct_digests",
            round_he(
                F.lit(1.0) - F.col("n_distinct_digests").cast("double")
                / F.col("n_docs").cast("double"), 4,
            ).alias("dup_frac"),
            round_he(F.col("_sum_q4").cast("double")
                     / F.col("n_docs").cast("double") / F.lit(1e4), 4)
            .alias("mean_quality"),
            "n_langs", "top_lang",
            round_he(F.col("_top_lang_frac_c").cast("double")
                     / F.col("n_docs").cast("double"), 4)
            .alias("top_lang_frac"),
            "n_sources", "top_source",
            round_he(F.col("_top_source_frac_c").cast("double")
                     / F.col("n_docs").cast("double"), 4)
            .alias("top_source_frac"),
        )
    )


def ingest_delta(new_pages: DataFrame, corpus: DataFrame,
                 id_col: str = "doc_id", url_col: str = "url",
                 text_col: str = "text", min_quality: float = 0.25,
                 near_threshold: float = 0.5) -> DataFrame:
    """The INGEST composition — the third composed chain beside
    frontier_next (what to fetch next) and build_training_corpus (what
    to train on): a fetched crawl batch lands and every page gets ONE
    verdict against the standing corpus, so the store stays clean
    without replaying corpus-x-corpus work. The reference's two-phase
    per-document contract (file_types/file_type.py:23-39 — admit, then
    process) generalized to corpus maintenance.

    Stages, in precedence order (first match wins):
      1. canonicalize urls on both sides (functions/url.canonicalize_url
         — fragments, param order, case, default ports);
      2. within-batch recrawl collapse: one row per canonical url
         (max id wins, deterministic);
      3. url matched + same content digest  -> 'skip_unchanged'
         (a url held by several corpus rows matches one: a row with
         the same digest, else the highest corpus id);
      4. url matched + digest differs       -> 'update';
      5. url novel + digest already served  -> 'skip_exact_dup'
         (exact-dedup-FIRST, the near_dup_pairs_dedup_first
         discipline: exact clones never reach the band join);
      6. url novel + near-duplicate content -> 'skip_near_dup'
         (dedup.incremental_near_dup: new-vs-corpus band equi-join
         ONLY, best match by (sim, lowest corpus id));
      7. content novel but low quality      -> 'skip_low_quality'
         (sampling.doc_quality < min_quality; updates bypass this
         gate — their url is already in the store);
      8. else                               -> 'insert'.

    Output: (id, url canonical, verdict, corpus_id, sim_est) — one row
    per surviving batch row, corpus_id = the matched standing row for
    verdicts 3-6 (NULL otherwise), sim_est only for near-dup rows,
    ordered by id.

    Scale shape: canonicalization is codegen'd projection; the batch
    is left-joined to the corpus url table (its matches reduced to one
    per url on the join's own partitioning), then the digest table; that
    frame (the only one read twice) feeds the near-dup candidates —
    the bounded incremental band join, never corpus x corpus — and,
    with the best near match left-joined on id, ONE projection whose
    when-chain follows the precedence above. No branch, no union; each
    batch row crosses each join at most once; the corpus side is never
    shuffled beyond its digest/band aggregations (pre-computable per
    epoch at production).
    """
    from ..functions.url import canonicalize_url
    from ..operators.dedup import incremental_near_dup
    from ..operators.sampling import doc_quality

    newc = new_pages.select(
        F.col(id_col).alias("id"),
        canonicalize_url(F.col(url_col)).alias("url"),
        F.col(text_col).alias("text"),
        F.md5(F.col(text_col)).alias("digest"),
        doc_quality(new_pages, text_col).alias("quality"),
    )
    best = (
        newc.groupBy("url")
        .agg(F.max(F.struct("id", "text", "digest", "quality"))
             .alias("b"))
        .select("url", "b.id", "b.text", "b.digest", "b.quality")
    )
    corp = materialize(corpus.select(
        F.col(id_col).alias("corpus_id"),
        canonicalize_url(F.col(url_col)).alias("url"),
        F.md5(F.col(text_col)).alias("cdigest"),
    ), "ingest_delta corpus")
    cdig = corp.groupBy(F.col("cdigest").alias("digest")).agg(
        F.min("corpus_id").alias("exact_id")
    )
    # One url match per batch row (a canonical url can repeat in the
    # corpus): a digest match wins, else the highest corpus id. best is
    # one row per url, so the grouping reuses the join's partitioning.
    matched = best.join(corp, "url", "left").groupBy("url").agg(F.max(F.struct(
        (F.col("digest") == F.col("cdigest")).alias("same"), "corpus_id",
        "cdigest", "id", "text", "digest", "quality")).alias("m"))
    # The one frame read twice (verdict projection + near-dup candidates)
    joined = materialize(
        matched.select("url", "m.*").drop("same").join(cdig, "digest", "left"),
        "ingest_delta joined")
    cands = joined.filter(
        F.col("corpus_id").isNull() & F.col("exact_id").isNull()
    )
    near = incremental_near_dup(
        cands.select(F.col("id").alias(id_col), F.col("text")),
        corpus.select(F.col(id_col), F.col(text_col).alias("text")),
        threshold=near_threshold,
    )
    near_best = (
        near.groupBy(F.col("new_id").alias("id"))
        .agg(F.max(F.struct(
            F.col("sim_est"), (-F.col("corpus_id")).alias("neg"),
        )).alias("b"))
        .select("id", (-F.col("b.neg")).cast("long").alias("near_id"),
                F.col("b.sim_est").alias("sim_est"))
    )
    url_hit = F.col("corpus_id").isNotNull()
    return (
        joined.join(near_best, "id", "left")
        .select(
            "id", "url",
            F.when(url_hit & (F.col("digest") == F.col("cdigest")),
                   F.lit("skip_unchanged"))
            .when(url_hit, F.lit("update"))
            .when(F.col("exact_id").isNotNull(), F.lit("skip_exact_dup"))
            .when(F.col("near_id").isNotNull(), F.lit("skip_near_dup"))
            .when(F.col("quality") < min_quality,
                  F.lit("skip_low_quality"))
            .otherwise(F.lit("insert"))
            .alias("verdict"),
            F.coalesce("corpus_id", "exact_id", "near_id")
            .alias("corpus_id"),
            "sim_est",
        )
        .orderBy("id")
    )



def hdr_length_gate(docs: DataFrame, lo_q: float = 0.01,
                    hi_q: float = 0.99, id_col: str = "doc_id",
                    text_col: str = "text",
                    sub_bits: int = 3) -> DataFrame:
    """Sketch-DRIVEN outlier trimming: gate documents whose token count
    falls outside the corpus's [lo_q, hi_q] HDR-quantile band — the
    standard tails-trim (truncated boilerplate stubs below, concatenation
    accidents above) with the cutoffs computed FROM THE SKETCH, not from
    an exact sort: at 10^12 rows percentile_disc is a corpus-wide sort,
    the HDR band is a 512-bucket aggregation (sketch.hdr_quantiles) whose
    quantile rows stay IN-PLAN (1-row broadcast — no driver collect, no
    second pass for the cutoffs).

    The cutoffs are the HDR bucket LOWER bounds (within 2^-sub_bits
    relative error below the exact quantiles — gate POLICY, stated, not
    estimation error). Gate: lo <= tokens <= hi, inclusive both ends.

    Output (ONE row): n_docs, p_lo, p_hi (the cutoffs), n_kept,
    n_below, n_above, kept_frac 4 dp.

    Scale shape: one token-count projection feeds both the bounded
    sketch aggregation and the gate filter; the two quantile rows pivot
    to one broadcast row; one summary aggregation. The corpus crosses
    exactly one shuffle (the sketch's bucket agg).
    """
    from ..functions.numeric import round_he
    from ..operators.sketch import hdr_quantiles

    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    counts = docs.select(
        F.col(id_col), F.size(words).cast("long").alias("v")
    )
    qs = hdr_quantiles(counts, "v", qs=(lo_q, hi_q), sub_bits=sub_bits)
    bounds = qs.groupBy().agg(
        F.max(F.when(F.col("q") == lo_q, F.col("est"))).alias("p_lo"),
        F.max(F.when(F.col("q") == hi_q, F.col("est"))).alias("p_hi"),
    )
    flagged = counts.crossJoin(F.broadcast(bounds)).select(
        "p_lo", "p_hi",
        F.when(F.col("v") < F.col("p_lo"), F.lit("below"))
        .when(F.col("v") > F.col("p_hi"), F.lit("above"))
        .otherwise(F.lit("kept")).alias("g"),
    )
    return flagged.groupBy().agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("p_lo").cast("long").alias("p_lo"),
        F.max("p_hi").cast("long").alias("p_hi"),
        F.sum((F.col("g") == "kept").cast("long")).alias("n_kept"),
        F.sum((F.col("g") == "below").cast("long")).alias("n_below"),
        F.sum((F.col("g") == "above").cast("long")).alias("n_above"),
        round_he(
            F.sum((F.col("g") == "kept").cast("long")).cast("double")
            / F.count("*").cast("double"), 4,
        ).alias("kept_frac"),
    )



def tracking_params(pages: DataFrame, url_col: str = "url",
                    digest_col: str = "digest") -> DataFrame:
    """Infer content-neutral URL query parameters from crawl evidence —
    the param-level core of DustBuster (Bar-Yossef, Keidar & Schonfeld,
    "Do Not Crawl in the DUST: Different URLs with Similar Text",
    WWW 2007): a parameter is a tracking/session param (utm_*, sess,
    click ids) if urls that differ ONLY in that parameter always serve
    identical content. Learned rules feed url canonicalization, so the
    frontier stops treating ``?id=7&utm=a`` and ``?id=7&utm=b`` as two
    pages — at crawl scale the single biggest source of synthetic url
    blowup after path traps (see `url_trap_stats`).

    Method: for every (url, param) occurrence, the RESIDUAL is the url
    with every ``param=...`` pair removed (inputs are assumed
    canonicalized, so remaining params keep one order — see
    functions/url.canonicalize_url). Group by (param, residual): urls
    in one group differ only in that param. Evidence groups are those
    with >= 2 distinct urls; the param is content_neutral when every
    evidence group is digest-uniform and at least one evidence group
    exists (no evidence => not inferable, fail open to NOT neutral).

    Scale shape: query-string parsing is pure codegen'd array exprs
    (split / transform / filter / array_join — no UDF); the explode
    multiplier is the DISTINCT param count per url (single digits on
    real crawls); then TWO hash aggregations ((param, residual) then
    param), both with map-side partials. No joins, no windows. The
    digest column is whatever content hash the extraction job already
    wrote (job.py's digests output) — no second pass over page bytes.

    Returns (param, n_urls, n_evidence_groups, n_uniform_groups,
    uniform_frac 4 dp, content_neutral) ordered by param.
    """
    from ..functions.numeric import round_he

    url = F.col(url_col)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    rows = pages.select(
        url.alias("u"),
        F.col(digest_col).alias("d"),
        F.split(query, "&").alias("kvs"),
    ).filter(query != "")
    pname = lambda kv: F.split(kv, "=", 2).getItem(0)  # noqa: E731
    ex = rows.select(
        "u", "d", "kvs",
        F.explode(F.array_distinct(F.transform("kvs", pname)))
        .alias("param"),
    )
    residual = F.concat(
        F.regexp_extract(F.col("u"), r"^([^?#]*)", 1),
        F.lit("?"),
        F.array_join(
            F.filter("kvs", lambda kv: pname(kv) != F.col("param")), "&"
        ),
    )
    grp = (
        ex.select("param", "u", "d", residual.alias("residual"))
        .groupBy("param", "residual")
        .agg(
            F.countDistinct("u").alias("n_urls"),
            F.countDistinct("d").alias("n_digests"),
        )
    )
    ev = F.when(F.col("n_urls") > 1, 1).otherwise(0)
    uni = F.when((F.col("n_urls") > 1) & (F.col("n_digests") == 1), 1) \
        .otherwise(0)
    return (
        grp.groupBy("param")
        .agg(
            F.sum("n_urls").cast("long").alias("n_urls"),
            F.sum(ev).cast("long").alias("n_evidence_groups"),
            F.sum(uni).cast("long").alias("n_uniform_groups"),
        )
        .select(
            "param", "n_urls", "n_evidence_groups", "n_uniform_groups",
            round_he(
                F.col("n_uniform_groups").cast("double")
                / F.greatest(F.col("n_evidence_groups"), F.lit(1))
                .cast("double"),
                4,
            ).alias("uniform_frac"),
            ((F.col("n_evidence_groups") > 0)
             & (F.col("n_uniform_groups") == F.col("n_evidence_groups")))
            .alias("content_neutral"),
        )
        .orderBy("param")
    )


def refresh_frontier(history: DataFrame, robots: DataFrame,
                     agent: str | None = None,
                     default_delay: float = 1.0,
                     top_k_per_host: int = 3) -> DataFrame:
    """The RE-crawl side of the loop (frontier_next discovers NEW urls;
    this schedules revisits to urls already held): snapshot history ->
    per-url Poisson change rate (recrawl_schedule) -> robots re-check
    (rules change between crawls; yesterday's admission is not
    standing consent) -> per-host top-k by change-rate-per-unit-delay.

    priority = lambda_hat / (delay_sec + 1): a page changing 2x/epoch
    behind a 10 s crawl delay is worth less fetch budget than one
    changing 1x/epoch behind no delay — the same worth-per-budget rule
    as frontier_next's rank/(delay+1). Urls with no change evidence
    (single visit, lambda NULL) are EXCLUDED: discovery already
    fetched them once; a revisit needs a reason.

    Scale shape: recrawl_schedule's url-bounded window + one agg; one
    host-keyed join each for robots admission and delays (rules side
    deliberately not hint-broadcast, same as frontier_next); per-host
    top-k as a row_number filter that compiles to WindowGroupLimit.
    No driver state at all (pagerank is frontier_next's concern —
    refresh priority is evidence of CHANGE, not authority).

    Output: (url, host, lambda_hat, delay_sec, refresh_pos, priority),
    priority rounded 8 dp.
    """
    from pyspark.sql import Window

    from ..functions.numeric import round_he
    from ..functions.url import url_host
    from .robots import crawl_delays, robots_filter

    rates = recrawl_schedule(history).filter(
        F.col("lambda_hat").isNotNull()
    ).select("url", "lambda_hat")
    admitted = (
        robots_filter(rates.select("url"), robots, agent=agent)
        .filter(F.col("allowed") == 1)
        .select("url")
    )
    delays = crawl_delays(robots, default_delay=default_delay, agent=agent)
    w = Window.partitionBy("host").orderBy(
        F.col("priority_raw").desc(), F.col("url").asc()
    )
    return (
        rates.join(admitted, "url")
        .withColumn("host", url_host(F.col("url")))
        .join(delays, "host", "left")
        .select(
            "url", "host", "lambda_hat",
            F.coalesce("delay_sec", F.lit(float(default_delay)))
            .alias("delay_sec"),
        )
        .withColumn(
            "priority_raw",
            F.col("lambda_hat") / (F.col("delay_sec") + 1.0),
        )
        .withColumn("refresh_pos", F.row_number().over(w))
        .filter(F.col("refresh_pos") <= top_k_per_host)
        .select(
            "url", "host", "lambda_hat", "delay_sec", "refresh_pos",
            round_he("priority_raw", 8).alias("priority"),
        )
    )
