"""Text-analysis operators: quality scoring, language ID, token stats,
document fingerprinting. All JVM-side expressions (codegen'd); portable to
the DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.functions.numeric import round_he
from ocr_cezam_spark.operators.dedup import _words, with_words

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is")

# Marker word sets for the n-gram-heuristic language ID. Purely structural
# on the synthetic corpus (its text is not language-correlated) — the query
# checks the operator, the word lists are swappable.
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "de", "et", "est"),
}


def _token_stats(text: F.Column) -> dict[str, F.Column]:
    """token_quality's columns over ``text``, keyed by output name; the
    gate is ``quality_ok``. Shared with pipeline.clean_corpus, which
    computes this gate and gopher_quality's in one projection."""
    words = F.split(text, " ")
    n_tokens = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin(*STOPWORDS_EN)))
    n_chars = F.length(text)
    avg_word_len = round_he((n_chars - (n_tokens - 1)) / n_tokens, 3)
    return {
        "n_tokens": n_tokens,
        "n_stopwords": n_stop,
        "stopword_ratio": round_he(n_stop / n_tokens, 3),
        "avg_word_len": avg_word_len,
        "quality_ok": (
            (n_tokens >= 10)
            & (avg_word_len >= 2.0)
            & (avg_word_len <= 12.0)
        ).cast("int"),
    }


def _named(stats: dict[str, F.Column]) -> list[F.Column]:
    return [c.alias(name) for name, c in stats.items()]


def token_quality(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Token count + stopword ratio + length stats -> quality flag.

    The quality-score shape of web-pipeline filters (C4/Gopher-style rules)
    built from the reference's keyword-membership primitives (J3)."""
    return docs.select(F.col(id_col),
                       *_named(_token_stats(F.col(text_col))))


def dup_ngram_fraction(docs: DataFrame, n: int = 3, min_docs: int = 2,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-document duplicated-n-gram fraction — the Dolma/RefinedWeb-style
    dedup TAGGING signal: the share of a doc's DISTINCT word n-grams that
    occur in >= ``min_docs`` documents corpus-wide. Unlike the removal
    operators (dedup.py), this annotates every doc with a contamination
    score a downstream filter thresholds, so borderline docs stay
    inspectable.

    Scale shape (the only one that survives 100 TB): per-doc DISTINCT
    grams are built inside the row (array_distinct, no shuffle), so the
    exploded pair table carries one row per (doc, distinct gram); then ONE
    groupBy(gram) count with map-side partials, ONE equi-join back on the
    gram key, ONE per-doc hash agg. No window, no self-join. At real
    scale the gram string would be md5'd to 16 bytes before the shuffle
    (kept raw here so the DuckDB twin compares human-readable keys), and
    an incremental corpus would swap the count join for the Bloom probe of
    dedup.py:incremental_dedup. Docs too short to have any n-gram keep a
    row with n_grams=0, dup_fraction=0.0 (left join) — dropping them would
    silently exempt short spam from the filter."""
    # sequence(1, k) DESCENDS when k < 1 — guard short docs to an empty
    # gram array instead.
    grams = with_words(text_col, lambda ws: F.when(
        F.size(ws) - (n - 1) >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - (n - 1)),
                lambda i: F.array_join(F.slice(ws, i, n), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>")))
    pairs = docs.select(F.col(id_col), F.explode(grams).alias("gram"))
    counts = pairs.groupBy("gram").agg(F.count("*").alias("n_docs"))
    per_doc = (
        pairs.join(counts, "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_grams"),
            F.sum((F.col("n_docs") >= min_docs).cast("int"))
            .cast("int").alias("n_dup_grams"),
        )
    )
    return docs.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
        F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
        F.coalesce(
            round_he(F.col("n_dup_grams") / F.col("n_grams"), 4), F.lit(0.0)
        ).alias("dup_fraction"),
    )


def langid(docs: DataFrame, id_col: str = "doc_id",
           text_col: str = "text") -> DataFrame:
    """Marker-count language ID: score per language = number of tokens in
    that language's marker set; argmax with fixed tie order en>es>de>fr."""
    def in_markers(markers):
        # single-arg lambda closure — a defaulted second param would be
        # misread by PySpark as the (element, index) lambda form
        return lambda w: w.isin(*markers)

    words = _words(text_col)
    scores = {
        lang: F.size(F.filter(words, in_markers(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    pred = (
        F.when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["fr"]),
            "en",
        )
        .when(
            (scores["es"] >= scores["de"]) & (scores["es"] >= scores["fr"]), "es"
        )
        .when(scores["de"] >= scores["fr"], "de")
        .otherwise("fr")
    )
    return docs.select(
        F.col(id_col),
        *[scores[lang].alias(f"score_{lang}") for lang in ("en", "es", "de", "fr")],
        pred.alias("pred_lang"),
    )


HEX_HIGH = ("8", "9", "a", "b", "c", "d", "e", "f")


def hash_embedding(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", dim: int = 16) -> DataFrame:
    """Feature-hashing (hashing-trick) bag-of-words vectorizer.

    Each word hashes to a bucket (md5-prefix mod dim) with a +-1 sign
    (md5 hex digit 5); the document vector is the signed count per
    bucket — the standard collision-tolerant vectorizer for training
    pipelines, built as explode -> bucket/sign -> pivot-sum (one shuffle,
    map-side partial aggregation). Output columns f0..f{dim-1}."""
    words = F.split(F.col(text_col), " ")
    ex = docs.select(F.col(id_col), F.explode(words).alias("w"))
    feats = ex.select(
        F.col(id_col),
        F.pmod(
            F.conv(F.substring(F.md5("w"), 1, 4), 16, 10).cast("int"), F.lit(dim)
        ).alias("bucket"),
        F.when(F.substring(F.md5("w"), 5, 1).isin(*HEX_HIGH), 1)
        .otherwise(-1)
        .alias("sign"),
    )
    wide = (
        feats.groupBy(id_col)
        .pivot("bucket", list(range(dim)))
        .agg(F.sum("sign"))
        .na.fill(0)
    )
    return wide.select(
        F.col(id_col),
        *[F.col(str(i)).cast("bigint").alias(f"f{i}") for i in range(dim)],
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Document fingerprint from per-token 60-bit hashes (winnowing-lite):
    min/max token hash + distinct token count. conv(md5-hex-prefix) is the
    engine-portable integer hash."""
    words = _words(text_col)
    hashes = F.transform(
        words, lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long")
    )
    return docs.select(
        F.col(id_col),
        F.array_min(hashes).alias("fp_min"),
        F.array_max(hashes).alias("fp_max"),
        F.size(F.array_distinct(words)).alias("n_distinct_tokens"),
    )


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     dup_threshold: float = 0.3) -> DataFrame:
    """Gopher-style repetition quality STATS: duplicate 3-gram fraction
    and top-word fraction per document. The `repetitive` flag gates on the
    dup-gram fraction only (the dominant Gopher gate); top_word_frac is
    emitted alongside so a caller can add its own top-word threshold
    (Gopher uses per-n thresholds that are corpus-tuned — policy, not
    mechanism, so it stays a column here). Shingle stats are pure array
    expressions; the top-word count is one explode + two hash aggregations
    (map-side combined)."""
    from .dedup import shingles

    sh = shingles(text_col)
    gram = docs.select(
        F.col(id_col),
        F.size(sh).alias("n_grams"),
        F.size(F.array_distinct(sh)).alias("n_distinct_grams"),
    ).select(
        F.col(id_col),
        "n_grams",
        "n_distinct_grams",
        round_he(
            1.0 - F.col("n_distinct_grams") / F.col("n_grams"), 4
        ).alias("dup_gram_frac"),
    )
    words = docs.select(F.col(id_col), F.explode(_words(text_col)).alias("w"))
    top = (
        words.groupBy(id_col, "w")
        .count()
        .groupBy(id_col)
        .agg(
            F.max("count").alias("top_word_n"),
            F.sum("count").alias("n_words"),
        )
        .select(
            F.col(id_col),
            F.col("n_words").cast("int").alias("n_words"),
            round_he(F.col("top_word_n") / F.col("n_words"), 4).alias("top_word_frac"),
        )
    )
    out = gram.join(top, id_col)
    flagged = (F.col("dup_gram_frac") > dup_threshold).cast("int")
    return out.withColumn("repetitive", flagged)


def source_skew_stats(docs: DataFrame, source_col: str = "source",
                      threshold: float = 0.05,
                      text_col: str = "text") -> DataFrame:
    """The hot-key pre-aggregation (skew.detect_hot_hosts) as a checked
    relational operator: per source, row share of the corpus and the
    hot flag at `threshold`. One hash aggregation + a broadcast of the
    single-row total."""
    per = docs.groupBy(F.col(source_col).alias("src")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length(text_col)).alias("total_chars"),
    )
    total = per.agg(F.sum("n_docs").alias("total_docs"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "src",
            "n_docs",
            "total_chars",
            round_he(F.col("n_docs") / F.col("total_docs"), 4).alias("share"),
            (F.col("n_docs") > threshold * F.col("total_docs")).cast("int").alias("is_hot"),
        )
    )


def _gopher_stats(text: F.Column) -> dict[str, F.Column]:
    """gopher_quality's columns over ``text``, keyed by output name; the
    gate is ``passes``. gopher_line_quality reuses the word-level pair
    (mean_word_len, alpha_word_frac)."""
    words = F.split(text, " ")
    n_words = F.size(words)
    total_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    n_digit = F.size(F.filter(words, lambda w: w.rlike("^[0-9]+$")))
    mean_len = round_he(total_chars / n_words, 4)
    alpha_frac = round_he(n_alpha / n_words, 4)
    digit_frac = round_he(n_digit / n_words, 4)
    return {
        "n_words": n_words,
        "mean_word_len": mean_len,
        "alpha_word_frac": alpha_frac,
        "digit_word_frac": digit_frac,
        "passes": (
            mean_len.between(3.0, 10.0)
            & (alpha_frac >= 0.8)
            & (digit_frac < 0.3)
        ).cast("int"),
    }


def gopher_quality(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Gopher-style word-level quality gates (Rae et al. 2021 repetition/
    quality rules, the standard pre-training document filter), as pure
    codegen'd array expressions — no explode, no shuffle beyond the scan:

    - mean_word_len must sit in [3, 10]
    - >= 80% of words must contain an alphabetic character
    - all-digit words must stay under 30%

    Returns per-doc stats plus the 0/1 `passes` gate. Line-based Gopher
    rules (bullet/ellipsis line fractions) need line structure the
    documents table doesn't carry; the extraction corpus path covers
    line-model analytics."""
    return docs.select(F.col(id_col),
                       *_named(_gopher_stats(F.col(text_col))))


def _gopher_line_stats(text: F.Column) -> dict[str, F.Column]:
    """gopher_line_quality's columns over ``text``, keyed by output name;
    the gate is ``passes``. pipeline.build_training_corpus filters on
    that gate directly."""
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda l: l.rlike(r"^\s*([•‣▪]|[-*]\s)")))
    n_ellipsis_line = F.size(F.filter(
        lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$")))
    n_words = F.size(F.split(text, " "))
    n_hash = (
        F.length(text) - F.length(F.replace(text, F.lit("#")))
    ).cast("double")
    n_ellipsis_sym = (
        (F.length(text) - F.length(F.replace(text, F.lit("...")))) / 3
        + (F.length(text) - F.length(F.replace(text, F.lit("…"))))
    ).cast("double")
    bullet_frac = round_he(n_bullet / n_lines, 4)
    ellipsis_frac = round_he(n_ellipsis_line / n_lines, 4)
    hash_ratio = round_he(n_hash / n_words, 4)
    ellipsis_ratio = round_he(n_ellipsis_sym / n_words, 4)
    word = _gopher_stats(text)
    mean_len, alpha_frac = word["mean_word_len"], word["alpha_word_frac"]
    return {
        "n_lines": n_lines.cast("int"),
        "bullet_line_frac": bullet_frac,
        "ellipsis_line_frac": ellipsis_frac,
        "hash_word_ratio": hash_ratio,
        "ellipsis_word_ratio": ellipsis_ratio,
        "mean_word_len": mean_len,
        "alpha_word_frac": alpha_frac,
        "passes": (
            (bullet_frac < 0.9)
            & (ellipsis_frac < 0.3)
            & (hash_ratio <= 0.1)
            & (ellipsis_ratio <= 0.1)
            & mean_len.between(3.0, 10.0)
            & (alpha_frac >= 0.8)
        ).cast("int"),
    }


def gopher_line_quality(docs: DataFrame, id_col: str = "url",
                        text_col: str = "text") -> DataFrame:
    """The FULL Gopher document filter (Rae et al. 2021) — the line-model
    gates gopher_quality cannot express over the flat documents table,
    computed over line-structured text (the kernel's extracted output,
    whose block model emits real newlines):

    - < 90% of lines may start with a bullet point ([-*] followed by a
      space, or a typographic bullet U+2022/U+2023/U+25AA);
    - < 30% of lines may end with an ellipsis ('...' or U+2026);
    - the '#'-symbol-to-word and ellipsis-to-word ratios must each stay
      <= 0.1;
    plus the word-level gates shared with gopher_quality (mean word
    length in [3, 10], >= 80% alphabetic words). `passes` is the AND of
    all of them — word gates and line gates together.

    Like gopher_quality this is pure codegen'd array/string expressions:
    lines via split(chr(10)) filtered with lambda predicates, symbol
    counts via length-after-replace arithmetic — no explode, no UDF, no
    shuffle beyond the scan, so it runs at scan speed on 100 TB. Words
    split on ' ' (the engine-wide _words convention) so every fraction
    has an exact DuckDB twin."""
    return docs.select(F.col(id_col),
                       *_named(_gopher_line_stats(F.col(text_col))))


def sequence_pack(docs: DataFrame, budget: int = 512, n_shards: int = 8,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Sequence packing for LLM training batches (concat-then-chunk): lay
    documents end-to-end in deterministic order and cut the stream into
    ``budget``-token packs; each document is assigned to the pack where it
    STARTS (so a pack may overflow by less than one document — the
    standard concat+chunk layout, where the chunker later splits at exact
    token boundaries).

    Deterministic: shard = id mod n_shards, layout order = id within the
    shard. Scale shape: the running sum windows over one shard at a time,
    so n_shards is the parallelism knob (thousands at production scale —
    each shard's partition holds only its own rows, and packs never cross
    shards, matching how training data is sharded anyway).

    Returns (id, shard, n_tokens, pack_id, offset_in_pack)."""
    # whitespace-FILTERED count, the one sampling.token_budget_select
    # budgets with: a doc must occupy exactly the tokens it was budgeted
    # at, or the select->pack composition over-packs on multi-space text
    n_tokens = F.size(F.filter(_words(text_col), lambda w: w != ""))
    return _pack_counts(
        docs.select(F.col(id_col), n_tokens.alias("n_tokens")),
        budget, n_shards, id_col,
    )


def _pack_counts(counts: DataFrame, budget: int, n_shards: int,
                 id_col: str) -> DataFrame:
    """sequence_pack's layout over precomputed (id, n_tokens) rows — the
    one packer behind sequence_pack and sampling.select_and_pack."""
    base = counts.select(
        F.col(id_col),
        F.pmod(F.col(id_col), F.lit(n_shards)).alias("shard"),
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    cum_before = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.select(
        id_col,
        "shard",
        "n_tokens",
        F.floor(cum_before / budget).cast("long").alias("pack_id"),
        (cum_before % budget).cast("long").alias("offset_in_pack"),
    )


def unigram_logprob(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Statistical quality score (CCNet-style, self-trained): the mean
    log-probability of a document's tokens under the corpus's own unigram
    distribution. Natural text scores high; gibberish, rare-token spam,
    and wrong-language content score low. (CCNet scores under an external
    wiki-trained LM; the self-corpus unigram model is the join-shape
    identical, externally-trainable variant.)

    Output: (id, n_tokens, logprob) with logprob = sum(tf * ln(freq/total))
    / n_tokens, rounded to 4 dp.

    Scale shape: per-(doc,term) counts aggregate map-side; the unigram
    table aggregates on term and joins back on term (vocab-sized — AQE
    broadcasts it when it fits, sort-merge otherwise); the corpus total is
    a 1-row broadcast crossJoin. No UDFs, two shuffles total.
    """
    tf = (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    uni = tf.groupBy("term").agg(F.sum("tf").alias("freq"))
    total = uni.agg(F.sum("freq").cast("double").alias("total"))
    return (
        tf.join(uni, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_tokens"),
            round_he(
                F.sum(F.col("tf") * F.log(F.col("freq") / F.col("total")))
                / F.sum("tf"), 4,
            ).alias("logprob"),
        )
    )


def bigram_pmi(docs: DataFrame, min_count: int = 5,
               text_col: str = "text") -> DataFrame:
    """Collocation statistics: pointwise mutual information of adjacent
    word pairs over the whole corpus — the standard phrase-detection /
    tokenizer-vocabulary signal (high-PMI pairs become merge candidates).

    pmi(a,b) = ln( p(a,b) / (p(a) p(b)) ) with p(a,b) over bigram events
    and p(.) over unigram events; pairs below ``min_count`` are dropped
    (PMI is noise-dominated on rare events).

    Scale shape: two explode+aggregate passes (unigrams, bigrams), two
    joins of the bigram table against the unigram table (vocab-sized —
    AQE broadcasts when it fits), scalar totals on a 1-row broadcast.
    Output: (w1, w2, n_ab, pmi) with pmi rounded to 4 dp.
    """
    words = _words(text_col)
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(words) - 1),
        lambda i: F.struct(
            F.element_at(words, i).alias("w1"),
            F.element_at(words, i + 1).alias("w2"),
        ),
    )
    bc = (
        docs.filter(F.size(words) >= 2)
        .select(F.explode(bigrams).alias("bg"))
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n_ab"))
    )
    uc = (
        docs.select(F.explode(words).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    tot = bc.agg(F.sum("n_ab").cast("double").alias("n_bi")).crossJoin(
        uc.agg(F.sum("c").cast("double").alias("n_uni"))
    )
    u1 = uc.select(F.col("t").alias("w1"), F.col("c").alias("c1"))
    u2 = uc.select(F.col("t").alias("w2"), F.col("c").alias("c2"))
    return (
        bc.filter(F.col("n_ab") >= min_count)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "n_ab",
            # round_he, NOT F.round: PMI lands in (-eps, 0) for weakly
            # anti-correlated pairs, where F.round yields -0.0 in Spark but
            # round() yields 0.0 in DuckDB (the r4 driver hash-red row);
            # floor(x*1e4+0.5)/1e4 can never produce -0.0 and applies
            # identical IEEE ops in both engines (functions/numeric.py)
            round_he(
                F.log(
                    (F.col("n_ab") / F.col("n_bi"))
                    / ((F.col("c1") / F.col("n_uni"))
                       * (F.col("c2") / F.col("n_uni")))
                ), 4,
            ).alias("pmi"),
        )
    )


def perplexity_buckets(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", group_col: str = "source",
                       n_buckets: int = 3) -> DataFrame:
    """CCNet-style perplexity bucketing: rank documents within each group
    (CCNet: language; here: source) by their LM score and label the best
    third head, then middle, then tail — downstream pipelines keep head+
    middle or reweight by bucket.

    The score is unigram_logprob's self-trained unigram mean logprob
    (higher = more natural); buckets come from integer rank arithmetic
    (rank * n_buckets vs group size), not percentile floats, so the
    boundary can't straddle an engine rounding difference. Deterministic
    ties: (logprob desc, id asc).

    Scale shape: unigram_logprob's two shuffles, then ONE window over
    (group) — the window partitions by group, so hot groups bound a
    single task only if one source dominates; CCNet's real grouping
    (language) has the same property and the fix is the same: sub-shard
    the window key by a hash salt and merge ranks, which the tested
    design point does not need.
    """
    lp = unigram_logprob(docs, id_col, text_col)
    scored = lp.join(docs.select(id_col, group_col), id_col)
    part = Window.partitionBy(group_col)
    w = part.orderBy(F.desc("logprob"), F.col(id_col))
    rn = F.row_number().over(w)
    cnt = F.count("*").over(part)
    bucket = (
        F.when(rn * n_buckets <= cnt, "head")
        .when(rn * n_buckets <= 2 * cnt, "middle")
        .otherwise("tail")
    )
    return scored.select(
        id_col, group_col, "n_tokens", "logprob", bucket.alias("bucket")
    ).orderBy(id_col)


def quality_ensemble(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     keep_threshold: float = 0.5) -> DataFrame:
    """One keep/drop decision from the whole quality stack: Gopher's
    hard gates veto outright; the soft score blends the word-level
    quality ratios with the LM logprob, each component already bounded
    to [0,1] by construction.

    score = 0.4*alpha_word_frac + 0.3*min(1, 4*stopword_ratio)
    + 0.3*lp_unit, where lp_unit linearly rescales mean logprob from
    [-12, -4] (clamped) — natural text sits around -6..-8 under a
    self-trained unigram model, spam and wrong-tokenization tails
    below -10. The hard gates (Gopher passes AND token quality_ok)
    veto regardless of score. Weights are stated constants, not
    trained: the operator's value is the COMPOSITION shape (three
    independent scorers, one join each on the id key, all map-side
    before their aggs) — swap any component for a real classifier
    without changing the plan. Every blended input is already rounded
    by its source operator, so both engines blend identical doubles.
    """
    tq = token_quality(docs, id_col, text_col).select(
        id_col, "stopword_ratio", "quality_ok"
    )
    gq = gopher_quality(docs, id_col, text_col).select(
        id_col, "alpha_word_frac", "passes"
    )
    lp = unigram_logprob(docs, id_col, text_col).select(id_col, "logprob")
    lp_unit = F.greatest(
        F.lit(0.0),
        F.least(F.lit(1.0), (F.col("logprob") + 12.0) / 8.0),
    )
    stop_unit = F.least(F.lit(1.0), F.col("stopword_ratio") * 4.0)
    score = round_he(
        0.4 * F.col("alpha_word_frac") + 0.3 * stop_unit + 0.3 * lp_unit, 4
    )
    gates = (F.col("passes") == 1) & (F.col("quality_ok") == 1)
    out = tq.join(gq, id_col).join(lp, id_col).select(
        F.col(id_col),
        gates.alias("gates_ok"),
        score.alias("score"),
    )
    keep = F.col("gates_ok") & (F.col("score") >= keep_threshold)
    return out.select(
        id_col, "gates_ok", "score", keep.alias("keep")
    ).orderBy(id_col)


def winnowing_fingerprints(docs: DataFrame, k: int = 4, w: int = 5,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003
    — the MOSS algorithm) at word granularity: hash every k-gram, slide
    a window of w consecutive gram hashes, select each window's MINIMUM
    (rightmost occurrence on ties), and emit the distinct selected
    positions. The winnowing guarantee carries over verbatim: any shared
    run of >= w + k - 1 words between two documents shares at least one
    fingerprint, while only ~2/(w+1) of positions are retained — the
    bounded-density local sampling that makes fingerprint joins feasible
    where full gram joins are not. Upgrades ``fingerprint`` (min/max
    only, no locality guarantee).

    Output: (id, pos, fp) — one row per selected gram position, pos
    1-based; short docs (< k words) emit nothing by construction.

    Scale shape: gram hashes are built in-row; the window min is ONE
    ordered per-document scan (Window rowsBetween(0, w-1) with a
    min-of-struct — streams with spill, no self-join of positions); the
    distinct collapses the per-window duplicates. Shuffle on the doc id
    only. The rightmost-tie rule is encoded as min(struct(h, -pos)) so
    both engines rank identically with no float anywhere.
    """
    grams = with_words(text_col, lambda ws: F.when(
        F.size(ws) - (k - 1) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (k - 1)),
            lambda i: F.struct(
                i.alias("pos"),
                F.conv(
                    F.substring(
                        F.md5(F.array_join(F.slice(ws, i, k), " ")),
                        1, 15,
                    ), 16, 10,
                ).cast("long").alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,h:long>>")))
    gram_rows = docs.select(
        F.col(id_col), F.explode(grams).alias("g")
    ).select(id_col, F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    win = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    )
    sel = gram_rows.select(
        F.col(id_col),
        F.col("pos").alias("start"),
        F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np")))
        .over(win).alias("m"),
        F.max(F.col("pos")).over(
            Window.partitionBy(id_col)
        ).alias("last_pos"),
    )
    return (
        # trailing starts with fewer than w grams in frame are not
        # winnowing windows — drop them (identical rule both engines)
        sel.filter(F.col("start") <= F.col("last_pos") - (w - 1))
        .select(
            id_col,
            (-F.col("m.np")).cast("long").alias("pos"),
            F.col("m.h").alias("fp"),
        )
        .distinct()
    )


def chunk_passages(docs: DataFrame, chunk: int = 64, stride: int = 48,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Fixed-size token-window passage chunking with overlap — the
    retrieval/packing primitive (RAG passage stores, long-doc embedding
    inputs, context-window-bounded training examples all consume this
    shape): every ``stride`` tokens, emit a ``chunk``-token passage, so
    consecutive chunks overlap by chunk - stride tokens and no token
    falls in a gap.

    Returns (id, chunk_idx, start_tok, n_tokens, chunk_md5, chunk_text).
    The final chunk is the remainder (>= 1 token, <= chunk tokens); a
    doc shorter than ``chunk`` yields exactly one chunk. chunk_idx is
    0-based; start_tok is the 0-based token offset (= chunk_idx *
    stride). chunk_md5 keys chunk-level exact dedup — cross-crawl
    boilerplate passages collapse on it even when their parent documents
    differ (the shape paragraph_dedup covers for newline paragraphs,
    here for fixed token geometry).

    Scale shape: MAP-ONLY — one sequence+transform builds every chunk
    slice JVM-side, one posexplode, zero shuffles, zero UDFs; the plan
    is a single WholeStageCodegen span over the scan, so it chunks 100
    TB at scan speed and inherits the input partitioning. Downstream
    dedup/embedding stages shuffle on chunk_md5, never on raw text.

    Reference analog: none (pipeline extension); the chunk geometry
    (size/stride in tokens) mirrors standard RAG passage splitters.
    """
    if stride <= 0 or chunk <= 0 or stride > chunk:
        raise ValueError("need 0 < stride <= chunk")
    # last start: largest multiple of stride strictly below n (so every
    # token is covered and no empty chunk is emitted); floor((n-1)/stride)
    chunks = with_words(text_col, lambda ws: F.transform(
        F.sequence(
            F.lit(0), F.floor((F.size(ws) - 1) / F.lit(stride)).cast("int")
        ),
        lambda i: F.array_join(
            F.slice(ws, i * stride + 1, F.lit(chunk)), " "
        ),
    ))
    exploded = docs.filter(F.size(_words(text_col)) > 0).select(
        F.col(id_col).alias("id"),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    )
    return exploded.select(
        "id",
        "chunk_idx",
        (F.col("chunk_idx") * stride).alias("start_tok"),
        F.size(F.split("chunk_text", " ")).alias("n_tokens"),
        F.md5("chunk_text").alias("chunk_md5"),
        "chunk_text",
    )


def chunk_dedup_stats(docs: DataFrame, chunk: int = 64, stride: int = 48,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document duplicated-passage fraction over chunk_passages
    output: (id, n_chunks, n_dup_chunks, dup_frac) where a chunk is dup
    if its md5 occurs under more than one (id, chunk_idx) corpus-wide.
    The chunk-geometry twin of window_dedup_stats (which strides
    non-overlapping hash windows for span detection; this one measures
    the RAG store's redundancy before embedding spend). One frequency
    aggregation on chunk_md5 + one join back — linear, AQE-splittable
    hot hashes, same shape as window_dedup_stats."""
    ch = chunk_passages(docs, chunk, stride, id_col, text_col)
    freq = ch.groupBy("chunk_md5").agg(F.count("*").alias("freq"))
    return (
        ch.join(freq, "chunk_md5")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("freq") > 1).cast("long")).alias("n_dup_chunks"),
        )
        .select(
            "id", "n_chunks", "n_dup_chunks",
            round_he(F.col("n_dup_chunks") / F.col("n_chunks"), 4)
            .alias("dup_frac"),
        )
    )


# Unicode script ranges used by script_profile — actual characters in the
# class (not backslash escapes), so the Spark (Java regex) and DuckDB
# (RE2) twins compile the IDENTICAL class from the identical SQL/Column
# literal. BMP-only by design: Spark's length() counts codepoints via
# UTF8String.numChars and DuckDB's counts codepoints too, but keeping to
# the BMP sidesteps any grapheme-vs-codepoint edge entirely.
SCRIPT_RANGES = (
    ("latin", "A-Za-zÀ-ÖØ-öø-ɏ"),  # skips U+00D7/U+00F7 (×÷, not letters)
    ("cyrillic", "Ѐ-ӿ"),
    ("cjk", "぀-ヿ一-鿿가-힯"),
    ("arabic", "؀-ۿ"),
)


def host_quality_profile(docs: DataFrame, group_col: str = "source",
                         text_col: str = "text",
                         low_q: float = 0.5,
                         min_docs: int = 5,
                         flag_frac: float = 0.6) -> DataFrame:
    """Host/source-level quality profile — the curation tier ABOVE
    per-document gating (RefinedWeb/Dolma drop whole domains whose
    content is predominantly low quality; fetch budget then skips them
    entirely, which no per-doc filter achieves): per group, document
    count, mean lexical-diversity quality, the low-quality fraction,
    and a `flagged` verdict (>= min_docs docs AND > flag_frac of them
    below low_q — small hosts are never judged on thin evidence).

    Determinism: the mean comes from an exact integer sum of the
    4 dp-quantized per-doc qualities (the corpus_report discipline —
    never avg() of doubles), so reduce order cannot move the 4 dp
    rounding.

    Scale shape: one map-only quality projection + ONE hash aggregation
    on the group key (map-side partials); no joins, no windows.
    Compose downstream: anti-join flagged groups in frontier_next /
    ingest_delta admission the same way url_trap_stats templates are
    anti-joined.

    Output: (group, n_docs, mean_quality 4 dp, low_q_frac 4 dp,
    flagged) ordered by group.
    """
    from .sampling import doc_quality

    q = doc_quality(docs, text_col)
    q4 = F.round(q * 1e4).cast("long")
    low = (q < low_q).cast("long")
    agg = docs.select(
        F.col(group_col).alias("grp"), q4.alias("q4"), low.alias("low")
    ).groupBy("grp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("q4").alias("sum_q4"),
        F.sum("low").cast("long").alias("n_low"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        round_he(F.col("sum_q4").cast("double")
                 / F.col("n_docs").cast("double") / F.lit(1e4), 4)
        .alias("mean_quality"),
        round_he(F.col("n_low").cast("double")
                 / F.col("n_docs").cast("double"), 4)
        .alias("low_q_frac"),
        ((F.col("n_docs") >= min_docs)
         & (F.col("n_low").cast("double")
            > F.lit(flag_frac) * F.col("n_docs").cast("double")))
        .alias("flagged"),
    ).orderBy(group_col)


def script_profile(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Writing-system profile per document — the language-ID prior that
    needs no model: per-script letter counts (Latin incl. Latin-1/Ext-A
    accents, Cyrillic, CJK incl. kana+Hangul, Arabic), fractions over
    the script-letter total, and the dominant script with a fixed
    priority tie-break (latin > cyrillic > cjk > arabic — integer
    comparisons, deterministic in both engines). Docs with no script
    letters (digits/punctuation only) profile as 'none'.

    A curation pipeline reads this before langid: a doc whose dominant
    script contradicts its claimed lang metadata is mislabeled, and
    mixed-script docs (frac_dominant << 1) are the boilerplate/spam
    shape script-pure corpora want gated.

    Scale shape: MAP-ONLY — four regexp_replace+length passes per row,
    all codegen'd, no shuffle/UDF; the count expression
    length(text) - length(regexp_replace(text, '[class]', '')) removes
    the TARGET class (never negates it), so unpaired surrogates or
    supplementary codepoints outside the classes cannot skew a count.
    """
    n = F.length(F.col(text_col))
    counts = {
        name: (n - F.length(
            F.regexp_replace(F.col(text_col), f"[{cls}]", ""))
        ).alias(f"n_{name}")
        for name, cls in SCRIPT_RANGES
    }
    base = docs.select(F.col(id_col), *counts.values())
    total = sum(F.col(f"n_{name}") for name, _ in SCRIPT_RANGES)
    lat, cyr, cjk, ara = (F.col(f"n_{name}") for name, _ in SCRIPT_RANGES)
    script = (
        F.when(total == 0, F.lit("none"))
        .when((lat >= cyr) & (lat >= cjk) & (lat >= ara), F.lit("latin"))
        .when((cyr >= cjk) & (cyr >= ara), F.lit("cyrillic"))
        .when(cjk >= ara, F.lit("cjk"))
        .otherwise(F.lit("arabic"))
    )
    frac_cols = [
        round_he(
            F.when(total == 0, F.lit(0.0))
            .otherwise(F.col(f"n_{name}") / total), 4
        ).alias(f"frac_{name}")
        for name, _ in SCRIPT_RANGES
    ]
    return base.select(
        id_col,
        *[f"n_{name}" for name, _ in SCRIPT_RANGES],
        *frac_cols,
        script.alias("script"),
    )


def cdc_chunks(docs: DataFrame, g: int = 3, divisor: int = 8,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """CONTENT-DEFINED chunking (the LBFS/rsync rolling-boundary
    discipline, Muthitacharoen et al. SOSP 2001, on token grams): a
    chunk boundary falls AFTER token i exactly when the hash of the
    g-token gram ending at i is ≡ 0 mod ``divisor``. Boundaries are
    decided by LOCAL content, so inserting or deleting a token
    re-chunks only its own neighborhood — fixed-geometry
    ``chunk_passages`` shifts every downstream chunk by the edit, and
    its md5-keyed dedup goes blind the moment a page gains one banner
    token. Expected chunk length = divisor tokens (geometric), minimum
    1; the first g-1 positions cannot complete a gram and never split.

    Scale shape: tokens explode with positions, the gram is g-1 LAG()s
    concatenated (null until complete — F.concat propagates the null; a
    concat_ws would silently hash partial grams), the boundary flag is
    the shared _H32 md5 idiom, and chunk ids are a running sum over the
    strictly-preceding frame — every window PARTITIONED BY doc (bounded
    by document length, the winnowing precedent; never corpus-wide),
    then one reassembly aggregation. No UDFs, no joins.

    Returns (id, chunk_id, start_tok, n_tokens, chunk_md5, chunk_text);
    chunk_md5 keys exact chunk dedup exactly like chunk_passages'.
    """
    if g < 2 or divisor < 1:
        raise ValueError("need g >= 2 and divisor >= 1")
    from pyspark.sql import Window

    words = _words(text_col)
    toks = docs.filter(F.size(words) > 0).select(
        F.col(id_col).alias("id"),
        F.posexplode(words).alias("pos", "tok"),
    )
    w = Window.partitionBy("id").orderBy("pos")
    gram_parts: list = []
    for k in range(g - 1, 0, -1):
        gram_parts += [F.lag("tok", k).over(w), F.lit(" ")]
    gram = F.concat(*gram_parts, F.col("tok"))
    h = F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
    bf = (gram.isNotNull() & (h % divisor == 0)).cast("int")
    prev = Window.partitionBy("id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    chunked = (
        toks.withColumn("bf", bf)
        .withColumn(
            "chunk_id",
            F.coalesce(F.sum("bf").over(prev), F.lit(0)).cast("long"),
        )
    )
    txt = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))),
            lambda s: s["tok"],
        ),
        " ",
    )
    return (
        chunked.groupBy("id", "chunk_id")
        .agg(
            F.min("pos").alias("start_tok"),
            F.count("*").alias("n_tokens"),
            txt.alias("chunk_text"),
        )
        .select(
            "id", "chunk_id", "start_tok", "n_tokens",
            F.md5("chunk_text").alias("chunk_md5"), "chunk_text",
        )
    )


def cdc_dedup_stats(docs: DataFrame, g: int = 3, divisor: int = 8,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document duplicated-chunk fraction over cdc_chunks output —
    the insertion-ROBUST twin of chunk_dedup_stats: a page that gained
    a banner token still collapses onto its previous crawl's chunks
    everywhere except the edited neighborhood, so cross-crawl
    redundancy stays visible where fixed-geometry chunk dedup reads
    ~0%. Same linear shape: one chunk_md5 frequency aggregation + one
    join back."""
    ch = cdc_chunks(docs, g, divisor, id_col, text_col)
    freq = ch.groupBy("chunk_md5").agg(F.count("*").alias("freq"))
    return (
        ch.join(freq, "chunk_md5")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum((F.col("freq") > 1).cast("long")).alias("n_dup_chunks"),
        )
        .select(
            "id", "n_chunks", "n_dup_chunks",
            round_he(F.col("n_dup_chunks") / F.col("n_chunks"), 4)
            .alias("dup_frac"),
        )
    )
