"""Lexical retrieval over the corpus: inverted-index statistics, BM25
top-k scoring and exact phrase search — the sparse complement to the
dense ANN operators (simsearch.py / pq.py / hnsw.py).

Reference analog: ocr-cezam locates fields by keyword membership over
per-document token sets (utils/utils.py:30-53 trigger lookups); at corpus
scale the same capability is an inverted index + ranked retrieval.

One implementation per algorithm. ``_bm25`` is the only BM25 scorer: it
scores a (query_id, term, weight) table against (term, id, tf) postings,
and the three BM25 entry points differ only in the postings they build
and the top-k they take. ``phrase_search_multi`` is the only phrase
matcher; ``phrase_search`` runs it on one phrase.

Everything is native DataFrame ops: one explode to tokens, hash
aggregations, broadcast joins against the (tiny) query table or a
literal map for phrases. No UDFs, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.functions.numeric import round_he

# BM25 constants (Robertson et al. defaults)
BM25_K1 = 1.2
BM25_B = 0.75


def term_freqs(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(term, id, tf): whitespace tokenization, per-document term counts.

    The explode is the honest cost (|words| rows per doc); the immediate
    groupBy(term, id) combines map-side, so the shuffle carries one row
    per distinct (term, doc) — bounded by vocabulary x docs, far below
    token count on natural text.
    """
    return (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("term", id_col)
        .agg(F.count("*").alias("tf"))
    )


def inverted_index_stats(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Per-term postings statistics: document frequency, total term
    frequency, and the champion document (highest tf, id as tie-break —
    the 'champion list' head used by WAND-style query pruning).

    Scale shape: two hash aggregations on the term key. A full postings
    *list* (collect_list per term) would put a stopword's millions of
    postings in one aggregation buffer — deliberately NOT materialized
    here; downstream consumers join term_freqs by term instead (Spark
    keeps that shuffled, never assembled in memory).
    """
    tf = term_freqs(docs, id_col, text_col)
    return tf.groupBy("term").agg(
        F.count("*").alias("doc_freq"),
        F.sum("tf").alias("total_tf"),
        F.max(F.struct(F.col("tf"), F.col(id_col))).alias("_champ"),
    ).select(
        "term", "doc_freq", "total_tf",
        F.col(f"_champ.{id_col}").alias("champion_doc"),
        F.col("_champ.tf").alias("champion_tf"),
    )


def _bm25(postings: DataFrame, queries: DataFrame, id_col: str,
          k1: float, b: float) -> DataFrame:
    """Score every query against every document it matches:
    (term, id, tf) postings x (query_id, term, weight) queries ->
    (query_id, id, score, n_matched).

    score = sum over the query's matching terms of
        weight * idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    with idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)  (Lucene form),
    score rounded half-even to 4 dp. ``queries`` must hold one row per
    (query_id, term).

    Scale shape: every branch derives from the ONE postings aggregation
    (its exchange is shared — ReusedExchange under AQE). Doc lengths are
    sum(tf) per doc, so N counts docs with at least one token, the only
    kind that can match. df is a left-semi join of the postings against
    the broadcast query table (no distinct over the queries, no extra
    shuffle); N/avgdl ride a 1-row broadcast crossJoin; scoring joins
    the postings to the broadcast query table — one row per (matching
    term, doc, query) — and aggregates on (query_id, doc).
    """
    dl = postings.groupBy(id_col).agg(
        F.sum("tf").cast("double").alias("dl")
    )
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    df_t = (
        postings.join(F.broadcast(queries), "term", "left_semi")
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
    )
    return (
        postings.join(F.broadcast(queries), "term")
        .join(F.broadcast(df_t), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            F.col(id_col),
            (
                F.col("weight")
                * F.log((F.col("n_docs") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5) + 1.0)
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf")
                   + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("part"),
        )
        .groupBy("query_id", id_col)
        .agg(
            round_he(F.sum("part"), 4).alias("score"),
            F.count("*").alias("n_matched"),
        )
    )


def _bm25_terms_topk(postings: DataFrame, query_terms: list[str], k: int,
                     id_col: str, k1: float, b: float) -> DataFrame:
    """One bag-of-terms query through ``_bm25``: the distinct terms as
    query 0 at weight 1.0 (1.0 * idf is exact, so the scores equal an
    unweighted sum), then a TakeOrdered top-k — (id, score, n_matched),
    ties broken by id ascending."""
    q = postings.sparkSession.createDataFrame(
        [(t,) for t in dict.fromkeys(query_terms)], "term string"
    ).select(F.lit(0).alias("query_id"), "term",
             F.lit(1.0).alias("weight"))
    return (
        _bm25(postings, q, id_col, k1, b)
        .select(id_col, "score", "n_matched")
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
              id_col: str = "doc_id", text_col: str = "text",
              k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """BM25 ranking of documents against a bag-of-terms query: the
    multi-query scorer (``_bm25``, Lucene-form idf) run on ONE query
    whose terms all weigh 1.0, over the ``term_freqs`` postings.

    Duplicate query terms are deduplicated (a bag-of-terms query;
    weighted queries go through ``bm25_multi_topk`` with an explicit
    weight column instead). An empty term list returns no rows. Top-k
    is TakeOrdered (no global sort).

    Output: (id, score, n_matched) for the k best documents,
    score rounded to 4 dp, ties broken by id ascending.
    """
    return _bm25_terms_topk(term_freqs(docs, id_col, text_col),
                            query_terms, k, id_col, k1, b)


def bm25f_topk(docs: DataFrame, query_terms: list[str], k: int = 10,
               title_words: int = 8, w_title: float = 2.0,
               w_body: float = 1.0, id_col: str = "doc_id",
               text_col: str = "text",
               k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Fielded BM25 — the "simple BM25F" of Robertson, Zaragoza &
    Taylor (CIKM 2004): weight term occurrences BY FIELD before the
    saturation, never after (summing per-field BM25 scores double-
    saturates and is the paper's anti-pattern). A hit in the title
    region counts w_title, a body hit w_body; document length becomes
    the same weighted sum, so the k1/b machinery is unchanged.

    The title field here is the first ``title_words`` tokens (a honest
    stand-in over the flat documents table); production callers pass
    the kernel's extract_headings text as the title stream instead —
    the fielded aggregation below is identical either way.

    Determinism: the weighted tf is a sum of w_title/w_body doubles —
    with the default 2.0/1.0 weights every partial is an exact small
    integer in double, so Spark's reduce order cannot perturb it.

    Only the postings differ from ``bm25_topk``: ONE fielded
    term-frequency aggregation is scored by the same single-query path
    (``_bm25`` on one weight-1.0 query, TakeOrdered top-k); with
    w_title = w_body = 1.0 the two return the same rows.

    Output: (id, score 4 dp, n_matched), ties broken by id ascending.
    """
    weight = F.when(F.col("pos") < title_words, F.lit(w_title)) \
        .otherwise(F.lit(w_body))
    wtf = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
        .groupBy("term", id_col)
        .agg(F.sum(weight).alias("tf"))
    )
    return _bm25_terms_topk(wtf, query_terms, k, id_col, k1, b)


def bm25_multi_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "doc_id", text_col: str = "text",
                    k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Weighted multi-query BM25: score THOUSANDS of queries against the
    corpus in ONE job — a retrieval pipeline never loops ``bm25_topk``
    per query.

    ``queries``: (query_id, term, weight) — weights scale each term's
    contribution (duplicate (query_id, term) rows sum their weights, the
    bag-of-terms multiplicity made explicit). Per-query score(d) =
    sum over the query's terms of weight * idf * tf-saturation, computed
    by the same scorer (``_bm25``) as ``bm25_topk``, which is this
    function on one weight-1.0 query.

    Scale shape: the query table broadcasts (it is tiny next to the
    corpus) against the ONE term_freqs aggregation. Per-query top-k is
    a row_number window on query_id, which Spark compiles to
    WindowGroupLimit (map-side per-partition top-k before the shuffle —
    the domain_quota_sample pattern), so no global sort and no
    per-query jobs. Output: (query_id, rank, id, score, n_matched).
    """
    q = (
        queries.groupBy("query_id", "term")
        .agg(F.sum("weight").cast("double").alias("weight"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        _bm25(term_freqs(docs, id_col, text_col), q, id_col, k1, b)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "score", "n_matched")
    )


def phrase_search_multi(docs: DataFrame, phrases: list[str],
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Exact PHRASE matching for MANY phrases in ONE corpus scan via a
    positional index — the retrieval capability bag-of-terms BM25
    cannot express ("new york" as a unit, quoted-query semantics,
    n-gram counting for decontamination by phrase rather than by
    whole-doc digest). Looping a single-phrase operator would scan the
    corpus once per phrase.

    Algorithm (the classic positional-postings intersection, re-shaped
    shuffle-free beyond one aggregation): tokenize with positions, keep
    ONLY tokens in the phrase vocabulary (an ``isin`` scan-level filter
    — phrase terms are a vanishing fraction of a web corpus), and look
    each token up in ONE literal map term -> [(phrase_id, slot, m)]
    (m = the phrase's length). A hit at position p for slot i is a
    CANDIDATE ALIGNMENT (doc, phrase, start = p - i); an alignment
    where all m slots are present is an exact occurrence: one hash
    aggregation on (doc, phrase, start) counting distinct slots. No
    joins at all (neither the textbook m-way self-join chain nor a
    broadcast phrase table), no window. Repeated words in a phrase are
    handled by the slot-distinct count (the same token hit can serve
    two slots only at two different starts).

    Returns (phrase_id, id, n_hits, first_start) ordered by
    (phrase_id, id). Phrases are indexed by their position in
    ``phrases``; an empty list returns no rows, a blank phrase raises
    ValueError. Position arithmetic is on the whitespace token stream —
    the same tokenization every other text operator here uses.

    Known limit: the literal map is planned as one expression, so
    planning cost grows with the phrase count. Measured on local[4]
    over the sf0.1 documents with random 2-4-word phrases: about 1.2 s
    of planning for 50 phrases, 3.7 s for 500 and 14 s for 2,000
    (runs of 3 s, 12 s and 73 s). A broadcast (phrase_id, slot, term)
    table plans faster at those sizes but adds a broadcast job, a fixed
    cost every single-phrase call would pay.
    """
    slots: dict[str, list] = {}
    for pid, phrase in enumerate(phrases):
        terms = [t for t in phrase.split(" ") if t != ""]
        if not terms:
            raise ValueError(f"empty phrase at index {pid}")
        for i, t in enumerate(terms):
            slots.setdefault(t, []).append(F.struct(
                F.lit(pid).alias("phrase_id"), F.lit(i).alias("slot"),
                F.lit(len(terms)).alias("m"),
            ))
    # the cast types the map even when it is empty (no phrases)
    slot_map = F.create_map(*[
        x for t, s in slots.items() for x in (F.lit(t), F.array(*s))
    ]).cast("map<string,array<struct<phrase_id:int,slot:int,m:int>>>")
    cand = (
        docs.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
        )
        .filter(F.col("tok").isin(list(slots)))
        .select("id", "pos",
                F.explode(F.element_at(slot_map, F.col("tok"))).alias("s"))
        .select("id", "s.phrase_id", "s.slot", "s.m",
                (F.col("pos") - F.col("s.slot")).alias("start"))
        .filter(F.col("start") >= 0)
    )
    hits = (
        cand.groupBy("id", "phrase_id", "m", "start")
        .agg(F.countDistinct("slot").alias("n_slots"))
        .filter(F.col("n_slots") == F.col("m"))
    )
    return (
        hits.groupBy("phrase_id", "id")
        .agg(
            F.count("*").alias("n_hits"),
            F.min("start").alias("first_start"),
        )
        .orderBy("phrase_id", "id")
    )


def phrase_search(docs: DataFrame, phrase: str,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Exact matching for ONE phrase: ``phrase_search_multi`` run on
    ``[phrase]`` (same slot-alignment algorithm, same join-free plan).

    Returns (id, n_hits, first_start) per matching document, ordered by
    id; a blank phrase raises ValueError.
    """
    return (
        phrase_search_multi(docs, [phrase], id_col, text_col)
        .select("id", "n_hits", "first_start")
        .orderBy("id")
    )
