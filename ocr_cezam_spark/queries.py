"""Query registry: every operator exposed as (spark, sf_dir) -> DataFrame
plus a DuckDB oracle SQL twin (SURVEY.md section 5, operator-level tests).

Conventions that keep the cross-engine value-hash stable:
- every computed column aliased identically in Spark and SQL;
- money/score floats rounded (2-4 dp) — float sums are order-dependent
  across partitions, rounding far above the accumulation error;
- hashes via md5 (bit-identical in Spark and DuckDB); integer hashes via
  conv(md5-prefix, 16, 10) == ('0x' || prefix)::BIGINT;
- thresholds compared on unrounded values in both engines.

Kernel-backed queries (extraction itself) are not SQL-expressible; two of
them are checked against *frozen goldens* computed by the pure-Python
kernel (tools/freeze_golden.py -> golden/*.parquet, read by DuckDB via
read_parquet); the rest are rows-only. Honesty note on what the golden
checks prove: the Spark path wraps the SAME kernel in mapInArrow, so the
golden comparison verifies distribution correctness (batching,
partitioning, salting, resume never change a byte) and golden freshness —
NOT kernel semantics, which a kernel bug would encode identically on both
sides. Kernel semantics are covered by the kernel unit/property tests and
by the NATIVE relational twins (solde_native, doc_kind, date_field_native,
key_value_fields, ...) that re-derive the same answers from first
principles in Spark SQL against the goldens.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.functions.numeric import round_he

from . import skew
from .corpus import corpus_df
from .operators import dedup, hnsw, multimodal, pipeline, relational, simsearch, textstats
from .operators import extract as X

KERNEL_N = 400  # corpus size for kernel-backed queries
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN_DIR = os.path.join(_REPO, "golden")

QueryFn = Callable[[SparkSession, str], DataFrame]
QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, fn: QueryFn, oracle: str | None) -> None:
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


# Tables whose consumers are CPU-BOUND per row (shingle md5 passes,
# simhash votes, quality stats, interpreted vector math), mapped to the
# unique id column the _spread parallelism floor hashes on. The relational
# tables (lineitem, orders, events, ...) stay unspread — their queries are
# scan+aggregate shapes where partial aggregation already collapses the
# single-split input and a corpus-wide repartition costs more than it buys
# (measured 0.4s -> 1.0s on pricing_summary).
_SPREAD_TABLES = {"documents": "doc_id", "embeddings": "vec_id"}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    key = _SPREAD_TABLES.get(name)
    return df if key is None else _spread(df, key)


def _t_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Unspread read — for the LIGHT document consumers (single digest
    aggregations, tiny-k sketches, url bookkeeping) where the _spread
    shuffle costs more than their whole single-task plan; measured
    query-by-query against the r7 bench (each opted-out query regressed
    >= 1.2x with the floor, each spread query improved)."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Scale-adaptive input-parallelism floor (optimization guide section
    2.5, input skew: "one huge unsplittable file ... repartition
    immediately after the read"). The sf test tables are single-file,
    SINGLE-ROW-GROUP parquets, so every scan is structurally one task no
    matter how small spark.sql.files.maxPartitionBytes is set — which
    capped every CPU-heavy per-row stage (shingle md5, simhash votes,
    quality stats) at 1-2 of the session's cores. Repartition to the
    default parallelism ONLY when the scan is under-partitioned; on a
    production multi-file table the scan already carries more splits
    than cores and this is a no-op (no shuffle added at scale). Results
    are partitioning-independent: every registered query's output is
    hash-checked order-insensitively and all rank/limit paths order
    explicitly."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        # hash-repartition on the unique id rather than round-robin:
        # keyless repartition(n) first pays a LOCAL SORT of its input
        # (sortBeforeRepartition, for retry determinism) which would run
        # single-threaded inside the one under-partitioned scan task —
        # measured 3-4x slower than the hash spread on the 600k-row
        # table. A unique key cannot skew, and because the partitioning
        # expression references only that column, a consumer's select
        # still prunes the scan to the columns it reads.
        return df.repartition(n, F.col(key))
    return df


def _cloned_docs(spark: SparkSession, sf_dir: str,
                 spread: bool = True) -> DataFrame:
    """documents plus an exact clone of every doc at doc_id+1000000 —
    guarantees every dedup query has true duplicates to find.
    ``spread=False`` for light consumers (exact_dedup's single digest
    aggregation) where the parallelism floor costs more than it buys."""
    t = _t if spread else _t_raw
    d = t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    clone = d.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "source"
    )
    return d.unionByName(clone)


_CLONED_SQL = (
    "SELECT doc_id, text, source FROM documents "
    "UNION ALL SELECT doc_id + 1000000 AS doc_id, text, source FROM documents"
)

# ===========================================================================
# Relational operators (driver TPC-H-ish tables)
# ===========================================================================

_register(
    "pricing_summary",
    lambda s, d: relational.pricing_summary(_t(s, d, "lineitem")),
    """
    SELECT l_returnflag, l_linestatus,
           floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty,
           floor((sum(l_extendedprice)) * 1e2 + 0.5) / 1e2 AS sum_base_price,
           floor((sum(l_extendedprice * (1 - l_discount))) * 1e2 + 0.5) / 1e2 AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)

_register(
    "top_revenue_customers",
    lambda s, d: relational.top_revenue_customers(
        _t(s, d, "orders"), _t(s, d, "customer")
    ),
    """
    WITH rev AS (
      SELECT o_custkey, floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS revenue,
             count(*) AS n_orders
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY revenue DESC, o_custkey ASC) AS rank
      FROM rev
    )
    SELECT rank, o_custkey, c_name, revenue, n_orders
    FROM ranked JOIN customer ON o_custkey = c_custkey
    WHERE rank <= 10 ORDER BY rank
    """,
)

_register(
    "region_rollup",
    lambda s, d: relational.region_rollup(
        _t(s, d, "customer"), _t(s, d, "nation"), _t(s, d, "region")
    ),
    """
    SELECT r_name, n_name, count(*) AS n_customers,
           floor(avg(c_acctbal) * 100 + 0.5) / 100 AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name ORDER BY r_name, n_name
    """,
)

_register(
    "running_balance",
    lambda s, d: relational.running_balance(_t(s, d, "orders")),
    """
    SELECT o_custkey, o_orderkey,
           row_number() OVER w AS rn,
           floor((sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1e2 + 0.5) / 1e2
             AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)

_register(
    "sessionize",
    lambda s, d: relational.sessionize(_t(s, d, "events")),
    """
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch(ts) - lag(epoch(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), with_id AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           floor((sum(value)) * 1e2 + 0.5) / 1e2 AS session_value
    FROM with_id GROUP BY user_id, session_id
    """,
)

_register(
    "event_transitions",
    lambda s, d: relational.event_transitions(_t(s, d, "events")),
    """
    WITH nxt AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type, next_type, count(*) AS n
    FROM nxt WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type ORDER BY event_type, next_type
    """,
)

_register(
    "union_by_arity",
    lambda s, d: relational.union_by_arity(_t(s, d, "orders"), _t(s, d, "lineitem")),
    """
    WITH u AS (
      SELECT o_orderkey AS k, o_totalprice AS v, 'orders' AS src FROM orders
      UNION ALL
      SELECT l_orderkey, l_extendedprice, 'lineitem' FROM lineitem
    )
    SELECT src, count(*) AS n_rows, floor((sum(v)) * 1e2 + 0.5) / 1e2 AS total_v
    FROM u GROUP BY src ORDER BY src
    """,
)

_register(
    "code_semijoin_lead",
    lambda s, d: relational.code_semijoin_lead(_t(s, d, "lineitem"), s),
    """
    WITH w AS (
      SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INT) AS qty,
             floor((lead(l_extendedprice) OVER (PARTITION BY l_orderkey
                   ORDER BY l_linenumber, l_partkey, l_extendedprice)) * 1e2 + 0.5) / 1e2
               AS next_price
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, qty AS code, next_price
    FROM w WHERE qty IN (10, 20, 30) AND next_price IS NOT NULL
    """,
)

_register(
    "value_bucket_join",
    lambda s, d: relational.value_bucket_join(_t(s, d, "events"), s),
    """
    WITH buckets AS (
      SELECT CAST(i AS INT) AS bucket_id, i * 10.0 AS lo, (i + 1) * 10.0 AS hi
      FROM (SELECT unnest(range(0, 10)) AS i)
    )
    SELECT bucket_id, count(*) AS n_events, floor((avg(value)) * 1e2 + 0.5) / 1e2 AS avg_value
    FROM events JOIN buckets ON value >= lo AND value < hi
    GROUP BY bucket_id ORDER BY bucket_id
    """,
)

_register(
    "statement_reconciliation",
    lambda s, d: relational.statement_reconciliation(_t(s, d, "orders")),
    """
    WITH per_cust AS (
      SELECT o_custkey,
             sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END) AS deb,
             sum(CASE WHEN o_orderstatus <> 'F' THEN o_totalprice ELSE 0.0 END) AS cred,
             count(*) AS n_rows
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, n_rows,
           floor((1000.0 + deb - cred) * 1e2 + 0.5) / 1e2 AS computed_closing,
           floor((1000.0 + deb - cred
                 + CASE WHEN o_custkey % 10 = 0 THEN 7.77 ELSE 0.0 END) * 1e2 + 0.5) / 1e2
             AS reported_closing,
           CASE WHEN floor((1000.0 + deb - cred) * 1e2 + 0.5) / 1e2
                   = floor((1000.0 + deb - cred
                     + CASE WHEN o_custkey % 10 = 0 THEN 7.77 ELSE 0.0 END) * 1e2 + 0.5) / 1e2
                THEN 'Success' ELSE 'Error' END AS verdict
    FROM per_cust
    """,
)

_register(
    "line_grouping",
    lambda s, d: relational.line_grouping(_t(s, d, "documents")),
    """
    WITH toks AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) AS pos,
             unnest(string_split(text, ' ')) AS word
      FROM documents
    ), lines AS (
      SELECT doc_id, pos,
             sum(CASE WHEN word = 'the' THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS line_id
      FROM toks
    )
    SELECT doc_id, CAST(line_id AS BIGINT) AS line_id, count(*) AS n_words
    FROM lines GROUP BY doc_id, line_id
    """,
)

_register(
    "percentile_stats",
    lambda s, d: _t(s, d, "lineitem")
    .groupBy("l_returnflag")
    .agg(
        round_he(F.median("l_extendedprice"), 4).alias("med_price"),
        round_he(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        round_he(F.min("l_extendedprice"), 2).alias("min_price"),
        round_he(F.max("l_extendedprice"), 2).alias("max_price"),
    )
    .orderBy("l_returnflag"),
    """
    SELECT l_returnflag,
           floor((median(l_extendedprice)) * 1e4 + 0.5) / 1e4 AS med_price,
           floor((quantile_cont(l_extendedprice, 0.9)) * 1e4 + 0.5) / 1e4 AS p90_price,
           floor((min(l_extendedprice)) * 1e2 + 0.5) / 1e2 AS min_price,
           floor((max(l_extendedprice)) * 1e2 + 0.5) / 1e2 AS max_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)

_register(
    "cube_counts",
    lambda s, d: _t(s, d, "events")
    .cube("event_type", F.hour("ts").alias("hr"))
    .agg(F.count("*").alias("n"))
    .orderBy("event_type", "hr"),
    """
    SELECT event_type, CAST(hour(ts) AS INT) AS hr, count(*) AS n
    FROM events GROUP BY CUBE (event_type, hour(ts))
    ORDER BY event_type, hr
    """,
)

_register(
    "distinct_users",
    lambda s, d: _t(s, d, "events")
    .groupBy("event_type")
    .agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )
    .orderBy("event_type"),
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)

# ===========================================================================
# Text analysis / quality / language id / fingerprint
# ===========================================================================

# Fixtures for the quality/flag queries inject deterministic dirt so the
# FLAG columns discriminate (on the raw corpus every flag was constant,
# leaving inverted comparisons invisible to the hash gate): short docs
# and overlong-word tails for token_quality, digit floods and long words
# for gopher, a repeated-trigram tail for repetition_stats, language
# marker tails (and an es/de tie) for langid, and a skewed source map
# with one source EXACTLY on the 5% threshold for source_skew_stats.
_TQ_LONG_TAIL = " " + " ".join(["x" * 40] * 25)
_GQ_DIGIT_TAIL = " " + " ".join(str(11 * (i % 9 + 1)) for i in range(45))
_REP_TAIL = " " + " ".join(["rep"] * 60)
_LANG_TAILS = {
    1: " " + " ".join(["le", "et", "est"] * 12),
    2: " " + " ".join(["der", "und", "ist"] * 12),
    3: " " + " ".join(["el", "y", "de"] * 12),
    9: " " + " ".join(["el", "y", "der", "und"] * 15),
}
_TQ_SHORT = "court texte de cinq mots"


def _tq_docs(s: SparkSession, d: str) -> DataFrame:
    doc_id = F.col("doc_id")
    return _t_raw(s, d, "documents").select(
        "doc_id",
        F.when(doc_id % 10 == 7, F.lit(_TQ_SHORT))
        .when(doc_id % 9 == 4, F.concat("text", F.lit(_TQ_LONG_TAIL)))
        .otherwise(F.col("text")).alias("text"),
    )


_TQ_SQL_CORPUS = f"""
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 7 THEN '{_TQ_SHORT}'
                  WHEN doc_id % 9 = 4 THEN text || '{_TQ_LONG_TAIL}'
                  ELSE text END AS text
      FROM documents
"""

_register(
    "token_quality",
    lambda s, d: textstats.token_quality(_tq_docs(s, d)),
    f"""
    WITH corpus AS ({_TQ_SQL_CORPUS}),
    base AS (
      SELECT doc_id, string_split(text, ' ') AS words, length(text) AS n_chars
      FROM corpus
    ), m AS (
      SELECT doc_id, CAST(len(words) AS INT) AS n_tokens,
             CAST(len(list_filter(words, w -> w IN
                 ('the','a','of','and','to','in','is'))) AS INT) AS n_stopwords,
             (n_chars - (len(words) - 1)) / len(words) AS awl_raw
      FROM base
    )
    SELECT doc_id, n_tokens, n_stopwords,
           floor((CAST(n_stopwords AS DOUBLE) / n_tokens) * 1e3 + 0.5) / 1e3 AS stopword_ratio,
           floor((awl_raw) * 1e3 + 0.5) / 1e3 AS avg_word_len,
           CAST(n_tokens >= 10 AND floor((awl_raw) * 1e3 + 0.5) / 1e3 >= 2.0
                AND floor((awl_raw) * 1e3 + 0.5) / 1e3 <= 12.0 AS INT) AS quality_ok
    FROM m
    """,
)


def _langid_oracle() -> str:
    score = {
        lang: (
            "CAST(len(list_filter(words, w -> w IN ("
            + ",".join(f"'{w}'" for w in markers)
            + "))) AS INT)"
        )
        for lang, markers in textstats.LANG_MARKERS.items()
    }
    tails = " ".join(
        f"WHEN doc_id % 10 = {k} THEN text || '{t}'"
        for k, t in sorted(_LANG_TAILS.items())
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, CASE {tails} ELSE text END AS text FROM documents
    ),
    base AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM corpus
    ), sc AS (
      SELECT doc_id, {score['en']} AS score_en, {score['es']} AS score_es,
             {score['de']} AS score_de, {score['fr']} AS score_fr
      FROM base
    )
    SELECT doc_id, score_en, score_es, score_de, score_fr,
           CASE WHEN score_en >= score_es AND score_en >= score_de
                     AND score_en >= score_fr THEN 'en'
                WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
                WHEN score_de >= score_fr THEN 'de'
                ELSE 'fr' END AS pred_lang
    FROM sc
    """


def _langid_docs(s: SparkSession, d: str) -> DataFrame:
    doc_id = F.col("doc_id")
    expr = F.col("text")
    for k, t in sorted(_LANG_TAILS.items(), reverse=True):
        expr = F.when(doc_id % 10 == k, F.concat("text", F.lit(t))).otherwise(expr)
    return _t(s, d, "documents").select("doc_id", expr.alias("text"))


_register(
    "langid",
    lambda s, d: textstats.langid(_langid_docs(s, d)),
    _langid_oracle(),
)

_register(
    "fingerprint",
    lambda s, d: textstats.fingerprint(_t(s, d, "documents")),
    """
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    )
    SELECT doc_id,
           list_aggregate(list_transform(words,
             w -> ('0x' || substr(md5(w), 1, 15))::BIGINT), 'min') AS fp_min,
           list_aggregate(list_transform(words,
             w -> ('0x' || substr(md5(w), 1, 15))::BIGINT), 'max') AS fp_max,
           CAST(len(list_distinct(words)) AS INT) AS n_distinct_tokens
    FROM base
    """,
)

def _hash_embedding_oracle(dim: int = 16) -> str:
    highs = ",".join(f"'{h}'" for h in textstats.HEX_HIGH)
    cols = ",\n           ".join(
        f"CAST(COALESCE(SUM(CASE WHEN bucket = {i} THEN sign END), 0) AS BIGINT) AS f{i}"
        for i in range(dim)
    )
    return f"""
    WITH ex AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), f AS (
      SELECT doc_id,
             ('0x' || substr(md5(w), 1, 4))::INT % {dim} AS bucket,
             CASE WHEN substr(md5(w), 5, 1) IN ({highs}) THEN 1 ELSE -1 END AS sign
      FROM ex
    )
    SELECT doc_id, {cols}
    FROM f GROUP BY doc_id
    """


_register(
    "hash_embedding",
    lambda s, d: textstats.hash_embedding(_t(s, d, "documents")),
    _hash_embedding_oracle(),
)

_SHINGLE_SQL = (
    "list_transform(range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1), "
    "i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' '))"
)

def _rep_docs(s: SparkSession, d: str) -> DataFrame:
    doc_id = F.col("doc_id")
    return _t(s, d, "documents").select(
        "doc_id",
        F.when(doc_id % 8 == 6, F.concat("text", F.lit(_REP_TAIL)))
        .otherwise(F.col("text")).alias("text"),
    )


_REP_SQL_CORPUS = f"""
      SELECT doc_id,
             CASE WHEN doc_id % 8 = 6 THEN text || '{_REP_TAIL}'
                  ELSE text END AS text
      FROM documents
"""

# Dolma/RefinedWeb-style duplicated-n-gram TAGGING (vs removal): fixture
# clones every third doc so true cross-doc duplicates exist (clones score
# 1.0) while the rest measure natural trigram overlap. The oracle
# re-implements the whole chain (per-doc distinct grams, corpus count,
# join back, left-join zero fill) independently in DuckDB.
def _dup_ngram_docs(s: SparkSession, d: str) -> DataFrame:
    base = _t(s, d, "documents").select("doc_id", "text")
    clone = base.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return base.unionByName(clone)


# Winnowing (MOSS) fingerprint selection — integer-exact, both engines
# rank min(struct(h, -pos)) so the rightmost-tie rule cannot drift.
_register(
    "winnowing_fingerprints",
    lambda s, d: textstats.winnowing_fingerprints(
        _t(s, d, "documents").select("doc_id", "text")
    ),
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), gram_rows AS (
      SELECT doc_id, unnest(range(1, len(w) - 2)) AS pos, w
      FROM toks WHERE len(w) >= 4
    ), hashed AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(array_to_string(w[pos:pos+3], ' ')),
                             1, 15))::BIGINT AS h
      FROM gram_rows
    ), sel AS (
      SELECT doc_id, pos AS start,
             min({'h': h, 'np': -pos}) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS m,
             max(pos) OVER (PARTITION BY doc_id) AS last_pos
      FROM hashed
    )
    SELECT DISTINCT doc_id, -(m.np) AS pos, m.h AS fp
    FROM sel WHERE start <= last_pos - 4
    """,
)


# MOSS match detection over the clone corpus: clones share every
# fingerprint, unrelated docs share none beyond stop-phrase collisions;
# the >= 2 shared floor and the bucket cap mirror the operator exactly.
_register(
    "winnowing_pairs",
    lambda s, d: dedup.winnowing_pairs(_dup_ngram_docs(s, d)),
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 3 = 0
    ), toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM corpus
    ), gram_rows AS (
      SELECT doc_id, unnest(range(1, len(w) - 2)) AS pos, w
      FROM toks WHERE len(w) >= 4
    ), hashed AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(array_to_string(w[pos:pos+3], ' ')),
                             1, 15))::BIGINT AS h
      FROM gram_rows
    ), sel AS (
      SELECT doc_id, pos AS start,
             min({'h': h, 'np': -pos}) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS m,
             max(pos) OVER (PARTITION BY doc_id) AS last_pos
      FROM hashed
    ), fps AS (
      SELECT DISTINCT doc_id, m.h AS fp FROM sel WHERE start <= last_pos - 4
    ), small AS (
      SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50
    ), capped AS (
      SELECT f.doc_id, f.fp FROM fps f JOIN small USING (fp)
    )
    SELECT l.doc_id AS a, r.doc_id AS b,
           CAST(count(*) AS INT) AS n_shared
    FROM capped l JOIN capped r ON l.fp = r.fp AND l.doc_id < r.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)


# Exact-substring span REMOVAL over the same clone corpus the tagging
# query uses: the cloned docs make every 5-gram of a doc_id%3==0 doc
# cross-doc duplicated, so those docs clean to '' while the rest keep
# their unique runs. All-integer/string — hash-exact with no rounding.
_register(
    "substring_span_dedup",
    lambda s, d: dedup.substring_span_dedup(_dup_ngram_docs(s, d)),
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 3 = 0
    ), toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM corpus
    ), pg AS (
      SELECT doc_id, unnest(range(1, len(w) - 3)) AS pos, w
      FROM toks WHERE len(w) >= 5
    ), pos_gram AS (
      SELECT doc_id, pos, array_to_string(w[pos:pos+4], ' ') AS gram
      FROM pg
    ), dup AS (
      SELECT gram FROM pos_gram
      GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ), covered AS (
      SELECT DISTINCT p.doc_id, unnest(range(p.pos, p.pos + 5)) AS pos
      FROM pos_gram p JOIN dup USING (gram)
    ), word_rows AS (
      SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos, w
      FROM toks
    ), kept AS (
      SELECT r.doc_id, r.pos, r.w[r.pos] AS word
      FROM word_rows r
      ANTI JOIN covered c ON r.doc_id = c.doc_id AND r.pos = c.pos
    ), clean AS (
      SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
             string_agg(word, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(t.w) AS INT) AS n_words,
           CAST(len(t.w) - coalesce(c.n_kept, 0) AS INT) AS n_removed,
           coalesce(c.clean_text, '') AS clean_text
    FROM toks t LEFT JOIN clean c USING (doc_id)
    """,
)


_register(
    "dup_ngram_fraction",
    lambda s, d: textstats.dup_ngram_fraction(_dup_ngram_docs(s, d)),
    """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
      WHERE doc_id % 3 = 0
    ), toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM corpus
    ), idx AS (
      SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
      FROM toks WHERE len(w) >= 3
    ), grams AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
      FROM idx
    ), cnt AS (
      SELECT gram, count(*) AS n_docs FROM grams GROUP BY gram
    ), per AS (
      SELECT g.doc_id, CAST(count(*) AS INT) AS n_grams,
             CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS INT)
               AS n_dup_grams
      FROM grams g JOIN cnt c USING (gram) GROUP BY g.doc_id
    )
    SELECT c.doc_id,
           coalesce(p.n_grams, 0) AS n_grams,
           coalesce(p.n_dup_grams, 0) AS n_dup_grams,
           coalesce(floor((p.n_dup_grams * 1.0 / p.n_grams) * 1e4 + 0.5)
                      / 1e4, 0.0) AS dup_fraction
    FROM corpus c LEFT JOIN per p USING (doc_id)
    """,
)


# Point-in-time attribution: each purchase joined to the user's latest
# at-or-before click (pandas merge_asof 'backward'; kdb aj). The Spark
# side is relational.asof_join's union+window linear form — Spark has no
# native as-of and the naive theta-join goes quadratic on hot users. The
# oracle is DuckDB's NATIVE `ASOF LEFT JOIN` — a fully independent
# engine implementation of the semantics, not a twin of our algorithm.
# Clicks collapse to max(event_id) per (user, ts) first in BOTH engines:
# equal-ts winners are otherwise unspecified in DuckDB's ASOF.
def _asof_click_attribution(s: SparkSession, d: str) -> DataFrame:
    ev = _t(s, d, "events")
    # microseconds, not seconds: DuckDB's epoch() ROUNDS fractional
    # seconds while Spark's long cast truncates, and second-granularity
    # ordering would leave sub-second ties engine-defined
    epoch = F.unix_micros(F.col("ts").cast("timestamp"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", epoch.alias("ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", epoch.alias("ts"))
        .agg(F.max("event_id").alias("click_id"))
    )
    return relational.asof_join(purchases, clicks, "user_id").select(
        "user_id", "ts", "purchase_id", "purchase_value",
        "matched_ts", "click_id",
    )


_register(
    "asof_click_attribution",
    _asof_click_attribution,
    """
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS ts,
             event_id AS purchase_id, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, epoch_us(ts) AS ts,
             max(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    )
    SELECT p.user_id, p.ts, p.purchase_id, p.purchase_value,
           c.ts AS matched_ts, c.click_id
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)


# Dispatch x completion fetch matching — the BATCH TWIN of
# streaming/fetch_join_stream.py's watermarked stream-stream join (the
# pytest there proves stream-final == this predicate row-for-row; this
# entry gives the same semantics a driver-visible hash oracle). Views
# play frontier dispatches, clicks play fetch completions; a completion
# matches every dispatch of its host within the horizon.
# The equi-key (url) makes it a plain hash/sort-merge join with the
# horizon as a residual range filter — never a nested loop. latency_ms
# divides an exact integer µs diff by 1000: Spark's long cast truncates
# and DuckDB's // floors, identical for the non-negative diffs the
# predicate guarantees.
def _fetch_join(s: SparkSession, d: str) -> DataFrame:
    from .streaming.fetch_join_stream import fetch_join_batch
    ev = _t(s, d, "events")
    url = F.concat(F.lit("https://h"), F.col("user_id").cast("string"),
                   F.lit(".example/"))
    ts = F.col("ts").cast("timestamp")  # parquet reads as TIMESTAMP_NTZ
    dispatches = ev.filter(F.col("event_type") == "view").select(
        url.alias("d_url"), ts.alias("dispatch_ts"))
    completions = ev.filter(F.col("event_type") == "click").select(
        url.alias("c_url"), ts.alias("fetch_ts"),
        F.when(F.col("value") > 150, 503).otherwise(200)
        .alias("http_status"))
    # 12h horizon: the testdata's event spacing is ~minutes-to-hours per
    # user; the streaming default (10 min) would match only 6 rows at
    # sf0.01, which exercises nothing
    out = fetch_join_batch(dispatches, completions, horizon="12 hours")
    return out.select(
        "url",
        F.unix_micros("dispatch_ts").alias("dispatch_us"),
        F.unix_micros("fetch_ts").alias("fetch_us"),
        "latency_ms", "http_status",
    )


_register(
    "fetch_join",
    _fetch_join,
    """
    WITH d AS (
      SELECT 'https://h' || user_id || '.example/' AS url,
             ts AS dispatch_ts
      FROM events WHERE event_type = 'view'
    ), c AS (
      SELECT 'https://h' || user_id || '.example/' AS url,
             ts AS fetch_ts,
             CASE WHEN value > 150 THEN 503 ELSE 200 END AS http_status
      FROM events WHERE event_type = 'click'
    )
    SELECT d.url, epoch_us(d.dispatch_ts) AS dispatch_us,
           epoch_us(c.fetch_ts) AS fetch_us,
           (epoch_us(c.fetch_ts) - epoch_us(d.dispatch_ts)) // 1000
             AS latency_ms,
           c.http_status
    FROM d JOIN c ON d.url = c.url
      AND c.fetch_ts >= d.dispatch_ts
      AND c.fetch_ts <= d.dispatch_ts + INTERVAL 12 HOUR
    """,
)


# DSIR data selection: English docs play the trusted target model, the
# rest are the raw crawl being ranked. Both engines build the same
# 1024-bucket hashed-unigram models (md5 bucket, add-one smoothing) and
# rank on the 4-dp round_he quantization of lw (tie-break doc_id), so
# the top-k cutoff is stable against float accumulation-order noise
# across engines and Spark partitionings alike.
_register(
    "dsir_select",
    lambda s, d: sampling.dsir_select(
        _t(s, d, "documents").select(
            "doc_id", "text", (F.col("lang") == "en").alias("is_target"),
        )
    ),
    """
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS is_target,
             ('0x' || substr(md5(term), 1, 8))::BIGINT % 1024 AS bucket
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
            FROM documents)
      WHERE term <> ''
    ),
    doc_b AS (SELECT doc_id, is_target, bucket, count(*) AS tf
              FROM toks GROUP BY 1, 2, 3),
    tgt AS (SELECT bucket, sum(tf) AS c_tgt FROM doc_b
            WHERE is_target GROUP BY 1),
    raw AS (SELECT bucket, sum(tf) AS c_raw FROM doc_b
            WHERE NOT is_target GROUP BY 1),
    tt AS (SELECT CAST(sum(c_tgt) AS DOUBLE) AS t_tgt FROM tgt),
    rt AS (SELECT CAST(sum(c_raw) AS DOUBLE) AS t_raw FROM raw),
    scored AS (
      SELECT d.doc_id, sum(d.tf) AS n_tokens,
             sum(d.tf * (ln((coalesce(t.c_tgt, 0) + 1) / (tt.t_tgt + 1024))
                       - ln((coalesce(r.c_raw, 0) + 1) / (rt.t_raw + 1024))))
               AS lw
      FROM doc_b d
      LEFT JOIN tgt t USING (bucket)
      LEFT JOIN raw r USING (bucket)
      CROSS JOIN tt CROSS JOIN rt
      WHERE NOT d.is_target
      GROUP BY d.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           floor(lw * 1e4 + 0.5) / 1e4 AS logweight
    FROM scored WHERE lw IS NOT NULL
    ORDER BY floor(lw * 1e4 + 0.5) / 1e4 DESC, doc_id ASC LIMIT 100
    """,
)


# A-ES weighted sampling without replacement, weight = document length
# (n_chars + 1 keeps empty docs drawable). The md5 u-value makes the
# "random" draw engine-identical; both sides rank ln(u)/w unrounded.
_register(
    "weighted_sample",
    lambda s, d: sampling.weighted_sample(
        _t(s, d, "documents").select(
            "doc_id", (F.col("n_chars").cast("double") + 1).alias("w"),
        )
    ),
    """
    SELECT doc_id, w,
           floor((ln(u) / w) * 1e6 + 0.5) / 1e6 AS key
    FROM (
      SELECT doc_id, CAST(n_chars AS DOUBLE) + 1 AS w,
             (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              + 1.0) / 4294967297.0 AS u
      FROM documents
    )
    ORDER BY ln(u) / w DESC, doc_id ASC LIMIT 100
    """,
)


_register(
    "repetition_stats",
    lambda s, d: textstats.repetition_stats(_rep_docs(s, d)),
    f"""
    WITH corpus AS ({_REP_SQL_CORPUS}),
    base AS (
      SELECT doc_id, {_SHINGLE_SQL} AS sh FROM corpus
    ), gram AS (
      SELECT doc_id, CAST(len(sh) AS INT) AS n_grams,
             CAST(len(list_distinct(sh)) AS INT) AS n_distinct_grams,
             floor((1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh)) * 1e4 + 0.5) / 1e4
               AS dup_gram_frac
      FROM base
    ), wc AS (
      SELECT doc_id, w, count(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus)
      GROUP BY doc_id, w
    ), top AS (
      SELECT doc_id, CAST(sum(c) AS INT) AS n_words,
             floor((CAST(max(c) AS DOUBLE) / sum(c)) * 1e4 + 0.5) / 1e4 AS top_word_frac
      FROM wc GROUP BY doc_id
    )
    SELECT g.doc_id, n_grams, n_distinct_grams, dup_gram_frac,
           n_words, top_word_frac,
           CAST(dup_gram_frac > 0.3 AS INT) AS repetitive
    FROM gram g JOIN top USING (doc_id)
    """,
)

def _gq_docs(s: SparkSession, d: str) -> DataFrame:
    doc_id = F.col("doc_id")
    return _t(s, d, "documents").select(
        "doc_id",
        F.when(doc_id % 9 == 4, F.concat("text", F.lit(_TQ_LONG_TAIL)))
        .when(doc_id % 7 == 2, F.concat("text", F.lit(_GQ_DIGIT_TAIL)))
        .otherwise(F.col("text")).alias("text"),
    )


_register(
    "gopher_quality",
    lambda s, d: textstats.gopher_quality(_gq_docs(s, d)),
    f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 4 THEN text || '{_TQ_LONG_TAIL}'
                  WHEN doc_id % 7 = 2 THEN text || '{_GQ_DIGIT_TAIL}'
                  ELSE text END AS text
      FROM documents
    ),
    w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM corpus
    ), stats AS (
      SELECT doc_id,
             CAST(len(ws) AS INT) AS n_words,
             floor((CAST(list_sum(list_transform(ws, x -> length(x)))
                        AS DOUBLE) / len(ws)) * 1e4 + 0.5) / 1e4 AS mean_word_len,
             floor((CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))
                        AS DOUBLE) / len(ws)) * 1e4 + 0.5) / 1e4 AS alpha_word_frac,
             floor((CAST(len(list_filter(ws, x -> regexp_matches(x, '^[0-9]+$')))
                        AS DOUBLE) / len(ws)) * 1e4 + 0.5) / 1e4 AS digit_word_frac
      FROM w
    )
    SELECT doc_id, n_words, mean_word_len, alpha_word_frac, digit_word_frac,
           CAST(mean_word_len BETWEEN 3.0 AND 10.0
                AND alpha_word_frac >= 0.8
                AND digit_word_frac < 0.3 AS INT) AS passes
    FROM stats
    """,
)

def _skew_docs(s: SparkSession, d: str) -> DataFrame:
    # skewed source map with one source EXACTLY at the 5% threshold
    # (25 of 500 docs at sf0.01): strict '>' must flag hot but NOT edge
    doc_id = F.col("doc_id")
    return _t(s, d, "documents").select(
        "doc_id", "text",
        F.when(doc_id < 250, F.lit("hot"))
        .when(doc_id < 275, F.lit("edge"))
        .otherwise(F.col("source")).alias("source"),
    )


_register(
    "source_skew_stats",
    lambda s, d: textstats.source_skew_stats(_skew_docs(s, d)),
    """
    WITH corpus AS (
      SELECT doc_id, text,
             CASE WHEN doc_id < 250 THEN 'hot'
                  WHEN doc_id < 275 THEN 'edge'
                  ELSE source END AS source
      FROM documents
    ),
    per AS (
      SELECT source AS src, count(*) AS n_docs,
             sum(length(text)) AS total_chars
      FROM corpus GROUP BY source
    ), t AS (
      SELECT sum(n_docs) AS total_docs FROM per
    )
    SELECT src, n_docs, CAST(total_chars AS BIGINT) AS total_chars,
           floor((CAST(n_docs AS DOUBLE) / total_docs) * 1e4 + 0.5) / 1e4 AS share,
           CAST(n_docs > 0.05 * total_docs AS INT) AS is_hot
    FROM per, t
    """,
)

# ===========================================================================
# Scalar-function parity (MRZ fixed-slice, digit filter / decimal comma)
# ===========================================================================


def _mrz_query(s: SparkSession, d: str) -> DataFrame:
    """F16-F19 analogs as pure column exprs over a deterministic MRZ-like
    string derived from customer names (document_identite.py:211-225)."""
    cust = _t(s, d, "customer")
    mrz = F.rpad(
        F.concat(F.lit("IDFRA"), F.upper(F.expr("replace(c_name, ' ', '<')"))),
        36,
        "<",
    )
    return cust.select(
        "c_custkey",
        mrz.alias("mrz"),
        F.trim(F.expr(
            "replace(substring(rpad(concat('IDFRA', upper(replace(c_name, ' ', '<'))), 36, '<'), 6, 25), '<', ' ')"
        )).alias("nom"),
        F.substring(mrz, 31, 2).alias("lieu"),
    )


_register(
    "mrz_fixed_slice",
    _mrz_query,
    """
    WITH m AS (
      SELECT c_custkey,
             rpad('IDFRA' || upper(replace(c_name, ' ', '<')), 36, '<') AS mrz
      FROM customer
    )
    SELECT c_custkey, mrz,
           trim(replace(substr(mrz, 6, 25), '<', ' ')) AS nom,
           substr(mrz, 31, 2) AS lieu
    FROM m
    """,
)


def _digit_decimal(s: SparkSession, d: str) -> DataFrame:
    """F8 decimal-comma normalize + F9 digit filter + F10 decimal
    reinsertion (bilan.py:184,206; process_table.py:262-266)."""
    cust = _t(s, d, "customer")
    digits = F.regexp_replace("c_name", "[^0-9]", "")
    return (
        cust.select("c_custkey", digits.alias("digits"))
        .filter(F.length("digits") >= 3)
        .select(
            "c_custkey",
            "digits",
            round_he(
                F.regexp_replace(
                    F.concat(
                        F.expr("substr(digits, 1, length(digits) - 2)"),
                        F.lit(","),
                        F.expr("substr(digits, length(digits) - 1, 2)"),
                    ),
                    ",",
                    ".",
                ).cast("double"),
                2,
            ).alias("amount"),
        )
    )


_register(
    "digit_decimal_parse",
    _digit_decimal,
    """
    WITH d AS (
      SELECT c_custkey, regexp_replace(c_name, '[^0-9]', '', 'g') AS digits
      FROM customer
    )
    SELECT c_custkey, digits,
           floor((CAST(replace(
             substr(digits, 1, length(digits) - 2) || ',' ||
             substr(digits, length(digits) - 1, 2), ',', '.') AS DOUBLE)) * 1e2 + 0.5) / 1e2
             AS amount
    FROM d WHERE length(digits) >= 3
    """,
)

# ===========================================================================
# Deduplication (cloned documents corpus -> guaranteed duplicates)
# ===========================================================================

_register(
    "dedup_exact",
    lambda s, d: dedup.exact_dedup(_cloned_docs(s, d, spread=False)),
    f"""
    WITH corpus AS ({_CLONED_SQL})
    SELECT md5(text) AS digest, min(doc_id) AS keeper, count(*) AS n_copies
    FROM corpus GROUP BY md5(text)
    """,
)


# robots.txt longest-match filtering: per-host synthetic policies (a `*`
# group with a Disallow/Allow pair whose Allow re-opens a subpath, plus a
# badbot group that must be ignored) against the url fixture. The DuckDB
# twin re-implements the WHOLE chain — line explode, comment strip, UA
# group window, star-group membership, longest-prefix max-of-struct — so
# the parser semantics are cross-engine checked, not just the verdicts.
def _robots_filter_q(s: SparkSession, d: str) -> DataFrame:
    from .operators import robots as R

    doc_id = F.col("doc_id")
    pages = _t(s, d, "documents").select(
        F.concat(
            F.lit("https://h"), (doc_id % 50).cast("string"),
            F.lit(".example/p"), doc_id.cast("string"),
        ).alias("url")
    )
    k = F.col("id").cast("string")
    hosts = s.range(50).select(
        F.concat(F.lit("h"), k, F.lit(".example")).alias("host"),
        F.concat(
            F.lit("# crawl policy\nUser-agent: *\nDisallow: /p1\nAllow: /p1"),
            k,
            F.lit("\nDisallow: /p*9$"
                  "\nDisallow: /p.2*"
                  "\nDisallow: /p7***********"
                  "\nAllow: /p7***********"
                  "\nDisallow:\n\nUser-agent: badbot\nDisallow: /\n"),
        ).alias("robots_txt"),
    )
    return R.robots_filter(pages, hosts)


def _duck_pct(arg: str) -> str:
    """DuckDB twin of operators.robots.pct_norm: decode %XX escapes of
    unreserved ASCII, uppercase other valid escapes, keep invalid ones
    literal. Emitted as an expression string so both robots oracles
    share ONE definition."""
    code = "CAST(concat('0x', substring(x, 1, 2)) AS INT)"
    is_hex = "regexp_matches(substring(x, 1, 2), '^[0-9A-Fa-f]{2}$')"
    return (
        "array_to_string(list_transform(string_split(" + arg + ", '%'), "
        "(x, i) -> CASE WHEN i = 1 THEN x "
        "WHEN " + is_hex + " AND (" + code + " BETWEEN 48 AND 57 OR "
        + code + " BETWEEN 65 AND 90 OR " + code + " BETWEEN 97 AND 122 OR "
        + code + " IN (45, 46, 95, 126)) "
        "THEN chr(" + code + ") || substring(x, 3) "
        "WHEN " + is_hex + " "
        "THEN '%' || upper(substring(x, 1, 2)) || substring(x, 3) "
        "ELSE '%' || x END), '')"
    )


def _robots_oracle_sql(hosts_cte: str, pages_cte: str,
                       agent: "str | None") -> str:
    """One DuckDB re-implementation of the robots_filter chain — line
    explode, comment strip, UA group window, group selection (star or
    longest-agent-match), percent normalization, over-cap fail-closed
    degradation, rule compile, longest-prefix max-of-struct — shared by
    the robots_filter and robots_filter_agent oracles so the twin can
    never drift between them. Pieces with regex backslashes are raw
    strings: DuckDB must receive the metachar class
    ([.+?(){}\\[\\]|^$\\\\]) and replacement \\\\\\1 verbatim (a non-raw
    literal collapses the class — unterminated, which DuckDB
    regexp_replace silently ignores — and turns \\1 into chr(1))."""
    if agent is None:
        selected = "SELECT host, grp FROM star"
    else:
        selected = (
            "SELECT DISTINCT m.host, m.grp FROM matched m "
            "JOIN best b ON m.host = b.host AND m.vlen = b.blen "
            "UNION "
            "SELECT s.host, s.grp FROM star s "
            "WHERE s.host NOT IN (SELECT host FROM matched)"
        )
    agent_ctes = "" if agent is None else (
        r"""
    ua AS (
      SELECT host, grp,
             lower(regexp_replace(value, '\*+$', '')) AS v
      FROM grouped WHERE directive = 'user-agent'
    ),
    matched AS (
      SELECT DISTINCT host, grp, length(v) AS vlen FROM ua
      WHERE v <> '' AND starts_with('"""
        + agent.lower() + r"""', v)
    ),
    best AS (SELECT host, max(vlen) AS blen FROM matched GROUP BY host),"""
    )
    compile_sql = (
        r"""'^' || regexp_replace(
               regexp_replace(
                 CASE WHEN dv LIKE '%$'
                      THEN substring(dv, 1, length(dv) - 1)
                      ELSE dv END,
                 '([.+?(){}\[\]|^$\\])', '\\\1', 'g'),
               '\*', '.*', 'g')
               || CASE WHEN dv LIKE '%$' THEN '$' ELSE '' END"""
    )
    return f"""
    WITH hosts AS ({hosts_cte}),
    lines AS (
      SELECT lower(host) AS host, pos,
             trim(regexp_replace(raw, '#.*', '')) AS line
      FROM (SELECT host,
                   unnest(string_split(replace(txt, chr(13), ''), chr(10)))
                     AS raw,
                   unnest(range(len(string_split(replace(txt, chr(13), ''),
                                                 chr(10))))) AS pos
            FROM hosts)
      WHERE trim(regexp_replace(raw, '#.*', '')) <> ''
    ),
    parsed AS (
      SELECT host, pos,
             lower(trim(split_part(line, ':', 1))) AS directive,
             trim(substring(line, instr(line, ':') + 1)) AS value
      FROM lines
    ),
    flagged AS (
      SELECT host, pos, directive, value,
             CASE WHEN directive = 'user-agent' THEN 1 ELSE 0 END AS is_ua,
             coalesce(lag(CASE WHEN directive = 'user-agent'
                          THEN 1 ELSE 0 END)
                      OVER (PARTITION BY host ORDER BY pos), 0) AS prev_ua
      FROM parsed
    ),
    grouped AS (
      SELECT host, pos, directive, value,
             sum(CASE WHEN is_ua = 1 AND prev_ua = 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY host ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS grp
      FROM flagged
    ),
    star AS (
      SELECT host, grp FROM grouped
      WHERE directive = 'user-agent'
      GROUP BY host, grp
      HAVING max(CASE WHEN value = '*' THEN 1 ELSE 0 END) = 1
    ),{agent_ctes}
    selected AS ({selected}),
    rule_rows AS (
      SELECT g.host, g.value AS v, g.directive,
             CASE WHEN length(g.value) - length(replace(g.value, '*', ''))
                       > 10 THEN 1 ELSE 0 END AS over
      FROM grouped g JOIN selected USING (host, grp)
      WHERE g.directive IN ('allow', 'disallow') AND g.value <> ''
    ),
    rule_vals AS (
      -- ReDoS cap fails CLOSED, mirroring robots_rules: over-cap
      -- Disallow degrades to the plain prefix before its first '*',
      -- over-cap Allow drops; dv is the percent-normalized value
      SELECT host, directive, over,
             {_duck_pct("CASE WHEN over = 1 THEN split_part(v, '*', 1) "
                        "ELSE v END")} AS dv
      FROM rule_rows
      WHERE over = 0 OR directive = 'disallow'
    ),
    rules AS (
      SELECT host, dv AS rpath,
             {compile_sql} AS pattern,
             CASE WHEN over = 0 AND (dv LIKE '%*%' OR dv LIKE '%$')
                  THEN 1 ELSE 0 END AS has_wild,
             CASE WHEN directive = 'allow' THEN 1 ELSE 0 END AS allow
      FROM rule_vals
    ),
    pages AS ({pages_cte}),
    base AS (
      SELECT url,
             lower(regexp_extract(
               regexp_extract(url,
                 '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
               '^(?:.*@)?([^@]*)$', 1)) AS host,
             {_duck_pct(
                 "CASE WHEN regexp_extract(url, "
                 "'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^#]*)?', 1) = '' "
                 "THEN '/' ELSE regexp_extract(url, "
                 "'^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^#]*)?', 1) END"
             )} AS page_path
      FROM pages
    ),
    scored AS (
      SELECT b.url,
             CASE WHEN (CASE WHEN r.has_wild = 1
                             THEN regexp_matches(b.page_path, r.pattern)
                             ELSE starts_with(b.page_path, r.rpath) END)
                  THEN {{'l': length(r.rpath), 'a': r.allow}} END AS m
      FROM base b LEFT JOIN rules r USING (host)
    )
    SELECT url, CAST(coalesce((max(m)).a, 1) AS INT) AS allowed
    FROM scored GROUP BY url
    """


_ROBOTS_HOSTS_CTE = r"""
      SELECT 'h' || CAST(k AS VARCHAR) || '.example' AS host,
             '# crawl policy' || chr(10) || 'User-agent: *' || chr(10)
               || 'Disallow: /p1' || chr(10)
               || 'Allow: /p1' || CAST(k AS VARCHAR) || chr(10)
               || 'Disallow: /p*9$' || chr(10)
               || 'Disallow: /p.2*' || chr(10)
               || 'Disallow: /p7***********' || chr(10)
               || 'Allow: /p7***********' || chr(10)
               || 'Disallow:' || chr(10) || chr(10)
               || 'User-agent: badbot' || chr(10) || 'Disallow: /'
               || chr(10) AS txt
      FROM range(50) t(k)
"""

_ROBOTS_PAGES_CTE = r"""
      SELECT 'https://h' || CAST(doc_id % 50 AS VARCHAR)
               || '.example/p' || CAST(doc_id AS VARCHAR) AS url
      FROM documents
"""

_register(
    "robots_filter",
    _robots_filter_q,
    _robots_oracle_sql(_ROBOTS_HOSTS_CTE, _ROBOTS_PAGES_CTE, agent=None),
)


# Agent-token group selection (REP longest-match precedence) over a
# fixture where even hosts publish cezambot/cezambot-news groups (the
# longer token must win for agent 'cezambot-news'; its Disallow uses a
# %34 escape that must decode to '4') and odd hosts only publish a
# block-everything star group (the fallback). A third of the page urls
# percent-encode a path digit, so the page-side normalization is
# exercised cross-engine too.
def _robots_filter_agent_q(s: SparkSession, d: str) -> DataFrame:
    from .operators import robots as R

    doc_id = F.col("doc_id")
    ds = doc_id.cast("string")
    path = F.when(
        doc_id % 3 == 0,
        F.concat(F.lit("/p%3"), F.substring(ds, 1, 1),
                 F.expr("substring(cast(doc_id as string), 2)")),
    ).otherwise(F.concat(F.lit("/p"), ds))
    pages = _t(s, d, "documents").select(
        F.concat(F.lit("https://h"), (doc_id % 50).cast("string"),
                 F.lit(".example"), path).alias("url")
    )
    k = F.col("id")
    agent_groups = F.when(
        k % 2 == 0,
        F.lit("User-agent: cezambot\nDisallow: /p1\n\n"
              "User-agent: CezamBot-News*\nAllow: /p1\n"
              "Disallow: /p%34\n\n"),
    ).otherwise(F.lit(""))
    hosts = s.range(50).select(
        F.concat(F.lit("h"), k.cast("string"), F.lit(".example")).alias("host"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /\n\n"),
            agent_groups,
            F.lit("User-agent: badbot\nDisallow: /\n"),
        ).alias("robots_txt"),
    )
    return R.robots_filter(pages, hosts, agent="cezambot-news")


_ROBOTS_AGENT_HOSTS_CTE = r"""
      SELECT 'h' || CAST(k AS VARCHAR) || '.example' AS host,
             'User-agent: *' || chr(10) || 'Disallow: /'
               || chr(10) || chr(10)
               || CASE WHEN k % 2 = 0 THEN
                    'User-agent: cezambot' || chr(10)
                    || 'Disallow: /p1' || chr(10) || chr(10)
                    || 'User-agent: CezamBot-News*' || chr(10)
                    || 'Allow: /p1' || chr(10)
                    || 'Disallow: /p%34' || chr(10) || chr(10)
                  ELSE '' END
               || 'User-agent: badbot' || chr(10) || 'Disallow: /'
               || chr(10) AS txt
      FROM range(50) t(k)
"""

_ROBOTS_AGENT_PAGES_CTE = r"""
      SELECT 'https://h' || CAST(doc_id % 50 AS VARCHAR) || '.example'
               || CASE WHEN doc_id % 3 = 0
                       THEN '/p%3'
                            || substring(CAST(doc_id AS VARCHAR), 1, 1)
                            || substring(CAST(doc_id AS VARCHAR), 2)
                       ELSE '/p' || CAST(doc_id AS VARCHAR) END AS url
      FROM documents
"""

_register(
    "robots_filter_agent",
    _robots_filter_agent_q,
    _robots_oracle_sql(_ROBOTS_AGENT_HOSTS_CTE, _ROBOTS_AGENT_PAGES_CTE,
                       agent="cezambot-news"),
)


# Crawl-delay extraction: same group machinery as robots_filter over a
# fixture where even hosts declare a numeric delay inside the star group,
# every host carries a bogus huge delay in a badbot group (must be
# ignored), and hosts divisible by 5 declare a NON-NUMERIC delay (must
# fall back to the default, not error).
def _crawl_delays_q(s: SparkSession, d: str) -> DataFrame:
    from .operators import robots as R

    k = F.col("id")
    ks = k.cast("string")
    delay_line = (
        F.when(k % 5 == 0, F.lit("Crawl-delay: fast\n"))
        .when(k % 2 == 0,
              F.concat(F.lit("Crawl-delay: "), (k % 7).cast("string"),
                       F.lit(".5\n")))
        .otherwise(F.lit(""))
    )
    hosts = s.range(50).select(
        F.concat(F.lit("h"), ks, F.lit(".example")).alias("host"),
        F.concat(
            F.lit("User-agent: *\n"), delay_line,
            F.lit("Disallow: /p1\nUser-agent: badbot\nCrawl-delay: 999\n"),
        ).alias("robots_txt"),
    )
    return R.crawl_delays(hosts)


_register(
    "crawl_delays",
    _crawl_delays_q,
    """
    WITH hosts AS (
      SELECT 'h' || CAST(k AS VARCHAR) || '.example' AS host,
             'User-agent: *' || chr(10)
               || CASE WHEN k % 5 = 0 THEN 'Crawl-delay: fast' || chr(10)
                       WHEN k % 2 = 0 THEN 'Crawl-delay: '
                            || CAST(k % 7 AS VARCHAR) || '.5' || chr(10)
                       ELSE '' END
               || 'Disallow: /p1' || chr(10)
               || 'User-agent: badbot' || chr(10)
               || 'Crawl-delay: 999' || chr(10) AS txt
      FROM range(50) t(k)
    ),
    lines AS (
      SELECT lower(host) AS host, pos,
             trim(regexp_replace(raw, '#.*', '')) AS line
      FROM (SELECT host,
                   unnest(string_split(replace(txt, chr(13), ''), chr(10)))
                     AS raw,
                   unnest(range(len(string_split(replace(txt, chr(13), ''),
                                                 chr(10))))) AS pos
            FROM hosts)
      WHERE trim(regexp_replace(raw, '#.*', '')) <> ''
    ),
    parsed AS (
      SELECT host, pos,
             lower(trim(split_part(line, ':', 1))) AS directive,
             trim(substring(line, instr(line, ':') + 1)) AS value
      FROM lines
    ),
    flagged AS (
      SELECT host, pos, directive, value,
             CASE WHEN directive = 'user-agent' THEN 1 ELSE 0 END AS is_ua,
             coalesce(lag(CASE WHEN directive = 'user-agent'
                          THEN 1 ELSE 0 END)
                      OVER (PARTITION BY host ORDER BY pos), 0) AS prev_ua
      FROM parsed
    ),
    grouped AS (
      SELECT host, pos, directive, value,
             sum(CASE WHEN is_ua = 1 AND prev_ua = 0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY host ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS grp
      FROM flagged
    ),
    star AS (
      SELECT host, grp FROM grouped
      WHERE directive = 'user-agent'
      GROUP BY host, grp
      HAVING max(CASE WHEN value = '*' THEN 1 ELSE 0 END) = 1
    ),
    declared AS (
      SELECT g.host, max(TRY_CAST(g.value AS DOUBLE)) AS delay_sec
      FROM grouped g JOIN star USING (host, grp)
      WHERE g.directive = 'crawl-delay'
            AND TRY_CAST(g.value AS DOUBLE) >= 0
      GROUP BY g.host
    )
    SELECT h.host, coalesce(d.delay_sec, 0.0) AS delay_sec
    FROM (SELECT DISTINCT lower(host) AS host FROM hosts) h
    LEFT JOIN declared d USING (host)
    """,
)


# Sitemap <loc> extraction: per-host urlset XML with XML-escaped query
# strings and padded whitespace inside the elements.
def _sitemap_q(s: SparkSession, d: str) -> DataFrame:
    from .operators import robots as R

    doc_id = F.col("doc_id")
    entry = F.concat(
        F.lit("<url><loc> https://h"), (doc_id % 50).cast("string"),
        F.lit(".example/p"), doc_id.cast("string"),
        F.lit("?a=1&amp;b=2 </loc></url>"),
    )
    sm = (
        _t_raw(s, d, "documents")
        .select((doc_id % 50).alias("hk"), doc_id, entry.alias("e"))
        .groupBy("hk")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("doc_id", "e"))),
                        lambda x: x["e"],
                    ), ""),
                F.lit("</urlset>"),
            ).alias("sitemap_xml"),
        )
        .select(
            F.concat(F.lit("h"), F.col("hk").cast("string"),
                     F.lit(".example")).alias("host"),
            "sitemap_xml",
        )
    )
    return R.sitemap_urls(sm)


_register(
    "sitemap_urls",
    _sitemap_q,
    r"""
    WITH entries AS (
      SELECT doc_id % 50 AS hk, doc_id,
             '<url><loc> https://h' || CAST(doc_id % 50 AS VARCHAR)
               || '.example/p' || CAST(doc_id AS VARCHAR)
               || '?a=1&amp;b=2 </loc></url>' AS e
      FROM documents
    ),
    sm AS (
      SELECT 'h' || CAST(hk AS VARCHAR) || '.example' AS host,
             '<?xml version="1.0"?><urlset>'
               || string_agg(e, '' ORDER BY doc_id) || '</urlset>' AS xml
      FROM entries GROUP BY hk
    ),
    locs AS (
      SELECT host, pos, loc_raw
      FROM (SELECT host,
                   unnest(regexp_extract_all(xml,
                     '<loc>\s*(.*?)\s*</loc>', 1)) AS loc_raw,
                   unnest(range(len(regexp_extract_all(xml,
                     '<loc>\s*(.*?)\s*</loc>', 1)))) AS pos
            FROM sm)
    )
    SELECT host, CAST(pos AS INT) AS pos,
           replace(replace(replace(replace(replace(loc_raw,
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&apos;', chr(39)), '&amp;', '&') AS loc
    FROM locs
    """,
)


# Sitemap-tree fixture: per host (doc_id % 10) THREE fetched files — a
# sitemapindex referencing a fetched child (/sm-a.xml) and a MISSING
# child (/sm-missing.xml, padded whitespace in its <loc>), the child
# urlset with the host's pages, and a standalone urlset nobody
# references (entity-escaped query) — all three provenance classes plus
# the fail-visible missing row.
def _smtree_files(s: SparkSession, d: str) -> DataFrame:
    from .operators import robots as R

    did = F.col("doc_id")
    hk = (did % 10).cast("string")
    hroot = F.concat(F.lit("https://h"), hk, F.lit(".example"))
    entry = F.concat(
        F.lit("<url><loc> "), hroot, F.lit("/p"), did.cast("string"),
        F.lit(" </loc></url>"),
    )
    docs = _t(s, d, "documents").select(
        hk.alias("hk"), "doc_id", entry.alias("e"), hroot.alias("hroot")
    )
    per_host = docs.groupBy("hk").agg(
        F.concat(
            F.lit("<urlset>"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "e"))),
                    lambda x: x["e"],
                ), ""),
            F.lit("</urlset>"),
        ).alias("child_xml"),
        F.max("hroot").alias("hroot"),
    )
    host = F.concat(F.lit("h"), F.col("hk"), F.lit(".example"))
    child = per_host.select(
        host.alias("host"),
        F.concat("hroot", F.lit("/sm-a.xml")).alias("url"),
        F.col("child_xml").alias("sitemap_xml"),
    )
    index = per_host.select(
        host.alias("host"),
        F.concat("hroot", F.lit("/sitemap.xml")).alias("url"),
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>"), "hroot",
            F.lit("/sm-a.xml</loc></sitemap><sitemap><loc> "), "hroot",
            F.lit("/sm-missing.xml </loc></sitemap></sitemapindex>"),
        ).alias("sitemap_xml"),
    )
    solo = per_host.select(
        host.alias("host"),
        F.concat("hroot", F.lit("/solo.xml")).alias("url"),
        F.concat(
            F.lit("<urlset><url><loc>"), "hroot",
            F.lit("/solo?x=1&amp;y=2</loc></url></urlset>"),
        ).alias("sitemap_xml"),
    )
    return R.sitemap_tree_urls(child.unionByName(index).unionByName(solo))


_register(
    "sitemap_tree",
    _smtree_files,
    r"""
    WITH docs AS (
      SELECT CAST(doc_id % 10 AS VARCHAR) AS hk, doc_id,
             'https://h' || CAST(doc_id % 10 AS VARCHAR) || '.example'
               AS hroot
      FROM documents
    ),
    per_host AS (
      SELECT hk, max(hroot) AS hroot,
             '<urlset>' || string_agg(
               '<url><loc> ' || hroot || '/p' || CAST(doc_id AS VARCHAR)
               || ' </loc></url>', '' ORDER BY doc_id) || '</urlset>'
               AS child_xml
      FROM docs GROUP BY hk
    ),
    files AS (
      SELECT 'h' || hk || '.example' AS host,
             hroot || '/sm-a.xml' AS sm_url, child_xml AS xml
      FROM per_host
      UNION ALL
      SELECT 'h' || hk || '.example', hroot || '/sitemap.xml',
             '<sitemapindex><sitemap><loc>' || hroot
             || '/sm-a.xml</loc></sitemap><sitemap><loc> ' || hroot
             || '/sm-missing.xml </loc></sitemap></sitemapindex>'
      FROM per_host
      UNION ALL
      SELECT 'h' || hk || '.example', hroot || '/solo.xml',
             '<urlset><url><loc>' || hroot
             || '/solo?x=1&amp;y=2</loc></url></urlset>'
      FROM per_host
    ),
    ents AS (
      SELECT host, sm_url, xml LIKE '%<sitemapindex%' AS is_index,
             CAST(pos AS BIGINT) AS pos,
             replace(replace(replace(replace(replace(loc_raw,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&apos;', chr(39)), '&amp;', '&') AS loc
      FROM (SELECT host, sm_url, xml,
                   unnest(regexp_extract_all(xml,
                     '<loc>\s*(.*?)\s*</loc>', 1)) AS loc_raw,
                   unnest(range(len(regexp_extract_all(xml,
                     '<loc>\s*(.*?)\s*</loc>', 1)))) AS pos
            FROM files)
    ),
    idx_refs AS (
      SELECT host, sm_url AS via_index, loc AS child
      FROM ents WHERE is_index
    ),
    child_locs AS (
      SELECT sm_url AS child, pos, loc FROM ents WHERE NOT is_index
    ),
    via AS (
      SELECT i.host, i.via_index, i.child AS sitemap, c.pos, c.loc
      FROM idx_refs i LEFT JOIN child_locs c USING (child)
    ),
    standalone AS (
      SELECT e.host, CAST(NULL AS VARCHAR) AS via_index,
             e.sm_url AS sitemap, e.pos, e.loc
      FROM ents e
      WHERE NOT e.is_index
        AND e.sm_url NOT IN (SELECT child FROM idx_refs)
    )
    SELECT host, via_index, sitemap, pos, loc FROM (
      SELECT * FROM via UNION ALL SELECT * FROM standalone
    ) ORDER BY host, via_index, sitemap, pos
    """,
)


# Host-quality-profile fixture: sources src0/src4/... (id % 4 == 0)
# serve repetitive boilerplate for 3 of every 4 docs (quality 0.05) —
# the low-quality-domain shape the profile must flag; other sources
# keep their natural text (whatever their per-doc qualities, both
# engines agree on the verdicts, which is the gate's contract).
def _hq_docs(s: SparkSession, d: str) -> DataFrame:
    did = F.col("doc_id")
    src_id = F.regexp_extract("source", r"src(\d+)", 1).cast("int")
    first = F.element_at(F.split("text", " "), 1)
    degraded = F.trim(F.repeat(F.concat(first, F.lit(" ")), 20))
    text = F.when(
        (src_id % 4 == 0) & (did % 4 != 3), degraded
    ).otherwise(F.col("text"))
    return _t(s, d, "documents").select("source", text.alias("text"))


_register(
    "host_quality_profile",
    lambda s, d: textstats.host_quality_profile(_hq_docs(s, d)),
    r"""
    WITH docs AS (
      SELECT source,
             CASE WHEN CAST(regexp_extract(source, 'src(\d+)', 1) AS INT)
                       % 4 = 0
                   AND doc_id % 4 <> 3
                  THEN trim(repeat(string_split(text, ' ')[1] || ' ', 20))
                  ELSE text END AS text
      FROM documents
    ),
    q AS (
      SELECT source,
             CASE WHEN len(list_filter(string_split(text, ' '),
                                       w -> w <> '')) > 0
                  THEN floor((CAST(len(list_distinct(list_filter(
                         string_split(text, ' '), w -> w <> '')))
                         AS DOUBLE)
                       / len(list_filter(string_split(text, ' '),
                                         w -> w <> ''))) * 1e4 + 0.5)
                       / 1e4
                  ELSE 0.0 END AS quality
      FROM docs
    ),
    agg AS (
      SELECT source, count(*) AS n_docs,
             sum(CAST(round(quality * 1e4) AS BIGINT)) AS sum_q4,
             sum(CASE WHEN quality < 0.5 THEN 1 ELSE 0 END) AS n_low
      FROM q GROUP BY source
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           floor(CAST(sum_q4 AS DOUBLE) / n_docs / 1e4 * 1e4 + 0.5) / 1e4
             AS mean_quality,
           floor(CAST(n_low AS DOUBLE) / n_docs * 1e4 + 0.5) / 1e4
             AS low_q_frac,
           n_docs >= 5 AND CAST(n_low AS DOUBLE) > 0.6 * n_docs
             AS flagged
    FROM agg ORDER BY source
    """,
)


# Ordered funnel over the events stream: view -> click -> purchase with
# earliest-binding chain semantics; the twin restates the greedy chain
# as per-step chained minima under the SAME (ts, type) tuple order the
# Spark fold sorts by (ties at equal ts resolved by type string).
_FUNNEL_STEPS = ["view", "click", "purchase"]


def _funnel_oracle(steps: list[str] = _FUNNEL_STEPS) -> str:
    inlist = ", ".join(f"'{s}'" for s in steps)
    ctes = [f"""
    s1 AS (SELECT u, min(ts) AS b_ts FROM ev
           WHERE t = '{steps[0]}' GROUP BY u)"""]
    for i in range(1, len(steps)):
        prev, cur = steps[i - 1], steps[i]
        tie = "TRUE" if cur > prev else "FALSE"
        ctes.append(f"""
    s{i + 1} AS (
      SELECT e.u, min(e.ts) AS b_ts
      FROM ev e JOIN s{i} p ON e.u = p.u
      WHERE e.t = '{cur}'
        AND (e.ts > p.b_ts OR (e.ts = p.b_ts AND {tie}))
      GROUP BY e.u)""")
    selects = []
    for i, s in enumerate(steps, start=1):
        selects.append(f"""
      SELECT {i} AS step, '{s}' AS event_type,
             (SELECT count(*) FROM s{i}) AS n_users""")
    union = "\n      UNION ALL\n".join(selects)
    return f"""
    WITH ev AS (
      SELECT user_id AS u, ts, event_type AS t FROM events
      WHERE event_type IN ({inlist})
    ),{",".join(ctes)}
    SELECT CAST(step AS INT) AS step, event_type,
           CAST(n_users AS BIGINT) AS n_users,
           floor(CAST(n_users AS DOUBLE)
                 / greatest((SELECT count(*) FROM s1), 1)
                 * 1e4 + 0.5) / 1e4 AS conversion_frac
    FROM ({union})
    ORDER BY step
    """


_register(
    "event_funnel",
    lambda s, d: relational.event_funnel(_t(s, d, "events"),
                                         _FUNNEL_STEPS),
    _funnel_oracle(),
)


# Recrawl dedup fixture: three synthetic monthly crawls over the document
# id space — crawl k re-fetches every doc_id divisible by k+2, so urls
# appear in one, two or three crawls (all three classes present). Newer
# crawls carry strictly larger warc_ts; row ids are unique per (doc, crawl).
def _crawl_pages(s: SparkSession, d: str) -> DataFrame:
    doc_id = F.col("doc_id")
    crawls = [
        _t_raw(s, d, "documents")
        .filter(doc_id % (k + 2) == 0)
        .select(
            F.concat(
                F.lit("https://h"), (doc_id % 50).cast("string"),
                F.lit(".example/p"), doc_id.cast("string"),
            ).alias("url"),
            (F.lit(1700000000) + k * 86400 + doc_id)
            .cast("long").alias("warc_ts"),
            (doc_id * 10 + k).alias("doc_id"),
        )
        for k in range(3)
    ]
    return crawls[0].union(crawls[1]).union(crawls[2])


_register(
    "latest_crawl_dedup",
    lambda s, d: dedup.latest_crawl_dedup(_crawl_pages(s, d)),
    """
    WITH pages AS (
      SELECT 'https://h' || CAST(doc_id % 50 AS VARCHAR)
               || '.example/p' || CAST(doc_id AS VARCHAR) AS url,
             1700000000 + k * 86400 + doc_id AS warc_ts,
             doc_id * 10 + k AS doc_id
      FROM documents, (VALUES (0), (1), (2)) crawls(k)
      WHERE doc_id % (k + 2) = 0
    ),
    agg AS (
      SELECT url, max({'ts': warc_ts, 'id': doc_id}) AS best,
             count(*) AS n_crawls
      FROM pages GROUP BY url
    )
    SELECT url, (best).id AS doc_id, (best).ts AS warc_ts, n_crawls
    FROM agg
    """,
)


# SCD-2 fixture: 100 urls x 6 fetches; content version = floor(k /
# period), period in {1,2,4} by doc_id % 3 — every-fetch changers,
# every-2nd changers (2-fetch versions) and every-4th changers (a
# 4-fetch run then a 2-fetch current version), all three compaction
# shapes present.
def _version_fetches(s: SparkSession, d: str) -> DataFrame:
    did = F.col("doc_id")
    period = (
        F.when(did % 3 == 0, F.lit(1))
        .when(did % 3 == 1, F.lit(2))
        .otherwise(F.lit(4))
    )
    k = F.col("k")
    return (
        _t(s, d, "documents")
        .filter(did % 5 == 0)
        .select(
            F.concat(F.lit("https://h"), (did % 50).cast("string"),
                     F.lit(".example/p"), did.cast("string")).alias("url"),
            F.explode(F.array(*[F.lit(i) for i in range(6)])).alias("k"),
            did.alias("did"), period.alias("period"),
        )
        .select(
            "url",
            (F.lit(1700000000) + k * 86400).cast("long").alias("warc_ts"),
            F.md5(F.concat(
                F.col("did").cast("string"), F.lit(":"),
                F.floor(k / F.col("period")).cast("string"),
            )).alias("digest"),
        )
    )


_register(
    "url_versions",
    lambda s, d: dedup.url_version_history(_version_fetches(s, d)),
    """
    WITH fetches AS (
      SELECT 'https://h' || CAST(doc_id % 50 AS VARCHAR)
               || '.example/p' || CAST(doc_id AS VARCHAR) AS url,
             CAST(1700000000 + k * 86400 AS BIGINT) AS ts,
             md5(CAST(doc_id AS VARCHAR) || ':' ||
                 CAST(k // (CASE doc_id % 3 WHEN 0 THEN 1
                            WHEN 1 THEN 2 ELSE 4 END) AS VARCHAR))
               AS digest
      FROM documents,
           (VALUES (0), (1), (2), (3), (4), (5)) ks(k)
      WHERE doc_id % 5 = 0
    ),
    lagged AS (
      SELECT url, ts, digest,
             lag(digest) OVER (PARTITION BY url ORDER BY ts) AS prev
      FROM fetches
    ),
    v AS (
      SELECT url, ts, digest,
             sum(CASE WHEN prev IS NULL OR digest <> prev
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY url ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS version
      FROM lagged
    ),
    agg AS (
      SELECT url, CAST(version AS BIGINT) AS version,
             min(digest) AS digest, min(ts) AS valid_from,
             CAST(count(*) AS BIGINT) AS n_fetches
      FROM v GROUP BY url, version
    )
    SELECT url, version, digest, valid_from,
           lead(valid_from) OVER (PARTITION BY url ORDER BY version)
             AS valid_to,
           n_fetches
    FROM agg ORDER BY url, version
    """,
)


# Cross-crawl churn fixture: old = every doc; new = docs not divisible by
# 7 (gone), with text edited for multiples of 5 (changed) and a batch of
# brand-new urls for multiples of 9 (added); everything else unchanged.
def _churn_crawls(s: SparkSession, d: str):
    base = _t_raw(s, d, "documents")
    doc_id = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (doc_id % 50).cast("string"),
        F.lit(".example/p"), doc_id.cast("string"),
    )
    old = base.select(url.alias("url"), "text")
    new = base.filter(doc_id % 7 != 0).select(
        url.alias("url"),
        F.when(doc_id % 5 == 0, F.concat("text", F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"),
    ).unionByName(
        base.filter(doc_id % 9 == 0).select(
            F.concat(F.lit("https://new.example/p"),
                     doc_id.cast("string")).alias("url"),
            "text",
        )
    )
    return old, new


# Hashed-unigram distribution drift between the churn fixture's two
# crawls: the 'v2' edits + dropped/added url populations move real
# token mass, so KL and TV are non-trivial; the per-bucket terms are
# 1e-8-quantized integers in BOTH engines before the exact sum.
_register(
    "corpus_drift",
    lambda s, d: sampling.corpus_drift(*_churn_crawls(s, d)),
    """
    WITH old AS (
      SELECT text FROM documents
    ),
    new AS (
      SELECT CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT text FROM documents WHERE doc_id % 9 = 0
    ),
    ob AS (
      SELECT CAST(concat('0x', substring(md5(term), 1, 8)) AS BIGINT)
               % 1024 AS bucket, count(*) AS c_old
      FROM (SELECT unnest(string_split(text, ' ')) AS term FROM old)
      WHERE term <> '' GROUP BY 1
    ),
    nb AS (
      SELECT CAST(concat('0x', substring(md5(term), 1, 8)) AS BIGINT)
               % 1024 AS bucket, count(*) AS c_new
      FROM (SELECT unnest(string_split(text, ' ')) AS term FROM new)
      WHERE term <> '' GROUP BY 1
    ),
    j AS (
      SELECT coalesce(ob.bucket, nb.bucket) AS bucket,
             coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
      FROM ob FULL JOIN nb ON ob.bucket = nb.bucket
    ),
    tot AS (
      SELECT sum(c_old) AS t_old, sum(c_new) AS t_new,
             count(*) AS n_used
      FROM j
    ),
    terms AS (
      SELECT t_old, t_new, n_used,
             CAST(floor((((c_new + 1) / CAST(t_new + 1024 AS DOUBLE))
                   * ln(((c_new + 1) / CAST(t_new + 1024 AS DOUBLE))
                        / ((c_old + 1) / CAST(t_old + 1024 AS DOUBLE))))
                   * 1e8 + 0.5) AS BIGINT) AS klq,
             CAST(floor(abs((c_new + 1) / CAST(t_new + 1024 AS DOUBLE)
                            - (c_old + 1) / CAST(t_old + 1024 AS DOUBLE))
                   * 0.5 * 1e8 + 0.5) AS BIGINT) AS tvq
      FROM j, tot
    )
    SELECT CAST(max(n_used) AS BIGINT) AS n_buckets_used,
           CAST(max(t_old) AS BIGINT) AS tokens_old,
           CAST(max(t_new) AS BIGINT) AS tokens_new,
           floor((CAST(sum(klq) AS DOUBLE) / 1e8) * 1e4 + 0.5) / 1e4
             AS kl_new_vs_old,
           floor((CAST(sum(tvq) AS DOUBLE) / 1e8) * 1e4 + 0.5) / 1e4
             AS tv_distance
    FROM terms
    """,
)


_register(
    "crawl_churn",
    lambda s, d: dedup.crawl_churn(*_churn_crawls(s, d)),
    """
    WITH old_rows AS (
      SELECT 'https://h' || CAST(doc_id % 50 AS VARCHAR)
               || '.example/p' || CAST(doc_id AS VARCHAR) AS url,
             md5(text) AS od
      FROM documents
    ),
    new_rows AS (
      SELECT 'https://h' || CAST(doc_id % 50 AS VARCHAR)
               || '.example/p' || CAST(doc_id AS VARCHAR) AS url,
             md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                      ELSE text END) AS nd
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT 'https://new.example/p' || CAST(doc_id AS VARCHAR) AS url,
             md5(text) AS nd
      FROM documents WHERE doc_id % 9 = 0
    ),
    old AS (SELECT url, min(od) AS od, 1 AS in_old
            FROM old_rows GROUP BY url),
    new AS (SELECT url, min(nd) AS nd, 1 AS in_new
            FROM new_rows GROUP BY url)
    SELECT CASE WHEN in_old IS NULL THEN 'added'
                WHEN in_new IS NULL THEN 'gone'
                WHEN od IS NOT DISTINCT FROM nd THEN 'unchanged'
                ELSE 'changed' END AS status,
           count(*) AS n_urls
    FROM old FULL OUTER JOIN new USING (url)
    GROUP BY 1 ORDER BY 1
    """,
)

# Target-mixture resampling: explicit domain weights over three of the
# twenty uniform sources — src0 is the binding source (keeps all 25),
# src1/src2 halve, the other 17 sources drop (absent from the target).
_MIX_TARGETS = [("src0", 0.5), ("src1", 0.25), ("src2", 0.25)]


def _target_mix(s: SparkSession, d: str) -> DataFrame:
    targets = s.createDataFrame(_MIX_TARGETS, "source string, target_frac double")
    return sampling.target_mix_sample(_t(s, d, "documents"), targets)


_register(
    "target_mix_sample",
    _target_mix,
    f"""
    WITH targets AS (SELECT * FROM (VALUES
        {", ".join(f"({src!r}, {w})" for src, w in _MIX_TARGETS)})
        v(source, target_frac)),
    counts AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
    cap AS (SELECT c.source, c.n_s, t.target_frac
            FROM counts c JOIN targets t USING (source)),
    tmax AS (SELECT min(n_s / target_frac) AS t_max FROM cap),
    probs AS (SELECT source,
                     least(1.0, t_max * target_frac / n_s) AS p_keep
              FROM cap CROSS JOIN tmax)
    SELECT d.doc_id, d.source
    FROM documents d JOIN probs p USING (source)
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0 < p.p_keep
    """,
)


def _minhash_pairs_ctes(corpus_sql: str | None = None) -> str:
    """Shared CTE chain: corpus (cloned fixture by default, any
    (doc_id, text) SQL via `corpus_sql`) -> affine-permutation minhash
    signatures (same MINHASH_COEFFS as the Spark operator) -> LSH band
    candidate pairs -> sim_est over the full signature. Final CTE is
    ``cand(a, b, sim_est)``."""
    from .operators.dedup import (
        MINHASH_BANDS,
        MINHASH_COEFFS,
        MINHASH_K,
        MINHASH_P,
    )

    k, b, p = MINHASH_K, MINHASH_BANDS, MINHASH_P
    r = k // b
    sh = _SHINGLE_SQL
    mh = ",\n      ".join(
        f"min(({a} * x + {c}) % {p}) AS mh_{i}"
        for i, (a, c) in enumerate(MINHASH_COEFFS[:k])
    )
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {bi} AS band_idx, "
        + " || '|' || ".join(f"CAST(mh_{bi * r + j} AS VARCHAR)" for j in range(r))
        + " AS band_key FROM sig"
        for bi in range(b)
    )
    eq = " + ".join(
        f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return f"""
    corpus AS ({corpus_sql or _CLONED_SQL}),
    ex AS (
      SELECT doc_id, md5(unnest({sh})) AS d FROM corpus
    ),
    hx AS (
      SELECT doc_id, ('0x' || substr(d, 1, 8))::BIGINT % {p} AS x FROM ex
    ),
    sig AS (
      SELECT doc_id, {mh}
      FROM hx GROUP BY doc_id
    ),
    banded AS (
      {band_selects}
    ),
    cpairs AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM banded l JOIN banded r USING (band_idx, band_key)
      WHERE l.doc_id < r.doc_id
    ),
    cand AS (
      SELECT c.a, c.b, ({eq}) / {float(k)} AS sim_est
      FROM cpairs c
      JOIN sig sa ON c.a = sa.doc_id
      JOIN sig sb ON c.b = sb.doc_id
    )"""


def _minhash_oracle() -> str:
    return f"""
    WITH {_minhash_pairs_ctes()}
    SELECT a, b, sim_est FROM cand
    """


_register(
    "minhash_lsh_pairs",
    lambda s, d: dedup.minhash_lsh_pairs(_cloned_docs(s, d)),
    _minhash_oracle(),
)


# S-curve fixture: every doc gains a PREFIX clone at 80%/50%/30% of its
# words by doc_id % 3 (prefix shingle sets give pair Jaccard ~ the kept
# fraction, populating the mid buckets where the S-curve actually
# bends) plus an exact clone for doc_id % 7 == 0 (the s=1.0 bucket).
def _curve_docs(s: SparkSession, d: str) -> DataFrame:
    docs = _t(s, d, "documents").select("doc_id", "text")
    did, words = F.col("doc_id"), F.split(F.col("text"), " ")
    frac = (
        F.when(did % 3 == 0, F.lit(0.8))
        .when(did % 3 == 1, F.lit(0.5))
        .otherwise(F.lit(0.3))
    )
    prefix = docs.select(
        (did + 1_000_000).alias("doc_id"),
        F.array_join(
            F.slice(words, 1,
                    F.ceil(F.size(words).cast("double") * frac).cast("int")),
            " ",
        ).alias("text"),
    )
    exact = docs.filter(did % 7 == 0).select(
        (did + 2_000_000).alias("doc_id"), "text"
    )
    return docs.unionByName(prefix).unionByName(exact)


_CURVE_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(list_slice(
             string_split(text, ' '), 1,
             CAST(ceil(len(string_split(text, ' '))
                       * (CASE doc_id % 3 WHEN 0 THEN 0.8
                          WHEN 1 THEN 0.5 ELSE 0.3 END)) AS INT)), ' ')
      FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM documents
    WHERE doc_id % 7 = 0
"""


def _curve_oracle(n_buckets: int = 10, max_df: int = 50,
                  pair_mod: int = 1, sample_mod: int = 1) -> str:
    """lsh_threshold_curve twin: distinct shingles -> df-capped pair
    sample -> exact jaccard -> signature band capture -> bucket rates;
    signatures from the same MINHASH_COEFFS, theory/edge literals from
    the same Python evaluation as the Spark side."""
    import math

    from .operators.dedup import (
        MINHASH_BANDS, MINHASH_COEFFS, MINHASH_K, MINHASH_P,
    )

    k, b, p = MINHASH_K, MINHASH_BANDS, MINHASH_P
    r = k // b
    r4 = lambda x: math.floor(x * 1e4 + 0.5) / 1e4  # noqa: E731
    mh = ",\n      ".join(
        f"min(({a} * x + {c}) % {p}) AS mh_{i}"
        for i, (a, c) in enumerate(MINHASH_COEFFS[:k])
    )
    band_terms = " OR ".join(
        "(" + " AND ".join(
            f"sa.mh_{bi * r + j} = sb.mh_{bi * r + j}" for j in range(r)
        ) + ")"
        for bi in range(b)
    )
    theory_case = " ".join(
        f"WHEN {i} THEN {r4(1.0 - (1.0 - ((i + 0.5) / n_buckets) ** r) ** b)!r}"
        for i in range(n_buckets)
    )
    lo_case = " ".join(
        f"WHEN {i} THEN {r4(i / n_buckets)!r}" for i in range(n_buckets)
    )
    hi_case = " ".join(
        f"WHEN {i} THEN {r4((i + 1) / n_buckets)!r}"
        for i in range(n_buckets)
    )
    return f"""
    WITH corpus AS (
      SELECT * FROM ({_CURVE_SQL})
      WHERE CAST(concat('0x', substring(md5(
              'curve:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % {sample_mod} = 0
    ),
    sh AS (
      SELECT DISTINCT doc_id AS id, unnest({_SHINGLE_SQL}) AS sh
      FROM corpus
    ),
    sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
    rare AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= {max_df}),
    capped AS (SELECT id, sh.sh FROM sh JOIN rare USING (sh)),
    pairs AS (
      SELECT a, b FROM (
        SELECT DISTINCT l.id AS a, r.id AS b
        FROM capped l JOIN capped r USING (sh) WHERE l.id < r.id
      )
      WHERE CAST(concat('0x', substring(md5(
              'pair:' || CAST(a AS VARCHAR) || '|'
              || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT)
            % {pair_mod} = 0
    ),
    inter AS (
      SELECT l.id AS a, r.id AS b, count(*) AS i_n
      FROM sh l JOIN sh r USING (sh) WHERE l.id < r.id
      GROUP BY l.id, r.id
    ),
    jac AS (
      SELECT p.a, p.b,
             CAST(i.i_n AS DOUBLE) / (za.n_sh + zb.n_sh - i.i_n) AS s
      FROM pairs p
      JOIN inter i ON p.a = i.a AND p.b = i.b
      JOIN sizes za ON p.a = za.id
      JOIN sizes zb ON p.b = zb.id
    ),
    hx AS (
      SELECT doc_id, ('0x' || substr(md5(unnest({_SHINGLE_SQL})), 1, 8))::BIGINT
               % {p} AS x
      FROM corpus
    ),
    sig AS (SELECT doc_id, {mh} FROM hx GROUP BY doc_id),
    flagged AS (
      SELECT least(CAST(floor(j.s * {n_buckets}) AS BIGINT),
                   {n_buckets - 1}) AS bucket,
             CASE WHEN {band_terms} THEN 1 ELSE 0 END AS c
      FROM jac j JOIN sig sa ON j.a = sa.doc_id
                 JOIN sig sb ON j.b = sb.doc_id
    )
    SELECT bucket,
           CAST(CASE bucket {lo_case} END AS DOUBLE) AS s_lo,
           CAST(CASE bucket {hi_case} END AS DOUBLE) AS s_hi,
           count(*) AS n_pairs,
           CAST(sum(c) AS BIGINT) AS n_captured,
           floor(CAST(sum(c) AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4
             AS capture_rate,
           CAST(CASE bucket {theory_case} END AS DOUBLE) AS theory_rate
    FROM flagged GROUP BY bucket ORDER BY bucket
    """


_register(
    "lsh_threshold_curve",
    lambda s, d: dedup.lsh_threshold_curve(_curve_docs(s, d),
                                           max_df=20, pair_mod=4,
                                           sample_mod=2),
    _curve_oracle(max_df=20, pair_mod=4, sample_mod=2),
)


def _dedup_first_docs(s: SparkSession, d: str) -> DataFrame:
    """Fixture for the exact-dedup-first composition: every doc gets an
    exact clone (+1M, a 2-copy exact group to collapse) AND a near clone
    (+2M, one appended token — survives the collapse and must pair with
    its original via LSH)."""
    near = _t(s, d, "documents").select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat("text", F.lit(" fin")).alias("text"),
        "source",
    )
    return _cloned_docs(s, d).unionByName(near)


_DEDUP_FIRST_SQL = (
    _CLONED_SQL
    + " UNION ALL SELECT doc_id + 2000000 AS doc_id, text || ' fin' AS text,"
    " source FROM documents"
)

_register(
    "near_dup_dedup_first",
    lambda s, d: dedup.near_dup_pairs_dedup_first(_dedup_first_docs(s, d)),
    f"""
    WITH corpus0 AS ({_DEDUP_FIRST_SQL}),
    groups AS (
      SELECT min(doc_id) AS keeper, count(*) AS n_copies, text
      FROM corpus0 GROUP BY text
    ),
    {_minhash_pairs_ctes("SELECT keeper AS doc_id, text FROM groups")}
    SELECT c.a, c.b, c.sim_est,
           ga.n_copies AS n_copies_a, gb.n_copies AS n_copies_b
    FROM cand c
    JOIN groups ga ON ga.keeper = c.a
    JOIN groups gb ON gb.keeper = c.b
    """,
)


def _simhash_chunk_sql(t: int) -> str:
    """16-bit chunk t of the 64-bit SimHash: majority vote per md5 bit
    (digest list precomputed once per doc in the ``ds`` column)."""
    parts = []
    for j in range(16):
        jj = 16 * t + j
        pos, mask = jj // 4 + 1, 8 >> (jj % 4)
        parts.append(
            f"(CASE WHEN 2 * len(list_filter(ds, d -> ('0x' || substr(d, {pos}, 1))::INT & {mask} != 0)) "
            f"> len(ds) THEN {1 << (15 - j)} ELSE 0 END)"
        )
    return "(" + " + ".join(parts) + ")"


def _simhash_ctes(corpus_sql: str | None = None) -> str:
    chunks = ",\n           ".join(
        f"CAST({_simhash_chunk_sql(t)} AS INT) AS c{t}" for t in range(4)
    )
    return f"""
    corpus AS ({corpus_sql or _CLONED_SQL}),
    base AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '), w -> md5(w)) AS ds
      FROM corpus
    ),
    sh AS (
      SELECT doc_id, {chunks} FROM base
    )"""


def _simhash_oracle() -> str:
    return f"""
    WITH {_simhash_ctes()}
    SELECT c0, c1, c2, c3, count(*) AS n_docs, min(doc_id) AS min_doc
    FROM sh GROUP BY c0, c1, c2, c3 HAVING count(*) > 1
    """


def _simhash_hamming_oracle() -> str:
    # All-pairs Hamming at oracle scale; equals the Spark chunk-band LSH
    # result exactly, because any pair within distance 3 of a 64-bit
    # signature shares >= 1 of the 4 16-bit chunks (pigeonhole).
    ham = " + ".join(f"bit_count(xor(l.c{t}, r.c{t}))" for t in range(4))
    return f"""
    WITH {_simhash_ctes()}
    SELECT l.doc_id AS a, r.doc_id AS b, CAST({ham} AS INT) AS hamming
    FROM sh l JOIN sh r ON l.doc_id < r.doc_id
    WHERE ({ham}) <= 3
    """


_register(
    "dedup_clusters",
    lambda s, d: dedup.dedup_clusters(_cloned_docs(s, d)),
    f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    fpairs AS (SELECT a, b FROM cand WHERE sim_est >= 0.5),
    edges AS (
      SELECT a AS x, b AS y FROM fpairs
      UNION SELECT b, a FROM fpairs
    ),
    nodes AS (SELECT DISTINCT x AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT reach.node, e.y FROM reach JOIN edges e ON reach.r = e.x
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
    SELECT component, count(*) AS n_members, max(node) AS max_member
    FROM comp GROUP BY component HAVING count(*) > 1
    """,
)

# SoftDeDup weights over the same clone corpus and the same recursive-
# CTE clustering: every member keeps its row, weighted 1/cluster_size
# (clusters of the exact clone pairs weigh 0.5; singletons 1.0).
_register(
    "dedup_weights",
    lambda s, d: dedup.dedup_weights(_cloned_docs(s, d)),
    f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    fpairs AS (SELECT a, b FROM cand WHERE sim_est >= 0.5),
    edges AS (
      SELECT a AS x, b AS y FROM fpairs
      UNION SELECT b, a FROM fpairs
    ),
    nodes AS (SELECT DISTINCT x AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT reach.node, e.y FROM reach JOIN edges e ON reach.r = e.x
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    digests AS (SELECT doc_id, md5(text) AS digest FROM corpus),
    grp AS (SELECT digest, min(doc_id) AS keeper FROM digests
            GROUP BY digest),
    rep_comp AS (
      SELECT g.digest, coalesce(c.component, g.keeper) AS component
      FROM grp g LEFT JOIN comp c ON g.keeper = c.node
    ),
    members AS (
      SELECT d.doc_id, r.component
      FROM digests d JOIN rep_comp r USING (digest)
    ),
    sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
              FROM members GROUP BY component)
    SELECT m.doc_id, m.component, s.cluster_size,
           floor((1.0 / s.cluster_size) * 1e4 + 0.5) / 1e4 AS weight
    FROM members m JOIN sizes s USING (component)
    ORDER BY m.doc_id
    """,
)


# Canonical-doc selection per near-dup cluster: best member by lexical-
# diversity quality, ties to MIN id (integer negation — no float -0.0
# hazard). Same recursive-CTE clustering as dedup_clusters plus the
# doc_quality twin.
_register(
    "cluster_best_docs",
    lambda s, d: dedup.cluster_best_docs(_cloned_docs(s, d)),
    f"""
    WITH RECURSIVE {_minhash_pairs_ctes()},
    fpairs AS (SELECT a, b FROM cand WHERE sim_est >= 0.5),
    edges AS (
      SELECT a AS x, b AS y FROM fpairs
      UNION SELECT b, a FROM fpairs
    ),
    nodes AS (SELECT DISTINCT x AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT reach.node, e.y FROM reach JOIN edges e ON reach.r = e.x
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    digests AS (SELECT doc_id, md5(text) AS digest FROM corpus),
    grp AS (SELECT digest, min(doc_id) AS keeper FROM digests GROUP BY digest),
    rep_comp AS (
      SELECT g.digest, coalesce(c.component, g.keeper) AS component
      FROM grp g LEFT JOIN comp c ON g.keeper = c.node
    ),
    members AS (
      SELECT d.doc_id, r.component FROM digests d JOIN rep_comp r USING (digest)
    ),
    q AS (
      SELECT doc_id,
             CASE WHEN len(words) > 0 THEN
               floor((CAST(len(list_distinct(words)) AS DOUBLE) / len(words))
                     * 1e4 + 0.5) / 1e4
             ELSE 0.0 END AS quality
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS words
            FROM corpus)
    ),
    sc AS (SELECT m.component, m.doc_id, q.quality
           FROM members m JOIN q USING (doc_id)),
    agg AS (SELECT component,
                   max({{'q': quality, 'nid': -doc_id}}) AS best,
                   count(*) AS n_members
            FROM sc GROUP BY component)
    SELECT component, -((best).nid) AS best_id, (best).q AS best_quality,
           n_members
    FROM agg WHERE n_members > 1
    """,
)

_register(
    "simhash_buckets",
    lambda s, d: dedup.simhash_buckets(_cloned_docs(s, d)),
    _simhash_oracle(),
)

# Paragraph-level dedup (C4/CCNet boilerplate removal). The fixture gives
# every document FOUR paragraphs so the operator\'s full surface
# discriminates: its own unique text (freq 1, kept), a shared block with
# corpus frequency EXACTLY max_freq (5 = 500/100 at sf0.01 — the <=
# boundary; an off-by-one drops it), an EMPTY paragraph from a blank
# line (frequency 500 but layout — the always-keep rule must fire), and
# the boilerplate (freq 500, dropped). Reassembly must restore the three
# survivors in original order, so broken pos-ordering is visible too.
_PARA_BOILER = "Abonnez-vous à la newsletter"


def _para_docs(s: SparkSession, d: str) -> DataFrame:
    doc_id = F.col("doc_id")
    return _t_raw(s, d, "documents").select(
        "doc_id",
        F.concat(
            "text",
            F.lit("\nbloc partagé "), (doc_id % 100).cast("string"),
            F.lit("\n\n" + _PARA_BOILER),
        ).alias("text"),
    )


_register(
    "paragraph_dedup",
    lambda s, d: dedup.paragraph_dedup(_para_docs(s, d), max_freq=5),
    f"""
    WITH corpus AS (
      SELECT doc_id,
             text || chr(10) || 'bloc partagé '
                  || CAST(doc_id % 100 AS VARCHAR)
                  || chr(10) || chr(10) || '{_PARA_BOILER}' AS text
      FROM documents
    ),
    paras AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS para,
             unnest(range(len(string_split(text, chr(10))))) AS pos
      FROM corpus
    ),
    freq AS (SELECT md5(para) AS ph, count(*) AS freq FROM paras GROUP BY 1),
    kept AS (
      SELECT p.doc_id, p.pos, p.para
      FROM paras p JOIN freq f ON md5(p.para) = f.ph
      WHERE f.freq <= 5 OR p.para = ''
    )
    SELECT c.doc_id,
           coalesce(string_agg(k.para, chr(10) ORDER BY k.pos), '')
             AS text_dedup
    FROM corpus c LEFT JOIN kept k USING (doc_id)
    GROUP BY c.doc_id
    """,
)

# keep_first variant — C4's actual line-dedup semantics: the min
# (doc_id, pos) occurrence of each over-frequent paragraph survives.
_register(
    "paragraph_dedup_keep_first",
    lambda s, d: dedup.paragraph_dedup(
        _para_docs(s, d), max_freq=5, keep_first=True
    ),
    f"""
    WITH corpus AS (
      SELECT doc_id,
             text || chr(10) || 'bloc partagé '
                  || CAST(doc_id % 100 AS VARCHAR)
                  || chr(10) || chr(10) || '{_PARA_BOILER}' AS text
      FROM documents
    ),
    paras AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS para,
             unnest(range(len(string_split(text, chr(10))))) AS pos
      FROM corpus
    ),
    freq AS (SELECT md5(para) AS ph, count(*) AS freq,
                    min(ROW(doc_id, pos)) AS first_occ
             FROM paras GROUP BY 1),
    kept AS (
      SELECT p.doc_id, p.pos, p.para
      FROM paras p JOIN freq f ON md5(p.para) = f.ph
      WHERE f.freq <= 5 OR p.para = ''
            OR ROW(p.doc_id, p.pos) = f.first_occ
    )
    SELECT c.doc_id,
           coalesce(string_agg(k.para, chr(10) ORDER BY k.pos), '')
             AS text_dedup
    FROM corpus c LEFT JOIN kept k USING (doc_id)
    GROUP BY c.doc_id
    """,
)

# End-to-end C4-style cleaning pipeline (composition showpiece): clone
# corpus + injected boilerplate -> paragraph dedup -> exact doc dedup on
# cleaned text -> quality gates, all one Catalyst plan.
_register(
    "clean_corpus",
    lambda s, d: pipeline.clean_corpus(
        _cloned_docs(s, d).select(
            "doc_id",
            F.concat("text", F.lit("\n" + _PARA_BOILER)).alias("text"),
        )
    ),
    f"""
    WITH corpus AS (
      SELECT doc_id, text || chr(10) || '{_PARA_BOILER}' AS text
      FROM ({_CLONED_SQL})
    ),
    paras AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS para,
             unnest(range(len(string_split(text, chr(10))))) AS pos
      FROM corpus
    ),
    freq AS (SELECT md5(para) AS ph, count(*) AS freq FROM paras GROUP BY 1),
    kept AS (
      SELECT p.doc_id, p.pos, p.para
      FROM paras p JOIN freq f ON md5(p.para) = f.ph WHERE f.freq <= 5 OR p.para = ''
    ),
    cleaned AS (
      SELECT c.doc_id,
             coalesce(string_agg(k.para, chr(10) ORDER BY k.pos), '') AS text
      FROM corpus c LEFT JOIN kept k USING (doc_id) GROUP BY c.doc_id
    ),
    ne AS (SELECT * FROM cleaned WHERE text <> ''),
    keepers AS (SELECT min(doc_id) AS keeper FROM ne GROUP BY md5(text)),
    reps AS (SELECT n.doc_id, n.text FROM ne n
             JOIN keepers kk ON n.doc_id = kk.keeper),
    tb AS (SELECT doc_id,
                  string_split(replace(text, chr(10), ' '), ' ') AS words,
                  length(text) AS n_chars FROM reps),
    tm AS (
      SELECT doc_id, words, CAST(len(words) AS INT) AS n_tokens,
             CAST(len(list_filter(words, w -> w IN
                 ('the','a','of','and','to','in','is'))) AS INT) AS n_stop,
             (n_chars - (len(words) - 1)) / len(words) AS awl_raw
      FROM tb
    ),
    tq AS (
      SELECT doc_id, n_tokens,
             floor((CAST(n_stop AS DOUBLE) / n_tokens) * 1e3 + 0.5) / 1e3 AS stopword_ratio,
             floor((awl_raw) * 1e3 + 0.5) / 1e3 AS avg_word_len
      FROM tm
      WHERE n_tokens >= 10 AND floor((awl_raw) * 1e3 + 0.5) / 1e3 >= 2.0
            AND floor((awl_raw) * 1e3 + 0.5) / 1e3 <= 12.0
    ),
    gs AS (
      SELECT doc_id,
             floor((CAST(list_sum(list_transform(words, x -> length(x)))
                        AS DOUBLE) / len(words)) * 1e4 + 0.5) / 1e4 AS mean_word_len,
             floor((CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))
                        AS DOUBLE) / len(words)) * 1e4 + 0.5) / 1e4 AS alpha_word_frac,
             floor((CAST(len(list_filter(words, x -> regexp_matches(x, '^[0-9]+$')))
                        AS DOUBLE) / len(words)) * 1e4 + 0.5) / 1e4 AS digit_word_frac
      FROM tm
    ),
    gq AS (
      SELECT doc_id, mean_word_len, alpha_word_frac FROM gs
      WHERE mean_word_len BETWEEN 3.0 AND 10.0
            AND alpha_word_frac >= 0.8 AND digit_word_frac < 0.3
    )
    SELECT t.doc_id, t.n_tokens, t.stopword_ratio, t.avg_word_len,
           g.mean_word_len, g.alpha_word_frac
    FROM tq t JOIN gq g USING (doc_id)
    """,
)

_register(
    "sequence_pack",
    lambda s, d: textstats.sequence_pack(_t(s, d, "documents")),
    """
    SELECT doc_id, shard, n_tokens,
           CAST(floor(cum_before / 512.0) AS BIGINT) AS pack_id,
           CAST(cum_before % 512 AS BIGINT) AS offset_in_pack
    FROM (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS INT) AS n_tokens,
             coalesce(sum(len(list_filter(string_split(text, ' '), w -> w <> ''))) OVER (
               PARTITION BY doc_id % 8 ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM documents
    )
    """,
)

_register(
    "domain_quota_sample",
    lambda s, d: skew.domain_quota_sample(_t_raw(s, d, "documents")),
    """
    SELECT doc_id, source, sample_rank FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT ASC,
                        doc_id ASC) AS sample_rank
      FROM documents
    ) WHERE sample_rank <= 10
    """,
)

_register(
    "simhash_hamming_pairs",
    lambda s, d: dedup.simhash_hamming_pairs(_cloned_docs(s, d)),
    _simhash_hamming_oracle(),
)


def _simhash_dedup_first_oracle() -> str:
    ham = " + ".join(f"bit_count(xor(l.c{t}, r.c{t}))" for t in range(4))
    return f"""
    WITH corpus0 AS ({_DEDUP_FIRST_SQL}),
    groups AS (
      SELECT min(doc_id) AS keeper, count(*) AS n_copies, text
      FROM corpus0 GROUP BY text
    ),
    {_simhash_ctes("SELECT keeper AS doc_id, text FROM groups")},
    hpairs AS (
      SELECT l.doc_id AS a, r.doc_id AS b, CAST({ham} AS INT) AS hamming
      FROM sh l JOIN sh r ON l.doc_id < r.doc_id
      WHERE ({ham}) <= 3
    )
    SELECT h.a, h.b, h.hamming,
           ga.n_copies AS n_copies_a, gb.n_copies AS n_copies_b
    FROM hpairs h
    JOIN groups ga ON ga.keeper = h.a
    JOIN groups gb ON gb.keeper = h.b
    """


_register(
    "simhash_dedup_first",
    lambda s, d: dedup.simhash_pairs_dedup_first(_dedup_first_docs(s, d)),
    _simhash_dedup_first_oracle(),
)


def _incr_new_batch(s: SparkSession, d: str) -> DataFrame:
    """Increment fixture: even docs re-crawled verbatim under new ids
    (must be dropped as corpus dups), odd docs re-crawled with changed
    content (must survive)."""
    base = _t_raw(s, d, "documents").select("doc_id", "text")
    dup = base.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text"
    )
    changed = base.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"),
        F.concat("text", F.lit(" nouveau")).alias("text"),
    )
    return dup.unionByName(changed)


_register(
    "incremental_dedup",
    lambda s, d: dedup.incremental_dedup(
        _incr_new_batch(s, d),
        _t_raw(s, d, "documents").select("doc_id", "text"),
        expected_items=100_000,
    ),
    """
    WITH newb AS (
      SELECT doc_id + 3000000 AS doc_id, text
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id + 4000000 AS doc_id, text || ' nouveau' AS text
      FROM documents WHERE doc_id % 2 = 1
    ),
    corpus_d AS (SELECT DISTINCT md5(text) AS digest FROM documents)
    SELECT n.doc_id, md5(n.text) AS digest
    FROM newb n LEFT JOIN corpus_d c ON md5(n.text) = c.digest
    WHERE c.digest IS NULL
    """,
)

def _lsh_jaccard(s: SparkSession, d: str) -> DataFrame:
    docs = _cloned_docs(s, d)
    cand = dedup.minhash_lsh_pairs(docs).filter(F.col("sim_est") >= 0.5)
    return dedup.jaccard_verify_pairs(docs, cand)


_register(
    "lsh_jaccard_verify",
    _lsh_jaccard,
    f"""
    WITH {_minhash_pairs_ctes()},
    fpairs AS (SELECT a, b FROM cand WHERE sim_est >= 0.5),
    ws AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS wset
      FROM corpus
    ),
    j AS (
      SELECT f.a, f.b,
             CAST(len(list_intersect(wa.wset, wb.wset)) AS DOUBLE)
               / len(list_distinct(list_concat(wa.wset, wb.wset))) AS j_raw
      FROM fpairs f
      JOIN ws wa ON f.a = wa.doc_id
      JOIN ws wb ON f.b = wb.doc_id
    )
    SELECT a, b, floor((j_raw) * 1e4 + 0.5) / 1e4 AS jaccard FROM j WHERE j_raw >= 0.9
    """,
)

_register(
    "ngram_jaccard",
    lambda s, d: dedup.ngram_jaccard_pairs(_cloned_docs(s, d)),
    f"""
    WITH corpus AS ({_CLONED_SQL}),
    base AS (
      SELECT doc_id, source AS grp,
             list_distinct(string_split(text, ' ')) AS wset
      FROM corpus
    ),
    pairs AS (
      SELECT l.doc_id AS a, r.doc_id AS b,
             CAST(len(list_intersect(l.wset, r.wset)) AS DOUBLE)
               / len(list_distinct(list_concat(l.wset, r.wset))) AS j_raw
      FROM base l JOIN base r ON l.grp = r.grp AND l.doc_id < r.doc_id
    )
    SELECT a, b, floor((j_raw) * 1e4 + 0.5) / 1e4 AS jaccard FROM pairs WHERE j_raw >= 0.9
    """,
)

# ===========================================================================
# Similarity search (embeddings)
# ===========================================================================

_PROBES = [0, 1, 2, 3, 4]

_register(
    "cosine_topk",
    lambda s, d: simsearch.cosine_topk(_t(s, d, "embeddings"), _PROBES),
    """
    WITH base AS (
      SELECT vec_id AS nb_id, embedding::DOUBLE[] AS v FROM embeddings
    ), probes AS (
      SELECT nb_id AS probe_id, v AS p FROM base WHERE nb_id IN (0,1,2,3,4)
    ), j AS (
      SELECT probe_id, nb_id,
             list_dot_product(p, v)
               / (sqrt(list_dot_product(p, p)) * sqrt(list_dot_product(v, v)))
               AS sim_raw
      FROM probes, base WHERE nb_id <> probe_id
    ), r AS (
      SELECT probe_id, nb_id, sim_raw,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY sim_raw DESC, nb_id ASC) AS rank
      FROM j
    )
    SELECT probe_id, rank, nb_id, floor((sim_raw) * 1e4 + 0.5) / 1e4 AS cosine
    FROM r WHERE rank <= 5
    """,
)

_register(
    "ivf_bucket_stats",
    lambda s, d: simsearch.ivf_bucket_stats(_t(s, d, "embeddings")),
    """
    WITH base AS (
      SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings
    ), cents AS (
      SELECT vid AS centroid_id, v AS c FROM base WHERE vid < 8
    ), d AS (
      SELECT vid, centroid_id,
             list_dot_product(v, v) - 2 * list_dot_product(v, c)
               + list_dot_product(c, c) AS dist
      FROM base, cents
    ), assigned AS (
      SELECT vid, centroid_id, floor((dist) * 1e3 + 0.5) / 1e3 AS dist,
             row_number() OVER (PARTITION BY vid
                                ORDER BY dist ASC, centroid_id ASC) AS rn
      FROM d
    )
    SELECT centroid_id, count(*) AS n_assigned,
           min(dist) AS min_dist, max(dist) AS max_dist
    FROM assigned WHERE rn = 1
    GROUP BY centroid_id ORDER BY centroid_id
    """,
)

def _cloned_embeddings(s: SparkSession, d: str) -> DataFrame:
    """Near-dup test fixture, QUERY-layer like _cloned_docs: a perturbed
    clone of every vector (first component * 1.01, id+10000) guarantees
    true near-dups exist. The operator itself never synthesizes rows."""
    base = _t(s, d, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    clones = base.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.concat(
            F.transform(F.slice("embedding", 1, 1), lambda x: x * 1.01),
            F.slice("embedding", 2, 100_000),
        ).alias("embedding"),
    )
    return base.unionByName(clones)


_register(
    "embedding_near_dup",
    lambda s, d: simsearch.embedding_near_dup_pairs(_cloned_embeddings(s, d)),
    """
    WITH orig AS (
      SELECT vec_id AS a, embedding::DOUBLE[] AS va FROM embeddings
    ), allv AS (
      SELECT a, va FROM orig
      UNION ALL
      SELECT a + 10000, list_concat([va[1] * 1.01], va[2:]) FROM orig
    ), cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS c
      FROM embeddings WHERE vec_id < 8
    ), dist AS (
      SELECT b.a, b.va, c.cid,
             list_dot_product(va, va) - 2 * list_dot_product(va, c)
               + list_dot_product(c, c) AS dd
      FROM allv b, cents c
    ), assigned AS (
      -- multi-probe: each vector joins through its 2 nearest centroids
      SELECT a, va, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY a ORDER BY dd ASC, cid ASC) AS rn
        FROM dist
      ) WHERE rn <= 2
    ), pairs AS (
      SELECT l.a, r.a AS b,
             list_dot_product(l.va, r.va)
               / (sqrt(list_dot_product(l.va, l.va))
                  * sqrt(list_dot_product(r.va, r.va))) AS sim_raw
      FROM assigned l JOIN assigned r ON l.cid = r.cid AND l.a < r.a
    )
    SELECT DISTINCT a, b, floor((sim_raw) * 1e4 + 0.5) / 1e4 AS cosine
    FROM pairs WHERE sim_raw >= 0.99
    """,
)


def _subtokens(s: SparkSession, d: str) -> DataFrame:
    """BPE-ish token counting: whitespace tokens vs regex subword units
    (letter runs / digit runs), the standard pre-tokenizer shape."""
    docs = _t(s, d, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-zA-Z]+|[0-9]+"), 0)).alias(
            "n_subtokens"
        ),
        F.size(
            F.array_distinct(F.regexp_extract_all("text", F.lit("[a-zA-Z]+|[0-9]+"), 0))
        ).alias("n_unique_subtokens"),
    )


_register(
    "subtoken_count",
    _subtokens,
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+')) AS INT) AS n_subtokens,
           CAST(len(list_distinct(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+'))) AS INT)
             AS n_unique_subtokens
    FROM documents
    """,
)

def _ann_ivf_oracle(n_centroids: int) -> str:
    return f"""
    WITH base AS (
      SELECT vec_id AS nb_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cents AS (
      SELECT nb_id AS cid, v AS c FROM base WHERE nb_id < {n_centroids}
    ), dist AS (
      SELECT nb_id, cid,
             list_dot_product(v, v) - 2 * list_dot_product(v, c)
               + list_dot_product(c, c) AS dd
      FROM base, cents
    ), ranked AS (
      SELECT nb_id, cid,
             row_number() OVER (PARTITION BY nb_id
                                ORDER BY dd ASC, cid ASC) AS rn
      FROM dist
    ), withc AS (
      SELECT b.nb_id, b.v, r.cid AS centroid_id
      FROM base b JOIN ranked r ON b.nb_id = r.nb_id AND r.rn = 1
    ), probes AS (
      -- nprobe = 2: each probe searches its 2 nearest centroids' buckets
      SELECT r.nb_id AS probe_id, b.v AS p, r.cid AS centroid_id
      FROM ranked r JOIN base b ON r.nb_id = b.nb_id
      WHERE r.nb_id IN (0,1,2,3,4) AND r.rn <= 2
    ), cands AS (
      SELECT pr.probe_id, w.centroid_id, w.nb_id,
             list_dot_product(pr.p, w.v)
               / (sqrt(list_dot_product(pr.p, pr.p))
                  * sqrt(list_dot_product(w.v, w.v))) AS sim_raw
      FROM probes pr JOIN withc w USING (centroid_id)
      WHERE w.nb_id <> pr.probe_id
    )
    SELECT probe_id, centroid_id, rank, nb_id, floor((sim_raw) * 1e4 + 0.5) / 1e4 AS cosine
    FROM (
      SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim_raw DESC, nb_id ASC) AS rank
      FROM cands
    ) WHERE rank <= 3
    """


_register(
    "ann_ivf_topk",
    lambda s, d: simsearch.ivf_topk(_t(s, d, "embeddings"), _PROBES),
    _ann_ivf_oracle(8),
)

# Large-nlist design point: at K=64 the auto-selected path is the
# broadcast-join assignment (one BroadcastHashJoin + min-of-struct argmin,
# no K x dim literal expression tree). Same semantics and tie-breaks, same
# oracle shape with 64 seed centroids.
_register(
    "ann_ivf_topk_k64",
    lambda s, d: simsearch.ivf_topk(
        _t(s, d, "embeddings"), _PROBES, n_centroids=64
    ),
    _ann_ivf_oracle(64),
)

# Graph ANN (NSW search inside IVF buckets, cogrouped applyInPandas):
# approximate vs BRUTE FORCE (recall pytest), but DETERMINISTIC in its own
# output — (sim desc, id asc) ties, medoid entry, id-sorted bucket kernel
# — so the oracle is a frozen golden (tools/freeze_hnsw_golden.py: a pure
# -Python twin of the routing + the same numpy bucket kernel), selected by
# a content checksum of the embeddings table the driver handed us
# (sf0.001 and sf0.01 both count 500 rows, so count can't key the slice).
_register(
    "hnsw_ann_topk",
    lambda s, d: hnsw.hnsw_topk(_t(s, d, "embeddings"), _PROBES),
    f"""
    SELECT probe_id, rank, nb_id, cosine
    FROM read_parquet('{GOLDEN_DIR}/hnsw_topk.parquet')
    WHERE emb_key = (SELECT sum(CAST(trunc(embedding[1] * 1e6) AS BIGINT))
                     FROM embeddings)
    """,
)

# IVF top-k with TRAINED centroids (one Lloyd step from the seeds),
# oracle-checked bit-for-bit: the per-bucket means are rounded to 6
# decimals on both sides, which absorbs float summation-order wobble, so
# bucket assignments — and therefore candidates and ranks — are identical.
def _ann_ivf_trained(s: SparkSession, d: str) -> DataFrame:
    emb = _t(s, d, "embeddings")
    cents = simsearch.train_centroids(emb, n_centroids=8, iters=1, quantize=6)
    return simsearch.ivf_topk(emb, _PROBES, centroids=cents)


_register(
    "ann_ivf_trained_topk",
    _ann_ivf_trained,
    """
    WITH base AS (
      SELECT vec_id AS nb_id, embedding::DOUBLE[] AS v FROM embeddings
    ), seeds AS (
      SELECT nb_id AS cid, v AS c FROM base WHERE nb_id < 8
    ), d0 AS (
      SELECT nb_id, cid,
             list_dot_product(v, v) - 2 * list_dot_product(v, c)
               + list_dot_product(c, c) AS dd
      FROM base, seeds
    ), a0 AS (
      -- Lloyd assignment step on the seed centroids
      SELECT nb_id, cid FROM (
        SELECT nb_id, cid, row_number() OVER (PARTITION BY nb_id
                                              ORDER BY dd ASC, cid ASC) AS rn
        FROM d0
      ) WHERE rn = 1
    ), unnested AS (
      SELECT a0.cid, unnest(b.v) AS x, generate_subscripts(b.v, 1) AS i
      FROM a0 JOIN base b USING (nb_id)
    ), m AS (
      SELECT cid, i, floor((avg(x)) * 1e6 + 0.5) / 1e6 AS cx FROM unnested GROUP BY cid, i
    ), trained AS (
      -- empty buckets keep their seed centroid
      SELECT s.cid, coalesce(t.c, s.c) AS c
      FROM seeds s LEFT JOIN (
        SELECT cid, list(cx ORDER BY i) AS c FROM m GROUP BY cid
      ) t USING (cid)
    ), dist AS (
      SELECT b.nb_id, t.cid,
             list_dot_product(b.v, b.v) - 2 * list_dot_product(b.v, t.c)
               + list_dot_product(t.c, t.c) AS dd
      FROM base b, trained t
    ), ranked AS (
      SELECT nb_id, cid,
             row_number() OVER (PARTITION BY nb_id
                                ORDER BY dd ASC, cid ASC) AS rn
      FROM dist
    ), withc AS (
      SELECT b.nb_id, b.v, r.cid AS centroid_id
      FROM base b JOIN ranked r ON b.nb_id = r.nb_id AND r.rn = 1
    ), probes AS (
      SELECT r.nb_id AS probe_id, b.v AS p, r.cid AS centroid_id
      FROM ranked r JOIN base b ON r.nb_id = b.nb_id
      WHERE r.nb_id IN (0,1,2,3,4) AND r.rn <= 2
    ), cands AS (
      SELECT pr.probe_id, w.centroid_id, w.nb_id,
             list_dot_product(pr.p, w.v)
               / (sqrt(list_dot_product(pr.p, pr.p))
                  * sqrt(list_dot_product(w.v, w.v))) AS sim_raw
      FROM probes pr JOIN withc w USING (centroid_id)
      WHERE w.nb_id <> pr.probe_id
    )
    SELECT probe_id, centroid_id, rank, nb_id, floor((sim_raw) * 1e4 + 0.5) / 1e4 AS cosine
    FROM (
      SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim_raw DESC, nb_id ASC) AS rank
      FROM cands
    ) WHERE rank <= 3
    """,
)


def _pq_oracle() -> str:
    """PQ-ANN twin: codebooks, encodings, and ADC tables all derived from
    the embeddings view with the same distance identity; the 8-term ADC
    sum is an explicit left-to-right chain (8 joins), matching the Spark
    fold order bit-for-bit."""
    from .operators.pq import PQ_K, PQ_M, PQ_SUBDIM

    d = PQ_SUBDIM
    encw_cols = ",\n             ".join(
        f"max(CASE WHEN mi = {mi} THEN code END) AS c{mi}" for mi in range(PQ_M)
    )
    dt_joins = "\n      ".join(
        f"JOIN dtt d{mi} ON d{mi}.probe_id = d0.probe_id AND d{mi}.mi = {mi} "
        f"AND d{mi}.code = e.c{mi}"
        for mi in range(1, PQ_M)
    )
    adc_chain = " + ".join(f"d{mi}.dval" for mi in range(PQ_M))
    return f"""
    WITH base AS (
      SELECT vec_id AS nb_id, embedding::DOUBLE[] AS va FROM embeddings
    ), mis AS (
      SELECT unnest(range({PQ_M})) AS mi
    ), cb AS (
      SELECT m.mi, b.nb_id AS ki, b.va[m.mi*{d}+1 : m.mi*{d}+{d}] AS sub
      FROM base b, mis m WHERE b.nb_id < {PQ_K}
    ), enc_d AS (
      SELECT b.nb_id, c.mi, c.ki,
             list_dot_product(b.va[c.mi*{d}+1 : c.mi*{d}+{d}],
                              b.va[c.mi*{d}+1 : c.mi*{d}+{d}])
               - 2 * list_dot_product(b.va[c.mi*{d}+1 : c.mi*{d}+{d}], c.sub)
               + list_dot_product(c.sub, c.sub) AS dd
      FROM base b, cb c
    ), enc AS (
      SELECT nb_id, mi, CAST(ki AS INT) AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY nb_id, mi
                                     ORDER BY dd ASC, ki ASC) AS rn
        FROM enc_d
      ) WHERE rn = 1
    ), encw AS (
      SELECT nb_id,
             {encw_cols}
      FROM enc GROUP BY nb_id
    ), probes AS (
      SELECT nb_id AS probe_id, va AS pv FROM base WHERE nb_id IN (0,1,2,3,4)
    ), dtt AS (
      SELECT p.probe_id, c.mi, CAST(c.ki AS INT) AS code,
             list_dot_product(p.pv[c.mi*{d}+1 : c.mi*{d}+{d}],
                              p.pv[c.mi*{d}+1 : c.mi*{d}+{d}])
               - 2 * list_dot_product(p.pv[c.mi*{d}+1 : c.mi*{d}+{d}], c.sub)
               + list_dot_product(c.sub, c.sub) AS dval
      FROM probes p, cb c
    ), adc AS (
      SELECT d0.probe_id, e.nb_id, {adc_chain} AS adc_raw
      FROM encw e
      JOIN dtt d0 ON d0.mi = 0 AND d0.code = e.c0
      {dt_joins}
      WHERE e.nb_id <> d0.probe_id
    )
    SELECT probe_id, rank, nb_id, floor((adc_raw) * 1e4 + 0.5) / 1e4 AS adc
    FROM (
      SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY adc_raw ASC, nb_id ASC) AS rank
      FROM adc
    ) WHERE rank <= 5
    """


def _pq_topk(s: SparkSession, d: str) -> DataFrame:
    from .operators import pq

    return pq.pq_topk(_t(s, d, "embeddings"), _PROBES)


_register("pq_ann_topk", _pq_topk, _pq_oracle())


# Dimension-truncation ANN (Matryoshka retrieval shape): shortlist on
# the first 16 of 64 dims, exact re-rank; cosine_trunc rides along so
# the truncation error is driver-visible per row.
_register(
    "truncated_ann_topk",
    lambda s, d: simsearch.truncated_ann_topk(_t(s, d, "embeddings"),
                                              _PROBES),
    f"""
    WITH base AS (
      SELECT vec_id AS nb_id, embedding::DOUBLE[] AS v,
             (embedding::DOUBLE[])[1:16] AS t
      FROM embeddings
    ), probes AS (
      SELECT nb_id AS probe_id, v AS p, t AS pt FROM base
      WHERE nb_id IN ({', '.join(str(p) for p in _PROBES)})
    ), cand AS (
      SELECT pr.probe_id, b.nb_id,
             list_dot_product(pr.pt, b.t)
               / (sqrt(list_dot_product(pr.pt, pr.pt))
                  * sqrt(list_dot_product(b.t, b.t))) AS sim_t,
             list_dot_product(pr.p, b.v)
               / (sqrt(list_dot_product(pr.p, pr.p))
                  * sqrt(list_dot_product(b.v, b.v))) AS sim_ex
      FROM probes pr, base b
      WHERE b.nb_id <> pr.probe_id
    ), short AS (
      SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim_t DESC, nb_id ASC) AS rs
      FROM cand
    )
    SELECT probe_id, rank, nb_id,
           floor(sim_ex * 1e4 + 0.5) / 1e4 AS cosine,
           floor(sim_t * 1e4 + 0.5) / 1e4 AS cosine_trunc
    FROM (
      SELECT probe_id, nb_id, sim_t, sim_ex,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY sim_ex DESC, nb_id ASC) AS rank
      FROM short WHERE rs <= 20
    ) WHERE rank <= 5
    """,
)


# SQ8 scalar-quantized ANN: per-dim min/scale from the corpus itself,
# asymmetric (float probe vs dequantized codes) shortlist of 4k, exact
# cosine re-rank to k. The twin recomputes the same stats / codes /
# sequential-fold similarities from the embeddings view — the floor()
# quantizer and both similarity folds are single correctly-rounded
# double ops in both engines, so shortlist cutoffs land identically.
_register(
    "sq8_ann_topk",
    lambda s, d: simsearch.sq8_topk(_t(s, d, "embeddings"), _PROBES),
    f"""
    WITH base AS (
      SELECT vec_id AS nb_id, embedding::DOUBLE[] AS v FROM embeddings
    ), u AS (
      SELECT nb_id, unnest(v) AS x, generate_subscripts(v, 1) AS i
      FROM base
    ), stats AS (
      SELECT i, min(x) AS mn, (max(x) - min(x)) / 255.0 AS s
      FROM u GROUP BY i
    ), q AS (
      SELECT nb_id, i,
             CASE WHEN s > 0
                  THEN mn + floor((x - mn) / s + 0.5) * s
                  ELSE mn END AS dx
      FROM u JOIN stats USING (i)
    ), dq AS (
      SELECT nb_id, list(dx ORDER BY i) AS dqv FROM q GROUP BY nb_id
    ), probes AS (
      SELECT nb_id AS probe_id, v AS p FROM base
      WHERE nb_id IN ({', '.join(str(p) for p in _PROBES)})
    ), cand AS (
      SELECT pr.probe_id, b.nb_id,
             list_dot_product(pr.p, d.dqv)
               / (sqrt(list_dot_product(pr.p, pr.p))
                  * sqrt(list_dot_product(d.dqv, d.dqv))) AS sim_sq,
             list_dot_product(pr.p, b.v)
               / (sqrt(list_dot_product(pr.p, pr.p))
                  * sqrt(list_dot_product(b.v, b.v))) AS sim_ex
      FROM probes pr, base b JOIN dq d USING (nb_id)
      WHERE b.nb_id <> pr.probe_id
    ), short AS (
      SELECT *, row_number() OVER (PARTITION BY probe_id
                                   ORDER BY sim_sq DESC, nb_id ASC) AS rs
      FROM cand
    )
    SELECT probe_id, rank, nb_id,
           floor(sim_ex * 1e4 + 0.5) / 1e4 AS cosine,
           floor(sim_sq * 1e4 + 0.5) / 1e4 AS cosine_sq
    FROM (
      SELECT probe_id, nb_id, sim_sq, sim_ex,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY sim_ex DESC, nb_id ASC) AS rank
      FROM short WHERE rs <= 20
    ) WHERE rank <= 5
    """,
)


# ===========================================================================
# Multimodal plumbing (binary payload -> typed metadata via mapInPandas)
# ===========================================================================

_register(
    "multimodal_meta",
    lambda s, d: multimodal.decode_metadata(
        multimodal.attach_payload(_t(s, d, "documents"))
    ),
    """
    SELECT doc_id,
           16 AS n_bytes,
           ('0x' || substr(md5(text), 1, 2))::INT AS width,
           ('0x' || substr(md5(text), 3, 2))::INT AS height
    FROM documents
    """,
)

def _image_payloads(s: SparkSession, d: str) -> DataFrame:
    """Real container headers as the payload fixture: each doc gets a
    minimal PNG (doc_id%3==0), GIF89a (==1) or JPEG SOI+SOF0 (==2) binary
    with dimensions derived from doc_id — built entirely from JVM-side hex
    expressions (no Python), decodable by any standards-following header
    parser."""
    docs = _t(s, d, "documents").select("doc_id")
    w = (F.col("doc_id") % 640 + 1).cast("int")
    h = (F.col("doc_id") % 480 + 1).cast("int")

    def be32(c):
        return F.lpad(F.hex(c), 8, "0")

    def be16(c):
        return F.lpad(F.hex(c), 4, "0")

    def le16(c):
        return F.concat(
            F.lpad(F.hex(c % 256), 2, "0"),
            F.lpad(F.hex(F.floor(c / 256).cast("int")), 2, "0"),
        )

    png = F.concat(
        F.lit("89504E470D0A1A0A0000000D49484452"), be32(w), be32(h)
    )
    gif = F.concat(F.lit("474946383961"), le16(w), le16(h))
    jpg = F.concat(F.lit("FFD8FFC0000808"), be16(h), be16(w))
    hexs = (
        F.when(F.col("doc_id") % 3 == 0, png)
        .when(F.col("doc_id") % 3 == 1, gif)
        .otherwise(jpg)
    )
    return docs.select("doc_id", F.unhex(hexs).alias("payload"))


_register(
    "image_header_meta",
    lambda s, d: multimodal.decode_metadata(_image_payloads(s, d)),
    """
    SELECT doc_id,
           CAST(CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 10 ELSE 11 END
                AS INT) AS n_bytes,
           CAST(doc_id % 640 + 1 AS INT) AS width,
           CAST(doc_id % 480 + 1 AS INT) AS height
    FROM documents
    """,
)

# URL canonicalization (crawl-dedup prerequisite): messy re-crawl URLs —
# cased scheme/host, default and non-default ports, unsorted query params,
# fragments — normalize to one key per logical page. The fixture builds
# the messy form from doc_id; the oracle states the expected canonical
# form from first principles (no shared normalization code).
def _url_canonicalize(s: SparkSession, d: str) -> DataFrame:
    from .functions.url import canonicalize_url, host_suffix

    k = F.col("doc_id") % 50
    messy = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("HTTPS://News.Site-"), k, F.lit(".Example.ORG:443/articles/"),
                 F.col("doc_id"), F.lit("?utm=x&b=2&a=1#sec")),
    ).when(
        F.col("doc_id") % 3 == 1,
        F.concat(F.lit("http://Site-"), k, F.lit(".Example.ORG:8080/a/"),
                 F.col("doc_id"), F.lit("?z=1#top")),
    ).otherwise(
        # userinfo + default port + EMPTY path + lowercase %-escapes
        F.concat(F.lit("HTTP://u:pw@Host-"), k, F.lit(".Example.COM:80"),
                 F.lit("?b=%2f"), F.col("doc_id"), F.lit("&a=%2F#f")),
    )
    docs = _t(s, d, "documents").select("doc_id", messy.alias("url"))
    return docs.select(
        "doc_id",
        canonicalize_url(F.col("url")).alias("canon_url"),
        host_suffix(F.col("url")).alias("domain"),
    )


_register(
    "url_canonicalize",
    _url_canonicalize,
    """
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN
             'https://news.site-' || (doc_id % 50)
               || '.example.org/articles/' || doc_id || '?a=1&b=2&utm=x'
           WHEN doc_id % 3 = 1 THEN
             'http://site-' || (doc_id % 50)
               || '.example.org:8080/a/' || doc_id || '?z=1'
           ELSE
             'http://host-' || (doc_id % 50)
               || '.example.com/?a=%2F&b=%2F' || doc_id
           END AS canon_url,
           CASE WHEN doc_id % 3 = 2 THEN 'example.com'
                ELSE 'example.org' END AS domain
    FROM documents
    """,
)

# Public-suffix registered domain — the CORRECT domain-quota key at web
# scale (host_suffix(2) merges all of *.co.uk into one bucket and splits
# platform suffixes like github.io that the PSL marks public). Fixture
# hosts exercise every PSL rule kind: exact multi-label, platform/private,
# wildcard *.ck, exception !www.ck, implicit-* default, and a host that IS
# a public suffix (NULL group). The oracle states the expected registered
# domain per branch FROM FIRST PRINCIPLES (no shared PSL code — the
# algorithm twin psl_registered_domain_sql is separately cross-checked in
# tests/test_operators.py). Scale: the rule set is a plan literal (no
# join); one hash agg with map-side partials; count(DISTINCT host) is a
# two-phase partial agg, not a window.
def _registered_domain_stats(s: SparkSession, d: str) -> DataFrame:
    from .functions.url import registered_domain, url_host

    k = (F.col("doc_id") % 10).cast("string")
    b = F.col("doc_id") % 8
    host = (
        F.when(b == 0, F.concat(F.lit("www.blog"), k, F.lit(".co.uk")))
        .when(b == 1, F.concat(F.lit("u"), k, F.lit(".github.io")))
        .when(b == 2, F.concat(F.lit("shop"), k, F.lit(".com.au")))
        .when(b == 3, F.concat(F.lit("x"), k, F.lit(".y"), k, F.lit(".ck")))
        .when(b == 4, F.lit("www.ck"))
        .when(b == 5, F.concat(F.lit("a.b.site"), k, F.lit(".example")))
        .when(b == 6, F.concat(F.lit("news"), k, F.lit(".fr")))
        .otherwise(F.lit("com"))
    )
    pages = _t(s, d, "documents").select(
        F.concat(F.lit("https://"), host, F.lit("/p/"),
                 F.col("doc_id")).alias("url")
    )
    return (
        pages.select(
            registered_domain(F.col("url")).alias("domain"),
            url_host(F.col("url")).alias("host"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").cast("int").alias("n_pages"),
            F.countDistinct("host").cast("int").alias("n_hosts"),
        )
    )


_register(
    "registered_domain_stats",
    _registered_domain_stats,
    """
    WITH u AS (
      SELECT doc_id,
        CASE doc_id % 8
          WHEN 0 THEN 'www.blog' || (doc_id % 10) || '.co.uk'
          WHEN 1 THEN 'u' || (doc_id % 10) || '.github.io'
          WHEN 2 THEN 'shop' || (doc_id % 10) || '.com.au'
          WHEN 3 THEN 'x' || (doc_id % 10) || '.y' || (doc_id % 10) || '.ck'
          WHEN 4 THEN 'www.ck'
          WHEN 5 THEN 'a.b.site' || (doc_id % 10) || '.example'
          WHEN 6 THEN 'news' || (doc_id % 10) || '.fr'
          ELSE 'com' END AS host,
        CASE doc_id % 8
          WHEN 0 THEN 'blog' || (doc_id % 10) || '.co.uk'
          WHEN 1 THEN 'u' || (doc_id % 10) || '.github.io'
          WHEN 2 THEN 'shop' || (doc_id % 10) || '.com.au'
          WHEN 3 THEN 'x' || (doc_id % 10) || '.y' || (doc_id % 10) || '.ck'
          WHEN 4 THEN 'www.ck'
          WHEN 5 THEN 'site' || (doc_id % 10) || '.example'
          WHEN 6 THEN 'news' || (doc_id % 10) || '.fr'
          ELSE NULL END AS domain
      FROM documents
    )
    SELECT domain, CAST(count(*) AS INT) AS n_pages,
           CAST(count(DISTINCT host) AS INT) AS n_hosts
    FROM u GROUP BY domain
    """,
)


_register(
    "byte_histogram",
    lambda s, d: multimodal.byte_histogram(
        multimodal.attach_payload(_t(s, d, "documents"))
    ),
    """
    WITH i AS (
      SELECT doc_id, md5(text) AS h, unnest(range(16)) AS i FROM documents
    )
    SELECT doc_id,
           ('0x' || substr(h, CAST(2 * i + 1 AS INT), 1))::INT AS bin,
           CAST(count(*) AS INT) AS n
    FROM i GROUP BY doc_id, bin
    """,
)

_register(
    "frame_sample",
    lambda s, d: multimodal.frame_sample(
        multimodal.attach_payload(_t(s, d, "documents"))
    ).drop("frame"),
    """
    WITH f AS (
      SELECT doc_id, md5(text) AS ph,
             1 + (('0x' || substr(md5(text), 1, 2))::INT % 4) AS n_frames
      FROM documents
    ), ex AS (
      SELECT doc_id, ph, unnest(range(n_frames)) AS i FROM f
    )
    SELECT doc_id, CAST(i AS INT) AS frame_idx, CAST(i * 40 AS INT) AS frame_ts_ms,
           md5(ph || '#' || CAST(i AS VARCHAR)) AS frame_hex,
           ('0x' || substr(md5(ph || '#' || CAST(i AS VARCHAR)), 1, 2))::INT AS width,
           ('0x' || substr(md5(ph || '#' || CAST(i AS VARCHAR)), 3, 2))::INT AS height
    FROM ex
    """,
)

# ===========================================================================
# Kernel-backed extraction queries (synthetic corpus, deterministic seed).
# extract_text / solde_status check against frozen pure-Python goldens.
# ===========================================================================


_KERNEL_CACHE: dict[tuple[str, str], DataFrame] = {}


def _kernel_out(s: SparkSession) -> DataFrame:
    """Kernel extraction over the deterministic corpus, persisted once per
    session — eleven queries project from it, so recomputing the Arrow
    pass each time would dominate the correctness run.

    Keyed by applicationId, not id(session): CPython can reuse an id()
    after a stopped session is garbage-collected, which would hand back a
    DataFrame bound to a dead context.

    Eviction drops only entries whose SparkContext is actually STOPPED
    (checked on the JVM SparkContext) — two live sessions alternating in
    one process each keep their cache instead of thrashing each other's
    persisted blocks with a full re-extraction per call."""
    return _cached_extract(s, "html", lambda: corpus_df(s, KERNEL_N))


def _cached_extract(s: SparkSession, name: str, make_docs) -> DataFrame:
    app = s.sparkContext.applicationId
    key = (app, name)
    if key not in _KERNEL_CACHE:
        for old_key, (old_s, _df) in list(_KERNEL_CACHE.items()):
            if old_key[0] == app:
                continue
            try:
                stopped = old_s.sparkContext._jsc.sc().isStopped()
            except Exception:
                stopped = True  # context unreachable — treat as dead
            if stopped:
                # blocks died with the context; nothing to unpersist
                _KERNEL_CACHE.pop(old_key)
        out = X.run_extract(make_docs(), num_partitions=8).persist()
        out.count()
        _KERNEL_CACHE[key] = (s, out)
    return _KERNEL_CACHE[key][1]


# Line-model quality stats (the Gopher line-level gates need line
# structure the flat documents table lacks; the kernel's extracted text
# carries it): per url, line count, mean/max line length and the
# short-line fraction. Oracle recomputes from the frozen golden text.
def _line_stats(s: SparkSession, d: str) -> DataFrame:
    text = X.extracted_text(_kernel_out(s))
    lines = text.select("url", F.explode(F.split("text", "\n")).alias("l"))
    ln = F.length("l")
    return lines.groupBy("url").agg(
        F.count("*").cast("int").alias("n_lines"),
        round_he(F.avg(ln), 4).alias("avg_line_chars"),
        F.max(ln).cast("int").alias("max_line_chars"),
        round_he(F.avg((ln < 20).cast("int")), 4).alias("short_line_frac"),
    )


_register(
    "line_stats",
    _line_stats,
    f"""
    WITH l AS (
      SELECT url, unnest(string_split(text, chr(10))) AS l
      FROM read_parquet('{{GOLDEN}}/extract_text_n{{N}}.parquet')
    )
    SELECT url, CAST(count(*) AS INT) AS n_lines,
           floor((avg(length(l))) * 1e4 + 0.5) / 1e4 AS avg_line_chars,
           CAST(max(length(l)) AS INT) AS max_line_chars,
           floor((avg(CASE WHEN length(l) < 20 THEN 1 ELSE 0 END)) * 1e4 + 0.5) / 1e4
             AS short_line_frac
    FROM l GROUP BY url
    """.replace("{GOLDEN}", GOLDEN_DIR).replace("{N}", str(KERNEL_N)),
)


# Full Gopher filter (word + line gates) over the kernel's line-model
# output. The synthetic corpus emits no bullet/ellipsis/hash characters,
# so an md5-keyed deterministic augmentation (the _gq_docs pattern)
# appends bullet-list / ellipsis / hash tails to selected docs, mirrored
# verbatim in the oracle — every gate branch is exercised cross-engine.
_GLQ_BULLET_TAIL = ("\n• alpha beta\n• gamma delta\n- epsilon zeta"
                    "\n* eta theta\n‣ iota kappa\n▪ lambda mu")
_GLQ_ELLIPSIS_TAIL = "\nto be continued...\nor was it…\nmore soon ..."
_GLQ_HASH_TAIL = "\n# heading one\n## sub # tags #here#"


def _gopher_line_q(s: SparkSession, d: str) -> DataFrame:
    text = X.extracted_text(_kernel_out(s))
    sel = F.conv(F.substring(F.md5("url"), 1, 2), 16, 10).cast("int") % 5
    docs = text.select(
        "url",
        F.when(sel == 0, F.concat("text", F.lit(_GLQ_BULLET_TAIL)))
        .when(sel == 1, F.concat("text", F.lit(_GLQ_ELLIPSIS_TAIL)))
        .when(sel == 2, F.concat("text", F.lit(_GLQ_HASH_TAIL)))
        .otherwise(F.col("text")).alias("text"),
    )
    return textstats.gopher_line_quality(docs)


_register(
    "gopher_line_quality",
    _gopher_line_q,
    rf"""
    WITH t AS (
      SELECT url,
             CASE CAST(concat('0x', substring(md5(url), 1, 2)) AS INT) % 5
               WHEN 0 THEN text || '{_GLQ_BULLET_TAIL}'
               WHEN 1 THEN text || '{_GLQ_ELLIPSIS_TAIL}'
               WHEN 2 THEN text || '{_GLQ_HASH_TAIL}'
               ELSE text END AS text
      FROM read_parquet('{GOLDEN_DIR}/extract_text_n{KERNEL_N}.parquet')
    ), base AS (
      SELECT url,
             string_split(text, chr(10)) AS ls,
             string_split(text, ' ') AS ws,
             CAST(length(text) - length(replace(text, '#', ''))
                  AS DOUBLE) AS n_hash,
             CAST((length(text) - length(replace(text, '...', ''))) / 3
                  + length(text) - length(replace(text, '…', ''))
                  AS DOUBLE) AS n_ell
      FROM t
    ), s AS (
      SELECT url,
             CAST(len(ls) AS INT) AS n_lines,
             floor(CAST(len(list_filter(ls, l -> regexp_matches(l,
                 '^\s*([•‣▪]|[-*]\s)'))) AS DOUBLE)
                 / len(ls) * 1e4 + 0.5) / 1e4 AS bullet_line_frac,
             floor(CAST(len(list_filter(ls, l -> regexp_matches(l,
                 '(\.\.\.|…)\s*$'))) AS DOUBLE)
                 / len(ls) * 1e4 + 0.5) / 1e4 AS ellipsis_line_frac,
             floor(n_hash / len(ws) * 1e4 + 0.5) / 1e4 AS hash_word_ratio,
             floor(n_ell / len(ws) * 1e4 + 0.5) / 1e4 AS ellipsis_word_ratio,
             floor(CAST(list_sum(list_transform(ws, x -> length(x)))
                        AS DOUBLE) / len(ws) * 1e4 + 0.5) / 1e4
               AS mean_word_len,
             floor(CAST(len(list_filter(ws, x -> regexp_matches(x,
                 '[a-zA-Z]'))) AS DOUBLE) / len(ws) * 1e4 + 0.5) / 1e4
               AS alpha_word_frac
      FROM base
    )
    SELECT url, n_lines, bullet_line_frac, ellipsis_line_frac,
           hash_word_ratio, ellipsis_word_ratio, mean_word_len,
           alpha_word_frac,
           CAST(bullet_line_frac < 0.9 AND ellipsis_line_frac < 0.3
                AND hash_word_ratio <= 0.1 AND ellipsis_word_ratio <= 0.1
                AND mean_word_len BETWEEN 3.0 AND 10.0
                AND alpha_word_frac >= 0.8 AS INT) AS passes
    FROM s
    """,
)


PDF_N = 200  # pdf corpus size (tools/freeze_golden.py N_PDF)


def _pdf_out(s: SparkSession) -> DataFrame:
    """Kernel extraction over the PDF corpus — the content-type sniff
    routes these payloads through pdf_text (the layout-parse path) and
    then the same per-kind dispatch as HTML pages. Cached per session
    like _kernel_out (two queries project from it)."""
    from .corpus import pdf_corpus_df

    return _cached_extract(s, "pdf", lambda: pdf_corpus_df(s, PDF_N))


_register(
    "pdf_extract_text",
    lambda s, d: X.extracted_text(_pdf_out(s)).select("url", "text"),
    f"""
    SELECT url, text
    FROM read_parquet('{GOLDEN_DIR}/pdf_text_n{PDF_N}.parquet')
    """,
)

_register(
    "pdf_fields",
    lambda s, d: X.extracted_fields(_pdf_out(s)),
    f"""
    SELECT url, field, value
    FROM read_parquet('{GOLDEN_DIR}/pdf_fields_n{PDF_N}.parquet')
    """,
)

_register(
    "extract_text",
    lambda s, d: X.extracted_text(_kernel_out(s)).select("url", "text"),
    f"""
    SELECT url, text
    FROM read_parquet('{GOLDEN_DIR}/extract_text_n{KERNEL_N}.parquet')
    """,
)

# Crawl-frontier table: document-ordered anchor targets per page
# (entity-decoded, urljoin-resolved, non-fetchable schemes dropped),
# distributed through the same Arrow pass and checked against the frozen
# pure-Python kernel golden.
_register(
    "extract_links",
    lambda s, d: X.extracted_links(_kernel_out(s)),
    f"""
    SELECT url, pos, href, anchor
    FROM read_parquet('{GOLDEN_DIR}/extract_links_n{KERNEL_N}.parquet')
    """,
)

# Page-outline table: document-ordered h1-h6 headings per page (the
# structural skeleton heading-aware chunking keys on), distributed
# through the same single Arrow pass and checked against the frozen
# pure-Python kernel golden like the other kernel projections.
_register(
    "extract_headings",
    lambda s, d: X.extracted_headings(_kernel_out(s)),
    f"""
    SELECT url, pos, level, heading
    FROM read_parquet('{GOLDEN_DIR}/extract_headings_n{KERNEL_N}.parquet')
    """,
)


_PR_ITERS = 3
_PR_DEFAULT_LINKS = """
      SELECT src, dst FROM (
        SELECT source AS src,
               unnest(['src' || CAST((doc_id * 7) % 20 AS VARCHAR),
                       'src' || CAST((doc_id * 13) % 20 AS VARCHAR)]) AS dst
        FROM documents
      ) WHERE src <> dst
    """


def _pagerank_ctes(links_body: str, iters: int = _PR_ITERS) -> str:
    """Unrolled-PageRank CTE chain (links, hosts, nn, deg, r0..rN) over a
    caller-supplied links CTE body; the caller embeds it in a WITH and
    reads rounded ranks from pr_final. Shared by the host_pagerank and
    frontier_next oracles so the iteration arithmetic can't drift."""
    sql = f"""
    links AS ({links_body}),
    hosts AS (SELECT DISTINCT src AS host FROM links
              UNION SELECT DISTINCT dst AS host FROM links),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM hosts),
    deg AS (SELECT src, count(*) AS outd FROM links GROUP BY src),
    r0 AS (SELECT host, 1.0 / nn.n AS rank FROM hosts CROSS JOIN nn)"""
    for k in range(1, iters + 1):
        sql += f""",
    c{k} AS (SELECT l.dst AS host, sum(r.rank / d.outd) AS s
             FROM links l JOIN r{k - 1} r ON l.src = r.host
             JOIN deg d ON l.src = d.src
             GROUP BY l.dst),
    r{k} AS (SELECT h.host, 0.15 / nn.n + 0.85 * coalesce(c.s, 0) AS rank
             FROM hosts h CROSS JOIN nn
             LEFT JOIN c{k} c ON h.host = c.host)"""
    sql += f""",
    pr_final AS (SELECT host, floor((rank) * 1e8 + 0.5) / 1e8 AS rank
                 FROM r{iters})"""
    return sql



# The crawl-loop composition: extracted links -> canonicalize -> drop
# already-held urls (latest_crawl_dedup over a two-snapshot synthetic
# store covering an md5-selected half of the candidates) -> robots
# admission (md5-selected hosts publish 'Disallow: /s' plus a 0-2s
# crawl-delay) -> per-host PageRank-weighted, delay-aware top-3. The
# oracle starts from the frozen golden links (the kernel pass is
# golden-checked by extract_links) and restates every downstream stage
# from first principles — the robots effect as a plain prefix test (the
# full parser chain is cross-checked by robots_filter/_agent), PageRank
# via the shared unrolled-CTE builder. Golden hrefs are verified clean
# (lowercase, portless, no query/fragment), so canonicalization is the
# identity on this input; the messy-input behavior is cross-checked by
# url_canonicalize.
def _frontier_next_q(s: SparkSession, d: str) -> DataFrame:
    from .functions.url import url_host
    from .operators import pipeline as P

    links = X.extracted_links(_kernel_out(s))
    url_sel = F.conv(F.substring(F.md5("url"), 1, 2), 16, 10).cast("int")
    already = (
        links.select(F.col("href").alias("url")).distinct()
        .filter(url_sel % 4 < 2)
    )
    crawled = already.select(
        "url", F.explode(F.array(F.lit(1), F.lit(2))).alias("snap")
    ).select(
        "url",
        F.col("snap").cast("long").alias("doc_id"),
        F.col("snap").cast("long").alias("warc_ts"),
    )
    hosts_all = links.select(url_host(F.col("href")).alias("host")).distinct()
    host_sel = F.conv(F.substring(F.md5("host"), 1, 2), 16, 10).cast("int")
    dly = (F.conv(F.substring(F.md5(F.col("host")), 3, 1), 16, 10)
           .cast("int") % 3).cast("string")
    robots = hosts_all.filter(host_sel % 2 == 0).select(
        "host",
        F.concat(F.lit("User-agent: *\nDisallow: /s\nCrawl-delay: "),
                 dly, F.lit("\n")).alias("robots_txt"),
    )
    return P.frontier_next(links, crawled, robots, top_k_per_host=3)


_FRONTIER_HOST = (
    "lower(regexp_extract(regexp_extract({u}, "
    "'^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), "
    "'^(?:.*@)?([^@]*)$', 1))"
)

_FRONTIER_PR_LINKS = f"""
      SELECT src, dst FROM (
        SELECT {_FRONTIER_HOST.format(u='url')} AS src,
               {_FRONTIER_HOST.format(u='href')} AS dst
        FROM glinks
      ) WHERE src <> dst
    """

_register(
    "frontier_next",
    _frontier_next_q,
    f"""
    WITH glinks AS (
      SELECT url, href
      FROM read_parquet('{GOLDEN_DIR}/extract_links_n{KERNEL_N}.parquet')
    ),
    cand AS (SELECT DISTINCT href AS url FROM glinks),
    fresh AS (
      SELECT url FROM cand
      WHERE CAST(concat('0x', substring(md5(url), 1, 2)) AS INT) % 4 >= 2
    ),
    withhost AS (
      SELECT url, {_FRONTIER_HOST.format(u='url')} AS host,
             CASE WHEN regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^#]*)?', 1) = ''
                  THEN '/' ELSE regexp_extract(url,
                    '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^#]*)?', 1)
             END AS path
      FROM fresh
    ),
    allhosts AS (
      SELECT DISTINCT {_FRONTIER_HOST.format(u='href')} AS host FROM glinks
    ),
    rhosts AS (
      SELECT host,
             CAST(CAST(concat('0x', substring(md5(host), 3, 1)) AS INT) % 3
                  AS DOUBLE) AS delay_sec
      FROM allhosts
      WHERE CAST(concat('0x', substring(md5(host), 1, 2)) AS INT) % 2 = 0
    ),
    admitted AS (
      SELECT w.url, w.host FROM withhost w
      LEFT JOIN rhosts r ON w.host = r.host
      WHERE r.host IS NULL OR NOT starts_with(w.path, '/s')
    ),
    {_pagerank_ctes(_FRONTIER_PR_LINKS).lstrip()},
    scored AS (
      SELECT a.url, a.host,
             coalesce(p.rank, 0.0) AS host_rank,
             coalesce(r.delay_sec, 1.0) AS delay_sec,
             CAST(row_number() OVER (PARTITION BY a.host ORDER BY a.url)
                  AS INT) AS fetch_pos
      FROM admitted a
      LEFT JOIN pr_final p ON a.host = p.host
      LEFT JOIN rhosts r ON a.host = r.host
    )
    SELECT url, host, host_rank, delay_sec, fetch_pos,
           floor((host_rank / (delay_sec + 1.0)) * 1e8 + 0.5) / 1e8
             AS priority
    FROM scored WHERE fetch_pos <= 3
    """,
)

_register(
    "solde_status",
    lambda s, d: X.extracted_statuses(_kernel_out(s)),
    f"""
    SELECT url, table_id, status, detail
    FROM read_parquet('{GOLDEN_DIR}/solde_status_n{KERNEL_N}.parquet')
    """,
)

_register(
    "extract_fields",
    lambda s, d: X.extracted_fields(_kernel_out(s)),
    f"SELECT url, field, value FROM read_parquet('{GOLDEN_DIR}/extract_fields_n{KERNEL_N}.parquet')",
)
_register(
    "extract_cells",
    lambda s, d: X.extracted_cells(_kernel_out(s)),
    f"SELECT url, table_id, row_id, col_id, value FROM read_parquet('{GOLDEN_DIR}/extract_cells_n{KERNEL_N}.parquet')",
)
_register(
    "fiscal_codes",
    lambda s, d: X.extracted_codes(_kernel_out(s)),
    f"SELECT url, table_id, code, pos, value FROM read_parquet('{GOLDEN_DIR}/fiscal_codes_n{KERNEL_N}.parquet')",
)


# Head metadata as a per-url wide row (kernel.head_metadata: <title> +
# rel=canonical with og:url fallback, head-region-only, first-valid-wins).
# The fields table is long format; the pivot here is the edge-reassembly
# pattern (same as pivot_wide_statements). Scale: groupBy(url).pivot over
# a FIXED two-value column list — one hash agg, no shuffle beyond it.
def _page_metadata(s: SparkSession, d: str) -> DataFrame:
    f = X.extracted_fields(_kernel_out(s))
    return (
        f.filter(F.col("field").isin("title", "canonical_url"))
        .groupBy("url")
        .pivot("field", ["title", "canonical_url"])
        .agg(F.max("value"))
    )


_register(
    "page_metadata",
    _page_metadata,
    f"""
    SELECT url,
           max(CASE WHEN field = 'title' THEN value END) AS title,
           max(CASE WHEN field = 'canonical_url' THEN value END)
             AS canonical_url
    FROM read_parquet('{GOLDEN_DIR}/extract_fields_n{KERNEL_N}.parquet')
    WHERE field IN ('title', 'canonical_url')
    GROUP BY url
    """,
)


# Canonical-URL collapse — the pre-crawl dedup a rel=canonical declaration
# buys: tracking-suffixed variants of one page group under their declared
# target WITHOUT content hashing (complements latest_crawl_dedup, which
# needs equal urls, and the digest dedups, which need fetched bodies).
# Representative = the canonical page itself when it was crawled, else
# the lexicographically-first variant (deterministic). Scale: one hash
# agg on target with map-side partials and a conditional-min rep pick —
# no window over docs, no self-join; the left join to the canonical
# fields is url-equi and AQE-broadcastable when declarations are sparse.
def _canonical_dedup(s: SparkSession, d: str) -> DataFrame:
    out = _kernel_out(s)
    canon = (
        X.extracted_fields(out)
        .filter(F.col("field") == "canonical_url")
        .select("url", F.col("value").alias("canon"))
    )
    eff = (
        X.extracted_text(out).select("url")
        .join(canon, "url", "left")
        .select("url", F.coalesce("canon", "url").alias("target"))
    )
    return eff.groupBy("target").agg(
        F.count("*").cast("int").alias("n_variants"),
        F.coalesce(
            F.min(F.when(F.col("url") == F.col("target"), F.col("url"))),
            F.min("url"),
        ).alias("rep_url"),
    )


_register(
    "canonical_dedup",
    _canonical_dedup,
    f"""
    WITH c AS (
      SELECT url, value AS canon
      FROM read_parquet('{GOLDEN_DIR}/extract_fields_n{KERNEL_N}.parquet')
      WHERE field = 'canonical_url'
    ), u AS (
      SELECT url
      FROM read_parquet('{GOLDEN_DIR}/extract_text_n{KERNEL_N}.parquet')
    ), eff AS (
      SELECT u.url, coalesce(c.canon, u.url) AS target
      FROM u LEFT JOIN c ON u.url = c.url
    )
    SELECT target, CAST(count(*) AS INT) AS n_variants,
           coalesce(min(CASE WHEN url = target THEN url END), min(url))
             AS rep_url
    FROM eff GROUP BY target
    """,
)

# Edge re-assembly with groupBy().pivot() (SURVEY 1.3: wide tables are
# reconstructed only at the edge): 4-column statement tables -> c0..c3.
def _pivot_wide(s: SparkSession, d: str) -> DataFrame:
    cells = X.extracted_cells(_kernel_out(s))
    four_col = (
        cells.groupBy("url", "table_id")
        .agg(F.max("col_id").alias("mx"))
        .filter(F.col("mx") == 3)
        .select("url", "table_id")
    )
    return (
        cells.join(four_col, ["url", "table_id"])
        .groupBy("url", "table_id", "row_id")
        .pivot("col_id", [0, 1, 2, 3])
        .agg(F.first("value"))
        .withColumnsRenamed({"0": "c0", "1": "c1", "2": "c2", "3": "c3"})
    )


_register(
    "pivot_wide_statements",
    _pivot_wide,
    f"""
    WITH c AS (
      SELECT * FROM read_parquet('{GOLDEN_DIR}/extract_cells_n{KERNEL_N}.parquet')
    ), four_col AS (
      SELECT url, table_id FROM c GROUP BY url, table_id
      HAVING max(col_id) = 3
    )
    SELECT c.url, c.table_id, c.row_id,
           max(CASE WHEN col_id = 0 THEN value END) AS c0,
           max(CASE WHEN col_id = 1 THEN value END) AS c1,
           max(CASE WHEN col_id = 2 THEN value END) AS c2,
           max(CASE WHEN col_id = 3 THEN value END) AS c3
    FROM c JOIN four_col USING (url, table_id)
    GROUP BY c.url, c.table_id, c.row_id
    """,
)


# A3/A4 schema-group stats over the kernel's long-format cells: column
# count per table (max col_id + 1) and the distinct-arity grouping the
# reference unions tables by (releve_bancaire.py:137-145).
def _cells_schema_groups(s: SparkSession, d: str) -> DataFrame:
    cells = X.extracted_cells(_kernel_out(s))
    per_table = cells.groupBy("url", "table_id").agg(
        (F.max("col_id") + 1).alias("n_cols"),
        (F.max("row_id") + 1).alias("n_rows"),
    )
    return per_table.groupBy("n_cols").agg(
        F.count("*").alias("n_tables"),
        F.sum("n_rows").alias("total_rows"),
    )


_register(
    "cells_schema_groups",
    _cells_schema_groups,
    f"""
    WITH per_table AS (
      SELECT url, table_id, max(col_id) + 1 AS n_cols, max(row_id) + 1 AS n_rows
      FROM read_parquet('{GOLDEN_DIR}/extract_cells_n{KERNEL_N}.parquet')
      GROUP BY url, table_id
    )
    SELECT n_cols, count(*) AS n_tables, CAST(sum(n_rows) AS BIGINT) AS total_rows
    FROM per_table GROUP BY n_cols
    """,
)

# J1 bank-id lookup as a genuine broadcast theta join (contains predicate)
# against the keywords dimension (FIXTURES section 3) — must agree with
# the kernel's in-process first-hit scan, via the frozen golden fields.
def _bank_id_join(s: SparkSession, d: str) -> DataFrame:
    from .sources.dimensions import keywords_df

    text = X.extracted_text(_kernel_out(s)).select("url", F.lower("text").alias("low"))
    banks = keywords_df(s).filter(F.col("kind") == "bank")
    matched = text.join(
        F.broadcast(banks), F.col("low").contains(F.col("pattern"))
    )
    return (
        matched.groupBy("url")
        .agg(F.min_by("target_id", "priority").alias("value"))
        .select("url", F.lit("bank_id").alias("field"), "value")
    )


_register(
    "bank_id_broadcast_join",
    _bank_id_join,
    f"""
    SELECT url, field, value
    FROM read_parquet('{GOLDEN_DIR}/extract_fields_n{KERNEL_N}.parquet')
    WHERE field = 'bank_id'
    """,
)


# P1 zone projection in relational form: the rules dimension's fractional
# windows (lcl.json shape, FIXTURES section 2) select line ranges of each
# document — the numpy-slice crop (process_fields.py:66-67) re-expressed
# as a broadcast-joined F.slice over the line array.
def _zone_projection(s: SparkSession, d: str) -> DataFrame:
    from .sources.dimensions import rules_df

    text = X.extracted_text(_kernel_out(s))
    lines = text.select("url", F.split("text", "\n").alias("lines"))
    rules = rules_df(s).filter(F.col("doc_kind") == "statement")
    n = F.size("lines")
    lo = F.floor(F.col("y0") * n).cast("int")
    hi = F.floor(F.col("y1") * n).cast("int")
    width = F.greatest(hi - lo, F.lit(0))
    sliced = F.slice("lines", lo + 1, width)
    return lines.crossJoin(F.broadcast(rules)).select(
        "url",
        "zone_name",
        n.alias("n_lines"),
        F.size(sliced).alias("n_window_lines"),
        # F.get (0-indexed) yields NULL on an empty window; element_at would
        # throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT under Spark 4 ANSI mode
        # while the DuckDB oracle (lines[lo+1]) returns NULL for the same row.
        F.get(sliced, 0).alias("first_line"),
    )


_register(
    "zone_projection",
    _zone_projection,
    f"""
    WITH t AS (
      SELECT url, string_split(text, chr(10)) AS lines
      FROM read_parquet('{GOLDEN_DIR}/extract_text_n{KERNEL_N}.parquet')
    ), rules AS (
      SELECT * FROM (VALUES
        ('client_info', 0.0, 0.35), ('bank_info', 0.0, 0.5),
        ('date_info', 0.0, 0.6), ('table_info', 0.3, 1.0)
      ) AS r(zone_name, y0, y1)
    ), j AS (
      SELECT url, zone_name,
             CAST(len(lines) AS INT) AS n_lines,
             CAST(floor(y0 * len(lines)) AS INT) AS lo,
             CAST(floor(y1 * len(lines)) AS INT) AS hi,
             lines
      FROM t CROSS JOIN rules
    )
    SELECT url, zone_name, n_lines,
           CAST(len(list_slice(lines, lo + 1, hi)) AS INT) AS n_window_lines,
           lines[lo + 1] AS first_line
    FROM j
    """,
)


# F5/F6 native date extraction over the line model, with the PER-BANK
# format tried first (process_fields.py:110-121 parses with ONLY the
# bank's configured date_format; the generic multi-try fallback is this
# repo's extension for bankless pages): bank_id comes from the broadcast
# keyword join (J1), its date_format from the bank_rules dimension
# (bank_configs/*.json analog), and the first parseable line is rendered
# back as French '%d %B %Y'. Must agree with the kernel's dispatch+scan
# via the golden fields.
def _date_field_native(s: SparkSession, d: str) -> DataFrame:
    from .functions.text import format_fr_date, parse_fr_date
    from .sources.dimensions import bank_rules_df, keywords_df

    out = _kernel_out(s)
    text = X.extracted_text(out).join(
        _urls_of_kind(out, "statement"), "url", "left_semi"
    )
    banks = keywords_df(s).filter(F.col("kind") == "bank")
    bank = (
        text.select("url", F.lower("text").alias("low"))
        .join(F.broadcast(banks), F.col("low").contains(F.col("pattern")))
        .groupBy("url")
        .agg(F.min_by("target_id", "priority").alias("bank_id"))
    )
    with_fmt = text.join(bank, "url", "left").join(
        F.broadcast(bank_rules_df(s)), "bank_id", "left"
    )
    lines = with_fmt.select(
        "url",
        "date_format",
        F.posexplode(F.split("text", "\n")).alias("pos", "line"),
    )
    # kernel parity (get_date): candidates per line are the WHOLE line
    # then each word (single-word lines: just the word), scanned in
    # document order; the digit guard mirrors _try_date_fmt's.
    words = F.split(F.col("line"), " ")
    cands_arr = F.when(F.size(words) <= 1, F.array(F.col("line"))).otherwise(
        F.concat(F.array(F.col("line")), words)
    )
    cands = lines.select(
        "url", "date_format", "pos",
        F.posexplode(cands_arr).alias("cand_idx", "cand"),
    ).filter(F.substring("cand", 1, 1).rlike("^[0-9]"))
    fr = parse_fr_date(F.col("cand"))
    slash = F.expr("try_to_date(cand, 'dd/MM/yyyy')")
    dot = F.expr("try_to_date(cand, 'dd.MM.yyyy')")
    bank_dt = (
        F.when(F.col("date_format") == "slash", slash)
        .when(F.col("date_format") == "dot", dot)
        .when(F.col("date_format") == "fr", fr)
    )
    gen_dt = F.coalesce(fr, slash, dot)
    # DOC-level precedence, not line-level: the configured bank format is
    # scanned across ALL candidates FIRST, and the generic multi-try pass
    # only applies when that whole scan misses (kernel get_date order —
    # a line-level coalesce would let an earlier line's generic parse
    # beat a later line's configured-format date).
    picked = cands.groupBy("url").agg(
        F.min(
            F.when(bank_dt.isNotNull(),
                   F.struct(F.col("pos"), F.col("cand_idx"),
                            format_fr_date(bank_dt).alias("v")))
        ).alias("b"),
        F.min(
            F.when(gen_dt.isNotNull(),
                   F.struct(F.col("pos"), F.col("cand_idx"),
                            format_fr_date(gen_dt).alias("v")))
        ).alias("g"),
    )
    value = F.coalesce(F.col("b.v"), F.col("g.v"))
    return (
        picked.select("url", F.lit("date").alias("field"),
                      value.alias("value"))
        .filter(F.col("value").isNotNull())
    )


_register(
    "date_field_native",
    _date_field_native,
    f"""
    SELECT url, field, value
    FROM read_parquet('{GOLDEN_DIR}/extract_fields_n{KERNEL_N}.parquet')
    WHERE field = 'date'
    """,
)


# Grouped-map (applyInPandas) wide-table re-assembly with F12 header
# disambiguation, cross-checked against pure SQL over the golden cells.
from .operators.assemble import assemble_tables  # noqa: E402

_register(
    "assemble_tables",
    lambda s, d: assemble_tables(X.extracted_cells(_kernel_out(s))),
    f"""
    WITH c AS (
      SELECT * FROM read_parquet('{GOLDEN_DIR}/extract_cells_n{KERNEL_N}.parquet')
    ), shape AS (
      SELECT url, table_id, max(row_id) + 1 AS n_rows, max(col_id) + 1 AS n_cols
      FROM c GROUP BY url, table_id
    ), cols AS (
      -- every table column 0..n_cols-1: ragged columns absent from the
      -- header row still get a '{{i}} - ' entry (empty name), matching the
      -- F12 disambiguation over the full table width
      SELECT url, table_id, unnest(range(n_cols)) AS col_id FROM shape
    ), hdr AS (
      SELECT cols.url, cols.table_id,
             string_agg(cols.col_id || ' - ' || coalesce(h.value, ''),
                        '|' ORDER BY cols.col_id) AS header_sig
      FROM cols LEFT JOIN (
        SELECT url, table_id, col_id, value FROM c WHERE row_id = 0
      ) h USING (url, table_id, col_id)
      GROUP BY cols.url, cols.table_id
    )
    SELECT s.url, s.table_id, s.n_rows, s.n_cols,
           coalesce(h.header_sig, '') AS header_sig
    FROM shape s LEFT JOIN hdr h USING (url, table_id)
    """,
)


# Locale-free French date round-trip (F5/F6): format o_orderdate as
# '%d %B %Y' with an explicit month mapping, parse it back natively.
def _french_dates(s: SparkSession, d: str) -> DataFrame:
    from .functions.text import format_fr_date, parse_fr_date

    orders = _t(s, d, "orders")
    fr = format_fr_date(F.col("o_orderdate").cast("date"))
    return orders.select(
        "o_orderkey",
        fr.alias("fr_date"),
        parse_fr_date(fr).cast("string").alias("roundtrip"),
    )


def _fr_date_oracle() -> str:
    from .kernel import FR_MONTHS

    name_case = " ".join(
        f"WHEN {i + 1} THEN '{m}'" for i, m in enumerate(FR_MONTHS)
    )
    num_case = " ".join(
        f"WHEN '{m}' THEN {i + 1}" for i, m in enumerate(FR_MONTHS)
    )
    return f"""
    WITH base AS (
      SELECT o_orderkey,
             lpad(CAST(day(o_orderdate) AS VARCHAR), 2, '0') || ' ' ||
             (CASE month(o_orderdate) {name_case} END) || ' ' ||
             CAST(year(o_orderdate) AS VARCHAR) AS fr_date
      FROM orders
    )
    SELECT o_orderkey, fr_date,
           CAST(make_date(
             CAST(regexp_extract(fr_date, ' (\\d{{4}})$', 1) AS INT),
             (CASE regexp_extract(fr_date, '^\\d{{1,2}} (\\S+) ', 1) {num_case} END),
             CAST(regexp_extract(fr_date, '^(\\d{{1,2}}) ', 1) AS INT)
           ) AS VARCHAR) AS roundtrip
    FROM base
    """


_register("french_date_roundtrip", _french_dates, _fr_date_oracle())

# Native-Spark reconciliation (operators/solde.py) over the kernel's cells
# output, checked against the SAME frozen golden statuses the pure-Python
# kernel produced — two independent implementations of check_solde
# (releve_bancaire.py:172-231) must agree bit-for-bit.
from .operators.solde import reconcile_cells  # noqa: E402

def _urls_of_kind(out: DataFrame, *kinds: str) -> DataFrame:
    """urls whose kernel doc_kind is one of ``kinds`` — the J2 dispatch
    predicate every kind-specific native twin must apply, or a lookalike
    line on another kind (e.g. a statement label containing an id trigger
    plus a 12-char token) would emit rows the dispatched kernel does not."""
    return (
        X.extracted_fields(out)
        .filter((F.col("field") == "doc_kind") & F.col("value").isin(*kinds))
        .select("url")
    )


def _solde_native(s: SparkSession, d: str) -> DataFrame:
    """J2 dispatch in relational form: reconciliation runs ONLY on
    statement documents (semi-join on the doc_kind field), exactly like
    the kernel's per-kind dispatch — fiscal/tax tables never enter the
    balance check."""
    out = _kernel_out(s)
    stmt = _urls_of_kind(out, "statement")
    return reconcile_cells(X.extracted_cells(out).join(stmt, "url", "left_semi"))


_register(
    "solde_native",
    _solde_native,
    f"SELECT url, table_id, status, detail FROM read_parquet('{GOLDEN_DIR}/solde_status_n{KERNEL_N}.parquet')",
)


# J2/J5/K8: the doc-kind classifier in native-relational form (identity
# kinds by per-word substring containment, the reference's
# `pattern in w.lower()`; tax_notice by phrase; plus the fiscal page-type
# probe), checked against the kernel's dispatch decision in the goldens.
def _doc_kind(s: SparkSession, d: str) -> DataFrame:
    text = X.extracted_text(_kernel_out(s))
    low = F.lower(F.regexp_replace("text", "’", "'"))
    words = F.split(low, r"\s+")

    def has_tok(pat: str):
        return F.exists(words, lambda w: w.contains(pat))

    kind = (
        F.when(has_tok("passeport"), F.lit("passport"))
        .when(has_tok("carte") & has_tok("nationale"), F.lit("id_card"))
        .when(has_tok("carte") & (has_tok("sejour") | has_tok("séjour")),
              F.lit("residence_permit"))
        .when(low.contains("avis d'imp"), F.lit("tax_notice"))
        .when(
            (low.contains("liasse fiscale") | low.contains("dgfip"))
            & (low.contains("2033") | low.contains("2050") | low.contains("2035")),
            F.lit("fiscal"),
        )
        .when(low.contains("relevé"), F.lit("statement"))
        .otherwise(F.lit("web_page"))
    )
    return text.select("url", F.lit("doc_kind").alias("field"), kind.alias("value"))


_register(
    "doc_kind",
    _doc_kind,
    f"""
    SELECT url, field, value
    FROM read_parquet('{GOLDEN_DIR}/extract_fields_n{KERNEL_N}.parquet')
    WHERE field = 'doc_kind'
    """,
)


# F20 generic key:value extractor in native form: row where the trigger
# is a substring of some word (`f in w.lower()`, document_identite.py
# get_field) -> segment after the idx-th ':' -> first token. id_card only
# (parse_carte_identite is the sole caller of the field table).
def _key_value_fields(s: SparkSession, d: str) -> DataFrame:
    from .kernel import FIELD_SPECS

    out = _kernel_out(s)
    text = X.extracted_text(out).join(
        _urls_of_kind(out, "id_card"), "url", "left_semi"
    )
    lines = text.select(
        "url", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    )
    out = None
    for name, trigger, idx in FIELD_SPECS:
        has_trigger = F.exists(
            F.split("line", " "), lambda w: F.lower(w).contains(trigger)
        )
        seg = F.trim(F.get(F.split("line", ":"), idx + 1))
        value = F.get(F.split(seg, " "), 0)
        part = (
            lines.filter(has_trigger)
            .select("url", "pos", value.alias("value"))
            .filter(F.coalesce("value", F.lit("")) != "")
            .groupBy("url")
            .agg(F.min_by("value", "pos").alias("value"))
            .select("url", F.lit(name).alias("field"), "value")
        )
        out = part if out is None else out.unionByName(part)
    return out


_register(
    "key_value_fields",
    _key_value_fields,
    f"""
    SELECT url, field, value
    FROM read_parquet('{GOLDEN_DIR}/extract_fields_n{KERNEL_N}.parquet')
    WHERE field LIKE 'kv_%'
    """,
)


# F21 12-char id heuristic in native form: first row where some word
# CONTAINS an id trigger (document_identite.py:203-209 `f in w.lower()`)
# and that carries a 12-char token -> that token. id_card only.
def _id_number_12(s: SparkSession, d: str) -> DataFrame:
    from .kernel import ID_NUMBER_TRIGGERS

    out = _kernel_out(s)
    text = X.extracted_text(out).join(
        _urls_of_kind(out, "id_card"), "url", "left_semi"
    )
    lines = text.select(
        "url", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    )
    toks = F.split("line", " ")
    has_trigger = F.exists(
        toks,
        lambda w: reduce(
            lambda a, b: a | b,
            [F.lower(w).contains(t) for t in ID_NUMBER_TRIGGERS],
        ),
    )
    twelve = F.get(F.filter(toks, lambda w: F.length(w) == 12), 0)
    return (
        lines.filter(has_trigger)
        .select("url", "pos", twelve.alias("value"))
        .filter(F.col("value").isNotNull())
        .groupBy("url")
        .agg(F.min_by("value", "pos").alias("value"))
        .select("url", F.lit("id_number").alias("field"), "value")
    )


_register(
    "id_number_12",
    _id_number_12,
    f"""
    SELECT url, field, value
    FROM read_parquet('{GOLDEN_DIR}/extract_fields_n{KERNEL_N}.parquet')
    WHERE field = 'id_number'
    """,
)


# F7 tax-notice date in native form: apostrophe-normalized row matching
# the pattern -> last token (avis_imposition.py:133-147).
def _tax_notice_date(s: SparkSession, d: str) -> DataFrame:
    out = _kernel_out(s)
    text = X.extracted_text(out).join(
        _urls_of_kind(out, "tax_notice"), "url", "left_semi"
    )
    lines = text.select(
        "url", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    )
    norm = F.lower(F.regexp_replace("line", "’", "'"))
    last_tok = F.element_at(F.split("line", " "), -1)
    return (
        lines.filter(norm.contains("avis d'imp"))
        .select("url", "pos", last_tok.alias("value"))
        .groupBy("url")
        .agg(F.min_by("value", "pos").alias("value"))
        .select("url", F.lit("tax_date").alias("field"), "value")
    )


_register(
    "tax_notice_date",
    _tax_notice_date,
    f"""
    SELECT url, field, value
    FROM read_parquet('{GOLDEN_DIR}/extract_fields_n{KERNEL_N}.parquet')
    WHERE field = 'tax_date'
    """,
)


# ===========================================================================
# Corpus hygiene: PII redaction, mojibake repair, decontamination, URL
# blocklist (operators/scrub.py). Fixtures inject the dirt deterministically
# in BOTH engines (the synthetic corpus is clean ASCII word soup).
# ===========================================================================
from .operators import scrub  # noqa: E402


def _pii_docs(s: SparkSession, d: str) -> DataFrame:
    doc_id = F.col("doc_id")
    tail = F.concat(
        F.when(doc_id % 3 == 0,
               F.concat(F.lit(" contact: user"), doc_id.cast("string"),
                        F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(doc_id % 5 == 0, F.lit(" tel: 06 12 34 56 78"))
        .otherwise(F.lit("")),
        F.when(doc_id % 7 == 0,
               F.concat(F.lit(" ip: 10.0."), (doc_id % 256).cast("string"),
                        F.lit(".25"))).otherwise(F.lit("")),
    )
    return _t(s, d, "documents").select(
        "doc_id", F.concat("text", tail).alias("text")
    )


_PII_SQL_CORPUS = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0 THEN ' contact: user'
                || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN ' tel: 06 12 34 56 78'
                ELSE '' END
           || CASE WHEN doc_id % 7 = 0 THEN ' ip: 10.0.'
                || CAST(doc_id % 256 AS VARCHAR) || '.25' ELSE '' END
           AS text
    FROM documents
"""


def _pii_oracle() -> str:
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{kind}s"
        for kind, pat, _ in scrub.PII_PATTERNS
    )
    red = "text"
    for _, pat, repl in scrub.PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
    WITH corpus AS ({_PII_SQL_CORPUS})
    SELECT doc_id, {counts}, {red} AS text_redacted FROM corpus
    """


_register(
    "pii_redact",
    lambda s, d: scrub.pii_redact(_pii_docs(s, d)),
    _pii_oracle(),
)

# Mojibake fixture: append a French tail covering the full MOJIBAKE_MAP
# repertoire, then corrupt it with the reverse map — Â-family characters
# first, so the '»' inside û's mojibake 'Ã»' is produced AFTER '»' itself
# was corrupted and never double-corrupts. Repair must restore the
# original exactly (`restored` column) and count one fix per sequence.
_MOJI_TAIL = (" Café crème «déjà» où ça gêne, être sûr en août à 1°, "
              "île câline, drôle, aigüe")
_MOJI_CORRUPT = (
    [(g, b) for b, g in scrub.MOJIBAKE_MAP if b.startswith("Â")]
    + [(g, b) for b, g in scrub.MOJIBAKE_MAP if b.startswith("Ã")]
)


def _moji_docs(s: SparkSession, d: str) -> DataFrame:
    corrupted = F.concat(F.col("text"), F.lit(_MOJI_TAIL))
    for good, bad in _MOJI_CORRUPT:
        corrupted = F.replace(corrupted, F.lit(good), F.lit(bad))
    return _t(s, d, "documents").select(
        "doc_id", corrupted.alias("text"),
        F.concat("text", F.lit(_MOJI_TAIL)).alias("want"),
    )


def _moji_query(s: SparkSession, d: str) -> DataFrame:
    docs = _moji_docs(s, d)
    fixed = scrub.fix_mojibake(docs)
    return fixed.join(docs.select("doc_id", "want"), "doc_id").select(
        "doc_id", "n_fixed",
        (F.col("text_fixed") == F.col("want")).alias("restored"),
        F.md5("text_fixed").alias("fixed_md5"),
    )


def _moji_oracle() -> str:
    corrupted = f"(text || '{_MOJI_TAIL}')"
    for good, bad in _MOJI_CORRUPT:
        corrupted = f"replace({corrupted}, '{good}', '{bad}')"
    fixed = "text"
    for bad, good in scrub.MOJIBAKE_MAP:
        fixed = f"replace({fixed}, '{bad}', '{good}')"
    return f"""
    WITH corrupt AS (
      SELECT doc_id, {corrupted} AS text,
             text || '{_MOJI_TAIL}' AS want
      FROM documents
    ),
    rep AS (
      SELECT doc_id, want, {fixed} AS text_fixed,
             CAST(length(text) - length({fixed}) AS INT) AS n_fixed
      FROM corrupt
    )
    SELECT doc_id, n_fixed, text_fixed = want AS restored,
           md5(text_fixed) AS fixed_md5
    FROM rep
    """


_register("fix_mojibake", _moji_query, _moji_oracle())

# Decontamination fixture: a 12-word benchmark passage appended to the
# benchmark docs (doc_id % 97 == 0) and leaked into doc_id % 13 == 5 of
# the training corpus (benchmark docs excluded from it). Each leaked doc
# surfaces with AT LEAST the passage's 5 pure 8-grams; a handful gain a
# 6th hit where a boundary-crossing window happens to coincide with a
# benchmark doc's n-gram (measured at sf0.01: n_hits {5: 30, 6: 8}) —
# the invariant is >= 5 for leaked docs and absence for clean ones.
_DECON_PASSAGE = ("quick brown fox jumps over lazy dog tonight "
                  "again friends forever together")


def _decon_query(s: SparkSession, d: str) -> DataFrame:
    base = _t(s, d, "documents").select("doc_id", "text")
    corpus = base.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 13 == 5,
               F.concat("text", F.lit(" " + _DECON_PASSAGE)))
        .otherwise(F.col("text")).alias("text"),
    )
    bench = base.filter(F.col("doc_id") % 97 == 0).select(
        "doc_id", F.concat("text", F.lit(" " + _DECON_PASSAGE)).alias("text")
    )
    return scrub.decontaminate(corpus, bench, n=8)


_register(
    "decontaminate",
    _decon_query,
    f"""
    WITH corpus AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 13 = 5
               THEN ' {_DECON_PASSAGE}' ELSE '' END AS text
      FROM documents WHERE doc_id % 97 <> 0
    ),
    bench AS (
      SELECT doc_id, text || ' {_DECON_PASSAGE}' AS text
      FROM documents WHERE doc_id % 97 = 0
    ),
    bw AS (SELECT string_split(text, ' ') AS words FROM bench),
    bi AS (SELECT words, unnest(range(greatest(len(words) - 7, 0))) AS i
           FROM bw),
    bg AS (SELECT DISTINCT
             md5(array_to_string(words[i + 1:i + 8], ' ')) AS gh FROM bi),
    dw AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
    di AS (SELECT doc_id, words,
                  unnest(range(greatest(len(words) - 7, 0))) AS i FROM dw),
    dg AS (SELECT DISTINCT doc_id,
             md5(array_to_string(words[i + 1:i + 8], ' ')) AS gh FROM di)
    SELECT d.doc_id, count(*) AS n_hits
    FROM dg d JOIN bg USING (gh)
    GROUP BY d.doc_id
    """,
)

# URL blocklist fixture: synthesize one url per document from its source
# ('https://www.srcN.example.com/p/<id>', with an '/ads/' segment on
# doc_id % 17 == 4), block four site suffixes plus the path rule.
_BLOCKED_SITES = [f"src{i}.example.com" for i in (3, 7, 11, 15)]


def _blocklist_query(s: SparkSession, d: str) -> DataFrame:
    doc_id = F.col("doc_id")
    pages = _t(s, d, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://www."), F.col("source"), F.lit(".example.com/p/"),
            F.when(doc_id % 17 == 4, F.lit("ads/")).otherwise(F.lit("")),
            doc_id.cast("string"),
        ).alias("url"),
    )
    keep = scrub.url_blocklist_filter(
        pages, scrub.blocklist_of(s, _BLOCKED_SITES)
    )
    return keep.select("doc_id", "url", "site")


_register(
    "url_blocklist_filter",
    _blocklist_query,
    f"""
    WITH pages AS (
      SELECT doc_id,
             'https://www.' || source || '.example.com/p/'
               || CASE WHEN doc_id % 17 = 4 THEN 'ads/' ELSE '' END
               || CAST(doc_id AS VARCHAR) AS url,
             source || '.example.com' AS site
      FROM documents
    )
    SELECT doc_id, url, site FROM pages
    WHERE NOT regexp_matches(url, '/ads/')
      AND site NOT IN ({", ".join(repr(x) for x in _BLOCKED_SITES)})
    """,
)


# ===========================================================================
# Lexical retrieval (operators/retrieval.py), windowed substring dedup
# (dedup.window_dedup_stats), and data selection (operators/sampling.py).
# ===========================================================================
from .operators import retrieval, sampling  # noqa: E402

_TF_SQL = """
    SELECT term, doc_id, count(*) AS tf
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents)
    WHERE term <> '' GROUP BY term, doc_id
"""

_register(
    "inverted_index",
    lambda s, d: retrieval.inverted_index_stats(_t(s, d, "documents")),
    f"""
    WITH tf AS ({_TF_SQL}),
    agg AS (
      SELECT term, count(*) AS doc_freq,
             CAST(sum(tf) AS BIGINT) AS total_tf
      FROM tf GROUP BY term
    ),
    champ AS (
      SELECT term, doc_id AS champion_doc, tf AS champion_tf FROM (
        SELECT *, row_number() OVER (
          PARTITION BY term ORDER BY tf DESC, doc_id DESC) AS rn
        FROM tf
      ) WHERE rn = 1
    )
    SELECT a.term, a.doc_freq, a.total_tf, c.champion_doc, c.champion_tf
    FROM agg a JOIN champ c USING (term)
    """,
)

_BM25_TERMS = ["spark", "join", "window", "fast"]


_register(
    "bm25_topk",
    lambda s, d: retrieval.bm25_topk(
        _t_raw(s, d, "documents"), _BM25_TERMS, k=10
    ),
    f"""
    WITH tf AS ({_TF_SQL}),
    q AS (SELECT unnest(
        [{", ".join(repr(t) for t in _BM25_TERMS)}]) AS term),
    dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl
           FROM tf GROUP BY doc_id),
    st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
           FROM dl),
    dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
            FROM tf JOIN q USING (term) GROUP BY term),
    parts AS (
      SELECT tf.doc_id,
             ln((st.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
             * (tf.tf * (1.2 + 1))
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS part
      FROM tf JOIN q USING (term) JOIN dft USING (term)
      JOIN dl USING (doc_id) CROSS JOIN st
    ),
    sc AS (SELECT doc_id, floor((sum(part)) * 1e4 + 0.5) / 1e4 AS score,
                  count(*) AS n_matched
           FROM parts GROUP BY doc_id)
    SELECT doc_id, score, n_matched FROM sc
    ORDER BY score DESC, doc_id ASC LIMIT 10
    """,
)

# Fielded BM25F over the same corpus/terms as bm25_topk: title = first
# 8 tokens at weight 2.0 — occurrences weighted BEFORE saturation (the
# Robertson rule), so title hits outrank equal-tf body hits without
# double-saturating. Twin restates the weighted tf with the identical
# exact-integer-in-double weights.
_register(
    "bm25f_topk",
    lambda s, d: retrieval.bm25f_topk(
        _t(s, d, "documents"), _BM25_TERMS, k=10
    ),
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term,
             generate_subscripts(string_split(text, ' '), 1) AS i
      FROM documents
    ),
    wtf AS (
      SELECT term, doc_id,
             sum(CAST(CASE WHEN i <= 8 THEN 2.0 ELSE 1.0 END AS DOUBLE))
               AS wtf
      FROM toks WHERE term <> '' GROUP BY term, doc_id
    ),
    q AS (SELECT unnest(
        [{", ".join(repr(t) for t in _BM25_TERMS)}]) AS term),
    dl AS (SELECT doc_id, sum(wtf) AS wdl FROM wtf GROUP BY doc_id),
    st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(wdl) AS avgwdl
           FROM dl),
    dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
            FROM wtf JOIN q USING (term) GROUP BY term),
    parts AS (
      SELECT wtf.doc_id,
             ln((st.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
             * (wtf.wtf * (1.2 + 1))
             / (wtf.wtf + 1.2 * (1 - 0.75 + 0.75 * dl.wdl / st.avgwdl))
               AS part
      FROM wtf JOIN q USING (term) JOIN dft USING (term)
      JOIN dl USING (doc_id) CROSS JOIN st
    ),
    sc AS (SELECT doc_id, floor((sum(part)) * 1e4 + 0.5) / 1e4 AS score,
                  count(*) AS n_matched
           FROM parts GROUP BY doc_id)
    SELECT doc_id, score, n_matched FROM sc
    ORDER BY score DESC, doc_id ASC LIMIT 10
    """,
)


# Weighted multi-query BM25: 3 queries, one of them weighted, one sharing
# terms with another — the fixture exercises weight scaling, per-query
# isolation and the duplicate-term weight sum. ONE Spark job for all
# queries (plan-asserted: WindowGroupLimit, no per-query loops).
_BM25_MULTI = [
    (1, "spark", 1.0), (1, "join", 1.0),
    (2, "spark", 2.0), (2, "window", 0.5), (2, "window", 0.5),
    (3, "fast", 1.0), (3, "slow", 3.0),
]


def _bm25_multi(s: SparkSession, d: str) -> DataFrame:
    q = s.createDataFrame(_BM25_MULTI, "query_id long, term string, weight double")
    return retrieval.bm25_multi_topk(_t_raw(s, d, "documents"), q, k=5)


_register(
    "bm25_multi_topk",
    _bm25_multi,
    f"""
    WITH tf AS ({{_TF_SQL}}),
    qraw AS (SELECT CAST(query_id AS BIGINT) AS query_id, term, weight
        FROM (VALUES
        {", ".join(f"({qid}, {t!r}, {w})" for qid, t, w in _BM25_MULTI)})
        v(query_id, term, weight)),
    q AS (SELECT query_id, term, CAST(sum(weight) AS DOUBLE) AS weight
          FROM qraw GROUP BY query_id, term),
    dl AS (SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl
           FROM tf GROUP BY doc_id),
    st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl
           FROM dl),
    dft AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
            FROM tf JOIN (SELECT DISTINCT term FROM q) USING (term)
            GROUP BY term),
    parts AS (
      SELECT q.query_id, tf.doc_id,
             q.weight
             * ln((st.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
             * (tf.tf * (1.2 + 1))
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS part
      FROM tf JOIN q USING (term) JOIN dft USING (term)
      JOIN dl USING (doc_id) CROSS JOIN st
    ),
    sc AS (SELECT query_id, doc_id,
                  floor((sum(part)) * 1e4 + 0.5) / 1e4 AS score,
                  count(*) AS n_matched
           FROM parts GROUP BY query_id, doc_id),
    rk AS (SELECT query_id, doc_id, score, n_matched,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id ASC)
                    AS rank
           FROM sc)
    SELECT query_id, rank, doc_id, score, n_matched
    FROM rk WHERE rank <= 5
    """.replace("{_TF_SQL}", _TF_SQL),
)

# window_dedup fixture: a mixed corpus so dup_frac actually discriminates
# (an all-cloned corpus scored 1.0 everywhere): even docs are cloned
# (dup_frac 1.0 for them and their clones), docs with doc_id % 5 == 1 get
# a shared 35-token passage PREPENDED (their leading windows match across
# docs while their own-text windows stay unique -> mid-range dup_frac),
# the rest are untouched (dup_frac 0.0).
_WD_PASSAGE = " ".join(f"wd{i}" for i in range(35))


def _wd_docs(s: SparkSession, d: str) -> DataFrame:
    doc_id = F.col("doc_id")
    base = _t_raw(s, d, "documents").select(
        "doc_id",
        F.when(doc_id % 5 == 1,
               F.concat(F.lit(_WD_PASSAGE + " "), F.col("text")))
        .otherwise(F.col("text")).alias("text"),
    )
    clones = base.filter(doc_id % 2 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return base.unionByName(clones)


_WD_SQL_CORPUS = f"""
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 1 THEN '{_WD_PASSAGE} ' || text
                  ELSE text END AS text
      FROM documents
"""

_register(
    "window_dedup",
    lambda s, d: dedup.window_dedup_stats(_wd_docs(s, d)),
    f"""
    WITH corpus AS (
      SELECT doc_id, text FROM ({_WD_SQL_CORPUS})
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM ({_WD_SQL_CORPUS})
      WHERE doc_id % 2 = 0
    ),
    w AS (SELECT doc_id, string_split(text, ' ') AS words FROM corpus),
    occ AS (
      SELECT doc_id,
             md5(array_to_string(words[i * 15 + 1:i * 15 + 30], ' ')) AS wh
      FROM (
        SELECT doc_id, words,
               unnest(range(CAST(floor((len(words) - 30) / 15.0) AS BIGINT)
                            + 1)) AS i
        FROM w WHERE len(words) >= 30
      )
    ),
    freq AS (SELECT wh, count(*) AS freq FROM occ GROUP BY wh),
    roll AS (
      SELECT o.doc_id, count(*) AS n_windows,
             CAST(sum(CASE WHEN f.freq > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_windows
      FROM occ o JOIN freq f USING (wh) GROUP BY o.doc_id
    )
    SELECT doc_id, n_windows, n_dup_windows,
           floor((CAST(n_dup_windows AS DOUBLE) / n_windows) * 1e4 + 0.5) / 1e4 AS dup_frac
    FROM roll
    """,
)

_TOKEN_BUDGET = 12_000  # ~45% of the sf0.01 corpus's 27k tokens


_register(
    "token_budget_select",
    lambda s, d: sampling.token_budget_select(
        _t(s, d, "documents"), budget=_TOKEN_BUDGET
    ),
    f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_tokens,
             CASE WHEN len(words) > 0 THEN
               floor((CAST(len(list_distinct(words)) AS DOUBLE) / len(words)) * 1e4 + 0.5) / 1e4
             ELSE 0.0 END AS quality
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS words
            FROM documents)
    ),
    cum AS (
      SELECT doc_id, n_tokens, quality,
             CAST(sum(n_tokens) OVER (
               ORDER BY quality DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM base
    )
    SELECT doc_id, n_tokens, quality, cum_tokens FROM cum
    WHERE cum_tokens <= {_TOKEN_BUDGET}
    """,
)

# Temperature fixture: the uniform synthetic corpus (25 docs per source)
# would give every source p_keep = 1, so skew it first — every even
# doc_id moves to one hot source, which temperature alpha=0.7 then
# down-samples while the small sources keep p = 1 (capped).
_register(
    "temperature_sample",
    lambda s, d: sampling.temperature_sample(
        _t(s, d, "documents").select(
            "doc_id",
            F.when(F.col("doc_id") % 2 == 0, F.lit("hot"))
            .otherwise(F.col("source")).alias("source"),
        )
    ),
    """
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'hot' ELSE source END AS source
      FROM documents
    ),
    counts AS (SELECT source, count(*) AS n_s FROM docs GROUP BY source),
    st AS (
      SELECT CAST(sum(n_s) AS DOUBLE) AS n_total,
             sum(pow(CAST(n_s AS DOUBLE), 0.7)) AS w_total
      FROM counts
    ),
    probs AS (
      SELECT source,
             least(1.0, n_total * pow(CAST(n_s AS DOUBLE), 0.7)
                        / w_total / CAST(n_s AS DOUBLE)) AS p_keep
      FROM counts CROSS JOIN st
    )
    SELECT d.doc_id, d.source
    FROM docs d JOIN probs p USING (source)
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0 < p.p_keep
    """,
)


# ===========================================================================
# Host-graph PageRank (operators/graph.py): link graph synthesized from
# the documents table (two deterministic out-links per doc, no
# self-links), 3 unrolled iterations, oracle is the unrolled-CTE twin.
# ===========================================================================
from .operators import graph  # noqa: E402



def _pagerank_query(s: SparkSession, d: str) -> DataFrame:
    doc_id = F.col("doc_id")
    links = (
        _t(s, d, "documents")
        .select(
            F.col("source").alias("src"),
            F.explode(F.array(
                F.concat(F.lit("src"), ((doc_id * 7) % 20).cast("string")),
                F.concat(F.lit("src"), ((doc_id * 13) % 20).cast("string")),
            )).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    return graph.pagerank(links, iters=_PR_ITERS)


def _pagerank_oracle(iters: int = _PR_ITERS) -> str:
    return ("\n    WITH " + _pagerank_ctes(_PR_DEFAULT_LINKS, iters).lstrip()
            + "\n    SELECT host, rank FROM pr_final\n    ")


_register("host_pagerank", _pagerank_query, _pagerank_oracle())


# Reciprocity fixture: the shared pagerank host graph (organic, mixed
# reciprocity) plus an explicit 3-host link-exchange ring wired in BOTH
# directions (farm0<->farm1<->farm2<->farm0) — the collusive shape the
# feature exists to flag: farm hosts come out recip_frac 1.0 while the
# organic hosts stay data-dependent below it.
def _recip_q(s: SparkSession, d: str) -> DataFrame:
    doc_id = F.col("doc_id")
    organic = (
        _t_raw(s, d, "documents")
        .select(
            F.col("source").alias("src"),
            F.explode(F.array(
                F.concat(F.lit("src"), ((doc_id * 7) % 20).cast("string")),
                F.concat(F.lit("src"), ((doc_id * 13) % 20).cast("string")),
            )).alias("dst"),
        )
    )
    a = F.concat(F.lit("farm"), (doc_id % 3).cast("string"))
    b = F.concat(F.lit("farm"), ((doc_id + 1) % 3).cast("string"))
    farm = (
        _t_raw(s, d, "documents")
        .filter(doc_id % 25 == 0)
        .select(F.explode(F.array(
            F.struct(a.alias("src"), b.alias("dst")),
            F.struct(b.alias("src"), a.alias("dst")),
        )).alias("e"))
        .select("e.src", "e.dst")
    )
    return graph.reciprocal_links(organic.unionByName(farm))


_register(
    "reciprocal_links",
    _recip_q,
    f"""
    WITH organic AS (
        SELECT source AS src,
               unnest(['src' || CAST((doc_id * 7) % 20 AS VARCHAR),
                       'src' || CAST((doc_id * 13) % 20 AS VARCHAR)]) AS dst
        FROM documents
    ),
    farm AS (
      SELECT 'farm' || CAST(doc_id % 3 AS VARCHAR) AS src,
             'farm' || CAST((doc_id + 1) % 3 AS VARCHAR) AS dst
      FROM documents WHERE doc_id % 25 = 0
      UNION ALL
      SELECT 'farm' || CAST((doc_id + 1) % 3 AS VARCHAR),
             'farm' || CAST(doc_id % 3 AS VARCHAR)
      FROM documents WHERE doc_id % 25 = 0
    ),
    e AS (
      SELECT DISTINCT src, dst
      FROM (SELECT src, dst FROM organic UNION ALL
            SELECT src, dst FROM farm)
      WHERE src <> dst
    )
    SELECT e.src AS host,
           count(*) AS n_out,
           CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_recip,
           floor(CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4
             AS recip_frac
    FROM e LEFT JOIN (SELECT dst AS src, src AS dst FROM e) r
      ON e.src = r.src AND e.dst = r.dst
    GROUP BY e.src ORDER BY host
    """,
)

_register(
    "select_and_pack",
    lambda s, d: sampling.select_and_pack(
        _t(s, d, "documents"), budget_tokens=_TOKEN_BUDGET
    ),
    f"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_tokens,
             CASE WHEN len(words) > 0 THEN
               floor((CAST(len(list_distinct(words)) AS DOUBLE) / len(words)) * 1e4 + 0.5) / 1e4
             ELSE 0.0 END AS quality
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS words
            FROM documents)
    ),
    cum AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (
               ORDER BY quality DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM base
    ),
    chosen AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN cum USING (doc_id) WHERE cum.cum_tokens <= {_TOKEN_BUDGET}
    )
    SELECT doc_id, shard, n_tokens,
           CAST(floor(cum_before / 512.0) AS BIGINT) AS pack_id,
           CAST(cum_before % 512 AS BIGINT) AS offset_in_pack
    FROM (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS INT) AS n_tokens,
             coalesce(sum(len(list_filter(string_split(text, ' '), w -> w <> ''))) OVER (
               PARTITION BY doc_id % 8 ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM chosen
    )
    """,
)

_register(
    "bigram_pmi",
    lambda s, d: textstats.bigram_pmi(_t(s, d, "documents")),
    """
    WITH w AS (SELECT string_split(text, ' ') AS words FROM documents),
    uc AS (SELECT t, count(*) AS c FROM
             (SELECT unnest(words) AS t FROM w) GROUP BY t),
    bi AS (SELECT words[i] AS w1, words[i + 1] AS w2
           FROM (SELECT words, unnest(range(1, len(words))) AS i
                 FROM w WHERE len(words) >= 2)),
    bc AS (SELECT w1, w2, count(*) AS n_ab FROM bi GROUP BY w1, w2),
    tot AS (SELECT (SELECT CAST(sum(c) AS DOUBLE) FROM uc) AS n_uni,
                   (SELECT CAST(sum(n_ab) AS DOUBLE) FROM bc) AS n_bi)
    SELECT bc.w1, bc.w2, bc.n_ab,
           floor((ln((bc.n_ab / tot.n_bi)
                    / ((u1.c / tot.n_uni) * (u2.c / tot.n_uni)))) * 1e4 + 0.5) / 1e4 AS pmi
    FROM bc
    JOIN uc u1 ON bc.w1 = u1.t
    JOIN uc u2 ON bc.w2 = u2.t
    CROSS JOIN tot
    WHERE bc.n_ab >= 5
    """,
)

_register(
    "unigram_logprob",
    lambda s, d: textstats.unigram_logprob(_t(s, d, "documents")),
    """
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      WHERE term <> '' GROUP BY doc_id, term
    ),
    uni AS (SELECT term, sum(tf) AS freq FROM tf GROUP BY term),
    tot AS (SELECT CAST(sum(freq) AS DOUBLE) AS total FROM uni)
    SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
           floor((sum(tf * ln(freq / total)) / sum(tf)) * 1e4 + 0.5) / 1e4 AS logprob
    FROM tf JOIN uni USING (term) CROSS JOIN tot
    GROUP BY doc_id
    """,
)

# NFC fixture: a tail with decomposed combining sequences (e + U+0301,
# i + U+0308) that canonical composition must fold; 'changed' is true for
# every row. Checks the pandas-UDF path against DuckDB's utf8proc NFC.
_NFC_TAIL = " cafe\u0301 nai\u0308ve de\u0301ja\u0300"  # cafe/naive/deja with combining accents


def _nfc_query(s: SparkSession, d: str) -> DataFrame:
    docs = _t(s, d, "documents").select(
        "doc_id", F.concat("text", F.lit(_NFC_TAIL)).alias("text")
    )
    out = multimodal.nfc_normalize(docs)
    return out.select(
        "doc_id", F.md5("text_nfc").alias("nfc_md5"), "changed",
    )


_register(
    "nfc_normalize",
    _nfc_query,
    f"""
    WITH corpus AS (
      SELECT doc_id, text || '{_NFC_TAIL}' AS text FROM documents
    )
    SELECT doc_id, md5(nfc_normalize(text)) AS nfc_md5,
           nfc_normalize(text) <> text AS changed
    FROM corpus
    """,
)

_register(
    "train_val_test_split",
    lambda s, d: sampling.train_val_test_split(_t(s, d, "documents")),
    """
    SELECT doc_id,
           CASE WHEN u < 0.05 THEN 'test'
                WHEN u < 0.1 THEN 'val'
                ELSE 'train' END AS split
    FROM (
      SELECT doc_id,
             ('0x' || substr(md5(text), 1, 8))::BIGINT / 4294967296.0 AS u
      FROM documents
    )
    """,
)


# ===========================================================================
# Probabilistic sketches (operators/sketch.py) — deterministic md5-seeded
# HyperLogLog and Count-Min, register-for-register reproduced in DuckDB.
# ===========================================================================

from .operators import sketch  # noqa: E402

# Shared hash idiom: 32-bit value from the md5 hex prefix, identical text
# hashed on both engines.
_H32 = "CAST(concat('0x', substring(md5({expr}), 1, 8)) AS BIGINT)"


def _hll_branch_sql(key_expr: str, grp_expr: str) -> str:
    """One HLL fold in DuckDB, mirroring sketch.hll_cardinality: p=10,
    bucket = h>>22, rho = 1 + leading zeros of the 22 rest bits (integer
    /string ops only), linear-count small-range correction. The alpha
    constant is injected from the SAME Python float the Spark side uses,
    so the two engines divide identical doubles."""
    from .operators import sketch as SK

    h = _H32.format(expr=key_expr)
    return f"""
    SELECT grp, n_exact, floor(e * 1e4 + 0.5) / 1e4 AS hll_est, n_regs
    FROM (
      SELECT grp, n_regs,
             CASE WHEN raw <= 2560.0 AND zeros > 0
                  THEN 1024.0 * ln(1024.0 / zeros)
                  ELSE raw END AS e
      FROM (
        SELECT grp, n_regs, 1024.0 - n_regs AS zeros,
               {SK._HLL_ALPHA * SK._HLL_M * SK._HLL_M!r}
                 / (sum_pows + (1024.0 - n_regs)) AS raw
        FROM (
          SELECT grp, count(*) AS n_regs,
                 sum(power(2.0, -m_j)) AS sum_pows
          FROM (
            SELECT grp, h // 4194304 AS bucket,
                   max(CASE WHEN h % 4194304 = 0 THEN 23
                            ELSE instr(lpad(bin(h % 4194304), 22, '0'),
                                       '1') END) AS m_j
            FROM (SELECT {grp_expr} AS grp, {h} AS h FROM events
                  WHERE {key_expr} IS NOT NULL)
            GROUP BY grp, h // 4194304
          ) GROUP BY grp
        )
      )
    ) JOIN (
      SELECT {grp_expr} AS grp, count(DISTINCT {key_expr}) AS n_exact
      FROM events WHERE {key_expr} IS NOT NULL GROUP BY 1
    ) USING (grp)
    """


def _hll_fold_sql(src: str) -> str:
    """Fold a (bucket, m_j) register table to (e, n_regs) — the same
    constants as _hll_branch_sql, factored for the merge twin."""
    from .operators import sketch as SK

    return f"""
      SELECT CASE WHEN raw <= 2560.0 AND zeros > 0
                  THEN 1024.0 * ln(1024.0 / zeros)
                  ELSE raw END AS e, n_regs
      FROM (
        SELECT n_regs, 1024.0 - n_regs AS zeros,
               {SK._HLL_ALPHA * SK._HLL_M * SK._HLL_M!r}
                 / (sum_pows + (1024.0 - n_regs)) AS raw
        FROM (SELECT count(*) AS n_regs, sum(power(2.0, -m_j)) AS sum_pows
              FROM {src})
      )
    """


_HLL_RHO_SQL = (
    "CASE WHEN h % 4194304 = 0 THEN 23 "
    "ELSE instr(lpad(bin(h % 4194304), 22, '0'), '1') END"
)


# Mergeability demonstration: per-shard registers max-merged must fold
# to the whole-stream estimate — asserted IN the result row.
def _hll_merge_q(s: SparkSession, d: str) -> DataFrame:
    ev = _t(s, d, "events").withColumn(
        "shard", (F.col("event_id") % 2).alias("shard")
    )
    return sketch.hll_merge(ev, "user_id", "shard")


_register(
    "hll_merge",
    _hll_merge_q,
    f"""
    WITH rows AS (
      SELECT event_id % 2 AS shard,
             {_H32.format(expr="CAST(user_id AS VARCHAR)")} AS h
      FROM events WHERE user_id IS NOT NULL
    ), rb AS (
      SELECT shard, h // 4194304 AS bucket, max({_HLL_RHO_SQL}) AS m_j
      FROM rows GROUP BY 1, 2
    ), merged AS (SELECT bucket, max(m_j) AS m_j FROM rb GROUP BY 1),
    whole AS (
      SELECT h // 4194304 AS bucket, max({_HLL_RHO_SQL}) AS m_j
      FROM rows GROUP BY 1
    ), fm AS ({_hll_fold_sql("merged")}), fw AS ({_hll_fold_sql("whole")})
    SELECT floor(fm.e * 1e4 + 0.5) / 1e4 AS hll_est_merged,
           floor(fw.e * 1e4 + 0.5) / 1e4 AS hll_est_whole,
           fm.n_regs AS n_regs,
           floor(fm.e * 1e4 + 0.5) / 1e4 = floor(fw.e * 1e4 + 0.5) / 1e4
             AS merge_lossless
    FROM fm CROSS JOIN fw
    """,
)


# The additive counterpart: Count-Min counters sum-merge. The DuckDB
# twin re-derives both counter tables and diffs them — integer-exact.
_register(
    "cm_merge",
    lambda s, d: sketch.cm_merge(
        _t(s, d, "events").withColumn("shard", F.col("event_id") % 3),
        "user_id", "shard",
    ),
    f"""
    WITH rows AS (
      SELECT event_id % 3 AS shard, r.i AS row,
             {_H32.format(expr="concat('cm' || r.i || ':', CAST(user_id AS VARCHAR))")} % 64 AS bucket
      FROM events, (SELECT unnest(range(4)) AS i) r
      WHERE user_id IS NOT NULL
    ), shard_cnt AS (
      SELECT shard, row, bucket, count(*) AS cnt
      FROM rows GROUP BY 1, 2, 3
    ), merged AS (
      SELECT row, bucket, sum(cnt) AS m_cnt FROM shard_cnt GROUP BY 1, 2
    ), whole AS (
      SELECT row, bucket, count(*) AS w_cnt FROM rows GROUP BY 1, 2
    ), diff AS (
      SELECT abs(coalesce(m_cnt, 0) - coalesce(w_cnt, 0)) AS d
      FROM merged FULL JOIN whole USING (row, bucket)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_counters,
           CAST(max(d) AS BIGINT) AS max_abs_diff,
           max(d) = 0 AS merge_lossless
    FROM diff
    """,
)


def _hll_q(s: SparkSession, d: str) -> DataFrame:
    ev = _t(s, d, "events")
    by_type = sketch.hll_cardinality(ev, "user_id", "event_type")
    all_ids = sketch.hll_cardinality(
        ev.withColumn("g", F.lit("~event_id")), "event_id", "g"
    )
    return by_type.unionByName(all_ids).orderBy("grp")


# Two cardinality regimes in one query: per-event-type user_id counts sit
# in HLL's small range (the linear-counting correction fires), while the
# ~event_id branch exceeds 2.5*m at sf0.01 and takes the raw-estimator
# path — both branches cross-checked register-for-register.
_register(
    "hll_cardinality",
    _hll_q,
    f"""
    SELECT * FROM (
      {_hll_branch_sql("CAST(user_id AS VARCHAR)", "event_type")}
      UNION ALL
      {_hll_branch_sql("CAST(event_id AS VARCHAR)", "'~event_id'")}
    ) ORDER BY grp
    """,
)


def _cm_keyed(s: SparkSession, d: str) -> DataFrame:
    """Skewed key stream at the QUERY layer (the events table is uniform
    by construction): every 7th user collapses into one of 3 hot keys, so
    heavy hitters exist to find; the operator never synthesizes rows."""
    ev = _t(s, d, "events")
    key = F.when(
        F.col("user_id") % 7 == 0,
        F.concat(F.lit("h"), (F.col("user_id") % 3).cast("string")),
    ).otherwise(F.concat(F.lit("u"), F.col("user_id").cast("string")))
    return ev.select(key.alias("key"))


_CM_KEY_SQL = ("CASE WHEN user_id % 7 = 0 THEN 'h' || CAST(user_id % 3 AS VARCHAR) "
               "ELSE 'u' || CAST(user_id AS VARCHAR) END")

# Both CM twins are EMITTED from sketch.cm_hh_sql with the same (w, d,
# threshold) arguments the Spark call takes — default geometry here, a
# non-default one below, one source of truth for both.
_register(
    "cm_heavy_hitters",
    lambda s, d: sketch.cm_heavy_hitters(_cm_keyed(s, d), "key", 0.02),
    sketch.cm_hh_sql(_CM_KEY_SQL, 0.02),
)


# Non-default sketch geometry through the SAME code path: w=256, d=5
# quarters the collision rate (eps ~ e/w), so a 1% threshold stays
# meaningful — the knob a web-scale stream actually turns. Exercises
# that geometry is a real parameter end to end, not a module constant.
_register(
    "cm_heavy_hitters_w256",
    lambda s, d: sketch.cm_heavy_hitters(_cm_keyed(s, d), "key", 0.01,
                                         w=256, d=5),
    sketch.cm_hh_sql(_CM_KEY_SQL, 0.01, w=256, d=5),
)


def _hll64_q(s: SparkSession, d: str) -> DataFrame:
    ev = _t(s, d, "events")
    by_type = sketch.hll_cardinality64(ev, "user_id", "event_type")
    all_ids = sketch.hll_cardinality64(
        ev.withColumn("g", F.lit("~event_id")), "event_id", "g"
    )
    return by_type.unionByName(all_ids).orderBy("grp")


# 64-bit-hash HLL — the production mode (the 32-bit family saturates
# near m*2^22 ~ 4e9 distinct; see sketch.py module docstring). Twin SQL
# emitted from the same p. Both cardinality regimes again: linear-count
# small range per event_type, raw-estimator path on ~event_id.
_register(
    "hll_cardinality64",
    _hll64_q,
    f"""
    SELECT * FROM (
      {sketch.hll64_branch_sql("CAST(user_id AS VARCHAR)", "event_type", 10)}
      UNION ALL
      {sketch.hll64_branch_sql("CAST(event_id AS VARCHAR)", "'~event_id'", 10)}
    ) ORDER BY grp
    """,
)


def _hll64_merge_sql(p: int) -> str:
    """hll_merge64 twin at precision p — register build + two folds,
    all emitted from the shared geometry helpers."""
    bucket, rho = sketch.hll64_parts_sql(p)
    return f"""
    WITH rows AS (
      SELECT event_id % 2 AS shard,
             {sketch.hll64_hash_sql("CAST(user_id AS VARCHAR)")}
      FROM events WHERE user_id IS NOT NULL
    ), rb AS (
      SELECT shard, {bucket} AS bucket, max({rho}) AS m_j
      FROM rows GROUP BY 1, 2
    ), merged AS (SELECT bucket, max(m_j) AS m_j FROM rb GROUP BY 1),
    whole AS (
      SELECT {bucket} AS bucket, max({rho}) AS m_j
      FROM rows GROUP BY 1
    ), fm AS ({sketch.hll64_fold_sql("merged", p, "e")}),
    fw AS ({sketch.hll64_fold_sql("whole", p, "e")})
    SELECT floor(fm.e * 1e4 + 0.5) / 1e4 AS hll_est_merged,
           floor(fw.e * 1e4 + 0.5) / 1e4 AS hll_est_whole,
           fm.n_regs AS n_regs,
           floor(fm.e * 1e4 + 0.5) / 1e4 = floor(fw.e * 1e4 + 0.5) / 1e4
             AS merge_lossless
    FROM fm CROSS JOIN fw
    """


# Max-merge mergeability on the 64-bit family, at NON-default p=11
# (2048 registers): geometry is an argument on the HLL side too.
_register(
    "hll_merge64",
    lambda s, d: sketch.hll_merge64(
        _t(s, d, "events").withColumn("shard", F.col("event_id") % 2),
        "user_id", "shard", p=11,
    ),
    _hll64_merge_sql(11),
)


# Bloom membership fixture: the standing corpus is every crawl url
# (the _crawl_pages url scheme over the full doc_id space); the probe
# batch is the same scheme shifted by +250 doc ids, so roughly half
# the probes are members and half are novel urls — both the
# no-false-negatives guarantee and the false-positive accounting get
# non-trivial mass. Deterministic md5 bits => the FP COUNT itself is
# hash-gated cross-engine, not just a rate.
def _bloom_url(col: F.Column) -> F.Column:
    return F.concat(
        F.lit("https://h"), (col % 50).cast("string"),
        F.lit(".example/p"), col.cast("string"),
    )


_BLOOM_URL_SQL = ("'https://h' || CAST({c} % 50 AS VARCHAR)"
                  " || '.example/p' || CAST({c} AS VARCHAR)")


def _bloom_member_q(s: SparkSession, d: str) -> DataFrame:
    docs = _t_raw(s, d, "documents")
    build = docs.select(_bloom_url(F.col("doc_id")).alias("key"))
    probe = docs.select(
        _bloom_url(F.col("doc_id") + 250).alias("key")
    )
    return sketch.bloom_membership(build, "key", probe, "key")


_register(
    "bloom_membership",
    _bloom_member_q,
    sketch.bloom_membership_sql(
        "SELECT " + _BLOOM_URL_SQL.format(c="doc_id")
        + " AS key FROM documents",
        "SELECT " + _BLOOM_URL_SQL.format(c="(doc_id + 250)")
        + " AS key FROM documents",
    ),
)


# Union-mergeability at NON-default geometry (m=2048, k=4): per-shard
# bit sets OR-merged == whole-stream bits — the per-day-filter
# composition a crawl admission layer relies on. Geometry is a real
# argument end to end (the twin is emitted from the same m/k).
_register(
    "bloom_merge",
    lambda s, d: sketch.bloom_merge(
        _t_raw(s, d, "documents").select(
            _bloom_url(F.col("doc_id")).alias("key"),
            (F.col("doc_id") % 3).alias("shard"),
        ),
        "key", "shard", m_bits=2048, k=4,
    ),
    sketch.bloom_merge_sql(
        "SELECT " + _BLOOM_URL_SQL.format(c="doc_id")
        + " AS key, doc_id % 3 AS shard FROM documents",
        m_bits=2048, k=4,
    ),
)


# ===========================================================================
# build_training_corpus — the end-to-end curation composition (raw crawl
# -> packed training shards), every stage oracled in one CTE chain.
# ===========================================================================

# Shared license run: appears (plus a per-doc unique tail token, so
# paragraph dedup's freq cap does NOT strip it) in ~4 of 500 doc groups —
# exactly the boilerplate RUN that survives paragraph dedup (freq 3 per
# clone group <= 5) but that substring_span_dedup must remove (its
# 5-grams occur in >= 2 distinct kept docs).
_BTC_LIC = ("this work is licensed under creative commons attribution "
            "share alike terms apply")
_BTC_BUDGET = 4_000
_BTC_K = 150


def _btc_corpus(s: SparkSession, d: str) -> DataFrame:
    """Curation fixture: every doc gains the universal boilerplate
    paragraph (freq 1500 — paragraph dedup strips it) and, for
    doc_id%137==0, the license paragraph; each doc then appears three
    times — original, exact clone (+1M — exact dedup collapses it) and
    near clone (+2M, ' fin' appended — survives exact dedup, pairs with
    its original via LSH, keep-best picks one). is_target = lang='en'
    (the trusted-target pool DSIR ranks the rest against)."""
    base = _t(s, d, "documents").select(
        "doc_id",
        F.concat(
            "text", F.lit("\n" + _PARA_BOILER),
            F.when(
                F.col("doc_id") % 137 == 0,
                F.concat(F.lit("\n" + _BTC_LIC + " t"),
                         F.col("doc_id").cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
        (F.col("lang") == "en").alias("is_target"),
    )
    return base.unionByName(
        base.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                    "text", "is_target")
    ).unionByName(
        base.select((F.col("doc_id") + 2_000_000).alias("doc_id"),
                    F.concat("text", F.lit(" fin")).alias("text"),
                    "is_target")
    )


_BTC_CORPUS_SQL = f"""
      SELECT doc_id, text || chr(10) || '{_PARA_BOILER}' ||
             CASE WHEN doc_id % 137 = 0
                  THEN chr(10) || '{_BTC_LIC} t' || CAST(doc_id AS VARCHAR)
                  ELSE '' END AS text,
             lang = 'en' AS is_target
      FROM documents
"""

# Stage twins reuse the registered per-stage oracles' SQL shapes verbatim
# (clean_corpus, cluster_best_docs, substring_span_dedup,
# gopher_line_quality, dsir_select, select_and_pack) — re-sourced onto
# the previous stage's CTE instead of the documents table.
_BTC_ORACLE = f"""
    WITH RECURSIVE
    corpus0 AS MATERIALIZED ({_BTC_CORPUS_SQL}),
    corpus1 AS MATERIALIZED (
      SELECT doc_id, text, is_target FROM corpus0
      UNION ALL
      SELECT doc_id + 1000000, text, is_target FROM corpus0
      UNION ALL
      SELECT doc_id + 2000000, text || ' fin', is_target FROM corpus0
    ),
    -- stage 1: clean_corpus (paragraph dedup, exact dedup, word gates)
    paras AS (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS para,
             unnest(range(len(string_split(text, chr(10))))) AS pos
      FROM corpus1
    ),
    pfreq AS (SELECT md5(para) AS ph, count(*) AS freq FROM paras GROUP BY 1),
    pkept AS (
      SELECT p.doc_id, p.pos, p.para
      FROM paras p JOIN pfreq f ON md5(p.para) = f.ph
      WHERE f.freq <= 5 OR p.para = ''
    ),
    cleaned0 AS MATERIALIZED (
      SELECT c.doc_id,
             coalesce(string_agg(k.para, chr(10) ORDER BY k.pos), '') AS text
      FROM corpus1 c LEFT JOIN pkept k USING (doc_id) GROUP BY c.doc_id
    ),
    ne AS (SELECT * FROM cleaned0 WHERE text <> ''),
    keepers AS (SELECT min(doc_id) AS keeper FROM ne GROUP BY md5(text)),
    reps AS MATERIALIZED (SELECT n.doc_id, n.text FROM ne n
             JOIN keepers kk ON n.doc_id = kk.keeper),
    tb AS (SELECT doc_id,
                  string_split(replace(text, chr(10), ' '), ' ') AS words,
                  length(text) AS n_chars FROM reps),
    tm AS (
      SELECT doc_id, words, CAST(len(words) AS INT) AS n_tokens,
             CAST(len(list_filter(words, w -> w IN
                 ('the','a','of','and','to','in','is'))) AS INT) AS n_stop,
             (n_chars - (len(words) - 1)) / len(words) AS awl_raw
      FROM tb
    ),
    tq AS (
      SELECT doc_id FROM tm
      WHERE n_tokens >= 10 AND floor((awl_raw) * 1e3 + 0.5) / 1e3 >= 2.0
            AND floor((awl_raw) * 1e3 + 0.5) / 1e3 <= 12.0
    ),
    gs AS (
      SELECT doc_id,
             floor((CAST(list_sum(list_transform(words, x -> length(x)))
                        AS DOUBLE) / len(words)) * 1e4 + 0.5) / 1e4 AS mean_word_len,
             floor((CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]')))
                        AS DOUBLE) / len(words)) * 1e4 + 0.5) / 1e4 AS alpha_word_frac,
             floor((CAST(len(list_filter(words, x -> regexp_matches(x, '^[0-9]+$')))
                        AS DOUBLE) / len(words)) * 1e4 + 0.5) / 1e4 AS digit_word_frac
      FROM tm
    ),
    gq AS (
      SELECT doc_id FROM gs
      WHERE mean_word_len BETWEEN 3.0 AND 10.0
            AND alpha_word_frac >= 0.8 AND digit_word_frac < 0.3
    ),
    gated AS MATERIALIZED (SELECT r.doc_id, r.text FROM reps r
              JOIN tq USING (doc_id) JOIN gq USING (doc_id)),
    -- stage 2: near-dup keep-best (minhash LSH -> CC -> argmax quality)
    {_minhash_pairs_ctes("SELECT doc_id, text FROM gated")},
    fpairs AS (SELECT a, b FROM cand WHERE sim_est >= 0.5),
    edges AS (
      SELECT a AS x, b AS y FROM fpairs
      UNION SELECT b, a FROM fpairs
    ),
    nodes AS (SELECT DISTINCT x AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT reach.node, e.y FROM reach JOIN edges e ON reach.r = e.x
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    digests AS (SELECT doc_id, md5(text) AS digest FROM gated),
    grp AS (SELECT digest, min(doc_id) AS keeper FROM digests GROUP BY digest),
    rep_comp AS (
      SELECT g.digest, coalesce(c.component, g.keeper) AS component
      FROM grp g LEFT JOIN comp c ON g.keeper = c.node
    ),
    members AS (
      SELECT d.doc_id, r.component FROM digests d JOIN rep_comp r USING (digest)
    ),
    q AS (
      SELECT doc_id,
             CASE WHEN len(words) > 0 THEN
               floor((CAST(len(list_distinct(words)) AS DOUBLE) / len(words))
                     * 1e4 + 0.5) / 1e4
             ELSE 0.0 END AS quality
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS words
            FROM gated)
    ),
    sc AS (SELECT m.component, m.doc_id, q.quality
           FROM members m JOIN q USING (doc_id)),
    bagg AS (SELECT component, max({{'q': quality, 'nid': -doc_id}}) AS best
             FROM sc GROUP BY component),
    kept AS MATERIALIZED (
      SELECT g.doc_id, g.text FROM gated g
      JOIN (SELECT -((best).nid) AS doc_id FROM bagg) USING (doc_id)
    ),
    -- stage 3: exact-substring span removal (n=5, min_docs=2)
    stoks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS w FROM kept),
    spg AS (
      SELECT doc_id, unnest(range(1, len(w) - 3)) AS pos, w
      FROM stoks WHERE len(w) >= 5
    ),
    spos_gram AS (
      SELECT doc_id, pos, array_to_string(w[pos:pos+4], ' ') AS gram
      FROM spg
    ),
    sdup AS (
      SELECT gram FROM spos_gram
      GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ),
    scovered AS (
      SELECT DISTINCT p.doc_id, unnest(range(p.pos, p.pos + 5)) AS pos
      FROM spos_gram p JOIN sdup USING (gram)
    ),
    sword_rows AS (
      SELECT doc_id, unnest(range(1, len(w) + 1)) AS pos, w
      FROM stoks
    ),
    srows AS (
      SELECT r.doc_id, r.pos, r.w[r.pos] AS word
      FROM sword_rows r
      ANTI JOIN scovered c ON r.doc_id = c.doc_id AND r.pos = c.pos
    ),
    span AS MATERIALIZED (
      SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text
      FROM srows GROUP BY doc_id
    ),
    -- stage 4: Gopher line gate over the span-cleaned text
    lbase AS (
      SELECT doc_id,
             string_split(text, chr(10)) AS ls,
             string_split(text, ' ') AS ws,
             CAST(length(text) - length(replace(text, '#', ''))
                  AS DOUBLE) AS n_hash,
             CAST((length(text) - length(replace(text, '...', ''))) / 3
                  + length(text) - length(replace(text, '…', ''))
                  AS DOUBLE) AS n_ell
      FROM span
    ),
    lstat AS (
      SELECT doc_id,
             floor(CAST(len(list_filter(ls, l -> regexp_matches(l,
                 '^\\s*([•‣▪]|[-*]\\s)'))) AS DOUBLE)
                 / len(ls) * 1e4 + 0.5) / 1e4 AS bullet_line_frac,
             floor(CAST(len(list_filter(ls, l -> regexp_matches(l,
                 '(\\.\\.\\.|…)\\s*$'))) AS DOUBLE)
                 / len(ls) * 1e4 + 0.5) / 1e4 AS ellipsis_line_frac,
             floor(n_hash / len(ws) * 1e4 + 0.5) / 1e4 AS hash_word_ratio,
             floor(n_ell / len(ws) * 1e4 + 0.5) / 1e4 AS ellipsis_word_ratio,
             floor(CAST(list_sum(list_transform(ws, x -> length(x)))
                        AS DOUBLE) / len(ws) * 1e4 + 0.5) / 1e4
               AS mean_word_len,
             floor(CAST(len(list_filter(ws, x -> regexp_matches(x,
                 '[a-zA-Z]'))) AS DOUBLE) / len(ws) * 1e4 + 0.5) / 1e4
               AS alpha_word_frac
      FROM lbase
    ),
    line_ok AS (
      SELECT doc_id FROM lstat
      WHERE bullet_line_frac < 0.9 AND ellipsis_line_frac < 0.3
            AND hash_word_ratio <= 0.1 AND ellipsis_word_ratio <= 0.1
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND alpha_word_frac >= 0.8
    ),
    survivors AS MATERIALIZED (SELECT s.doc_id, s.text FROM span s
                  JOIN line_ok USING (doc_id)),
    -- stage 5: DSIR selection against the surviving trusted targets
    flagged AS MATERIALIZED (
      SELECT s.doc_id, s.text, c.is_target
      FROM survivors s JOIN corpus1 c USING (doc_id)
    ),
    dtoks AS (
      SELECT doc_id, is_target,
             ('0x' || substr(md5(term), 1, 8))::BIGINT % 1024 AS bucket
      FROM (SELECT doc_id, is_target,
                   unnest(string_split(text, ' ')) AS term FROM flagged)
      WHERE term <> ''
    ),
    doc_b AS MATERIALIZED (SELECT doc_id, is_target, bucket, count(*) AS tf
              FROM dtoks GROUP BY 1, 2, 3),
    tgt AS (SELECT bucket, sum(tf) AS c_tgt FROM doc_b
            WHERE is_target GROUP BY 1),
    draw AS (SELECT bucket, sum(tf) AS c_raw FROM doc_b
             WHERE NOT is_target GROUP BY 1),
    tt AS (SELECT CAST(sum(c_tgt) AS DOUBLE) AS t_tgt FROM tgt),
    rt AS (SELECT CAST(sum(c_raw) AS DOUBLE) AS t_raw FROM draw),
    dscored AS (
      SELECT d.doc_id,
             sum(d.tf * (ln((coalesce(t.c_tgt, 0) + 1) / (tt.t_tgt + 1024))
                       - ln((coalesce(r.c_raw, 0) + 1) / (rt.t_raw + 1024))))
               AS lw
      FROM doc_b d
      LEFT JOIN tgt t USING (bucket)
      LEFT JOIN draw r USING (bucket)
      CROSS JOIN tt CROSS JOIN rt
      WHERE NOT d.is_target
      GROUP BY d.doc_id
    ),
    dsel AS (
      SELECT doc_id FROM dscored WHERE lw IS NOT NULL
      ORDER BY floor(lw * 1e4 + 0.5) / 1e4 DESC, doc_id ASC LIMIT {_BTC_K}
    ),
    chosen AS MATERIALIZED (SELECT s.doc_id, s.text FROM survivors s
               JOIN dsel USING (doc_id)),
    -- stage 6: token-budget selection + sequence packing
    bbase AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_tokens,
             CASE WHEN len(words) > 0 THEN
               floor((CAST(len(list_distinct(words)) AS DOUBLE) / len(words)) * 1e4 + 0.5) / 1e4
             ELSE 0.0 END AS quality
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS words
            FROM chosen)
    ),
    bcum AS (
      SELECT doc_id,
             CAST(sum(n_tokens) OVER (
               ORDER BY quality DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM bbase
    ),
    bchosen AS MATERIALIZED (
      SELECT c.doc_id, c.text FROM chosen c
      JOIN bcum USING (doc_id) WHERE bcum.cum_tokens <= {_BTC_BUDGET}
    )
    SELECT doc_id, shard, n_tokens,
           CAST(floor(cum_before / 512.0) AS BIGINT) AS pack_id,
           CAST(cum_before % 512 AS BIGINT) AS offset_in_pack
    FROM (
      SELECT doc_id, doc_id % 8 AS shard,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS INT) AS n_tokens,
             coalesce(sum(len(list_filter(string_split(text, ' '), w -> w <> ''))) OVER (
               PARTITION BY doc_id % 8 ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM bchosen
    )
"""

_register(
    "build_training_corpus",
    lambda s, d: pipeline.build_training_corpus(
        _btc_corpus(s, d), budget_tokens=_BTC_BUDGET, dsir_k=_BTC_K
    ),
    _BTC_ORACLE,
)


# ===========================================================================
# HDR-histogram quantile sketch — the distribution member of the sketch
# family (HLL = distinct, CM = frequency, HDR = quantiles). Pure integer
# bucket math (exponent via length(bin()), top-3 mantissa bits), so the
# DuckDB twin — emitted from the same (qs, sub_bits) — matches with no
# rounding gate at all.
# ===========================================================================

_register(
    "hdr_quantiles",
    lambda s, d: sketch.hdr_quantiles(
        _t_raw(s, d, "documents"), "n_chars", qs=(0.5, 0.9, 0.99),
        group_col="source",
    ),
    sketch.hdr_quantiles_sql("n_chars", qs=(0.5, 0.9, 0.99),
                             group_sql="source"),
)


# Counter-addition mergeability, same contract as cm_merge: per-shard
# histograms sum-merged == whole-stream histogram, asserted in-plan.
_register(
    "hdr_merge",
    lambda s, d: sketch.hdr_merge(
        _t_raw(s, d, "documents").withColumn("shard", F.col("doc_id") % 3),
        "n_chars", "shard",
    ),
    f"""
    WITH rows AS (
      SELECT doc_id % 3 AS shard,
             CASE WHEN n_chars IS NULL OR n_chars < 1 THEN -1
                  WHEN n_chars < 8 THEN n_chars
                  ELSE (length(bin(CAST(n_chars AS BIGINT))) - 1) * 8
                       + ((n_chars >> (length(bin(CAST(n_chars AS BIGINT))) - 4)) & 7)
             END AS bucket
      FROM documents
    ), shard_cnt AS (
      SELECT shard, bucket, count(*) AS cnt FROM rows GROUP BY 1, 2
    ), merged AS (
      SELECT bucket, sum(cnt) AS m_cnt FROM shard_cnt GROUP BY 1
    ), whole AS (
      SELECT bucket, count(*) AS w_cnt FROM rows GROUP BY 1
    ), diff AS (
      SELECT abs(coalesce(m_cnt, 0) - coalesce(w_cnt, 0)) AS d
      FROM merged FULL JOIN whole USING (bucket)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(d) AS BIGINT) AS max_abs_diff,
           max(d) = 0 AS merge_lossless
    FROM diff
    """,
)


# SemDeDup over the cloned-embedding fixture: single-probe cluster
# assignment (rn=1 — the published within-cluster semantics; boundary
# pairs belong to near-dup detection, nprobe=2 there), drop-if-lower-id-
# neighbor rule, raw-threshold compare on the identical sequential-fold
# cosine both engines compute.
_register(
    "semantic_dedup",
    lambda s, d: simsearch.semantic_dedup(
        _cloned_embeddings(s, d), threshold=0.99
    ),
    """
    WITH orig AS (
      SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings
    ), allv AS (
      SELECT vid, v FROM orig
      UNION ALL
      SELECT vid + 10000, list_concat([v[1] * 1.01], v[2:]) FROM orig
    ), cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS c
      FROM embeddings WHERE vec_id < 8
    ), dist AS (
      SELECT b.vid, b.v, c.cid,
             list_dot_product(v, v) - 2 * list_dot_product(v, c)
               + list_dot_product(c, c) AS dd
      FROM allv b, cents c
    ), assigned AS (
      SELECT vid, v, sqrt(list_dot_product(v, v)) AS norm,
             cid AS centroid_id
      FROM (SELECT *, row_number() OVER (PARTITION BY vid
                                         ORDER BY dd ASC, cid ASC) AS rn
            FROM dist)
      WHERE rn = 1
    ), dropped AS (
      SELECT r.vid AS b, min(l.vid) AS dropped_by
      FROM assigned l JOIN assigned r
        ON l.centroid_id = r.centroid_id AND l.vid < r.vid
      WHERE list_dot_product(l.v, r.v) / (l.norm * r.norm) >= 0.99
      GROUP BY r.vid
    )
    SELECT a.vid, a.centroid_id, d.dropped_by IS NULL AS kept, d.dropped_by
    FROM assigned a LEFT JOIN dropped d ON a.vid = d.b
    ORDER BY a.vid
    """,
)


# SemDeDup through TRAINED centroids (one quantized Lloyd step from the
# seeds — the production path the K-scaling rule in the docstring
# prescribes): same dedup semantics as semantic_dedup, but the bucket
# assignment comes from train_centroids(quantize=6), mirrored in SQL by
# the same Lloyd CTE chain ann_ivf_trained_topk uses (floor-form 6-dp
# mean rounding absorbs float summation-order wobble on both engines).
def _semantic_dedup_trained(s: SparkSession, d: str) -> DataFrame:
    emb = _cloned_embeddings(s, d)
    cents = simsearch.train_centroids(emb, n_centroids=8, iters=1,
                                      quantize=6)
    return simsearch.semantic_dedup(emb, threshold=0.99, centroids=cents)


_register(
    "semantic_dedup_trained",
    _semantic_dedup_trained,
    """
    WITH orig AS (
      SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings
    ), allv AS (
      SELECT vid, v FROM orig
      UNION ALL
      SELECT vid + 10000, list_concat([v[1] * 1.01], v[2:]) FROM orig
    ), seeds AS (
      SELECT vid AS cid, v AS c FROM allv WHERE vid < 8
    ), d0 AS (
      SELECT vid, cid,
             list_dot_product(v, v) - 2 * list_dot_product(v, c)
               + list_dot_product(c, c) AS dd
      FROM allv, seeds
    ), a0 AS (
      SELECT vid, cid FROM (
        SELECT vid, cid, row_number() OVER (PARTITION BY vid
                                            ORDER BY dd ASC, cid ASC) AS rn
        FROM d0
      ) WHERE rn = 1
    ), unnested AS (
      SELECT a0.cid, unnest(b.v) AS x, generate_subscripts(b.v, 1) AS i
      FROM a0 JOIN allv b USING (vid)
    ), m AS (
      SELECT cid, i, floor((avg(x)) * 1e6 + 0.5) / 1e6 AS cx
      FROM unnested GROUP BY cid, i
    ), trained AS (
      SELECT s.cid, coalesce(t.c, s.c) AS c
      FROM seeds s LEFT JOIN (
        SELECT cid, list(cx ORDER BY i) AS c FROM m GROUP BY cid
      ) t USING (cid)
    ), dist AS (
      SELECT b.vid, b.v, t.cid,
             list_dot_product(v, v) - 2 * list_dot_product(v, c)
               + list_dot_product(c, c) AS dd
      FROM allv b, trained t
    ), assigned AS (
      SELECT vid, v, sqrt(list_dot_product(v, v)) AS norm,
             cid AS centroid_id
      FROM (SELECT *, row_number() OVER (PARTITION BY vid
                                         ORDER BY dd ASC, cid ASC) AS rn
            FROM dist)
      WHERE rn = 1
    ), dropped AS (
      SELECT r.vid AS b, min(l.vid) AS dropped_by
      FROM assigned l JOIN assigned r
        ON l.centroid_id = r.centroid_id AND l.vid < r.vid
      WHERE list_dot_product(l.v, r.v) / (l.norm * r.norm) >= 0.99
      GROUP BY r.vid
    )
    SELECT a.vid, a.centroid_id, d.dropped_by IS NULL AS kept, d.dropped_by
    FROM assigned a LEFT JOIN dropped d ON a.vid = d.b
    ORDER BY a.vid
    """,
)


# Shared unigram-logprob CTE block (the lp table both the buckets and the
# ensemble oracles score with) — one definition so the LM math can't
# drift between twins.
_LP_CTES = """
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      WHERE term <> '' GROUP BY doc_id, term
    ),
    uni AS (SELECT term, sum(tf) AS freq FROM tf GROUP BY term),
    tot AS (SELECT CAST(sum(freq) AS DOUBLE) AS total FROM uni),
    lp AS (
      SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
             floor((sum(tf * ln(freq / total)) / sum(tf)) * 1e4 + 0.5) / 1e4
               AS logprob
      FROM tf JOIN uni USING (term) CROSS JOIN tot
      GROUP BY doc_id
    )
"""

# CCNet-style head/middle/tail perplexity bucketing per source: integer
# rank arithmetic (rn*3 vs group size) — no percentile floats to straddle
# an engine rounding boundary; ties (logprob desc, doc_id asc).
_register(
    "perplexity_buckets",
    lambda s, d: textstats.perplexity_buckets(_t(s, d, "documents")),
    f"""
    WITH {_LP_CTES},
    scored AS (
      SELECT d.doc_id, d.source, lp.n_tokens, lp.logprob
      FROM lp JOIN documents d USING (doc_id)
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY logprob DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS cnt
      FROM scored
    )
    SELECT doc_id, source, n_tokens, logprob,
           CASE WHEN rn * 3 <= cnt THEN 'head'
                WHEN rn * 3 <= 2 * cnt THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked ORDER BY doc_id
    """,
)

# The whole quality stack folded to one keep/drop: Gopher + token gates
# veto, the blended score (alpha frac, stopword saturation, LM logprob
# rescale) thresholds at 0.5. Every blended input is rounded by its
# source operator, so both engines blend identical doubles.
_register(
    "quality_ensemble",
    lambda s, d: textstats.quality_ensemble(_t(s, d, "documents")),
    f"""
    WITH {_LP_CTES},
    base AS (
      SELECT doc_id, string_split(text, ' ') AS ws, length(text) AS n_chars
      FROM documents
    ),
    tq AS (
      SELECT doc_id,
             floor((CAST(len(list_filter(ws, w -> w IN
                 ('the','a','of','and','to','in','is'))) AS DOUBLE)
                 / len(ws)) * 1e3 + 0.5) / 1e3 AS stopword_ratio,
             CAST(len(ws) >= 10 AND awl >= 2.0 AND awl <= 12.0 AS INT)
               AS quality_ok
      FROM (SELECT doc_id, ws,
                   floor(((n_chars - (len(ws) - 1)) / len(ws)) * 1e3 + 0.5)
                     / 1e3 AS awl
            FROM base)
    ),
    gq AS (
      SELECT doc_id, alpha_word_frac,
             CAST(mean_word_len BETWEEN 3.0 AND 10.0
                  AND alpha_word_frac >= 0.8
                  AND digit_word_frac < 0.3 AS INT) AS passes
      FROM (
        SELECT doc_id,
               floor((CAST(list_sum(list_transform(ws, x -> length(x)))
                    AS DOUBLE) / len(ws)) * 1e4 + 0.5) / 1e4 AS mean_word_len,
               floor((CAST(len(list_filter(ws, x -> regexp_matches(x,
                    '[a-zA-Z]'))) AS DOUBLE) / len(ws)) * 1e4 + 0.5) / 1e4
                 AS alpha_word_frac,
               floor((CAST(len(list_filter(ws, x -> regexp_matches(x,
                    '^[0-9]+$'))) AS DOUBLE) / len(ws)) * 1e4 + 0.5) / 1e4
                 AS digit_word_frac
        FROM base
      )
    ),
    blended AS (
      SELECT tq.doc_id,
             (gq.passes = 1 AND tq.quality_ok = 1) AS gates_ok,
             floor((0.4 * gq.alpha_word_frac
                    + 0.3 * least(1.0, tq.stopword_ratio * 4.0)
                    + 0.3 * greatest(0.0, least(1.0, (lp.logprob + 12.0)
                                                       / 8.0)))
                   * 1e4 + 0.5) / 1e4 AS score
      FROM tq JOIN gq USING (doc_id) JOIN lp USING (doc_id)
    )
    SELECT doc_id, gates_ok, score, gates_ok AND score >= 0.5 AS keep
    FROM blended ORDER BY doc_id
    """,
)


def _line_dup_docs(s: SparkSession, d: str) -> DataFrame:
    """Multi-line fixture at the query layer (documents.text carries no
    newlines): two repeated lines per doc — the leading slice again at
    position 3 and a boilerplate line at positions 2 and 5."""
    return _t(s, d, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 40),
            F.lit("Subscribe now."),
            F.substring("text", 1, 40),
            F.substring("text", 41, 40),
            F.lit("Subscribe now."),
        ).alias("text"),
    )


_register(
    "intra_doc_line_dedup",
    lambda s, d: dedup.intra_doc_line_dedup(_line_dup_docs(s, d)),
    """
    WITH fixt AS (
      SELECT doc_id,
             concat_ws(chr(10), substring(text, 1, 40), 'Subscribe now.',
                       substring(text, 1, 40), substring(text, 41, 40),
                       'Subscribe now.') AS text
      FROM documents
    ),
    ex AS (
      SELECT doc_id,
             unnest(string_split(text, chr(10))) AS line,
             generate_subscripts(string_split(text, chr(10)), 1) AS pos
      FROM fixt
    ),
    occ AS (
      SELECT doc_id, line, pos,
             row_number() OVER (PARTITION BY doc_id, line
                                ORDER BY pos) AS occ
      FROM ex
    )
    SELECT doc_id,
           string_agg(line, chr(10) ORDER BY pos)
             FILTER (WHERE occ = 1) AS text,
           CAST(count(*) - count(*) FILTER (WHERE occ = 1) AS INT)
             AS n_lines_removed
    FROM occ GROUP BY doc_id
    """,
)


# Politeness fetch plan on top of the frontier: the oracle WRAPS the
# registered frontier_next oracle verbatim (one source of truth for the
# whole admission chain), adding only the worker hash and the offset
# product.
_register(
    "fetch_schedule",
    lambda s, d: pipeline.fetch_schedule(_frontier_next_q(s, d)),
    f"""
    WITH fr AS ({{frontier}})
    SELECT url, host,
           CAST({_H32.format(expr="'w:' || host")} % 4 AS INT) AS worker,
           fetch_pos,
           floor(((fetch_pos - 1) * delay_sec) * 1e4 + 0.5) / 1e4
             AS fetch_offset_s
    FROM fr ORDER BY url
    """.format(frontier=ORACLES["frontier_next"]),
)

# Dominant anchor text per target over the golden link table — the
# retrieval signal in-link text carries; min-of-struct((-n, anchor))
# semantics restated as a window in the twin.
_register(
    "anchor_text_topk",
    lambda s, d: graph.anchor_text_topk(X.extracted_links(_kernel_out(s))),
    f"""
    WITH glinks AS (
      SELECT href, anchor
      FROM read_parquet('{GOLDEN_DIR}/extract_links_n{KERNEL_N}.parquet')
    ),
    votes AS (
      SELECT href AS target, anchor, count(*) AS n
      FROM glinks WHERE anchor <> '' GROUP BY 1, 2
    ),
    top AS (
      SELECT target, anchor AS top_anchor, n AS top_anchor_n, n_anchors
      FROM (SELECT *, row_number() OVER (PARTITION BY target
                                         ORDER BY n DESC, anchor ASC) AS rn,
                   count(*) OVER (PARTITION BY target) AS n_anchors
            FROM votes)
      WHERE rn = 1
    ),
    inl AS (SELECT href AS target, count(*) AS n_inlinks
            FROM glinks GROUP BY 1)
    SELECT i.target, i.n_inlinks, t.top_anchor, t.top_anchor_n,
           coalesce(t.n_anchors, 0) AS n_anchors
    FROM inl i LEFT JOIN top t USING (target)
    ORDER BY i.n_inlinks DESC, i.target
    """,
)

# Per-target in-link stats over the golden link table (the kernel pass is
# golden-checked by extract_links; this is the downstream ranking signal).
_register(
    "link_target_stats",
    lambda s, d: graph.link_target_stats(X.extracted_links(_kernel_out(s))),
    f"""
    SELECT href AS target,
           count(*) AS n_inlinks,
           count(DISTINCT url) AS n_src_pages,
           count(DISTINCT {_FRONTIER_HOST.format(u='url')}) AS n_src_hosts,
           min(pos) AS first_pos
    FROM read_parquet('{GOLDEN_DIR}/extract_links_n{KERNEL_N}.parquet')
    GROUP BY href
    ORDER BY n_inlinks DESC, target
    """,
)


# ===========================================================================
# Round-7 continuation: HITS, KMV set-operation sketches, asymmetric
# containment near-dup, passage chunking.
# ===========================================================================

def _hits_links(s: SparkSession, d: str) -> DataFrame:
    """Same synthetic host link fixture as host_pagerank (two
    deterministic out-links per doc, no self-links) — the two rank
    signals are gated over the identical graph so their orderings can
    be compared row-for-row."""
    doc_id = F.col("doc_id")
    return (
        _t_raw(s, d, "documents")
        .select(
            F.col("source").alias("src"),
            F.explode(F.array(
                F.concat(F.lit("src"), ((doc_id * 7) % 20).cast("string")),
                F.concat(F.lit("src"), ((doc_id * 13) % 20).cast("string")),
            )).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )


_HITS_ITERS = 3


def _hits_oracle(iters: int = _HITS_ITERS) -> str:
    """Unrolled-HITS CTE twin over the shared link fixture: per
    iteration, an authority half-step (sum of in-edge hub scores, L1
    normalized) then a hub half-step (sum of out-edge authority scores,
    L1 normalized) — the exact op sequence of graph.hits."""
    sql = f"""
    WITH links AS ({_PR_DEFAULT_LINKS}),
    edges AS (SELECT DISTINCT src, dst FROM links),
    hosts AS (SELECT src AS host FROM links
              UNION SELECT dst AS host FROM links),
    h0 AS (SELECT host, 1.0 AS hub FROM hosts)"""
    for k in range(1, iters + 1):
        sql += f""",
    ar{k} AS (SELECT e.dst AS host, sum(h.hub) AS s
              FROM edges e JOIN h{k - 1} h ON e.src = h.host
              GROUP BY e.dst),
    av{k} AS (SELECT h.host, coalesce(a.s, 0.0) AS v
              FROM hosts h LEFT JOIN ar{k} a USING (host)),
    a{k} AS (SELECT host, v / (SELECT sum(v) FROM av{k}) AS auth
             FROM av{k}),
    hr{k} AS (SELECT e.src AS host, sum(a.auth) AS s
              FROM edges e JOIN a{k} a ON e.dst = a.host
              GROUP BY e.src),
    hv{k} AS (SELECT h.host, coalesce(x.s, 0.0) AS v
              FROM hosts h LEFT JOIN hr{k} x USING (host)),
    h{k} AS (SELECT host, v / (SELECT sum(v) FROM hv{k}) AS hub
             FROM hv{k})"""
    sql += f"""
    SELECT a.host,
           floor((a.auth) * 1e8 + 0.5) / 1e8 AS auth,
           floor((h.hub) * 1e8 + 0.5) / 1e8 AS hub
    FROM a{iters} a JOIN h{iters} h USING (host)
    ORDER BY a.host
    """
    return sql


_register(
    "host_hits",
    lambda s, d: graph.hits(_hits_links(s, d), iters=_HITS_ITERS),
    _hits_oracle(),
)


# KMV sketches: k=16 on the 20x25-doc fixture so sources sit in the
# ESTIMATOR regime (25 distinct texts > k) at sf0.01 while the sf0.001
# gate (fewer docs per source) exercises the exact small-set branch —
# both estimator branches stay covered on every run.
_KMV_K = 16

_register(
    "kmv_distinct",
    lambda s, d: sketch.kmv_distinct(
        _t_raw(s, d, "documents"), "text", "source", k=_KMV_K
    ),
    sketch.kmv_distinct_sql(
        "SELECT source, text FROM documents", "text", "source", _KMV_K
    ),
)

_register(
    "kmv_merge",
    lambda s, d: sketch.kmv_merge(
        _t_raw(s, d, "documents"), "text", "source", k=_KMV_K
    ),
    sketch.kmv_merge_sql(
        "SELECT source, text FROM documents", "text", "source", _KMV_K
    ),
)

# Crawl-overlap fixture: snapshot A holds doc_id % 4 != 0, snapshot B
# doc_id % 4 != 1 — true Jaccard 0.5 by construction. k=64 puts sf0.01
# (375 keys/side) in the estimator regime and sf0.001 in the exact one.
_register(
    "kmv_crawl_overlap",
    lambda s, d: sketch.kmv_overlap(
        _t_raw(s, d, "documents").filter(F.col("doc_id") % 4 != 0),
        _t_raw(s, d, "documents").filter(F.col("doc_id") % 4 != 1),
        "text", k=64,
    ),
    sketch.kmv_overlap_sql(
        "SELECT text FROM documents WHERE doc_id % 4 <> 0",
        "SELECT text FROM documents WHERE doc_id % 4 <> 1",
        "text", 64,
    ),
)


# Containment fixture: every doc gets an EXCERPT clone at +3M holding its
# first ceil(n/2) words — containment(excerpt -> original) ~ 1.0 while
# Jaccard sits near |A|/|B| ~ 0.5, the asymmetric shape the operator
# exists to catch (and plain near-dup thresholds at 0.8-0.9 would drop).
def _containment_docs(s: SparkSession, d: str) -> DataFrame:
    docs = _t(s, d, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), " ")
    half = F.ceil(F.size(words) / F.lit(2.0)).cast("int")
    excerpt = docs.select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.array_join(F.slice(words, F.lit(1), half), " ").alias("text"),
    )
    return docs.unionByName(excerpt)


_CONTAIN_SQL_CORPUS = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id,
             array_to_string(list_slice(string_split(text, ' '), 1,
               CAST(ceil(len(string_split(text, ' ')) / 2.0) AS INT)), ' ')
               AS text
      FROM documents"""

_register(
    "containment_pairs",
    lambda s, d: dedup.containment_pairs(_containment_docs(s, d)),
    f"""
    WITH corpus AS ({_CONTAIN_SQL_CORPUS}),
    sh0 AS (
      SELECT doc_id AS id, unnest(list_distinct({_SHINGLE_SQL})) AS sh
      FROM corpus
    ),
    dfc AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) <= 20),
    kept AS (SELECT id, sh FROM sh0 JOIN dfc USING (sh)),
    sizes AS (SELECT id, count(*) AS n_sh FROM kept GROUP BY id),
    pairs AS (
      SELECT l.id AS a, r.id AS b, count(*) AS n_common
      FROM kept l JOIN kept r ON l.sh = r.sh AND l.id < r.id
      GROUP BY l.id, r.id
    ),
    j AS (
      SELECT a, b, n_common,
             CAST(n_common AS DOUBLE) / sa.n_sh AS ca,
             CAST(n_common AS DOUBLE) / sb.n_sh AS cb,
             CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
               AS jr
      FROM pairs
      JOIN sizes sa ON a = sa.id
      JOIN sizes sb ON b = sb.id
    )
    SELECT a, b, n_common,
           floor((ca) * 1e4 + 0.5) / 1e4 AS containment_a,
           floor((cb) * 1e4 + 0.5) / 1e4 AS containment_b,
           floor((jr) * 1e4 + 0.5) / 1e4 AS jaccard
    FROM j WHERE greatest(ca, cb) >= 0.5
    """,
)


# Passage chunking: 32-token chunks at stride 24 over ~55-token docs
# gives 2-3 chunks per doc with real overlap at both gate SFs.
_CHUNK, _CHUNK_STRIDE = 32, 24


def _chunk_sql_ex(corpus: str, chunk: int, stride: int) -> str:
    """Shared CTE chain corpus -> exploded (doc_id, idx, txt) chunks —
    emitted from the same geometry constants as the Spark operator."""
    return f"""
    base AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM ({corpus})
      WHERE len(string_split(text, ' ')) > 0
    ),
    cl AS (
      SELECT doc_id,
             list_transform(
               range(0, CAST(floor((len(words) - 1) / {stride}) AS INT) + 1),
               i -> {{'idx': i,
                     'txt': array_to_string(
                       list_slice(words, i * {stride} + 1,
                                  i * {stride} + {chunk}), ' ')}}) AS cs
      FROM base
    ),
    ex AS (SELECT doc_id, unnest(cs) AS u FROM cl)"""


_register(
    "chunk_passages",
    lambda s, d: textstats.chunk_passages(
        _t(s, d, "documents"), chunk=_CHUNK, stride=_CHUNK_STRIDE
    ),
    f"""
    WITH {_chunk_sql_ex("SELECT doc_id, text FROM documents",
                        _CHUNK, _CHUNK_STRIDE).lstrip()}
    SELECT doc_id AS id,
           CAST(u.idx AS INT) AS chunk_idx,
           CAST(u.idx * {_CHUNK_STRIDE} AS INT) AS start_tok,
           CAST(len(string_split(u.txt, ' ')) AS INT) AS n_tokens,
           md5(u.txt) AS chunk_md5,
           u.txt AS chunk_text
    FROM ex
    """,
)


# chunk_dedup fixture: even doc_ids get a shared 48-token boilerplate
# prefix — their first 32-token chunk collides corpus-wide while every
# other chunk stays unique, so dup_frac discriminates (odd docs 0.0,
# even docs 1/n_chunks).
_CHUNK_BP = " ".join(f"bp{i}" for i in range(48))


def _chunk_docs(s: SparkSession, d: str) -> DataFrame:
    return _t(s, d, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit(_CHUNK_BP + " "), F.col("text")))
        .otherwise(F.col("text")).alias("text"),
    )


_register(
    "chunk_dedup_stats",
    lambda s, d: textstats.chunk_dedup_stats(
        _chunk_docs(s, d), chunk=_CHUNK, stride=_CHUNK_STRIDE
    ),
    f"""
    WITH {_chunk_sql_ex(
        f"SELECT doc_id, CASE WHEN doc_id % 2 = 0 "
        f"THEN '{_CHUNK_BP} ' || text ELSE text END AS text FROM documents",
        _CHUNK, _CHUNK_STRIDE).lstrip()},
    hashed AS (SELECT doc_id, md5(u.txt) AS h FROM ex),
    freq AS (SELECT h, count(*) AS freq FROM hashed GROUP BY h)
    SELECT doc_id AS id,
           count(*) AS n_chunks,
           CAST(sum(CASE WHEN freq > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           floor((CAST(sum(CASE WHEN freq > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                  / count(*)) * 1e4 + 0.5) / 1e4 AS dup_frac
    FROM hashed JOIN freq USING (h)
    GROUP BY doc_id
    """,
)


# Script-profile fixture: every fifth doc rewritten into a different
# writing system (one mixed-script arabic+latin case, one no-letter
# case) so the dominant-script chain and every fraction branch are
# exercised; the rest stay the corpus's latin text.
_SCRIPT_CYR = "Привет мир это страница с русским текстом для профиля"
_SCRIPT_CJK = "你好世界 こんにちは これはテストページです 漢字とかなの混在"
_SCRIPT_AR = "مرحبا web بالعالم هذه صفحة اختبار"
_SCRIPT_NONE = "12345 67890 --- ::: 42"


def _script_docs(s: SparkSession, d: str) -> DataFrame:
    doc_id = F.col("doc_id")
    return _t(s, d, "documents").select(
        "doc_id",
        F.when(doc_id % 5 == 1, F.lit(_SCRIPT_CYR))
        .when(doc_id % 5 == 2, F.lit(_SCRIPT_CJK))
        .when(doc_id % 5 == 3, F.lit(_SCRIPT_AR))
        .when(doc_id % 5 == 4, F.lit(_SCRIPT_NONE))
        .otherwise(F.col("text")).alias("text"),
    )


def _script_oracle() -> str:
    """Twin emitted from textstats.SCRIPT_RANGES — counts, fractions and
    the dominant-script priority chain share one source of truth with
    the Spark operator. DuckDB regexp_replace needs the explicit 'g'
    flag (first-match-only by default; Spark replaces all)."""
    # CAST to INT: Spark's length() is INT, DuckDB's BIGINT
    cnt = {
        name: (f"CAST(length(text) - length(regexp_replace(text, "
               f"'[{cls}]', '', 'g')) AS INT)")
        for name, cls in textstats.SCRIPT_RANGES
    }
    names = [name for name, _ in textstats.SCRIPT_RANGES]
    total = " + ".join(f"n_{n}" for n in names)
    lat, cyr, cjk, ara = (f"n_{n}" for n in names)
    fracs = ",\n           ".join(
        f"CASE WHEN {total} = 0 THEN 0.0 ELSE "
        f"floor((CAST(n_{n} AS DOUBLE) / ({total})) * 1e4 + 0.5) / 1e4 "
        f"END AS frac_{n}"
        for n in names
    )
    counts_sel = ",\n             ".join(
        f"{expr} AS n_{name}" for name, expr in cnt.items()
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 1 THEN '{_SCRIPT_CYR}'
                  WHEN doc_id % 5 = 2 THEN '{_SCRIPT_CJK}'
                  WHEN doc_id % 5 = 3 THEN '{_SCRIPT_AR}'
                  WHEN doc_id % 5 = 4 THEN '{_SCRIPT_NONE}'
                  ELSE text END AS text
      FROM documents
    ),
    base AS (
      SELECT doc_id,
             {counts_sel}
      FROM corpus
    )
    SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_arabic,
           {fracs},
           CASE WHEN {total} = 0 THEN 'none'
                WHEN {lat} >= {cyr} AND {lat} >= {cjk} AND {lat} >= {ara}
                  THEN 'latin'
                WHEN {cyr} >= {cjk} AND {cyr} >= {ara} THEN 'cyrillic'
                WHEN {cjk} >= {ara} THEN 'cjk'
                ELSE 'arabic' END AS script
    FROM base
    """


_register(
    "script_stats",
    lambda s, d: textstats.script_profile(_script_docs(s, d)),
    _script_oracle(),
)


# Text-churn fixture: old = the corpus keyed by synthetic url; new =
# every third doc appended (small drift), every third unchanged
# (jaccard 1.0), every third rewritten (jaccard ~ 0); doc_id % 7 == 0
# urls are dropped from the new snapshot (inner-join contract — the
# added/removed accounting belongs to crawl_churn).
def _churn_old(s: SparkSession, d: str) -> DataFrame:
    return _t(s, d, "documents").select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        "text",
    )


def _churn_new(s: SparkSession, d: str) -> DataFrame:
    doc_id = F.col("doc_id")
    return (
        _t(s, d, "documents")
        .filter(doc_id % 7 != 0)
        .select(
            F.concat(F.lit("u"), doc_id.cast("string")).alias("url"),
            F.when(doc_id % 3 == 0, F.concat("text", F.lit(" churn tail extension appended")))
            .when(doc_id % 3 == 2,
                  F.concat(F.lit("completely rewritten r"),
                           doc_id.cast("string"),
                           F.lit(" fresh body now entirely new words")))
            .otherwise(F.col("text")).alias("text"),
        )
    )


_register(
    "text_churn",
    lambda s, d: dedup.crawl_text_churn(_churn_old(s, d), _churn_new(s, d)),
    f"""
    WITH old_snap AS (
      SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
             list_distinct({_SHINGLE_SQL}) AS sh_old
      FROM documents
    ),
    new_src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                    THEN text || ' churn tail extension appended'
                  WHEN doc_id % 3 = 2
                    THEN 'completely rewritten r' || CAST(doc_id AS VARCHAR)
                         || ' fresh body now entirely new words'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 7 <> 0
    ),
    new_snap AS (
      SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
             list_distinct({_SHINGLE_SQL}) AS sh_new
      FROM new_src
    ),
    j AS (
      SELECT o.url,
             CAST(len(sh_old) AS INT) AS n_sh_old,
             CAST(len(sh_new) AS INT) AS n_sh_new,
             CAST(len(list_intersect(sh_old, sh_new)) AS DOUBLE)
               / len(list_distinct(list_concat(sh_old, sh_new))) AS j_raw
      FROM old_snap o JOIN new_snap n ON o.url = n.url
    )
    SELECT url, n_sh_old, n_sh_new,
           floor((j_raw) * 1e4 + 0.5) / 1e4 AS jaccard,
           CAST(j_raw < 0.5 AS INT) AS drifted
    FROM j
    """,
)


# ===========================================================================
# Round-7 continuation batch 3: exact phrase search (positional index,
# one aggregation), TrustRank (seed-concentrated teleport — the spam-
# demotion companion to host_pagerank/host_hits), and incremental near-dup
# admission (a crawl delta LSH-checked against the standing corpus without
# corpus x corpus candidates).
# ===========================================================================

# Phrase of one repeated term so the slot-distinct logic is exercised on
# the driver fixture itself: a lone "a" fills one slot at two different
# starts and must NOT produce a hit, while an "a a a" run yields two
# overlapping hits (standard positional-intersection semantics).
_PHRASE = "a a"

# Multi-phrase workload: the repeated-term phrase, two common corpus
# bigrams/trigrams, and one phrase expected rare — one job for all.
_PHRASES = ["a a", "table value part", "fast spark",
            "spark join window sort"]


def _phrase_multi_oracle(phrases: list[str] = _PHRASES) -> str:
    """Table-driven twin of phrase_search_multi: the (phrase_id, slot,
    term) VALUES table joins the 0-based token stream once; per-
    alignment distinct-slot counts gate on each phrase's length."""
    q_rows = ", ".join(
        f"({pid}, {i}, '{t}')"
        for pid, phrase in enumerate(phrases)
        for i, t in enumerate(phrase.split(" ")) if t
    )
    return f"""
    WITH q(phrase_id, slot, term) AS (VALUES {q_rows}),
    m AS (SELECT phrase_id, count(*) AS m FROM q GROUP BY phrase_id),
    toks AS (
      SELECT doc_id AS id,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    cand AS (
      SELECT t.id, q.phrase_id, t.pos - q.slot AS start, q.slot
      FROM toks t JOIN q ON t.tok = q.term
      WHERE t.pos - q.slot >= 0
    ),
    hits AS (
      SELECT id, phrase_id, start, count(DISTINCT slot) AS n_slots
      FROM cand GROUP BY id, phrase_id, start
    ),
    ok AS (
      SELECT h.id, h.phrase_id, h.start
      FROM hits h JOIN m USING (phrase_id) WHERE h.n_slots = m.m
    )
    SELECT CAST(phrase_id AS INT) AS phrase_id, id,
           count(*) AS n_hits, CAST(min(start) AS INT) AS first_start
    FROM ok GROUP BY phrase_id, id ORDER BY phrase_id, id
    """


_register(
    "phrase_search_multi",
    lambda s, d: retrieval.phrase_search_multi(_t(s, d, "documents"),
                                               _PHRASES),
    _phrase_multi_oracle(),
)


def _phrase_oracle(phrase: str = _PHRASE) -> str:
    """Positional-postings twin emitted from the same phrase constant:
    tokenize with 0-based positions, one branch per phrase slot mapping
    a term hit at pos p to candidate start p - slot, then the same
    slot-distinct aggregation the Spark operator runs."""
    terms = phrase.split(" ")
    m = len(terms)
    cand = "\n      UNION ALL\n      ".join(
        f"SELECT id, pos - {i} AS start, {i} AS slot FROM toks "
        f"WHERE tok = '{t}'"
        for i, t in enumerate(terms)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id AS id,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    cand AS (
      {cand}
    ),
    hits AS (
      SELECT id, start, count(DISTINCT slot) AS n_slots
      FROM cand WHERE start >= 0
      GROUP BY id, start
      HAVING count(DISTINCT slot) = {m}
    )
    SELECT id, count(*) AS n_hits, CAST(min(start) AS INT) AS first_start
    FROM hits GROUP BY id
    """


_register(
    "phrase_search",
    lambda s, d: retrieval.phrase_search(_t_raw(s, d, "documents"), _PHRASE),
    _phrase_oracle(),
)


# Two in-graph seeds plus one absent seed: the absent one must be ignored
# by BOTH engines (teleport mass splits over the present two only).
_TRUST_SEEDS = ["src2", "src11", "seed-not-in-graph.example"]


def _trustrank_oracle(seeds: list[str] = _TRUST_SEEDS,
                      iters: int = _PR_ITERS) -> str:
    """Unrolled-TrustRank CTE twin over the shared pagerank/hits link
    fixture, emitted from the same seed list: teleport (1-d)/|present
    seeds| on seed hosts only, ranks initialized to the teleport vector
    scaled to unit mass."""
    inlist = ", ".join(f"'{x}'" for x in seeds)
    sql = f"""
    WITH links AS ({_PR_DEFAULT_LINKS}),
    hosts AS (SELECT DISTINCT src AS host FROM links
              UNION SELECT DISTINCT dst AS host FROM links),
    ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM hosts
           WHERE host IN ({inlist})),
    deg AS (SELECT src, count(*) AS outd FROM links GROUP BY src),
    t0 AS (SELECT host, CASE WHEN host IN ({inlist}) THEN 1.0 / ns.n
                             ELSE 0.0 END AS rank
           FROM hosts CROSS JOIN ns)"""
    for k in range(1, iters + 1):
        sql += f""",
    c{k} AS (SELECT l.dst AS host, sum(r.rank / d.outd) AS s
             FROM links l JOIN t{k - 1} r ON l.src = r.host
             JOIN deg d ON l.src = d.src
             GROUP BY l.dst),
    t{k} AS (SELECT h.host,
                    CASE WHEN h.host IN ({inlist}) THEN 0.15 / ns.n
                         ELSE 0.0 END + 0.85 * coalesce(c.s, 0) AS rank
             FROM hosts h CROSS JOIN ns
             LEFT JOIN c{k} c ON h.host = c.host)"""
    sql += f"""
    SELECT host, floor((rank) * 1e8 + 0.5) / 1e8 AS rank FROM t{iters}
    ORDER BY host
    """
    return sql


_register(
    "trustrank",
    lambda s, d: graph.trustrank(
        _hits_links(s, d), _TRUST_SEEDS, iters=_PR_ITERS
    ),
    _trustrank_oracle(),
)


# Incremental near-dup fixture: the ingest delta is a near clone (+2M,
# one appended token — the _dedup_first_docs convention) of every third
# corpus doc; each must admit-match its origin.
_INC_NEW_SQL = (
    "SELECT doc_id + 2000000 AS doc_id, text || ' znew' AS text "
    "FROM documents WHERE doc_id % 3 = 0"
)


def _inc_near_q(s: SparkSession, d: str) -> DataFrame:
    docs = _t(s, d, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat("text", F.lit(" znew")).alias("text"),
    )
    return dedup.incremental_near_dup(new, docs)


def _inc_near_oracle() -> str:
    """Reuses the batch minhash CTE chain over corpus UNION delta; the
    new-vs-corpus restriction is the doc_id >= 2M split (cpairs orders
    a < b, so a is always the corpus side of a cross pair)."""
    all_sql = "SELECT doc_id, text FROM documents UNION ALL " + _INC_NEW_SQL
    return f"""
    WITH {_minhash_pairs_ctes(all_sql)}
    SELECT b AS new_id, a AS corpus_id,
           floor((sim_est) * 1e4 + 0.5) / 1e4 AS sim_est
    FROM cand
    WHERE a < 2000000 AND b >= 2000000 AND sim_est >= 0.5
    """


_register("incremental_near_dup", _inc_near_q, _inc_near_oracle())


# ===========================================================================
# Round-7 continuation batch 4: redirect-chain resolution (pointer
# doubling), host-scoped boilerplate stripping, adaptive recrawl
# scheduling (Poisson change rate), and crawler-trap template mining.
# ===========================================================================

# Redirect fixture: u{id} -> u{id//2} chains of ~log2(id) hops all
# terminating at u0 (the only node without an out-edge), plus one
# injected 3-cycle that must fail visible (is_cycle=1, NULL final).
_REDIR_MAX_HOPS = 32


def _redirects_q(s: SparkSession, d: str) -> DataFrame:
    chain = _t(s, d, "documents").filter(F.col("doc_id") >= 1).select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("src"),
        F.concat(F.lit("u"), F.shiftright("doc_id", 1).cast("string"))
        .alias("dst"),
    )
    cyc = s.createDataFrame(
        [("c0", "c1"), ("c1", "c2"), ("c2", "c0")], ["src", "dst"]
    )
    return graph.resolve_redirects(
        chain.unionByName(cyc), max_hops=_REDIR_MAX_HOPS
    )


def _redirects_oracle(max_hops: int = _REDIR_MAX_HOPS) -> str:
    """Sequential recursive-CTE walk twin (the oracle can afford one hop
    per recursion level; the Spark side must not): terminal = the walk
    row within the hop cap whose cursor has no out-edge."""
    return f"""
    WITH RECURSIVE e AS (
      SELECT src, min(dst) AS dst FROM (
        SELECT 'u' || CAST(doc_id AS VARCHAR) AS src,
               'u' || CAST(doc_id // 2 AS VARCHAR) AS dst
        FROM documents WHERE doc_id >= 1
        UNION ALL
        SELECT * FROM (VALUES ('c0','c1'),('c1','c2'),('c2','c0'))
          v(src, dst)
      ) GROUP BY src
    ),
    walk(src, cur, hops) AS (
      SELECT src, dst, 1 FROM e
      UNION ALL
      SELECT w.src, e2.dst, w.hops + 1
      FROM walk w JOIN e e2 ON w.cur = e2.src
      WHERE w.hops <= {max_hops}
    ),
    term AS (
      SELECT w.src, w.cur, w.hops FROM walk w
      WHERE w.hops <= {max_hops}
        AND NOT EXISTS (SELECT 1 FROM e x WHERE x.src = w.cur)
    )
    SELECT e.src AS url, t.cur AS final_url,
           CAST(t.hops AS BIGINT) AS hops,
           CASE WHEN t.src IS NULL THEN 1 ELSE 0 END AS is_cycle
    FROM e LEFT JOIN term t ON e.src = t.src
    """


_register("resolve_redirects", _redirects_q, _redirects_oracle())


# Boilerplate fixture: every doc of a host shares a nav line (df = 100%,
# stripped); alternating 20-blocks share a footer (df ~ 50%, sits ON the
# min_frac boundary — deterministic either way, both engines agree); the
# body and the 'sig' line are unique (kept).
def _boiler_docs(s: SparkSession, d: str) -> DataFrame:
    did = F.col("doc_id")
    return _t_raw(s, d, "documents").select(
        "doc_id", F.col("source").alias("host"),
        F.concat_ws(
            "\n",
            F.concat(F.lit("nav "), "source", F.lit(" home")),
            F.col("text"),
            F.when(F.floor(did / 20) % 2 == 0,
                   F.concat(F.lit("footer "), F.col("source")))
            .otherwise(F.concat(F.lit("sig "), did.cast("string"))),
        ).alias("text"),
    )


_register(
    "host_boilerplate",
    lambda s, d: dedup.host_boilerplate_strip(_boiler_docs(s, d)),
    """
    WITH d AS (
      SELECT doc_id, source AS host,
             'nav ' || source || ' home' || chr(10) || text || chr(10) ||
             CASE WHEN (doc_id // 20) % 2 = 0 THEN 'footer ' || source
                  ELSE 'sig ' || CAST(doc_id AS VARCHAR) END AS text
      FROM documents
    ),
    lines AS (
      SELECT doc_id, host,
             unnest(range(len(string_split(text, chr(10))))) AS pos,
             unnest(string_split(text, chr(10))) AS line
      FROM d
    ),
    host_n AS (SELECT host, count(*) AS n_docs FROM d GROUP BY host),
    dfreq AS (
      SELECT host, line, count(DISTINCT doc_id) AS df
      FROM lines GROUP BY host, line
    ),
    boiler AS (
      SELECT f.host, f.line FROM dfreq f JOIN host_n h USING (host)
      WHERE h.n_docs >= 2 AND f.df >= h.n_docs * 0.5 AND f.line <> ''
    ),
    kept AS (
      SELECT l.doc_id, l.pos, l.line
      FROM lines l
      WHERE NOT EXISTS (SELECT 1 FROM boiler b
                        WHERE b.host = l.host AND b.line = l.line)
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
             count(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    tot AS (
      SELECT doc_id, host, count(*) AS n_total
      FROM lines GROUP BY doc_id, host
    )
    SELECT t.doc_id, t.host, coalesce(r.text_clean, '') AS text_clean,
           t.n_total - coalesce(r.n_kept, 0) AS n_removed
    FROM tot t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
    """,
)


# Recrawl fixture: 4 snapshots per url; the digest changes every
# floor(snap/p) tick with period p in {1,2,4} by doc_id % 3 — three
# distinct, deterministic lambda_hat levels (1.9459 / 0.8473 / 0.3365).
def _recrawl_q(s: SparkSession, d: str) -> DataFrame:
    did = F.col("doc_id")
    p = (F.when(did % 3 == 0, 1).when(did % 3 == 1, 2).otherwise(4))
    base = _t_raw(s, d, "documents").select(
        F.concat(F.lit("u"), did.cast("string")).alias("url"),
        p.alias("p"),
        F.explode(F.sequence(F.lit(1), F.lit(4))).alias("snap"),
    )
    hist = base.select(
        "url", "snap",
        F.md5(F.concat(
            "url", F.lit("|"),
            F.floor(F.col("snap") / F.col("p")).cast("string"),
        )).alias("digest"),
    )
    return pipeline.recrawl_schedule(hist)


_register(
    "recrawl_schedule",
    _recrawl_q,
    """
    WITH hist AS (
      SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
             t.s AS snap,
             md5('u' || CAST(doc_id AS VARCHAR) || '|' ||
                 CAST(t.s // (CASE doc_id % 3 WHEN 0 THEN 1
                              WHEN 1 THEN 2 ELSE 4 END) AS VARCHAR))
               AS digest
      FROM documents, range(1, 5) t(s)
    ),
    lagd AS (
      SELECT url, digest,
             lag(digest) OVER (PARTITION BY url ORDER BY snap) AS prev
      FROM hist
    ),
    agg AS (
      SELECT url, count(prev) AS n_intervals,
             CAST(coalesce(sum(CASE WHEN digest <> prev THEN 1 ELSE 0 END),
                           0) AS BIGINT) AS n_changes
      FROM lagd GROUP BY url
    )
    SELECT url, n_intervals, n_changes,
           CASE WHEN n_intervals > 0 THEN
             floor((-ln((n_intervals - n_changes + 0.5)
                        / (n_intervals + 0.5))) * 1e4 + 0.5) / 1e4
           END AS lambda_hat
    FROM agg
    """,
)


# Trap fixture: every 4th doc lands on a per-host calendar template
# ('/cal/N/N', many urls one digest -> flagged); the rest are normal
# pages ('/p/N', one digest each -> ratio 1, never flagged).
def _trap_q(s: SparkSession, d: str) -> DataFrame:
    did = F.col("doc_id")
    url = (
        F.when(did % 4 == 0, F.concat(
            F.lit("http://"), "source", F.lit(".example/cal/20"),
            (did % 30).cast("string"), F.lit("/"),
            did.cast("string")))
        .otherwise(F.concat(
            F.lit("http://"), "source", F.lit(".example/p/"),
            did.cast("string")))
    )
    dig = (
        F.when(did % 4 == 0, F.md5(F.col("source")))
        .otherwise(F.md5(did.cast("string")))
    )
    pages = _t_raw(s, d, "documents").select(
        url.alias("url"), dig.alias("digest")
    )
    return pipeline.url_trap_stats(pages, min_urls=5, min_ratio=3.0)


_register(
    "url_trap_stats",
    _trap_q,
    f"""
    WITH pages AS (
      SELECT CASE WHEN doc_id % 4 = 0
                  THEN 'http://' || source || '.example/cal/20'
                       || CAST(doc_id % 30 AS VARCHAR) || '/'
                       || CAST(doc_id AS VARCHAR)
                  ELSE 'http://' || source || '.example/p/'
                       || CAST(doc_id AS VARCHAR) END AS url,
             CASE WHEN doc_id % 4 = 0 THEN md5(source)
                  ELSE md5(CAST(doc_id AS VARCHAR)) END AS digest
      FROM documents
    ),
    t AS (
      SELECT {_FRONTIER_HOST.format(u='url')} AS host,
             regexp_replace(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
               '[0-9]+', 'N', 'g') AS template,
             url, digest
      FROM pages
    ),
    agg AS (
      SELECT host, template, count(DISTINCT url) AS n_urls,
             count(DISTINCT digest) AS n_contents
      FROM t GROUP BY host, template
    )
    SELECT host, template, n_urls, n_contents,
           floor((CAST(n_urls AS DOUBLE) / n_contents) * 1e2 + 0.5) / 1e2
             AS urls_per_content
    FROM agg
    WHERE n_urls >= 5 AND n_urls >= 3.0 * n_contents
    """,
)


# Dataset card over the cloned corpus (so dup_frac is non-trivial:
# every doc has an exact clone -> dup_frac 0.5 exactly); lang/source
# concentration from the real columns. The quality mean is recovered
# from exact integer sums in both engines (see corpus_report docstring).
def _card_corpus(s: SparkSession, d: str) -> DataFrame:
    docs = _t(s, d, "documents").select("doc_id", "text", "lang", "source")
    return docs.unionByName(
        docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                    "text", "lang", "source")
    )


_register(
    "corpus_report",
    lambda s, d: pipeline.corpus_report(_card_corpus(s, d)),
    f"""
    WITH corpus AS (
      SELECT doc_id, text, lang, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text, lang, source FROM documents
    ),
    base AS (
      SELECT len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS tokens,
             length(text) AS chars,
             md5(text) AS digest,
             CASE WHEN len(list_filter(string_split(text, ' '),
                                       w -> w <> '')) > 0
                  THEN floor((CAST(len(list_distinct(list_filter(
                         string_split(text, ' '), w -> w <> '')))
                         AS DOUBLE)
                       / len(list_filter(string_split(text, ' '),
                                         w -> w <> ''))) * 1e4 + 0.5)
                       / 1e4
                  ELSE 0.0 END AS quality,
             lang, source
      FROM corpus
    ),
    g AS (
      SELECT count(*) AS n_docs,
             CAST(sum(tokens) AS BIGINT) AS n_tokens,
             CAST(sum(chars) AS BIGINT) AS n_chars,
             count(DISTINCT digest) AS n_distinct_digests,
             CAST(sum(CAST(round(quality * 1e4) AS BIGINT)) AS BIGINT)
               AS sum_q4
      FROM base
    ),
    langs AS (
      SELECT CAST(count(*) AS BIGINT) AS n_langs,
             max({{'c': c, 'v': lang}}) AS top
      FROM (SELECT lang, count(*) AS c FROM base GROUP BY lang)
    ),
    srcs AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sources,
             max({{'c': c, 'v': source}}) AS top
      FROM (SELECT source, count(*) AS c FROM base GROUP BY source)
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs, n_tokens, n_chars,
           floor(CAST(n_tokens AS DOUBLE) / n_docs * 1e4 + 0.5) / 1e4
             AS mean_tokens,
           CAST(n_distinct_digests AS BIGINT) AS n_distinct_digests,
           floor((1.0 - CAST(n_distinct_digests AS DOUBLE) / n_docs)
                 * 1e4 + 0.5) / 1e4 AS dup_frac,
           floor(CAST(sum_q4 AS DOUBLE) / n_docs / 1e4 * 1e4 + 0.5) / 1e4
             AS mean_quality,
           n_langs, (langs.top).v AS top_lang,
           floor(CAST((langs.top).c AS DOUBLE) / n_docs * 1e4 + 0.5) / 1e4
             AS top_lang_frac,
           n_sources, (srcs.top).v AS top_source,
           floor(CAST((srcs.top).c AS DOUBLE) / n_docs * 1e4 + 0.5) / 1e4
             AS top_source_frac
    FROM g, langs, srcs
    """,
)


# HDR length-gate fixture: the documents corpus plus deliberate tails —
# 1-token and 2-token stubs (doc_id % 100 / % 50) and 8x concatenation
# giants (doc_id % 97 == 0) — so both gate sides carry mass. The twin
# embeds the hdr_quantiles_sql chain (same (qs, sub_bits)) as a
# subquery over the same fixture CTE.
def _gate_docs(s: SparkSession, d: str) -> DataFrame:
    did = F.col("doc_id")
    docs = _t(s, d, "documents").select("doc_id", "text")
    stubs = docs.filter(did % 50 == 0).select(
        (did + 5_000_000).alias("doc_id"),
        F.when(did % 100 == 0, F.lit("a")).otherwise(F.lit("a b"))
        .alias("text"),
    )
    giants = docs.filter(did % 97 == 0).select(
        (did + 6_000_000).alias("doc_id"),
        F.repeat(F.concat("text", F.lit(" ")), 8).alias("text"),
    )
    return docs.unionByName(stubs).unionByName(giants)


_GATE_DOCS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 5000000,
             CASE WHEN doc_id % 100 = 0 THEN 'a' ELSE 'a b' END
      FROM documents WHERE doc_id % 50 = 0
      UNION ALL
      SELECT doc_id + 6000000, repeat(text || ' ', 8)
      FROM documents WHERE doc_id % 97 = 0
"""

_GATE_LEN_SQL = ("len(list_filter(string_split(text, ' '), "
                 "w -> w <> ''))")

_register(
    "hdr_length_gate",
    lambda s, d: pipeline.hdr_length_gate(_gate_docs(s, d)),
    f"""
    WITH corpus AS ({_GATE_DOCS_SQL}),
    qrows AS (
      SELECT * FROM (
        {sketch.hdr_quantiles_sql(_GATE_LEN_SQL, qs=(0.01, 0.99),
                                  table="corpus")}
      )
    ),
    bounds AS (
      SELECT CAST(max(CASE WHEN q = 0.01 THEN est END) AS BIGINT)
               AS p_lo,
             CAST(max(CASE WHEN q = 0.99 THEN est END) AS BIGINT)
               AS p_hi
      FROM qrows
    ),
    lens AS (SELECT {_GATE_LEN_SQL} AS v FROM corpus),
    flagged AS (
      SELECT p_lo, p_hi,
             CASE WHEN v < p_lo THEN 'below'
                  WHEN v > p_hi THEN 'above'
                  ELSE 'kept' END AS g
      FROM lens, bounds
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(p_lo) AS BIGINT) AS p_lo,
           CAST(max(p_hi) AS BIGINT) AS p_hi,
           CAST(sum(CASE WHEN g = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(sum(CASE WHEN g = 'below' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(sum(CASE WHEN g = 'above' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above,
           floor(CAST(sum(CASE WHEN g = 'kept' THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*) * 1e4 + 0.5) / 1e4
             AS kept_frac
    FROM flagged
    """,
)


# Ingest-delta fixture: the batch replays the corpus through all six
# verdict classes by doc_id % 5 — refetch-with-fragment (unchanged),
# same-url edit (update), novel-url exact clone (exact dup), novel-url
# near clone (+' znew', near dup), and fresh docs with a low-quality
# subset (doc_id % 25 == 4). The twin restates each stage from first
# principles; the near-dup stage reuses the batch minhash CTE chain
# with the 3M id split (same discipline as incremental_near_dup's
# oracle).
_INGEST_URL = ("'https://h' || CAST(doc_id % 50 AS VARCHAR)"
               " || '.example/{p}' || CAST(doc_id AS VARCHAR)")


def _ingest_fixture(s: SparkSession, d: str):
    did = F.col("doc_id")
    base_url = F.concat(
        F.lit("https://h"), (did % 50).cast("string"),
        F.lit(".example/p"), did.cast("string"),
    )
    corpus = _t(s, d, "documents").select(
        "doc_id", base_url.alias("url"), "text"
    )

    def path(tag: str) -> F.Column:
        return F.concat(
            F.lit("https://h"), (did % 50).cast("string"),
            F.lit(f".example/{tag}"), did.cast("string"),
        )

    cls = did % 5
    url = (
        F.when(cls == 0, F.concat(base_url, F.lit("#frag")))
        .when(cls == 1, base_url)
        .when(cls == 2, path("q"))
        .when(cls == 3, path("r"))
        .otherwise(path("s"))
    )
    text = (
        F.when(cls == 0, F.col("text"))
        .when(cls == 1, F.concat("text", F.lit(" v2")))
        .when(cls == 2, F.col("text"))
        .when(cls == 3, F.concat("text", F.lit(" znew")))
        .otherwise(
            F.when(did % 25 == 4,
                   F.concat(F.lit("j j j j j j j j j u"),
                            did.cast("string")))
            .otherwise(F.concat(F.lit("fresh doc "), did.cast("string"),
                                F.lit(" alpha beta gamma delta")))
        )
    )
    batch = _t(s, d, "documents").select(
        (did + 3_000_000).alias("doc_id"), url.alias("url"),
        text.alias("text"),
    )
    return batch, corpus


_INGEST_QUALITY_SQL = """
    CASE WHEN len(list_filter(string_split(text, ' '), w -> w <> '')) > 0
         THEN floor((CAST(len(list_distinct(list_filter(
                string_split(text, ' '), w -> w <> ''))) AS DOUBLE)
              / len(list_filter(string_split(text, ' '), w -> w <> '')))
              * 1e4 + 0.5) / 1e4
         ELSE 0.0 END
"""


def _ingest_oracle() -> str:
    u = _INGEST_URL.format(p="p")
    return f"""
    WITH cbase AS (
      SELECT doc_id, {u} AS url, text FROM documents
    ),
    newp AS (
      SELECT doc_id + 3000000 AS id,
             CASE doc_id % 5
               WHEN 0 THEN url || '#frag'
               WHEN 1 THEN url
               WHEN 2 THEN {_INGEST_URL.format(p="q")}
               WHEN 3 THEN {_INGEST_URL.format(p="r")}
               ELSE {_INGEST_URL.format(p="s")} END AS url,
             CASE doc_id % 5
               WHEN 0 THEN text
               WHEN 1 THEN text || ' v2'
               WHEN 2 THEN text
               WHEN 3 THEN text || ' znew'
               ELSE CASE WHEN doc_id % 25 = 4
                         THEN 'j j j j j j j j j u'
                              || CAST(doc_id AS VARCHAR)
                         ELSE 'fresh doc ' || CAST(doc_id AS VARCHAR)
                              || ' alpha beta gamma delta' END
               END AS text
      FROM cbase
    ),
    newc AS (
      -- the fixture's only non-canonical shape is the fragment; the
      -- batch has no within-url duplicates, so collapse is identity
      SELECT id, regexp_replace(url, '#.*$', '') AS url, text,
             md5(text) AS digest,
             {_INGEST_QUALITY_SQL} AS quality
      FROM newp
    ),
    corp AS (SELECT doc_id AS corpus_id, url, md5(text) AS cdigest
             FROM cbase),
    um AS (
      SELECT n.id, n.url, n.text, n.digest, n.quality,
             c.corpus_id, c.cdigest
      FROM newc n LEFT JOIN corp c USING (url)
    ),
    matched AS (
      SELECT id, url,
             CASE WHEN digest = cdigest THEN 'skip_unchanged'
                  ELSE 'update' END AS verdict,
             corpus_id, CAST(NULL AS DOUBLE) AS sim_est
      FROM um WHERE corpus_id IS NOT NULL
    ),
    novel AS (SELECT id, url, text, digest, quality FROM um
              WHERE corpus_id IS NULL),
    cdig AS (SELECT cdigest AS digest, min(corpus_id) AS corpus_id
             FROM corp GROUP BY 1),
    ed AS (SELECT n.id, n.url, n.text, n.quality, d.corpus_id
           FROM novel n LEFT JOIN cdig d USING (digest)),
    exact AS (
      SELECT id, url, 'skip_exact_dup' AS verdict, corpus_id,
             CAST(NULL AS DOUBLE) AS sim_est
      FROM ed WHERE corpus_id IS NOT NULL
    ),
    cands AS (SELECT id, url, text, quality FROM ed
              WHERE corpus_id IS NULL),
    {_minhash_pairs_ctes(
        "SELECT doc_id, text FROM documents "
        "UNION ALL SELECT id AS doc_id, text FROM cands").lstrip()},
    near AS (
      SELECT b AS id, a AS corpus_id, sim_est FROM cand
      WHERE a < 3000000 AND b >= 3000000 AND sim_est >= 0.5
    ),
    near_best AS (
      SELECT id,
             -(max({{'s': sim_est, 'n': -corpus_id}})).n AS corpus_id,
             floor((max({{'s': sim_est, 'n': -corpus_id}})).s
                   * 1e4 + 0.5) / 1e4 AS sim_est
      FROM near GROUP BY id
    ),
    nj AS (
      SELECT c.id, c.url, c.quality, nb.corpus_id, nb.sim_est
      FROM cands c LEFT JOIN near_best nb USING (id)
    ),
    nearr AS (
      SELECT id, url, 'skip_near_dup' AS verdict, corpus_id, sim_est
      FROM nj WHERE corpus_id IS NOT NULL
    ),
    rest AS (
      SELECT id, url,
             CASE WHEN quality < 0.25 THEN 'skip_low_quality'
                  ELSE 'insert' END AS verdict,
             CAST(NULL AS BIGINT) AS corpus_id,
             CAST(NULL AS DOUBLE) AS sim_est
      FROM nj WHERE corpus_id IS NULL
    )
    SELECT id, url, verdict, corpus_id, sim_est FROM (
      SELECT * FROM matched UNION ALL SELECT * FROM exact
      UNION ALL SELECT * FROM nearr UNION ALL SELECT * FROM rest
    ) ORDER BY id
    """


_register(
    "ingest_delta",
    lambda s, d: pipeline.ingest_delta(*_ingest_fixture(s, d)),
    _ingest_oracle(),
)


# Tracking-param fixture: content is keyed by ck = doc_id % 20, so urls
# share a digest iff they share ck. Every url carries id=ck (a CONTENT
# param: residual groups after removing it mix digests) and utm=u{id%7}
# (a TRACKING param: urls sharing ck but differing in utm share one
# digest). Every third doc also carries a per-visit sess param and
# appears in TWO crawls with different sess values (the recrawl
# evidence that exposes session ids); param order id < sess < utm is
# already canonical. Expected inference: id NOT neutral, sess and utm
# neutral.
def _tracking_pages(s: SparkSession, d: str) -> DataFrame:
    did = F.col("doc_id")
    ck = (did % 20).cast("string")
    base = F.concat(F.lit("https://t.example/p?id="), ck)
    utm = F.concat(F.lit("&utm=u"), (did % 7).cast("string"))
    digest = F.md5(ck)
    docs = _t_raw(s, d, "documents")
    plain = docs.filter(did % 3 != 0).select(
        F.concat(base, utm).alias("url"), digest.alias("digest")
    )
    sess = docs.filter(did % 3 == 0)
    crawls = [
        sess.select(
            F.concat(
                base, F.lit("&sess=s"), (did + off).cast("string"), utm
            ).alias("url"),
            digest.alias("digest"),
        )
        for off in (0, 1000)
    ]
    return plain.unionByName(crawls[0]).unionByName(crawls[1])


_TRACKING_PAGES_SQL = """
      SELECT 'https://t.example/p?id=' || CAST(doc_id % 20 AS VARCHAR)
             || CASE WHEN doc_id % 3 = 0
                     THEN '&sess=s' || CAST(doc_id + off AS VARCHAR)
                     ELSE '' END
             || '&utm=u' || CAST(doc_id % 7 AS VARCHAR) AS url,
             md5(CAST(doc_id % 20 AS VARCHAR)) AS digest
      FROM documents, (VALUES (0), (1000)) crawls(off)
      WHERE doc_id % 3 = 0 OR off = 0
"""

_register(
    "tracking_params",
    lambda s, d: pipeline.tracking_params(_tracking_pages(s, d)),
    f"""
    WITH pages AS ({_TRACKING_PAGES_SQL}),
    rows AS (
      SELECT url AS u, digest AS d,
             string_split(regexp_extract(url, '\\?([^#]*)', 1), '&') AS kvs
      FROM pages WHERE regexp_extract(url, '\\?([^#]*)', 1) <> ''
    ),
    ex AS (
      SELECT u, d, kvs,
             unnest(list_distinct(list_transform(
               kvs, x -> string_split(x, '=')[1]))) AS param
      FROM rows
    ),
    res AS (
      SELECT param, u, d,
             regexp_extract(u, '^([^?#]*)', 1) || '?' ||
             array_to_string(list_filter(
               kvs, x -> string_split(x, '=')[1] <> param), '&')
               AS residual
      FROM ex
    ),
    grp AS (
      SELECT param, residual,
             count(DISTINCT u) AS n_urls,
             count(DISTINCT d) AS n_digests
      FROM res GROUP BY 1, 2
    )
    SELECT param,
           CAST(sum(n_urls) AS BIGINT) AS n_urls,
           CAST(sum(CASE WHEN n_urls > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_evidence_groups,
           CAST(sum(CASE WHEN n_urls > 1 AND n_digests = 1
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_uniform_groups,
           floor(CAST(sum(CASE WHEN n_urls > 1 AND n_digests = 1
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / greatest(sum(CASE WHEN n_urls > 1 THEN 1 ELSE 0 END),
                            1) * 1e4 + 0.5) / 1e4 AS uniform_frac,
           sum(CASE WHEN n_urls > 1 THEN 1 ELSE 0 END) > 0
             AND sum(CASE WHEN n_urls > 1 THEN 1 ELSE 0 END)
                 = sum(CASE WHEN n_urls > 1 AND n_digests = 1
                            THEN 1 ELSE 0 END) AS content_neutral
    FROM grp GROUP BY param ORDER BY param
    """,
)


# ===========================================================================
# Round-7 continuation batch 5: host-level mirror detection and per-domain
# token quotas.
# ===========================================================================

# Mirror fixture: host src_k serves digests keyed (ckey, k%4) — the five
# hosts of each k%4 group are FULL mirrors (frac 1.0, flagged); every
# third ckey keys on k%2 instead, giving same-parity/different-group host
# pairs a ~1/3 PARTIAL overlap that must stay below min_frac (in-data
# negative case).
def _mirror_q(s: SparkSession, d: str) -> DataFrame:
    did = F.col("doc_id")
    ckey = F.floor(did / 20)
    grp = F.when(ckey % 3 == 0, (did % 20) % 2).otherwise((did % 20) % 4)
    pages = _t_raw(s, d, "documents").select(
        F.col("source").alias("host"),
        F.md5(F.concat(ckey.cast("string"), F.lit("|"),
                       grp.cast("string"))).alias("digest"),
    )
    return dedup.mirror_hosts(pages, min_shared=2, min_frac=0.5)


_register(
    "mirror_hosts",
    _mirror_q,
    """
    WITH pages AS (
      SELECT source AS host,
             md5(CAST(doc_id // 20 AS VARCHAR) || '|' ||
                 CAST(CASE WHEN (doc_id // 20) % 3 = 0
                      THEN (doc_id % 20) % 2
                      ELSE (doc_id % 20) % 4 END AS VARCHAR)) AS digest
      FROM documents
    ),
    hd AS (SELECT DISTINCT host, digest FROM pages),
    sizes AS (SELECT host, count(*) AS n FROM hd GROUP BY host),
    keep_d AS (
      SELECT digest FROM hd GROUP BY digest HAVING count(*) <= 50
    ),
    capped AS (SELECT hd.* FROM hd JOIN keep_d USING (digest)),
    pairs AS (
      SELECT a.host AS host_a, b.host AS host_b, count(*) AS n_shared
      FROM capped a JOIN capped b USING (digest)
      WHERE a.host < b.host
      GROUP BY a.host, b.host
    )
    SELECT p.host_a, p.host_b, p.n_shared,
           floor((CAST(p.n_shared AS DOUBLE) / least(sa.n, sb.n))
                 * 1e4 + 0.5) / 1e4 AS overlap_frac
    FROM pairs p
    JOIN sizes sa ON p.host_a = sa.host
    JOIN sizes sb ON p.host_b = sb.host
    WHERE p.n_shared >= 2
      AND CAST(p.n_shared AS DOUBLE) / least(sa.n, sb.n) >= 0.5
    """,
)


# Quota fixture: three PSL shapes (co.uk two-label suffix, github.io
# private suffix, fr country TLD) x 5 -> 15 registered domains; oracle
# restates the expected domain from the same host construction (the PSL
# algorithm itself is pytest- and registered_domain_stats-verified).
_DOMAIN_QUOTA = 800


def _domain_quota_q(s: SparkSession, d: str) -> DataFrame:
    from .functions.url import registered_domain

    did = F.col("doc_id")
    k = (did % 5).cast("string")
    host = (
        F.when(did % 3 == 0, F.concat(F.lit("www.blog"), k, F.lit(".co.uk")))
        .when(did % 3 == 1, F.concat(F.lit("u"), k, F.lit(".github.io")))
        .otherwise(F.concat(F.lit("news"), k, F.lit(".fr")))
    )
    pages = _t(s, d, "documents").select(
        "doc_id", "text",
        F.concat(F.lit("https://"), host, F.lit("/p/"), did).alias("url"),
    ).select(
        "doc_id", "text",
        registered_domain(F.col("url")).alias("domain"),
    )
    return sampling.domain_token_quota(pages, quota=_DOMAIN_QUOTA)


_register(
    "domain_token_quota",
    _domain_quota_q,
    f"""
    WITH u AS (
      SELECT doc_id, text,
        CASE doc_id % 3
          WHEN 0 THEN 'blog' || (doc_id % 5) || '.co.uk'
          WHEN 1 THEN 'u' || (doc_id % 5) || '.github.io'
          ELSE 'news' || (doc_id % 5) || '.fr' END AS domain
      FROM documents
    ),
    tok AS (
      SELECT doc_id, domain,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w <> '')) AS BIGINT) AS n_tokens
      FROM u
    ),
    pos AS (
      SELECT doc_id, domain, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY domain ORDER BY doc_id)
                  AS BIGINT) AS cum_tokens
      FROM tok WHERE n_tokens > 0
    )
    SELECT doc_id, domain, n_tokens, cum_tokens
    FROM pos WHERE cum_tokens <= {_DOMAIN_QUOTA}
    """,
)


# Domain-disjoint-split fixture: 20 source hosts x 25 docs, plus two
# clone populations — every 5th doc duplicated WITHIN its host (the
# site-template shape a per-document split leaks across the boundary
# and a domain split cannot, by construction) and every 9th doc
# syndicated to a separate mirror host (the true cross-site leakage
# that survives both splits and the audit must count).
def _split_pages(s: SparkSession, d: str) -> DataFrame:
    docs = _t_raw(s, d, "documents")
    did = F.col("doc_id")
    host = F.concat(F.lit("https://"), "source", F.lit(".example/"))
    base = docs.select(
        F.concat(host, F.lit("p"), did.cast("string")).alias("url"),
        "text",
    )
    same = docs.filter(did % 5 == 0).select(
        F.concat(host, F.lit("c"), did.cast("string")).alias("url"),
        "text",
    )
    cross = docs.filter(did % 9 == 0).select(
        F.concat(F.lit("https://mirror.example/m"),
                 did.cast("string")).alias("url"),
        "text",
    )
    return base.unionByName(same).unionByName(cross)


_SPLIT_PAGES_SQL = """
      SELECT 'https://' || source || '.example/p' || CAST(doc_id AS VARCHAR)
               AS url, text FROM documents
      UNION ALL
      SELECT 'https://' || source || '.example/c' || CAST(doc_id AS VARCHAR),
             text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT 'https://mirror.example/m' || CAST(doc_id AS VARCHAR),
             text FROM documents WHERE doc_id % 9 = 0
"""

_register(
    "domain_disjoint_split",
    lambda s, d: sampling.domain_disjoint_split(_split_pages(s, d),
                                                val_pct=20),
    f"""
    WITH pages AS ({_SPLIT_PAGES_SQL}),
    base AS (
      SELECT lower(regexp_extract(
               regexp_extract(url,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
               '^(?:.*@)?([^@]*)$', 1)) AS domain,
             md5(text) AS digest, url
      FROM pages
    ),
    flagged AS (
      SELECT domain, digest,
             CAST(concat('0x', substring(md5('split:' || domain), 1, 8))
                  AS BIGINT) % 100 < 20 AS dv,
             CAST(concat('0x', substring(md5('rsplit:' || url), 1, 8))
                  AS BIGINT) % 100 < 20 AS rv
      FROM base
    ),
    counts AS (
      SELECT count(*) AS n_docs,
             sum(CASE WHEN dv THEN 0 ELSE 1 END) AS n_train,
             sum(CASE WHEN dv THEN 1 ELSE 0 END) AS n_val
      FROM flagged
    ),
    doms AS (
      SELECT CAST(sum(1 - any_v) AS BIGINT) AS n_train_domains,
             CAST(sum(all_v) AS BIGINT) AS n_val_domains,
             sum(CASE WHEN any_v <> all_v THEN 1 ELSE 0 END) = 0
               AS domain_disjoint
      FROM (SELECT domain, max(CASE WHEN dv THEN 1 ELSE 0 END) AS any_v,
                   min(CASE WHEN dv THEN 1 ELSE 0 END) AS all_v
            FROM flagged GROUP BY domain)
    ),
    leaks AS (
      SELECT CAST(sum(ld) AS BIGINT) AS digest_leak_domain,
             CAST(sum(lr) AS BIGINT) AS digest_leak_random
      FROM (SELECT digest,
                   CASE WHEN count(DISTINCT dv) = 2 THEN 1 ELSE 0 END AS ld,
                   CASE WHEN count(DISTINCT rv) = 2 THEN 1 ELSE 0 END AS lr
            FROM flagged GROUP BY digest)
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_train AS BIGINT) AS n_train,
           CAST(n_val AS BIGINT) AS n_val,
           floor(CAST(n_val AS DOUBLE) / n_docs * 1e4 + 0.5) / 1e4
             AS val_frac,
           n_train_domains, n_val_domains, domain_disjoint,
           digest_leak_domain, digest_leak_random
    FROM counts, doms, leaks
    """,
)


# HRW reshard audit over the crawl-url key space: grow 8 -> 10 shards
# and measure movement against the (S'-S)/S' = 0.2 expectation. The
# twin computes the same argmax via DuckDB's max-of-struct over an
# unnested shard range (group-by plan) while Spark folds in-row
# (map-only plan) — different physical shapes, one assignment.
def _hrw_shard_sql(n: int) -> str:
    h = ("CAST(concat('0x', substring(md5('shard' || CAST(i AS VARCHAR)"
         " || ':' || k), 1, 8)) AS BIGINT)")
    return f"""
      SELECT k, (max({{'h': {h}, 's': CAST(i AS BIGINT)}})).s AS shard
      FROM keys, (SELECT unnest(range({n})) AS i) dims
      GROUP BY k
    """


_register(
    "reshard_movement",
    lambda s, d: skew.reshard_movement(
        _t(s, d, "documents").select(
            _bloom_url(F.col("doc_id")).alias("url")),
        "url", 8, 10,
    ),
    f"""
    WITH keys AS (
      SELECT {_BLOOM_URL_SQL.format(c="doc_id")} AS k FROM documents
    ),
    before AS ({_hrw_shard_sql(8)}),
    after AS ({_hrw_shard_sql(10)}),
    flagged AS (
      SELECT a.shard,
             CASE WHEN a.shard <> b.shard THEN 1 ELSE 0 END AS moved
      FROM after a JOIN before b USING (k)
    ),
    per AS (
      SELECT shard, count(*) AS n_after, sum(moved) AS n_arrived
      FROM flagged GROUP BY shard
    ),
    tot AS (
      SELECT count(*) AS n_total, sum(moved) AS n_moved FROM flagged
    )
    SELECT shard,
           CAST(n_after AS BIGINT) AS n_after,
           CAST(n_arrived AS BIGINT) AS n_arrived,
           floor(CAST(n_moved AS DOUBLE) / n_total * 1e4 + 0.5) / 1e4
             AS moved_frac,
           floor({(10 - 8) / 10!r} * 1e4 + 0.5) / 1e4 AS expected_frac
    FROM per, tot ORDER BY shard
    """,
)


# ===========================================================================
# Round-7 continuation batch 6: the re-crawl composition — change-rate
# evidence x robots re-check x per-host budget, the revisit counterpart
# of frontier_next's discovery chain.
# ===========================================================================

# Fixture: urls on 20 hosts, every 5th on a '/old/...' path; md5-selected
# hosts publish 'Disallow: /old' plus a 0-2 s crawl-delay (the
# frontier_next robots conventions); 4 snapshots per url with digest
# change periods {1,2,4} by doc_id % 3 (the recrawl_schedule fixture).
def _refresh_q(s: SparkSession, d: str) -> DataFrame:
    did = F.col("doc_id")
    path = (
        F.when(did % 5 == 0, F.concat(F.lit("/old/"), did.cast("string")))
        .otherwise(F.concat(F.lit("/p/"), did.cast("string")))
    )
    url = F.concat(F.lit("http://src"), (did % 20).cast("string"),
                   F.lit(".example"), path)
    p = F.when(did % 3 == 0, 1).when(did % 3 == 1, 2).otherwise(4)
    base = _t_raw(s, d, "documents").select(url.alias("url"), p.alias("p"))
    hist = base.select(
        "url", "p",
        F.explode(F.sequence(F.lit(1), F.lit(4))).alias("snap"),
    ).select(
        "url", "snap",
        F.md5(F.concat(
            "url", F.lit("|"),
            F.floor(F.col("snap") / F.col("p")).cast("string"),
        )).alias("digest"),
    )
    hosts_all = _t(s, d, "documents").select(
        F.concat(F.lit("src"), (did % 20).cast("string"),
                 F.lit(".example")).alias("host")
    ).distinct()
    host_sel = F.conv(F.substring(F.md5("host"), 1, 2), 16, 10).cast("int")
    dly = (F.conv(F.substring(F.md5(F.col("host")), 3, 1), 16, 10)
           .cast("int") % 3).cast("string")
    robots = hosts_all.filter(host_sel % 2 == 0).select(
        "host",
        F.concat(F.lit("User-agent: *\nDisallow: /old\nCrawl-delay: "),
                 dly, F.lit("\n")).alias("robots_txt"),
    )
    return pipeline.refresh_frontier(hist, robots, top_k_per_host=3)


def _refresh_oracle() -> str:
    """Restates every stage from first principles: the lambda estimator
    over the same 4-snapshot history, robots as a plain '/old' prefix
    test on the md5-selected hosts (the full parser chain is
    cross-checked by robots_filter/_agent), delays from the same md5
    nibble, priority/top-k as one window."""
    return """
    WITH u AS (
      SELECT doc_id,
             'http://src' || CAST(doc_id % 20 AS VARCHAR) || '.example' ||
             CASE WHEN doc_id % 5 = 0
                  THEN '/old/' || CAST(doc_id AS VARCHAR)
                  ELSE '/p/' || CAST(doc_id AS VARCHAR) END AS url,
             'src' || CAST(doc_id % 20 AS VARCHAR) || '.example' AS host,
             CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS p,
             doc_id % 5 = 0 AS is_old
      FROM documents
    ),
    hist AS (
      SELECT url, host, is_old, t.s AS snap,
             md5(url || '|' || CAST(t.s // p AS VARCHAR)) AS digest
      FROM u, range(1, 5) t(s)
    ),
    lagd AS (
      SELECT url, host, is_old, digest,
             lag(digest) OVER (PARTITION BY url ORDER BY snap) AS prev
      FROM hist
    ),
    rates AS (
      SELECT url, host, is_old,
             count(prev) AS n,
             CAST(coalesce(sum(CASE WHEN digest <> prev THEN 1 ELSE 0 END),
                           0) AS BIGINT) AS x
      FROM lagd GROUP BY url, host, is_old
    ),
    lam AS (
      SELECT url, host, is_old,
             floor((-ln((n - x + 0.5) / (n + 0.5))) * 1e4 + 0.5) / 1e4
               AS lambda_hat
      FROM rates WHERE n > 0
    ),
    rsel AS (
      SELECT host,
             CAST(CAST(concat('0x', substring(md5(host), 3, 1)) AS INT) % 3
                  AS DOUBLE) AS delay_sec
      FROM (SELECT DISTINCT host FROM u)
      WHERE CAST(concat('0x', substring(md5(host), 1, 2)) AS INT) % 2 = 0
    ),
    admitted AS (
      SELECT l.url, l.host, l.lambda_hat,
             coalesce(r.delay_sec, 1.0) AS delay_sec,
             l.lambda_hat / (coalesce(r.delay_sec, 1.0) + 1.0)
               AS priority_raw
      FROM lam l LEFT JOIN rsel r ON l.host = r.host
      WHERE NOT (l.is_old AND r.host IS NOT NULL)
    ),
    ranked AS (
      SELECT url, host, lambda_hat, delay_sec, priority_raw,
             row_number() OVER (PARTITION BY host
                                ORDER BY priority_raw DESC, url)
               AS refresh_pos
      FROM admitted
    )
    SELECT url, host, lambda_hat, delay_sec,
           CAST(refresh_pos AS INT) AS refresh_pos,
           floor((priority_raw) * 1e8 + 0.5) / 1e8 AS priority
    FROM ranked WHERE refresh_pos <= 3
    """


_register("refresh_frontier", _refresh_q, _refresh_oracle())


# ===========================================================================
# Round-7 continuation batch 7: content-defined chunking — the
# insertion-robust complement to the fixed-geometry chunk_passages pair.
# ===========================================================================

_CDC_G = 3
_CDC_DIV = 8

_CDC_CORE = """
    u AS (
      SELECT id, generate_subscripts(arr, 1) - 1 AS pos, unnest(arr) AS tok
      FROM (SELECT id, list_filter(string_split(text, ' '),
                                   w -> w <> '') AS arr FROM src)
      WHERE len(arr) > 0
    ),
    gr AS (
      SELECT id, pos, tok,
             lag(tok, 2) OVER w || ' ' || lag(tok, 1) OVER w || ' ' || tok
               AS gram
      FROM u WINDOW w AS (PARTITION BY id ORDER BY pos)
    ),
    b AS (
      SELECT id, pos, tok,
             CASE WHEN gram IS NOT NULL
                   AND CAST(concat('0x', substring(md5(gram), 1, 8))
                            AS BIGINT) % {div} = 0
                  THEN 1 ELSE 0 END AS bf
      FROM gr
    ),
    c AS (
      SELECT id, pos, tok,
             CAST(coalesce(sum(bf) OVER (PARTITION BY id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS chunk_id
      FROM b
    ),
    chunks AS (
      SELECT id, chunk_id, CAST(min(pos) AS INT) AS start_tok,
             count(*) AS n_tokens,
             string_agg(tok, ' ' ORDER BY pos) AS chunk_text
      FROM c GROUP BY id, chunk_id
    )"""


_register(
    "cdc_chunks",
    lambda s, d: textstats.cdc_chunks(
        _t(s, d, "documents"), g=_CDC_G, divisor=_CDC_DIV
    ),
    f"""
    WITH src AS (SELECT doc_id AS id, text FROM documents),
    {_CDC_CORE.format(div=_CDC_DIV)}
    SELECT id, chunk_id, start_tok, n_tokens,
           md5(chunk_text) AS chunk_md5, chunk_text
    FROM chunks
    """,
)


# Dedup fixture: every third doc gains a 2-token-prefix clone (+3M) —
# the edit that blinds fixed-geometry chunk dedup; CDC boundaries are
# content-local, so the clone collapses onto the original's chunks
# everywhere past the first boundary.
def _cdc_dedup_q(s: SparkSession, d: str) -> DataFrame:
    docs = _t(s, d, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.lit("pfx0 pfx1 "), "text").alias("text"),
    )
    return textstats.cdc_dedup_stats(
        docs.unionByName(clones), g=_CDC_G, divisor=_CDC_DIV
    )


_register(
    "cdc_dup_fraction",
    _cdc_dedup_q,
    f"""
    WITH src AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000 AS id, 'pfx0 pfx1 ' || text AS text
      FROM documents WHERE doc_id % 3 = 0
    ),
    {_CDC_CORE.format(div=_CDC_DIV)}
    , freq AS (
      SELECT md5(chunk_text) AS h, count(*) AS freq
      FROM chunks GROUP BY md5(chunk_text)
    )
    SELECT c.id, count(*) AS n_chunks,
           CAST(sum(CASE WHEN f.freq > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           floor((CAST(sum(CASE WHEN f.freq > 1 THEN 1 ELSE 0 END)
                       AS DOUBLE) / count(*)) * 1e4 + 0.5) / 1e4
             AS dup_frac
    FROM chunks c JOIN freq f ON md5(c.chunk_text) = f.h
    GROUP BY c.id
    """,
)
