"""Skew handling for the kernel stage.

AQE splits skewed partitions for joins, but cannot rebalance a
``mapInArrow`` stage after launch (SURVEY.md section 4, custom item b), so
balance must be created *before* the kernel runs. ``xxhash64(url)`` already
spreads urls uniformly — including urls of a hot host — so the default
repartition is skew-proof at the url grain. The salted variant below
additionally handles host-keyed batching (e.g. politeness grouping): hosts
big enough to dominate a partition are detected via a cheap pre-aggregation
(the two-pass hot-key pattern) and split across ``salt_buckets`` sub-keys,
while genuinely small hosts stay co-located.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

HOT_HOST_THRESHOLD = 0.05  # absolute cap: a host owning >5% of rows is hot


def host_of(col: str = "url") -> F.Column:
    # authority ends at '/', '?' or '#' OR at end-of-string — requiring a
    # trailing '/' would map every bare-host url (https://a.com,
    # https://a.com?q=1) to host '' and collapse unrelated hosts into one
    # repartition key (same authority grammar as functions/url.py)
    return F.regexp_extract(F.col(col), r"^https?://([^/?#]*)", 1)


def detect_hot_hosts(docs: DataFrame, threshold: float = HOT_HOST_THRESHOLD):
    """Pre-aggregation returning the list of hot host names in ONE action:
    per-host counts and the grand total share the same aggregation
    exchange (ReusedExchange), and only the hosts above threshold are
    collected — never the full host list.

    At 100 TB this runs on the url column only (column-pruned scan) and the
    result is tiny (a handful of hosts) — safe to collect and broadcast.
    """
    per = docs.select(host_of().alias("host")).groupBy("host").count()
    total = per.agg(F.sum("count").alias("total"))
    rows = (
        per.crossJoin(F.broadcast(total))
        .filter(F.col("count") > threshold * F.col("total"))
        .select("host")
        .collect()
    )
    return [r["host"] for r in rows]


def domain_quota_sample(docs: DataFrame, group_col: str = "source",
                        quota: int = 10,
                        id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-domain down-sampling: keep at most ``quota`` rows
    per group, chosen by hash order (first 8 hex chars of md5(id) as an
    integer — md5 because it is bit-identical across engines; at
    production scale xxhash64 is the cheaper drop-in) with id as the
    final tie-break. The skew-control companion to source_skew_stats: a
    domain owning 30% of the crawl contributes ``quota`` rows like
    everyone else.

    Scale shape: rank<=k over a window compiles to WindowGroupLimit
    (Spark >= 3.5), which prunes to the top-k PER MAP PARTITION before
    the exchange — the hot domain ships quota*num_tasks rows, not its
    full row count, so no straggler partition."""
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        docs.select(F.col(id_col), F.col(group_col))
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= quota)
    )


def salted_repartition(
    docs: DataFrame, num_partitions: int, salt_buckets: int = 16
) -> DataFrame:
    """Repartition on (host, salt) where salt splits the hosts that could
    dominate a partition — the two-pass hot-key pattern: pass 1 finds hosts
    owning more than min(HOT_HOST_THRESHOLD, 0.5/num_partitions) of rows
    (i.e. anything that would fill over half a partition — tying the
    threshold to the partition count removes the cliff where a 4.9% host
    lands whole in one partition), pass 2 keys hot hosts by
    (host, pmod(xxhash64(url), salt_buckets)) and cold hosts by (host, 0)
    so small hosts stay co-located while no host can create a straggler.
    Deterministic, so output bytes are reproducible. Pass 1 is one action
    on the host column only (see detect_hot_hosts).
    """
    threshold = min(HOT_HOST_THRESHOLD, 0.5 / max(num_partitions, 1))
    hot_hosts = detect_hot_hosts(docs, threshold)
    host = host_of()
    if hot_hosts:
        salt = F.when(
            host.isin(hot_hosts), F.pmod(F.xxhash64("url"), F.lit(salt_buckets))
        ).otherwise(F.lit(0))
    else:
        salt = F.lit(0)
    return docs.repartition(num_partitions, host, salt)


def rendezvous_shard(df: DataFrame, key_col: str, n_shards: int,
                     salt: str = "shard") -> DataFrame:
    """Rendezvous / highest-random-weight (HRW) shard assignment
    (Thaler & Ravishankar, "Using Name-Based Mappings to Increase Hit
    Rates", IEEE/ACM ToN 1998): key -> argmax over shards of
    h(shard_i, key). Unlike `pmod(hash, n)`, growing the shard set
    moves ONLY the keys whose new shard wins — expected (S'-S)/S' of
    them — which is what keeps a 10^12-row crawl-state store (per-shard
    Bloom/HLL sketches, frontier partitions, url-seen files) from
    re-shuffling wholesale every time capacity changes.

    Plan: MAP-ONLY — the argmax folds over an n_shards-literal struct
    array in-row (array_max on (hash, shard) structs; ties break to the
    higher shard id deterministically in both engines, though 32-bit
    hash ties are fixture-impossible). No shuffle, no window, no
    driver state; the hash is the module-standard first-8-hex-md5
    (bit-identical in the DuckDB twin).

    Returns df plus a `shard` long column.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    key = F.col(key_col).cast("string")
    entries = F.array(*[
        F.struct(
            F.conv(F.substring(
                F.md5(F.concat(F.lit(f"{salt}{i}:"), key)), 1, 8),
                16, 10).cast("long").alias("h"),
            F.lit(i).cast("long").alias("s"),
        )
        for i in range(n_shards)
    ])
    return df.withColumn("shard", F.array_max(entries)["s"])


def reshard_movement(df: DataFrame, key_col: str, n_before: int,
                     n_after: int, salt: str = "shard") -> DataFrame:
    """The HRW minimal-movement property, measured in-plan: assign every
    key under S=n_before and S'=n_after shards (same salt space, so
    surviving shards keep their identity) and report, per AFTER-shard:
    how many keys it holds, how many of those arrived (moved), and the
    in-plan global moved fraction with HRW's expected (S'-S)/S'
    alongside — the audit a capacity change ships with.

    Output: (shard, n_after, n_arrived, moved_frac 4 dp,
    expected_frac 4 dp) ordered by shard; moved_frac/expected_frac are
    global (repeated per row so the result stays one relation).

    Scale shape: two map-only assignments on one projection, ONE
    aggregation by new shard, one single-row total broadcast-crossed.
    """
    if not 1 <= n_before <= n_after:
        raise ValueError("need 1 <= n_before <= n_after")
    a = rendezvous_shard(
        df.select(F.col(key_col).alias("k")), "k", n_before, salt
    ).withColumnRenamed("shard", "shard_before")
    b = rendezvous_shard(a, "k", n_after, salt)
    flagged = b.select(
        "shard",
        (F.col("shard") != F.col("shard_before")).cast("long")
        .alias("moved"),
    )
    per = flagged.groupBy("shard").agg(
        F.count("*").alias("n_after"),
        F.sum("moved").alias("n_arrived"),
    )
    tot = flagged.groupBy().agg(
        F.count("*").alias("n_total"),
        F.sum("moved").alias("n_moved"),
    )
    from ocr_cezam_spark.functions.numeric import round_he

    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard",
            F.col("n_after").cast("long").alias("n_after"),
            F.col("n_arrived").cast("long").alias("n_arrived"),
            round_he(F.col("n_moved").cast("double")
                     / F.col("n_total").cast("double"), 4)
            .alias("moved_frac"),
            round_he(F.lit((n_after - n_before) / n_after), 4)
            .alias("expected_frac"),
        )
        .orderBy("shard")
    )
