"""Catalog seam: Iceberg-shaped table IO with a parquet fallback.

The production design writes Iceberg v2 tables (`df.writeTo(...).append()`,
partitioned by `bucket(N, url)`) and resumes by anti-joining the source
against the committed snapshot (SURVEY.md section 4, custom-work item d).
The Iceberg runtime jar is not available offline in this sandbox, so the
same contract is implemented over parquet directories behind this seam —
switching to Iceberg is a config change, not a code change:

* ``append(df, table)``    -> Iceberg: ``df.writeTo(table).append()``
* ``read(spark, table)``   -> Iceberg: ``spark.read.table(table)``
* ``resume_filter``        -> identical on both (anti-join on url)

Exactly-once at the url level: outputs are deterministic per url (pure
kernel), so re-running after partial failure appends only the missing urls
and the final table equals a single clean run (tests/test_resume.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

USE_ICEBERG = os.environ.get("OCR_CEZAM_USE_ICEBERG", "0") == "1"


def append(df: DataFrame, table: str) -> None:
    if USE_ICEBERG:
        df.writeTo(table).append()
    else:
        df.write.mode("append").parquet(table)


def read(spark: SparkSession, table: str) -> DataFrame | None:
    if USE_ICEBERG:
        return spark.read.table(table)
    try:
        return spark.read.parquet(table)
    except Exception as e:
        # ONLY "table does not exist yet" maps to None — any other read
        # failure (transient FS error, corrupt footer, permissions) must
        # surface: resume_filter treats None as "nothing committed" and a
        # swallowed error would re-append every url, breaking the
        # exactly-once contract.
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise


def resume_filter(docs: DataFrame, spark: SparkSession, table: str) -> DataFrame:
    """Drop source urls already committed to ``table`` (checkpoint/resume).

    A left-anti join on the key column; with Iceberg this reads only the
    url column of the committed snapshot (column pruning + manifest
    pruning), so the resume scan is cheap even at 10^12 rows.
    """
    return without_committed(docs, read(spark, table))


def without_committed(docs: DataFrame, done: DataFrame | None) -> DataFrame:
    """``resume_filter`` against a committed frame the caller already read
    with ``read`` (None: nothing committed yet)."""
    if done is None:
        return docs
    return docs.join(done.select("url"), on="url", how="left_anti")
