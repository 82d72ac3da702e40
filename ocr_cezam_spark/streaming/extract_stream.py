"""Streaming extraction: the mapInArrow kernel over a file stream.

Incremental ingest of new document dumps (the production shape: a new
Common-Crawl segment lands, the stream picks it up) — the same pruned
scan -> mapInArrow kernel as the batch job, but driven by Structured
Streaming with checkpoint-tracked source files. Resume here is handled by
the streaming CHECKPOINT (exactly-once file-source tracking), the
streaming complement of the batch job's anti-join resume; both paths
produce byte-identical rows because the kernel is pure per url.

availableNow triggers bound each drain, so a backfill and a tail-follow
are the same code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..corpus import CORPUS_SCHEMA
from ..operators import extract as X


def extract_stream(docs: DataFrame) -> DataFrame:
    """Streaming extraction: identical kernel, identical pruning — the
    mapInArrow pass supports streaming DataFrames natively (no
    repartition: a streaming stage keeps the source partitioning, and
    file-source splits are already maxPartitionBytes-bounded)."""
    return X.run_extract(docs, num_partitions=None)


def run_extract_stream(
    spark: SparkSession, in_path: str, out_path: str, checkpoint: str
) -> None:
    """Drain all currently-available input files through the kernel into
    a parquet sink, exactly-once per source file via the checkpoint."""
    from .events import read_events_stream, run_available_now

    docs = read_events_stream(spark, in_path, CORPUS_SCHEMA)
    out = extract_stream(docs).select(
        "url", "lang", "text", "n_bytes", "error", "part_id"
    )
    run_available_now(out, checkpoint, out_path)
