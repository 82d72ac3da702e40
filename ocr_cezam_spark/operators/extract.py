"""Spark extraction operator: the kernel wrapped in ``mapInArrow``.

Design (SURVEY.md sections 1.3, 3): the reference's per-document imperative
pipeline (``ocr_cezam.py:63-84``) becomes one narrow, fused Arrow pass —
scan -> native pre-filters -> explicit repartition by ``xxhash64(url)`` ->
``mapInArrow(extract_batch)`` -> nested-output projections. No filesystem
round-trips (the reference writes page JPEGs and re-reads them,
``releve_bancaire.py:60,74``); bytes stay inside Arrow batches.

The kernel itself is pure Python per row but *batched* via Arrow — no
row-at-a-time Python UDF anywhere (``input_hint``: "no per-row Python").
Output batches are built column by column: ``url`` and ``lang`` pass
through as Arrow columns, ``n_bytes`` is an Arrow compute, and the kernel's
tuples become structs as returned; ``posexplode`` numbers links and
headings (their ``pos``) in the projections. Per-partition lineage comes
from a ``part_id`` column stamped with ``TaskContext.partitionId()`` inside
the kernel pass, aggregated relationally afterwards (never a driver-side
loop).
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.pandas.types import from_arrow_schema

from ..kernel import extract

# Nested output of one kernel pass; exploded into long-format tables by the
# projection helpers below (cells stay long-format per SURVEY.md 1.3 —
# groupBy/pivot re-assembly only at the edge). Each struct's fields follow
# the order of the kernel's tuples, so those tuples convert as they are.
EXTRACT_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("lang", pa.string()),
        pa.field("text", pa.string()),
        pa.field("n_bytes", pa.int64()),
        pa.field("error", pa.string()),
        pa.field("part_id", pa.int32()),
        pa.field("fields", pa.map_(pa.string(), pa.string())),
        pa.field(
            "cells",
            pa.list_(
                pa.struct(
                    [
                        ("table_id", pa.int32()),
                        ("row_id", pa.int32()),
                        ("col_id", pa.int32()),
                        ("value", pa.string()),
                    ]
                )
            ),
        ),
        pa.field(
            "statuses",
            pa.list_(
                pa.struct(
                    [
                        ("table_id", pa.int32()),
                        ("status", pa.string()),
                        ("detail", pa.string()),
                    ]
                )
            ),
        ),
        pa.field(
            "codes",
            pa.list_(
                pa.struct(
                    [
                        ("table_id", pa.int32()),
                        ("code", pa.string()),
                        ("pos", pa.int32()),
                        ("value", pa.string()),
                    ]
                )
            ),
        ),
        pa.field(
            "links",
            pa.list_(
                pa.struct([("href", pa.string()), ("anchor", pa.string())])
            ),
        ),
        pa.field(
            "headings",
            pa.list_(
                pa.struct([("level", pa.int32()), ("heading", pa.string())])
            ),
        ),
    ]
)


def _extract_batches(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    ctx = TaskContext.get()
    part_id = ctx.partitionId() if ctx is not None else -1
    for batch in batches:
        url, html, lang = (batch.column(c) for c in ("url", "html", "lang"))
        # Zero-copy payload views: to_pylist() would materialize every
        # html payload as a Python bytes object (one full copy of the
        # batch's bytes) before the kernel's decode copies them AGAIN
        # into str. as_buffer() hands the kernel a view into the Arrow
        # data buffer instead, so the only payload-sized copy left on
        # the hot path is the unavoidable bytes->str decode — this is
        # the memory-bus lever for the saturated local[32] pair.
        res = [
            extract(u, h.as_buffer() if h.is_valid else b"", lg)
            for u, h, lg in zip(url.to_pylist(), html, lang.to_pylist())
        ]
        cols = {
            name: [r[name] for r in res]
            for name in ("text", "error", "cells", "statuses", "codes",
                         "links", "headings")
        }
        yield pa.RecordBatch.from_pydict(
            {
                **cols,
                "url": url,
                "lang": lang,
                "n_bytes": pc.binary_length(html).fill_null(0).cast(pa.int64()),
                "part_id": [part_id] * len(res),
                # Arrow map type wants list[tuple]; fixed key order for
                # byte-stable output.
                "fields": [sorted(r["fields"].items()) for r in res],
            },
            schema=EXTRACT_SCHEMA,
        )


def run_extract(docs: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """documents(url, warc_ts, html, text, lang) -> nested extract output.

    Column pruning is explicit (only url/html/lang cross the Arrow
    boundary) and the repartition by url-hash gives uniform batches
    regardless of source file layout (north_rule: partitioning handled
    explicitly; AQE cannot rebalance a mapInArrow stage after the fact).
    """
    pruned = docs.select("url", "html", "lang")
    if num_partitions:
        pruned = pruned.repartition(num_partitions, F.xxhash64("url"))
    return pruned.mapInArrow(_extract_batches,
                             from_arrow_schema(EXTRACT_SCHEMA))


# ---- long-format projections (the Iceberg output tables of SURVEY.md 1.3) --


def extracted_text(out: DataFrame) -> DataFrame:
    return out.select("url", "text", "n_bytes", "error")


def extracted_fields(out: DataFrame) -> DataFrame:
    return out.select("url", F.explode("fields").alias("field", "value"))


def extracted_cells(out: DataFrame) -> DataFrame:
    return out.select("url", F.explode("cells").alias("c")).select(
        "url", "c.table_id", "c.row_id", "c.col_id", "c.value"
    )


def extracted_statuses(out: DataFrame) -> DataFrame:
    return out.select("url", F.explode("statuses").alias("s")).select(
        "url", "s.table_id", "s.status", "s.detail"
    )


def extracted_codes(out: DataFrame) -> DataFrame:
    return out.select("url", F.explode("codes").alias("k")).select(
        "url", "k.table_id", "k.code", "k.pos", "k.value"
    )


def extracted_links(out: DataFrame) -> DataFrame:
    """(url, pos, href, anchor): the crawl-frontier table — document-
    ordered anchor targets per page with their anchor text, long format
    like the other projections."""
    return out.select("url", F.posexplode("links").alias("pos", "l")).select(
        "url", "pos", "l.href", "l.anchor"
    )


def extracted_headings(out: DataFrame) -> DataFrame:
    """(url, pos, level, heading): the page OUTLINE table — document-
    ordered h1-h6 text per page, the structural skeleton heading-aware
    passage chunking and section-level dedup key on."""
    return out.select("url", F.posexplode("headings").alias("pos", "h")).select(
        "url", "pos", "h.level", "h.heading"
    )


def partition_metrics(out: DataFrame) -> DataFrame:
    """Per-partition lineage/metrics rows (north_rule requirement) —
    derived relationally, not via driver-side loops."""
    return out.groupBy("part_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("bytes_in"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("n_errors"),
        F.sum(F.length("text")).alias("chars_out"),
    )
