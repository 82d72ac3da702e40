"""Streaming exact dedup: the incremental-ingest form of
``operators.dedup.exact_dedup`` — as new crawl files land, emit each
content digest's FIRST document and drop every later exact copy, across
micro-batches (state lives in the checkpoint, so a restart never re-emits
a digest already seen).

Mechanism: Structured Streaming ``dropDuplicates`` keyed on the content
digest. With a watermark on the crawl timestamp the dedup state is
BOUNDED — a digest older than the watermark horizon is expired, which is
the production trade-off for unbounded crawl streams (an exact copy
arriving later than the horizon would be re-emitted; the horizon is the
dedup SLA). ``dropDuplicatesWithinWatermark`` keys the expiry to the
watermark delay itself. Without a watermark the state grows with the
distinct-digest count, which is the batch-equivalent-but-unbounded mode.

This is deliberately the digest-level operator: near-dup streaming
(MinHash over a stream) composes the batch LSH over a tumbling window of
this operator's output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812


def dedup_stream(docs: DataFrame, ts_col: str | None = None,
                 watermark: str = "1 hour",
                 text_col: str = "text") -> DataFrame:
    """First-seen-wins exact dedup over a document stream.

    With ``ts_col`` the state is watermark-bounded
    (dropDuplicatesWithinWatermark): digests expire ``watermark`` after
    their event time, bounding state for unbounded streams. Without it,
    state is exact and unbounded (backfill / bounded-replay mode)."""
    base = docs.withColumn("digest", F.md5(F.col(text_col)))
    if ts_col is not None:
        return base.withWatermark(ts_col, watermark) \
            .dropDuplicatesWithinWatermark(["digest"])
    return base.dropDuplicates(["digest"])
