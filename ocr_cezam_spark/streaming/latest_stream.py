"""Streaming recrawl dedup: the incremental-ingest form of
``operators.dedup.latest_crawl_dedup`` — as recrawl files land, keep each
url's NEWEST snapshot (max warc_ts, ties to max id) across micro-batches
and emit the url's current winner whenever it changes.

Mechanism: ``streaming/state.py``'s ``changelog_stream`` keyed on url
with 3 scalars of state (best_ts, best_id, n_crawls). Last-writer-wins
is ORDER-SAFE under out-of-order delivery: a late snapshot older than
the stored winner updates n_crawls but never demotes the winner, so the
emitted sequence converges to the batch operator's answer regardless of
arrival order (tests assert stream-final == batch on a shuffled replay,
and that a restart resumes from checkpointed state instead of
re-counting).

Scale shape: state grows with |urls| (3 scalars each), not |snapshots|;
the shuffle is on the url key — the exact streaming complement of the
batch max-of-struct aggregation, including its map-side combine
(the grouped state operator pre-shuffles by key; a hot url's snapshots
within one micro-batch reduce inside one group call).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .state import changelog_stream

OUTPUT_SCHEMA = "url string, doc_id long, warc_ts long, n_crawls long"
STATE_SCHEMA = "best_ts long, best_id long, n_crawls long"


def _step_latest(url, state, chunks):
    best_ts, best_id, n_crawls = state or (None, None, 0)
    seen = n_crawls
    for pdf in chunks:
        for ts, i in zip(pdf["warc_ts"].astype("int64"),
                         pdf["doc_id"].astype("int64")):
            n_crawls += 1
            if best_ts is None or (ts, i) > (best_ts, best_id):
                best_ts, best_id = int(ts), int(i)
    if n_crawls == seen:
        return None, []
    return (best_ts, best_id, n_crawls), [{
        "url": url, "doc_id": best_id, "warc_ts": best_ts,
        "n_crawls": n_crawls,
    }]


def latest_stream(pages: DataFrame) -> DataFrame:
    """(url, doc_id, warc_ts, n_crawls) — the url's current winning
    snapshot, re-emitted whenever new snapshots for it arrive.

    Operator output mode is APPEND (each emission is that batch's
    current winner) so the stream can feed an append-only file/Iceberg
    sink with a recoverable checkpoint; consumers read the url's LATEST
    emission — max n_crawls, which is monotonic per url — exactly like
    compacting a changelog."""
    return changelog_stream(pages, "url", _step_latest, OUTPUT_SCHEMA,
                            STATE_SCHEMA)
