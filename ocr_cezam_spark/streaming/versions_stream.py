"""Streaming SCD-2 url version history: the incremental-ingest form of
``dedup.url_version_history`` — as fetch records land, maintain each
url's OPEN version in state and emit version rows as they close (plus
the current open row each time it changes), so the crawl store's
one-row-per-version table stays current without replaying the fetch
log.

Mechanism: ``streaming/state.py``'s ``changelog_stream`` keyed on url;
state =
(digest, version, valid_from, n_fetches, last_ts) — constant-size per
url. Within a micro-batch rows are processed in (ts) order, over the
whole batch (its Arrow chunks concatenated, then sorted once); ACROSS
batches the stream assumes per-url event-time monotone arrival (a
crawl fetch log is an append log — the same contract latest_stream
documents; out-of-order deliveries ACROSS batches are counted into
the open version, stated limitation of the streaming form — the batch
operator is the replay-correct authority).

Emissions are a changelog: every batch that touches a url re-emits its
OPEN version row (valid_to NULL) and any rows CLOSED in that batch
(valid_to set). Consumers compact by (url, version) keeping max
n_fetches — after which the table is row-for-row the batch
url_version_history of the same fetch log (the test asserts exactly
that, plus a checkpointed restart).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from .state import changelog_stream

OUTPUT_SCHEMA = ("url string, version long, digest string, "
                 "valid_from long, valid_to long, n_fetches long")
STATE_SCHEMA = ("digest string, version long, valid_from long, "
                "n_fetches long, last_ts long")


def versions_stream(fetches: DataFrame, url_col: str = "url",
                    ts_col: str = "warc_ts",
                    digest_col: str = "digest") -> DataFrame:

    def step(url, state, chunks):
        digest, version, valid_from, n_fetches, last_ts = (
            state or (None, 0, 0, 0, -1))
        frames = [pdf[["ts", "d"]] for pdf in chunks]
        if not frames:
            return None, []
        out = []
        for ts, d in pd.concat(frames).sort_values("ts").itertuples(
                index=False):
            ts = int(ts)
            if digest is None or d != digest:
                if digest is not None:
                    # close the running version at the new start
                    out.append((version, digest, valid_from, ts, n_fetches))
                version += 1
                digest, valid_from, n_fetches = d, ts, 1
            else:
                n_fetches += 1
            last_ts = ts
        out.append((version, digest, valid_from, None, n_fetches))
        return (digest, version, valid_from, n_fetches, last_ts), [
            {"url": url, "version": v, "digest": dg, "valid_from": vf,
             "valid_to": vt, "n_fetches": n}
            for v, dg, vf, vt, n in out
        ]

    cols = fetches.select(
        fetches[url_col].alias("url"),
        fetches[ts_col].cast("long").alias("ts"),
        fetches[digest_col].alias("d"),
    )
    return changelog_stream(cols, "url", step, OUTPUT_SCHEMA, STATE_SCHEMA)
