"""Streaming KMV distinct sketch: the incremental-ingest form of
``operators.sketch.kmv_distinct`` — as event files land, maintain the
per-group k smallest distinct 60-bit key hashes across micro-batches and
re-emit the group's current distinct estimate whenever it changes.

Mechanism: ``streaming/state.py``'s ``changelog_stream`` keyed on the
group with the sorted hash list as state (``array<long>`` of at most k
values plus a row counter — CONSTANT-SIZE per group like every sketch
state here; exact streaming distinct would hold every key ever seen).
The per-row hash is the SAME md5 computation the batch operator runs in
Spark SQL (first 15 hex chars of md5 of the identical UTF-8 text, so 60
bits — fits a signed long on the state schema), and the estimator is the
same ``(k-1) * 2^60 / kth`` with the same exact-small-set branch and the
same round_he(4) fold, so the stream's final emission is BIT-IDENTICAL
to the batch operator's answer (tests assert exactly that, plus
checkpointed restart).

Order-safety is free: "insert then keep the k smallest distinct" is
commutative and idempotent over deliveries, so out-of-order and
duplicate events converge to the same sketch — the same argument as the
HLL register max-merge, here on an order statistic.

Scale shape: state is |groups| x (<= k longs + 1 long); the shuffle is
on the group key; a hot group's rows within one micro-batch reduce into
a local set before touching state.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame

from ..operators.sketch import _KMV_SCALE
from .state import changelog_stream, group_keys, non_null_keys

OUTPUT_SCHEMA = "grp string, n_hashes long, est_distinct double, n_rows long"
STATE_SCHEMA = "hs array<long>, n_rows long"


def _h60_py(key: str) -> int:
    """Identical to the batch operator's Spark expression
    conv(substring(md5(key), 1, 15), 16, 10): 60-bit md5-prefix hash."""
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16)


def kmv_estimate_py(hs: list[int], k: int) -> float:
    """The batch estimator, term for term (sketch._kmv_estimate): exact
    count when the sketch holds the whole set, else (k-1)*2^60/kth —
    float((k-1)) * float(2^60) is exact (<= 12 significant bits on a
    power of two), the one divide is correctly rounded in both paths,
    and the round_he(4) fold is the same floor form."""
    if len(hs) < k:
        est = float(len(hs))
    else:
        est = float(k - 1) * float(_KMV_SCALE) / float(hs[-1])
    return math.floor(est * 1e4 + 0.5) / 1e4


def kmv_stream(events: DataFrame, key_col: str = "k",
               group_col: str = "grp", k: int = 256) -> DataFrame:
    """(grp, n_hashes, est_distinct, n_rows) — the group's current
    distinct-count estimate, re-emitted whenever rows for it arrive.

    APPEND output like hll_stream: each emission is that batch's current
    estimate; n_rows is monotonic per group, so consumers compact by max
    n_rows — the changelog pattern every stateful op here follows."""

    def step(grp, state, chunks):
        hs, n_rows = (list(state[0]), state[1]) if state else ([], 0)
        seen, n_before = set(hs), n_rows
        for key_s in non_null_keys(chunks):
            n_rows += 1
            h = _h60_py(key_s)
            if h not in seen:
                seen.add(h)
                hs.append(h)
        if n_rows == n_before:
            return None, []
        hs.sort()
        del hs[k:]
        return (hs, n_rows), [{
            "grp": grp, "n_hashes": len(hs),
            "est_distinct": kmv_estimate_py(hs, k), "n_rows": n_rows,
        }]

    return changelog_stream(group_keys(events, group_col, key_col), "grp",
                            step, OUTPUT_SCHEMA, STATE_SCHEMA)
