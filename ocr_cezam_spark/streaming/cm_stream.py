"""Streaming heavy hitters: the incremental-ingest form of
``operators.sketch.cm_heavy_hitters`` — as event files land, maintain a
per-group Count-Min counter table plus a Misra-Gries candidate summary
across micro-batches and re-emit the group's current heavy hitters
whenever rows for it arrive.

Mechanism: ``streaming/state.py``'s ``changelog_stream`` keyed on the
group. State is the
d x w = 256 Count-Min counters (flattened ``array<long>``), the MG
summary (at most ``MG_K`` keys + counts), and a row counter — all
CONSTANT-SIZE per group no matter how many billions of rows stream
through. The two structures split the classic streaming heavy-hitter
problem: Misra-Gries guarantees every key with frequency > n/MG_K is IN
the candidate set (bounded candidates, no unbounded key map), and the
Count-Min point query (min over d buckets, est >= true) arbitrates the
candidates against the threshold — exactly the per-shard-candidates +
sketch-arbitration pattern the batch operator's docstring names.

The per-row hashing is the SAME md5 math the batch operator runs in
Spark SQL — ``int(md5(f"cm{i}:" + key)[:8], 16) % 64`` per row i — so
the stream-final counter table is BIT-IDENTICAL to batch
``cm_sketch``'s aggregation (tests assert exactly that, plus the
containment chain true-heavy ⊆ stream-hitters ⊆ batch-hitters, plus a
checkpointed restart). Counter addition is commutative, so duplicate-
free out-of-order delivery converges to the same counters; the MG
summary is order-sensitive by construction but its containment
guarantee is delivery-order-independent.

Scale shape: state is |groups| x (256 longs + MG_K entries); the
shuffle is on the group key; a hot group's rows within one micro-batch
fold locally inside one group call before touching state. Each emission
carries the counter table itself — a publishable, ``+``-mergeable
checkpoint of the sketch (the same artifact batch ``cm_sketch``
materializes), so downstream can union shards/days without replay.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from ..operators.sketch import _CM_D, _CM_W
from .state import changelog_stream, group_keys, non_null_keys

MG_K = 8  # Misra-Gries counters: every key with freq > n/8 is retained
THRESHOLD_FRAC = 0.02  # same default as batch cm_heavy_hitters

OUTPUT_SCHEMA = (
    "grp string, n_rows long, counters array<long>, "
    "hitters array<struct<key: string, cm_est: long>>"
)
STATE_SCHEMA = (
    "counters array<long>, mg_keys array<string>, "
    "mg_counts array<long>, n_rows long"
)


def _cm_buckets(key: str) -> list[int]:
    """The batch operator's _h32(key, f'cm{i}:') % 64 for each row i —
    identical md5 text, identical bucket."""
    return [
        int(hashlib.md5(f"cm{i}:{key}".encode()).hexdigest()[:8], 16)
        % _CM_W
        for i in range(_CM_D)
    ]


def _cm_point_est(counters: list[int], key: str) -> int:
    return min(
        counters[i * _CM_W + b] for i, b in enumerate(_cm_buckets(key))
    )


def _mg_ingest(mg: dict[str, int], key: str) -> None:
    """One Misra-Gries step: increment a tracked key, adopt into a free
    slot, or decrement everyone (the classic amortized step that buys
    the freq > n/MG_K containment guarantee)."""
    if key in mg:
        mg[key] += 1
    elif len(mg) < MG_K:
        mg[key] = 1
    else:
        for k in list(mg):
            mg[k] -= 1
            if mg[k] == 0:
                del mg[k]


def _step_cm(grp, state, chunks):
    if state:
        counters_s, mg_keys, mg_counts, n_rows = state
        counters = list(counters_s)
        mg = dict(zip(mg_keys, mg_counts))
    else:
        counters, mg, n_rows = [0] * (_CM_D * _CM_W), {}, 0
    seen = n_rows
    for k in non_null_keys(chunks):
        n_rows += 1
        for i, b in enumerate(_cm_buckets(k)):
            counters[i * _CM_W + b] += 1
        _mg_ingest(mg, k)
    if n_rows == seen:
        return None, []
    thresh = int(n_rows * THRESHOLD_FRAC)
    hitters = sorted(
        (
            (k, est)
            for k, est in ((k, _cm_point_est(counters, k)) for k in mg)
            if est >= thresh
        ),
        key=lambda t: (-t[1], t[0]),
    )
    return (counters, list(mg.keys()), list(mg.values()), n_rows), [{
        "grp": grp, "n_rows": n_rows, "counters": counters,
        "hitters": hitters,
    }]


def cm_stream(events: DataFrame, key_col: str = "k",
              group_col: str = "grp") -> DataFrame:
    """(grp, n_rows, counters, hitters) — the group's current Count-Min
    counter table and threshold-passing candidates, re-emitted whenever
    rows for it arrive.

    APPEND output like hll_stream: each emission is that batch's current
    snapshot; n_rows is monotonic per group, so consumers compact by max
    n_rows — the changelog pattern every stateful op here follows."""
    return changelog_stream(group_keys(events, group_col, key_col), "grp",
                            _step_cm, OUTPUT_SCHEMA, STATE_SCHEMA)
