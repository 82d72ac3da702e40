"""Streaming HDR quantile sketch: the incremental-ingest form of
``operators.sketch.hdr_quantiles`` — as event files land, maintain the
per-group bounded bucket counters across micro-batches and re-emit the
group's current quantile estimates whenever rows for it arrive.

Mechanism: ``streaming/state.py``'s ``changelog_stream`` keyed on the
group with the bucket histogram as state (two parallel arrays, buckets +
counts — at most 64 * 2^sub_bits entries per group, CONSTANT-SIZE like
every sketch state here; exact streaming quantiles would hold every
value ever seen). The per-row bucket map is the SAME pure-integer
function the batch operator codegens (exponent from bit_length, top
sub_bits mantissa bits; values < 1 and NULLs to the -1 underflow bucket
— NULLs are COUNTED here, matching hdr_sketch's totality convention
rather than the key-sketches' null-drop convention), and the quantile
fold is the same lower-bound-of-first-bucket-reaching-ceil(q*n) integer
walk, so the stream's final emission is BIT-IDENTICAL to the batch
operator's answer (tests assert exactly that, plus a checkpointed
restart).

Order-safety is free: counter addition is commutative, so out-of-order
micro-batches converge to the same histogram — the same argument as
cm_stream's counters.

Scale shape: state is |groups| x (<= 512 longs x 2 at sub_bits=3); the
shuffle is on the group key; a hot group's rows reduce into a local
Counter before touching state.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from .state import changelog_stream

OUTPUT_SCHEMA = "grp string, q double, est long, n_rows long"
STATE_SCHEMA = "buckets array<long>, cnts array<long>, n_rows long"


def hdr_bucket_py(v, sub_bits: int) -> int:
    """Identical to the batch _hdr_bucket expression (pytest-pinned to
    it via the existing hypothesis property test's reference)."""
    if v is None or (v != v) or v < 1:
        return -1
    v = int(v)
    if v < (1 << sub_bits):
        return v
    e = v.bit_length() - 1
    return e * (1 << sub_bits) + ((v >> (e - sub_bits)) & ((1 << sub_bits) - 1))


def hdr_quantiles_py(hist: dict[int, int], qs: tuple,
                     sub_bits: int) -> list[tuple[float, int]]:
    """The batch quantile fold, term for term: for each q, the lower
    bound of the first bucket whose cumulative count reaches
    ceil(q * n). rank uses the same double multiply + ceil as
    F.ceil(total * lit(q)); the lower bound is the same integer
    (mant + m) << (e - sub_bits) reconstruction."""
    m = 1 << sub_bits
    total = sum(hist.values())
    items = sorted(hist.items())
    out = []
    for q in qs:
        rank = math.ceil(total * float(q))
        cum = 0
        est = -1
        for bucket, cnt in items:
            cum += cnt
            if cum >= rank:
                if bucket < m:
                    est = bucket
                else:
                    e = bucket // m
                    mant = bucket % m
                    est = (mant + m) << (e - sub_bits)
                break
        out.append((float(q), est))
    return out


def hdr_stream(events: DataFrame, value_col: str = "v",
               group_col: str = "grp", qs: tuple = (0.5, 0.9, 0.99),
               sub_bits: int = 3) -> DataFrame:
    """(grp, q, est, n_rows) — the group's current quantile estimates,
    re-emitted (one row per q) whenever rows for it arrive.

    APPEND output like the other sketch streams: each emission is that
    batch's current answer; n_rows is monotonic per group, so consumers
    compact by max n_rows — the changelog pattern."""

    def step(grp, state, chunks):
        if state:
            buckets, cnts, n_rows = state
            hist = dict(zip(buckets, cnts))
        else:
            hist, n_rows = {}, 0
        seen = n_rows
        for pdf in chunks:
            for val in pdf["v"]:
                # NULLs count in the underflow bucket (hdr_sketch's
                # totality convention) — pandas hands them as NaN
                b = hdr_bucket_py(val, sub_bits)
                hist[b] = hist.get(b, 0) + 1
                n_rows += 1
        if n_rows == seen:
            return None, []
        items = sorted(hist.items())
        return ([b for b, _ in items], [c for _, c in items], n_rows), [
            {"grp": grp, "q": q, "est": est, "n_rows": n_rows}
            for q, est in hdr_quantiles_py(hist, qs, sub_bits)
        ]

    cols = events.select(
        events[group_col].alias("grp"),
        events[value_col].cast("long").alias("v"),
    )
    return changelog_stream(cols, "grp", step, OUTPUT_SCHEMA, STATE_SCHEMA)
