"""Streaming distinct-count: the incremental-ingest form of
``operators.sketch.hll_cardinality`` — as event files land, maintain the
per-group HyperLogLog registers across micro-batches and re-emit the
group's current estimate whenever it changes.

Mechanism: ``streaming/state.py``'s ``changelog_stream`` keyed on the
group with the 1024 register values as state (one ``array<int>`` plus a
row counter — the whole point of the sketch is that this state is
CONSTANT-SIZE per group no matter how many billions of rows stream
through, which is what makes unbounded distinct-count feasible at all;
exact streaming distinct would hold every key ever seen). The per-row
hash/bucket/rho math is the SAME md5-derived computation the batch
operator runs in Spark SQL — hashlib md5 of the identical UTF-8 text,
bucket = h >> 22, rho = leading zeros of the 22 rest bits + 1 — and the
estimate fold uses the same constants, so the stream's final emission is
BIT-IDENTICAL to the batch operator's answer (tests assert exactly that,
plus checkpointed restart).

Order-safety is free: register max-merge is commutative and idempotent,
so out-of-order and duplicate delivery can only converge to the same
registers.

Scale shape: state is |groups| x (1024 ints + 1 long); the shuffle is on
the group key; a hot group's rows within one micro-batch reduce inside
one group call (max into a local array) before touching state.
"""

from __future__ import annotations

import functools
import hashlib
import math
from typing import Callable

from pyspark.sql import DataFrame

from ..operators.sketch import _HLL_ALPHA, _HLL_M, _HLL_REST_BITS
from .state import changelog_stream, group_keys, non_null_keys

OUTPUT_SCHEMA = "grp string, hll_est double, n_regs long, n_rows long"
STATE_SCHEMA = "regs array<int>, n_rows long"

_REST_MASK = (1 << _HLL_REST_BITS) - 1


def _bucket_rho(key: str) -> tuple[int, int]:
    """Identical math to the batch operator's Spark SQL expressions:
    32-bit hash from the md5 hex prefix, top 10 bits bucket, rho = 1 +
    leading zeros of the 22 rest bits (23 when rest == 0)."""
    h = int(hashlib.md5(key.encode("utf-8")).hexdigest()[:8], 16)
    rest = h & _REST_MASK
    if rest == 0:
        return h >> _HLL_REST_BITS, _HLL_REST_BITS + 1
    return h >> _HLL_REST_BITS, _HLL_REST_BITS - rest.bit_length() + 1


def hll_estimate(regs: list[int]) -> tuple[float, int]:
    """(estimate rounded like round_he(_, 4), occupied registers) from a
    register array — the same fold the batch operator runs in SQL; the
    register contributions are exact powers of two, so the float sum is
    order-independent and the two paths divide identical doubles."""
    n_regs = sum(1 for r in regs if r > 0)
    zeros = float(_HLL_M - n_regs)
    s = sum(2.0 ** -r for r in regs if r > 0) + zeros
    raw = (_HLL_ALPHA * _HLL_M * _HLL_M) / s
    if raw <= 2.5 * _HLL_M and zeros > 0:
        est = _HLL_M * math.log(_HLL_M / zeros)
    else:
        est = raw
    return math.floor(est * 1e4 + 0.5) / 1e4, n_regs


def _register_step(m: int, bucket_rho: Callable[[str], tuple[int, int]],
                   estimate: Callable[[list[int]], tuple[float, int]]):
    """The changelog step both hash widths share: max-merge each key's
    rho into its register, then fold the width's own estimator."""

    def step(grp, state, chunks):
        regs, n_rows = (list(state[0]), state[1]) if state else ([0] * m, 0)
        seen = n_rows
        for k in non_null_keys(chunks):
            b, rho = bucket_rho(k)
            n_rows += 1
            if rho > regs[b]:
                regs[b] = rho
        if n_rows == seen:
            return None, []
        est, n_regs = estimate(regs)
        return (regs, n_rows), [{"grp": grp, "hll_est": est,
                                 "n_regs": n_regs, "n_rows": n_rows}]

    return step


def hll_stream(events: DataFrame, key_col: str = "k",
               group_col: str = "grp") -> DataFrame:
    """(grp, hll_est, n_regs, n_rows) — the group's current distinct-
    count estimate, re-emitted whenever rows for it arrive.

    APPEND output like latest_stream: each emission is that batch's
    current estimate; n_rows is monotonic per group, so consumers
    compact by max n_rows — the changelog pattern every stateful op
    here follows."""
    step = _register_step(_HLL_M, _bucket_rho, hll_estimate)
    return changelog_stream(group_keys(events, group_col, key_col), "grp",
                            step, OUTPUT_SCHEMA, STATE_SCHEMA)


# --- 64-bit-hash streaming mode ------------------------------------------
# The streaming twin of sketch.hll_cardinality64: same hash split (top 12
# bits from md5 hex chars 1-3, low 52 from chars 4-16 — here the Python
# int IS 64-bit so the split is just shifts), same INTEGER-scaled fold
# (the scaled sum is an exact Python int, like the batch side's
# decimal(38,0) sum; one int->float conversion + one divide, both
# correctly rounded, keep stream == batch bit-identical). p is the same
# geometry parameter the batch family takes.

def _bucket_rho64(key: str, p: int) -> tuple[int, int]:
    rest_bits = 64 - p
    h = int(hashlib.md5(key.encode("utf-8")).hexdigest()[:16], 16)
    rest = h & ((1 << rest_bits) - 1)
    if rest == 0:
        return h >> rest_bits, rest_bits + 1
    return h >> rest_bits, rest_bits - rest.bit_length() + 1


def hll_estimate64(regs: list[int], p: int) -> tuple[float, int]:
    """(estimate rounded like round_he(_, 4), occupied registers) — the
    integer-scaled fold of sketch.hll_fold64, term for term: each
    occupied register contributes the exact int 2^(R - rho)."""
    from ..operators.sketch import _hll64_geometry

    m, rest_bits, alpha = _hll64_geometry(p)
    r_max = rest_bits + 1
    n_regs = sum(1 for r in regs if r > 0)
    zeros_i = m - n_regs
    scaled = sum(1 << (r_max - r) for r in regs if r > 0)
    denom = scaled + (zeros_i << r_max)
    raw = (alpha * m * m * float(2 ** r_max)) / float(denom)
    if raw <= 2.5 * m and zeros_i > 0:
        est = float(m) * math.log(float(m) / float(zeros_i))
    else:
        est = raw
    return math.floor(est * 1e4 + 0.5) / 1e4, n_regs


def hll_stream64(events: DataFrame, key_col: str = "k",
                 group_col: str = "grp", p: int = 10) -> DataFrame:
    """hll_stream at the 10^12-design-point estimator range: same
    changelog contract (grp, hll_est, n_regs, n_rows; compact by max
    n_rows), state |groups| x (2^p ints + 1 long)."""
    from ..operators.sketch import _hll64_geometry

    m, _rest_bits, _alpha = _hll64_geometry(p)
    step = _register_step(m, functools.partial(_bucket_rho64, p=p),
                          functools.partial(hll_estimate64, p=p))
    return changelog_stream(group_keys(events, group_col, key_col), "grp",
                            step, OUTPUT_SCHEMA, STATE_SCHEMA)
