"""Streaming Bloom filter: the incremental-ingest form of
``operators.sketch.bloom_bits`` — as url files land, maintain the
per-group set-bit table across micro-batches and re-emit the group's
current fill statistics whenever rows for it arrive. This is the
standing-corpus admission filter a crawl ingest loop keeps warm: the
batch operator rebuilds it per epoch, this one absorbs deltas.

Mechanism: ``streaming/state.py``'s ``changelog_stream`` keyed on the
group with the sorted set-bit list as state (<= m_bits longs —
CONSTANT-SIZE by geometry like every sketch state here). Bit positions
are the SAME salted-md5 computation the batch operator codegens
(`bf{i}:` salts, first 8 md5 hex chars mod m_bits), so the stream's
final bit set is BIT-IDENTICAL to batch bloom_bits (tests assert exactly
that, plus a checkpointed restart). Null keys are IGNORED (the
key-sketch convention).

Order-safety is free: set union is commutative and idempotent, so
duplicate and out-of-order deliveries converge — the same argument as
the HLL register max-merge.

Scale shape: state is |groups| x (<= m_bits longs); the shuffle is on
the group key; a hot group's rows reduce into a local set before
touching state.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame

from .state import changelog_stream, group_keys, non_null_keys

OUTPUT_SCHEMA = ("grp string, n_bits_set long, fill_frac double, "
                 "n_rows long")
STATE_SCHEMA = "bits array<long>, n_rows long"


def bloom_positions_py(key: str, m_bits: int, k: int) -> list[int]:
    """Identical to the batch _bloom_positions expression: salted
    first-8-hex-md5 mod m_bits per hash row."""
    return [
        int(hashlib.md5(f"bf{i}:{key}".encode("utf-8")).hexdigest()[:8],
            16) % m_bits
        for i in range(k)
    ]


def bloom_stream(events: DataFrame, key_col: str = "k",
                 group_col: str = "grp", m_bits: int = 4096,
                 k: int = 5) -> DataFrame:
    """(grp, n_bits_set, fill_frac, n_rows) — the group's current Bloom
    fill, re-emitted whenever rows for it arrive. fill_frac above ~0.5
    is the operational resize signal (FP rate ~ fill^k). APPEND output;
    n_rows monotonic per group — compact by max n_rows."""

    def step(grp, state, chunks):
        bits, n_rows = (set(state[0]), state[1]) if state else (set(), 0)
        seen = n_rows
        for key_s in non_null_keys(chunks):
            n_rows += 1
            bits.update(bloom_positions_py(key_s, m_bits, k))
        if n_rows == seen:
            return None, []
        frac = math.floor(len(bits) / m_bits * 1e4 + 0.5) / 1e4
        return (sorted(bits), n_rows), [{
            "grp": grp, "n_bits_set": len(bits), "fill_frac": frac,
            "n_rows": n_rows,
        }]

    return changelog_stream(group_keys(events, group_col, key_col), "grp",
                            step, OUTPUT_SCHEMA, STATE_SCHEMA)
