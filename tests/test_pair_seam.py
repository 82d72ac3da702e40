"""The candidate-pair seam of the dedup layer (``dedup.drop_hot_keys`` +
``dedup.shared_key_pairs``) against a pure-Python inverted index on a
small postings table."""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

import pytest

from ocr_cezam_spark.operators import dedup

MAX_N = 3


def _postings(ids):
    """(id, key) postings, distinct on the pair. Key "k3" is held by
    exactly MAX_N ids, "k4" by MAX_N + 1, "solo" by one; the two-column
    key (grp, key) keeps "x" of group 0 apart from "x" of group 1."""
    i = ids
    return [
        (i[0], 0, "k3"), (i[1], 0, "k3"), (i[2], 0, "k3"),
        (i[0], 0, "k4"), (i[1], 0, "k4"), (i[3], 0, "k4"), (i[4], 0, "k4"),
        (i[0], 0, "x"), (i[1], 0, "x"),
        (i[2], 1, "x"), (i[3], 1, "x"),
        (i[1], 0, "y"), (i[0], 0, "y"),
        (i[4], 0, "solo"),
    ]


def _reference(rows, max_n):
    """{(a, b): n_shared} with a < b, after dropping keys held by more
    than max_n ids."""
    holders = defaultdict(set)
    for i, grp, key in rows:
        holders[(grp, key)].add(i)
    keys_of = defaultdict(set)
    for key, ids in holders.items():
        if len(ids) <= max_n:
            for i in ids:
                keys_of[i].add(key)
    out = {}
    for a, b in combinations(sorted(keys_of), 2):
        n = len(keys_of[a] & keys_of[b])
        if n:
            out[(a, b)] = n
    return out


@pytest.mark.parametrize("ids, id_type", [
    ([5, 1, 4, 2, 3], "long"),
    # string ids, as mirror_hosts pairs host names
    (["c.org", "a.org", "e.org", "b.org", "d.org"], "string"),
], ids=["long_ids", "string_ids"])
def test_capped_shared_key_pairs_match_python_index(spark, ids, id_type):
    rows = _postings(ids)
    postings = spark.createDataFrame(
        rows, f"id {id_type}, grp int, key string")
    keys = ["grp", "key"]

    capped = dedup.drop_hot_keys(postings, keys, MAX_N)
    kept = {(r["grp"], r["key"]) for r in capped.collect()}
    assert (0, "k3") in kept  # held by exactly max_n ids: kept
    assert (0, "k4") not in kept  # held by max_n + 1: dropped
    assert sorted(capped.columns) == sorted(postings.columns)

    pairs = dedup.shared_key_pairs(capped, "id", keys)
    assert pairs.columns == ["a", "b", "n_shared"]
    got = {(r["a"], r["b"]): r["n_shared"] for r in pairs.collect()}
    assert all(a < b for a, b in got)
    assert got == _reference(rows, MAX_N)
    # the uncapped join counts every shared key, k4 included
    uncapped = {(r["a"], r["b"]): r["n_shared"]
                for r in dedup.shared_key_pairs(postings, "id", keys)
                .collect()}
    assert uncapped == _reference(rows, len(ids))
