"""The keyed-state seam (streaming/state.py) as its operators see it: a
key whose micro-batch carries no countable rows emits nothing and keeps
its state, and a key's batch split over several Arrow chunks is one
batch to the operators that need it sorted whole."""

from __future__ import annotations

import time

import pandas as pd
import pytest
from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.operators import dedup
from ocr_cezam_spark.operators.relational import sessionize
from ocr_cezam_spark.streaming.bloom_stream import bloom_stream
from ocr_cezam_spark.streaming.cm_stream import cm_stream
from ocr_cezam_spark.streaming.events import read_events_stream, run_available_now
from ocr_cezam_spark.streaming.hll_stream import hll_stream, hll_stream64
from ocr_cezam_spark.streaming.kmv_stream import kmv_stream
from ocr_cezam_spark.streaming.sessions import stateful_sessionize
from ocr_cezam_spark.streaming.versions_stream import versions_stream

KEY_SKETCHES = {
    "bloom": bloom_stream,
    "cm": cm_stream,
    "hll": hll_stream,
    "hll64": hll_stream64,
    "kmv": kmv_stream,
}


@pytest.fixture(scope="module")
def null_batch_src(tmp_path_factory):
    """Three landing files, one micro-batch each: group a gets two keys,
    then only null keys, then one key; group b gets one key per file."""
    src = tmp_path_factory.mktemp("null_batch") / "src"
    src.mkdir()
    files = [
        [("a", "k1"), ("a", "k2"), ("b", "x1")],
        [("a", None), ("a", None), ("b", "x2")],
        [("a", "k3"), ("b", "x3")],
    ]
    for i, rows in enumerate(files):
        pd.DataFrame(rows, columns=["grp", "k"]).to_parquet(
            src / f"part-{i:02d}.parquet", index=False)
        time.sleep(1.1)  # distinct mtimes: the source replays in file order
    return str(src)


@pytest.mark.parametrize("name", sorted(KEY_SKETCHES))
def test_all_null_batch_emits_nothing_and_keeps_n_rows(
        spark, tmp_path, null_batch_src, name):
    stream = read_events_stream(spark, null_batch_src, "grp string, k string",
                                max_files=1)
    out = str(tmp_path / "out")
    run_available_now(KEY_SKETCHES[name](stream), str(tmp_path / "ckpt"), out)
    n_rows = {}
    for r in spark.read.parquet(out).collect():
        n_rows.setdefault(r["grp"], []).append(r["n_rows"])
    # a: one row after file 0, none for its all-null file, and file 2
    # continues from the stored count
    assert sorted(n_rows["a"]) == [2, 3]
    assert sorted(n_rows["b"]) == [1, 2, 3]


@pytest.fixture
def two_row_chunks(spark):
    """Arrow chunks of two rows, so one key's batch spans several."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield
    spark.conf.set(key, prev)


def test_versions_stream_sorts_whole_batch_across_chunks(
        spark, tmp_path, two_row_chunks):
    schema = "url string, warc_ts long, digest string"
    fetches = pd.DataFrame(
        [("u", 10, "d1"), ("u", 20, "d1"), ("u", 30, "d2"), ("u", 40, "d2"),
         ("u", 50, "d1"), ("u", 60, "d3"), ("u", 70, "d3")],
        columns=["url", "warc_ts", "digest"],
    )
    src = tmp_path / "src"
    src.mkdir()
    # newest first: every chunk of the one batch is out of time order
    fetches.iloc[::-1].to_parquet(src / "part-00.parquet", index=False)
    out = str(tmp_path / "out")
    run_available_now(
        versions_stream(read_events_stream(spark, str(src), schema)),
        str(tmp_path / "ckpt"), out)

    cols = ["url", "version", "digest", "valid_from", "valid_to", "n_fetches"]
    compacted = (
        spark.read.parquet(out)
        .groupBy("url", "version")
        .agg(F.max(F.struct("n_fetches", "digest", "valid_from",
                            "valid_to")).alias("b"))
        .select("url", "version", "b.digest", "b.valid_from", "b.valid_to",
                "b.n_fetches")
    )
    got = sorted(tuple(r[c] for c in cols) for r in compacted.collect())
    batch = dedup.url_version_history(spark.createDataFrame(fetches, schema))
    want = sorted(tuple(r[c] for c in cols) for r in batch.collect())
    assert got == want
    assert len(want) == 4


def test_stateful_sessionize_sorts_whole_batch_across_chunks(
        spark, tmp_path, two_row_chunks):
    schema = ("event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    seconds = [0, 100, 3000, 3100, 8000, 8100, 8200]  # gaps > 1800 s twice
    events = pd.DataFrame({
        "event_id": range(len(seconds)),
        "ts": pd.to_datetime(seconds, unit="s").astype("datetime64[us]"),
        "user_id": 7,
        "event_type": "view",
        "value": [1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0],
        "props": "",
    })
    src = tmp_path / "src"
    src.mkdir()
    # newest first: every chunk of the one batch is out of time order
    events.iloc[::-1].to_parquet(src / "part-00.parquet", index=False)
    q = (
        stateful_sessionize(read_events_stream(spark, str(src), schema))
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("sess_chunks")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["session_value"])
        for r in spark.table("sess_chunks")
        .groupBy("user_id", "session_id")
        .agg(F.max("n_events").alias("n_events"),
             F.max("session_value").alias("session_value"))
        .collect()
    }
    want = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["session_value"])
        for r in sessionize(spark.createDataFrame(events, schema)).collect()
    }
    assert got == want
    assert len(want) == 3
