"""Streaming near-dup admission (streaming/neardup_stream.py): stream-final
== batch incremental_near_dup row-for-row, across micro-batches and a
checkpointed restart; the Arrow-batched signature is bit-identical to the
explode + md5 + k-min aggregate formula it replaced."""

from __future__ import annotations

import glob
import shutil
from datetime import datetime

from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.operators import dedup
from ocr_cezam_spark.streaming.events import run_available_now
from ocr_cezam_spark.streaming.neardup_stream import (
    corpus_band_table,
    neardup_admission_stream,
)

BASE = ("the quick brown fox jumps over the lazy dog while the crawler "
        "fetches pages and extracts tokens for the corpus run number")


def _aggregate_signature(docs):
    """Reference: the explode + md5 + k-min aggregate form of the
    signature, written out as Spark SQL (the DuckDB oracle's formula)."""
    p = dedup.MINHASH_P
    mins = ", ".join(
        f"min(({a} * x + {b}) % {p}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_COEFFS)
    )
    hx = docs.select(
        "doc_id", F.explode(dedup.shingles("text")).alias("sh")
    ).selectExpr(
        "doc_id", f"CAST(conv(substring(md5(sh), 1, 8), 16, 10) AS BIGINT)"
        f" % {p} AS x",
    )
    return hx.groupBy("doc_id").agg(
        *[F.expr(m) for m in mins.split(", ")]
    ).select("doc_id", F.array(*[f"mh_{i}" for i in
                                 range(dedup.MINHASH_K)]).alias("sig"))


def test_rowwise_signature_bit_identical_to_aggregate(spark):
    edge = [
        None, "", "a", "a b", " a b c", "a b c ", "a  b c", "  ",
        "café naïve 東京 données über straße",
        "tab\tinside a word and\nnewline inside another",
        " ".join(f"w{j % 37}" for j in range(300)),
    ]
    docs = spark.createDataFrame(
        [(i, f"{BASE} {i} extra words here") for i in range(20)]
        + [(100 + j, t) for j, t in enumerate(edge)],
        "doc_id long, text string",
    )
    agg = {r["doc_id"]: r["sig"]
           for r in _aggregate_signature(docs).collect()}
    row = {r["doc_id"]: r["sig"]
           for r in dedup.minhash_signature(docs).collect()}
    assert agg == row
    assert row[100] == [None] * dedup.MINHASH_K
    assert all(len(v) == dedup.MINHASH_K for v in row.values())


def test_signature_blocks_split_documents(monkeypatch):
    """Documents straddling the numpy blocks (here 5 shingle rows each)
    get the same minima as a per-document pure-Python reference."""
    import pyarrow as pa

    texts = [f"{BASE} {i} " * (i % 4 + 1) for i in range(12)]
    texts[3], texts[7] = None, "one"
    monkeypatch.setattr(dedup, "_MINHASH_BLOCK", 5)
    got = dedup._minhash.func(pa.array(texts)).to_pylist()
    for t, sig in zip(texts, got):
        if t is None:
            assert sig == [None] * dedup.MINHASH_K
            continue
        xs = [h % dedup.MINHASH_P for h in
              dedup._shingle_hashes(t.encode())]
        assert sig == [min((a * x + b) % dedup.MINHASH_P for x in xs)
                       for a, b in dedup.MINHASH_COEFFS]


def _corpus(spark):
    rows = [(i, f"{BASE} variant {i} " + " ".join(
        f"w{(i * 7 + j) % 23}" for j in range(12))) for i in range(8)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _new_rows(ids):
    # near clones of corpus doc (id % 8): one appended token
    return [
        (1000 + i,
         f"{BASE} variant {i % 8} " + " ".join(
             f"w{((i % 8) * 7 + j) % 23}" for j in range(12)) + " ztail",
         datetime(2026, 1, 1, 12, i % 60))
        for i in ids
    ]


def test_stream_admission_matches_batch_and_restarts(spark, tmp_path):
    corpus = _corpus(spark)
    bands = corpus_band_table(corpus)

    src = tmp_path / "src"
    src.mkdir()
    schema = "doc_id long, text string, ts timestamp"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(tmp_path / "stage" / name))
        part = glob.glob(str(tmp_path / "stage" / name / "part-*.parquet"))[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    write_file("f1", _new_rows(range(0, 6)))
    write_file("f2", _new_rows(range(6, 12)))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(str(src))
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    run_available_now(neardup_admission_stream(stream, bands), ckpt, out)
    got = {(r["new_id"], r["corpus_id"]): r["sim_est"]
           for r in spark.read.parquet(out).collect()}

    new_batch = spark.createDataFrame(
        [(i, t) for i, t, _ in _new_rows(range(0, 12))],
        ["doc_id", "text"],
    )
    want = {(r["new_id"], r["corpus_id"]): r["sim_est"]
            for r in dedup.incremental_near_dup(new_batch, corpus).collect()}
    assert got == want and len(got) >= 12

    # restart on the same checkpoint: only file-3 admissions are appended
    write_file("f3", _new_rows(range(12, 15)))
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(str(src))
    )
    run_available_now(neardup_admission_stream(stream2, bands), ckpt, out)
    got2 = {(r["new_id"], r["corpus_id"]): r["sim_est"]
            for r in spark.read.parquet(out).collect()}
    new_batch_all = spark.createDataFrame(
        [(i, t) for i, t, _ in _new_rows(range(0, 15))],
        ["doc_id", "text"],
    )
    want_all = {(r["new_id"], r["corpus_id"]): r["sim_est"]
                for r in dedup.incremental_near_dup(
                    new_batch_all, corpus).collect()}
    assert got2 == want_all
    assert all(k[0] >= 1012 for k in set(got2) - set(got))
