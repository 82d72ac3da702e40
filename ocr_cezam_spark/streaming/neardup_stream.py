"""Streaming near-dup ADMISSION: the readStream form of
``operators.dedup.incremental_near_dup`` — as crawl files land, each
micro-batch of fresh documents is MinHash-banded and checked against the
STANDING corpus, emitting (new_id, corpus_id, sim_est) rows for
near-duplicates, in append mode.

Why this shape streams cleanly:
- the signature is ``dedup.minhash_signature``, the same Arrow-batched
  projection the batch operators use, so no stateful aggregation and
  append mode stays legal;
- the corpus side is a STATIC band table (``dedup.banded_sigs`` over the
  batch signature) joined stream-static — stateless on the stream side;
  at production the corpus band table is a bucketed parquet/Iceberg
  table recomputed once per corpus epoch, exactly the "pre-computable,
  persistable" table the batch docstring names;
- the only state is the (new_id, corpus_id) de-duplication of multi-band
  matches, watermark-bounded via dropDuplicatesWithinWatermark on the
  crawl timestamp (the dedup_stream trade-off: a band match replayed
  later than the horizon would re-emit — the horizon is the SLA).

Stream-final output == batch incremental_near_dup row-for-row on the
same input (pytest, including a checkpointed restart).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.functions.numeric import round_he
from ocr_cezam_spark.operators.dedup import (
    MINHASH_BANDS,
    MINHASH_K,
    banded_sigs,
    minhash_signature,
    sig_agreement,
)


def corpus_band_table(corpus: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k: int = MINHASH_K,
                      bands: int = MINHASH_BANDS) -> DataFrame:
    """The static side: band keys + signatures for the standing corpus
    (materialized once per corpus epoch)."""
    return banded_sigs(
        minhash_signature(corpus, id_col, text_col, k), "corpus",
        id_col=id_col, k=k, bands=bands,
    )


def neardup_admission_stream(new_docs: DataFrame, corpus_bands: DataFrame,
                             ts_col: str = "ts",
                             watermark: str = "1 hour",
                             id_col: str = "doc_id",
                             text_col: str = "text",
                             k: int = MINHASH_K,
                             bands: int = MINHASH_BANDS,
                             threshold: float = 0.5) -> DataFrame:
    """Append-mode near-dup admission of a document stream against a
    static corpus band table (see module docstring)."""
    sig = minhash_signature(new_docs, id_col, text_col, k, extra=(ts_col,))
    nb = banded_sigs(sig, "new", id_col=id_col, k=k, bands=bands,
                     extra=(ts_col,))
    sim = sig_agreement("new_sig", "corpus_sig", k)
    return (
        nb.withWatermark(ts_col, watermark)
        .join(corpus_bands, ["band_idx", "band_key"])
        .dropDuplicatesWithinWatermark(["new_id", "corpus_id"])
        .select("new_id", "corpus_id", sim.alias("sim_raw"))
        .filter(F.col("sim_raw") >= threshold)
        .select(
            "new_id", "corpus_id",
            round_he("sim_raw", 4).alias("sim_est"),
        )
    )
