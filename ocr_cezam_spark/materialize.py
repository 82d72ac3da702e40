"""The one place a DataFrame is materialized to cut its lineage.

Operators cut a plan where a frame is read more than once or where a
loop would otherwise nest every round in the next. The kind of cut
follows the deployment, not an option: when the SparkContext has a
checkpoint dir (``--conf spark.checkpoint.dir=...`` or
``sc.setCheckpointDir``), the frame is a reliable ``checkpoint`` written
there, which survives the loss of the executor that computed it.
Otherwise it is a ``localCheckpoint`` kept in executor block storage:
cheaper, but a lost block fails the query with
``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` instead of being recomputed.
Spark keeps reliable checkpoint files after the job unless
``spark.cleaner.referenceTracking.cleanCheckpoints`` is set.

Every Spark job launched inside ``materialize`` (the count of an eager
checkpoint; under AQE, the upstream shuffle stages of a lazy one)
carries the job description ``materialize: <reason>``.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


@contextmanager
def job_description(spark: SparkSession, text: str):
    """Label this thread's Spark jobs ``text``; restore the caller's
    description on exit."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def materialize(df: DataFrame, reason: str, eager: bool = False) -> DataFrame:
    """``df`` with its lineage cut: a reliable checkpoint when the session
    has a checkpoint dir, else a local one. ``reason`` names the site in
    the job description of the jobs this call launches."""
    spark = df.sparkSession
    with job_description(spark, f"materialize: {reason}"):
        if spark.sparkContext.getCheckpointDir():
            return df.checkpoint(eager)
        return df.localCheckpoint(eager)
