"""Batch extraction job: the spark-submit entry point.

Lifecycle (SURVEY.md section 3, Spark equivalent): scan -> native
pre-filters -> explicit repartition by url-hash (salted for hot hosts)
-> mapInArrow kernel -> long-format output tables + per-partition
metrics -> append with resume anti-join.

Output files are sized by bytes: the checkpointed kernel output is
coalesced to one partition per ``spark.sql.files.maxPartitionBytes`` of
input html (capped at the kernel's partition count), so a small run
writes one file per table. The eight secondary tables then commit
concurrently, and the ``extracted`` resume marker commits last, only
after all eight have. Every Spark job the run launches carries a
``run_job: <step>`` job description (``materialize: run_job: kernel`` for
the kernel output's checkpoint) and stays in the caller's job group.

Cluster launch::

    spark-submit --py-files ocr_cezam_spark.zip driver.py \
        --input db.documents --output-prefix db.extracted

(where driver.py is a two-liner calling ocr_cezam_spark.job.main();
spark-submit takes a script path, not python's -m module syntax —
tests/test_submit.py exercises exactly this launch form.)

Locally the same code runs on ``local[N]`` against parquet (see
``sources.catalog`` for the Iceberg/parquet seam).
"""

from __future__ import annotations

import argparse
import math
import re
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from .materialize import job_description, materialize
from .operators import extract as X
from .skew import salted_repartition
from .sources import catalog

_BYTE_UNITS = {"": 1, "k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40, "p": 2**50}


def _conf_bytes(value: str) -> int:
    """A Spark byte-size string (``134217728``, ``16m``, ``8kb``) in bytes."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", value.lower())
    if m is None:
        raise ValueError(f"not a byte size: {value!r}")
    return int(m.group(1)) * _BYTE_UNITS[m.group(2)]


def run_job(
    spark: SparkSession,
    docs: DataFrame,
    output_prefix: str,
    num_partitions: int | None = None,
    resume: bool = True,
    redact_pii: bool = False,
) -> dict[str, int]:
    """Run the extraction job; returns row counts per output table."""
    num_partitions = num_partitions or spark.sparkContext.defaultParallelism * 2

    # Native pre-filter before the kernel (predicate stays below the UDF
    # boundary — P7 analog: only rows that look like pages enter Python).
    docs = docs.filter(F.col("html").isNotNull() & (F.length("url") > 0))

    extracted_table = f"{output_prefix}/extracted"
    # A hygiene flag must never silently no-op or fork the schema: a table
    # written with the OTHER redaction state must not be appended to,
    # with OR without resume (a --no-resume append would mix rows with
    # and without the n_* columns in one directory). Refuse loudly.
    # The marker table is read (and listed) once; the resume anti-join
    # below reuses this frame.
    with job_description(spark, "run_job: read marker"):
        existing = catalog.read(spark, extracted_table)
    if existing is not None:
        was_redacted = "n_emails" in existing.columns
        if was_redacted != redact_pii:
            raise ValueError(
                f"redact_pii={redact_pii} but {extracted_table} was "
                f"written with redaction={was_redacted}; appending would "
                "mix schemas and leave committed rows in the other "
                "state. Use a fresh --output-prefix."
            )
    if resume:
        docs = catalog.without_committed(docs, existing)

    # Hot-host detection runs ONCE, on the REMAINING work (post pre-filter
    # and resume anti-join): on a resume run the committed 99% must not
    # mask a host that dominates the remaining 1% — the exact straggler
    # salting exists to prevent. One action; detect_hot_hosts projects
    # only the url's host, so the anti-join it re-executes stays
    # url-column-pruned.
    with job_description(spark, "run_job: hot hosts"):
        docs = salted_repartition(docs, num_partitions)
    out = X.run_extract(docs)

    # A6 analog (SURVEY 2.4): free job-level counters via observe() —
    # collected from the same action that materializes the output, no
    # extra pass (the per-partition breakdown is the metrics table).
    obs = Observation("extract_counters")
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
        F.sum("n_bytes").alias("bytes_in"),
    )

    # Truncate lineage BEFORE any append. The resume anti-join reads the
    # committed table; appending to that path makes Spark recache (and
    # re-execute) any plan that references it, which would see the job's own
    # fresh output and anti-join everything away — later projections would
    # silently write 0 rows. Materializing the kernel output cuts the
    # plan's tie to the table path. With a checkpoint dir set (the durable
    # pattern on a real cluster) the output is staged to that dir and
    # survives executor loss; without one a lost block fails the run, and
    # rerunning it resumes from the committed marker.
    out = materialize(out, "run_job: kernel", eager=True)
    # Size the output files by bytes, not by the kernel's partition count:
    # one partition per maxPartitionBytes of input html, at most
    # num_partitions. A small run then commits one file per table instead
    # of num_partitions small ones. coalesce is a narrow dependency on the
    # checkpoint, so the kernel stage and the part_id lineage column stay
    # as they are (the metrics table still groups by part_id).
    observed = obs.get
    bytes_in = int(observed.get("bytes_in") or 0)
    split = _conf_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    out = out.coalesce(max(1, min(num_partitions, math.ceil(bytes_in / split))))
    # (url, digest) table: the standing index for cross-run incremental
    # dedup — the next increment's operators.dedup.incremental_dedup reads
    # this table as its corpus side instead of re-hashing all prior text.
    # Only SUCCESSFUL extractions are indexed: error rows carry text=''
    # (the kernel never yields NULL text), so filtering on the error
    # column — not on text nullability — keeps one md5('') per failure
    # out of the standing index, where it would both concentrate on a
    # single Bloom position and wrongly mark later legitimately-empty
    # documents as already seen.
    digests = out.filter(F.col("error").isNull()).select(
        "url", F.md5("text").alias("digest"), "n_bytes"
    )
    # Optional hygiene stage on the primary output: mask emails/phones/IPs
    # and carry per-kind counts. Runs INSIDE the same write action (native
    # regexp exprs appended to the projection — no extra pass, no second
    # kernel run). The digests table keeps the RAW text hash: redaction
    # must not change dedup identity across runs with different flags.
    ext = X.extracted_text(out)
    if redact_pii:
        from .operators import scrub

        ext = scrub.pii_redact(
            ext, id_col="url", keep_cols=("n_bytes", "error")
        ).withColumnRenamed("text_redacted", "text")

    def write(name: str, df: DataFrame) -> int:
        # Row counts ride the write action itself via observe() — one
        # action per table, never a second .count() pass re-executing the
        # projection (pure waste at scale).
        table_obs = Observation(f"rows_{name}")
        with job_description(spark, f"run_job: append {name}"):
            catalog.append(
                df.observe(table_obs, F.count(F.lit(1)).alias("n")),
                f"{output_prefix}/{name}",
            )
        return int(table_obs.get.get("n") or 0)

    secondary = {
        "fields": X.extracted_fields(out),
        "cells": X.extracted_cells(out),
        "statuses": X.extracted_statuses(out),
        "codes": X.extracted_codes(out),
        "links": X.extracted_links(out),
        "headings": X.extracted_headings(out),
        "digests": digests,
        "metrics": X.partition_metrics(out),
    }
    if not observed.get("docs"):
        # No work left (a no-op resume): append nothing, so an idle rerun
        # adds no empty file to any table.
        return dict.fromkeys(
            [*secondary, "extracted", "observed_docs", "observed_errors"], 0)
    # The secondary tables are independent appends, each a small job on
    # the checkpoint, so they commit concurrently. Each task is wrapped on
    # its own: inheritable_thread_target hands the writer thread a copy of
    # the caller's local properties (job group, description) taken at wrap
    # time, and one copy per task keeps the threads' descriptions apart.
    # Leaving the `with` block waits for all eight, also when one fails.
    with ThreadPoolExecutor(max_workers=len(secondary)) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(write), name, df)
            for name, df in secondary.items()
        }
    counts = {name: f.result() for name, f in futures.items()}
    # 'extracted' is the RESUME MARKER (the anti-join above reads it), so
    # it commits LAST, and only once every secondary table has committed:
    # a failed or crashed secondary write re-processes those urls on the
    # next run and re-appends the secondary tables (at-least-once,
    # dedupable by url downstream) instead of permanently losing their
    # rows, as a marker committed beside them would.
    counts["extracted"] = write("extracted", ext)
    counts["observed_docs"] = int(observed.get("docs") or 0)
    counts["observed_errors"] = int(observed.get("errors") or 0)
    # Local checkpoint blocks are NOT released by DataFrame.unpersist()
    # (that only clears CacheManager entries from .cache()/.persist());
    # they are freed by the ContextCleaner once the checkpointed RDD is
    # garbage-collected when `out` goes out of scope — per-run residency
    # is bounded by one job's kernel output. Reliable checkpoint files
    # stay in the checkpoint dir (see materialize).
    return counts


def main() -> None:
    from .session import get_spark

    parser = argparse.ArgumentParser()
    parser.add_argument("--input", required=True, help="parquet path / table")
    parser.add_argument("--output-prefix", required=True)
    parser.add_argument("--partitions", type=int, default=None)
    parser.add_argument("--no-resume", action="store_true")
    parser.add_argument("--redact-pii", action="store_true",
                        help="mask emails/phones/IPv4 in the extracted "
                             "table (counts carried per row)")
    args = parser.parse_args()

    spark = get_spark(app="ocr_cezam_extract")
    docs = spark.read.parquet(args.input)
    counts = run_job(
        spark,
        docs,
        args.output_prefix,
        num_partitions=args.partitions,
        resume=not args.no_resume,
        redact_pii=args.redact_pii,
    )
    print(counts)
    spark.stop()


if __name__ == "__main__":
    main()
