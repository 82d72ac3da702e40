"""Spark pipeline vs pure-Python kernel: byte-identical per url.

This is the north_rule gate: Arrow batching, partitioning, parallelism and
salting must introduce zero nondeterminism (SURVEY.md section 5).
"""

from __future__ import annotations

import pytest

from ocr_cezam_spark import kernel
from ocr_cezam_spark.corpus import corpus_df, make_page
from ocr_cezam_spark.operators import extract as X
from ocr_cezam_spark.skew import detect_hot_hosts, salted_repartition

N = 240


@pytest.fixture(scope="module")
def out(spark):
    df = X.run_extract(corpus_df(spark, N), num_partitions=8)
    return df.persist()


def _golden(i: int) -> dict:
    p = make_page(i)
    return kernel.extract(p["url"], p["html"], p["lang"])


def test_text_byte_identical(out):
    got = {r["url"]: r["text"] for r in out.select("url", "text").collect()}
    assert len(got) == N
    for i in range(N):
        g = _golden(i)
        assert got[g["url"]] == g["text"]


def test_fields_identical(out):
    rows = X.extracted_fields(out).collect()
    got: dict[str, dict] = {}
    for r in rows:
        got.setdefault(r["url"], {})[r["field"]] = r["value"]
    for i in range(N):
        g = _golden(i)
        assert got.get(g["url"], {}) == g["fields"]


def test_cells_and_statuses_identical(out):
    cells = X.extracted_cells(out).collect()
    by_url: dict[str, list] = {}
    for r in cells:
        by_url.setdefault(r["url"], []).append(
            (r["table_id"], r["row_id"], r["col_id"], r["value"])
        )
    statuses: dict[str, list] = {}
    for r in X.extracted_statuses(out).collect():
        statuses.setdefault(r["url"], []).append(
            (r["table_id"], r["status"], r["detail"])
        )
    for i in range(N):
        g = _golden(i)
        assert sorted(by_url.get(g["url"], [])) == sorted(g["cells"])
        assert statuses.get(g["url"], []) == g["statuses"]


def test_partitioning_invariance(spark):
    """Same bytes regardless of partition count (2 vs 16)."""
    a = {
        r["url"]: r["text"]
        for r in X.run_extract(corpus_df(spark, 64), 2).select("url", "text").collect()
    }
    b = {
        r["url"]: r["text"]
        for r in X.run_extract(corpus_df(spark, 64), 16).select("url", "text").collect()
    }
    assert a == b


def test_salted_run_identical_and_balanced(spark):
    docs = corpus_df(spark, 200)
    hot = detect_hot_hosts(docs)
    assert len(hot) >= 1  # corpus has ~3 hot hosts with ~10% each... >=5% hot
    salted = salted_repartition(docs, 8)
    out = X.run_extract(salted)
    got = {r["url"]: r["text"] for r in out.select("url", "text").collect()}
    for i in range(0, 200, 17):
        g = _golden(i)
        assert got[g["url"]] == g["text"]
    # no straggler partition > 2x median (SURVEY.md section 5 skew test)
    metrics = X.partition_metrics(out).collect()
    counts = sorted(m["n_docs"] for m in metrics)
    median = counts[len(counts) // 2]
    assert counts[-1] <= 2 * max(median, 1)


def test_error_isolation(spark):
    """A malformed row becomes an error/empty row, never a job failure."""
    pdf = corpus_df(spark, 4).toPandas()
    pdf.loc[1, "html"] = None
    docs = spark.createDataFrame(pdf)
    out = X.run_extract(docs, 2).collect()
    assert len(out) == 4
    # n_bytes is the html payload length, 0 for a null payload
    html = dict(zip(pdf["url"], pdf["html"]))
    for r in out:
        if html[r["url"]] is None:
            assert (r["n_bytes"], r["text"]) == (0, "")
        else:
            assert r["n_bytes"] == len(html[r["url"]])


class _DeadSession:
    """Stub session whose JVM SparkContext reports stopped."""

    class _SC:
        applicationId = "app-from-a-stopped-session"

        class _JSC:
            class _S:
                @staticmethod
                def isStopped():
                    return True

            @classmethod
            def sc(cls):
                return cls._S

        _jsc = _JSC

    sparkContext = _SC


def test_kernel_cache_evicts_only_stopped_sessions(spark):
    """Dead sessions' entries are dropped; a LIVE coexisting session's
    entry survives (no cross-session cache thrash)."""
    from ocr_cezam_spark import queries as q

    q._KERNEL_CACHE.clear()
    dead_df = spark.range(10)
    q._KERNEL_CACHE[("app-from-a-stopped-session", "html")] = (
        _DeadSession, dead_df)
    live_df = spark.range(5).persist()
    live_df.count()
    # same live context under a different application id: must survive
    q._KERNEL_CACHE[("other-live-app", "html")] = (spark, live_df)

    out = q._kernel_out(spark)
    app = spark.sparkContext.applicationId
    assert set(q._KERNEL_CACHE) == {(app, "html"), ("other-live-app", "html")}
    assert live_df.storageLevel.useMemory  # live entry NOT unpersisted
    assert q._kernel_out(spark) is out  # current entry stays cached
    # a second per-session entry (the pdf corpus) coexists, same session
    pdf = q._pdf_out(spark)
    assert (app, "pdf") in q._KERNEL_CACHE
    assert q._pdf_out(spark) is pdf and q._kernel_out(spark) is out
    live_df.unpersist()
    q._KERNEL_CACHE.pop(("other-live-app", "html"))


def test_job_redact_pii_masks_extracted_table(spark, tmp_path):
    import re as _re

    from ocr_cezam_spark.job import run_job
    from ocr_cezam_spark.operators.scrub import PII_PATTERNS

    docs = corpus_df(spark, 120)
    counts = run_job(spark, docs, str(tmp_path / "red"), num_partitions=4,
                     redact_pii=True)
    assert counts["extracted"] == 120
    ext = spark.read.parquet(str(tmp_path / "red" / "extracted"))
    assert {"n_emails", "n_phones", "n_ips", "text", "url"} <= set(ext.columns)
    rows = ext.collect()
    # the synthetic statements carry real emails/phones -> counts observed
    assert sum(r["n_emails"] for r in rows) > 0
    for r in rows:
        for kind, pat, repl in PII_PATTERNS:
            assert not _re.search(pat, r["text"]), (r["url"], kind)
        if r["n_emails"]:
            assert "[EMAIL]" in r["text"]
    # digests keep RAW-text identity: same corpus without redaction
    # produces identical digests
    run_job(spark, docs, str(tmp_path / "raw"), num_partitions=4)
    dig_red = {(r["url"], r["digest"]) for r in
               spark.read.parquet(str(tmp_path / "red" / "digests")).collect()}
    dig_raw = {(r["url"], r["digest"]) for r in
               spark.read.parquet(str(tmp_path / "raw" / "digests")).collect()}
    assert dig_red == dig_raw


def test_job_refuses_resume_across_redaction_states(spark, tmp_path):
    import pytest as _pytest

    from ocr_cezam_spark.job import run_job

    docs = corpus_df(spark, 40)
    run_job(spark, docs, str(tmp_path / "mix"), num_partitions=2)
    with _pytest.raises(ValueError, match="redaction"):
        run_job(spark, docs, str(tmp_path / "mix"), num_partitions=2,
                redact_pii=True)
    # matching state on a fresh prefix works, and same-state resume is a no-op
    run_job(spark, docs, str(tmp_path / "mix2"), num_partitions=2,
            redact_pii=True)
    run_job(spark, docs, str(tmp_path / "mix2"), num_partitions=2,
            redact_pii=True)  # same state resumes fine (0 rows)


def test_headings_identical(out):
    rows = X.extracted_headings(out).collect()
    got: dict[str, list] = {}
    for r in rows:
        got.setdefault(r["url"], []).append((r["pos"], r["level"], r["heading"]))
    for i in range(N):
        g = _golden(i)
        want = [(p, lv, t) for p, (lv, t) in enumerate(g["headings"])]
        assert sorted(got.get(g["url"], [])) == want


_TABLES = ("fields", "cells", "statuses", "codes", "links", "headings",
           "digests", "metrics", "extracted")


@pytest.fixture(scope="module")
def sized_runs(spark, tmp_path_factory):
    """The same 300-doc run_job at the session's maxPartitionBytes (16m:
    the input fits one split) and at 8k (more splits than partitions)."""
    from ocr_cezam_spark.job import run_job

    docs = corpus_df(spark, 300)
    base = tmp_path_factory.mktemp("sized")

    def run(name: str) -> tuple[str, dict]:
        prefix = str(base / name)
        return prefix, run_job(spark, docs, prefix, num_partitions=8)

    runs = {"default": run("default")}
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, "8k")
    try:
        runs["8k"] = run("8k")
    finally:
        spark.conf.set(key, prev)
    return runs


def _n_files(prefix: str, table: str) -> int:
    import glob

    return len(glob.glob(f"{prefix}/{table}/*.parquet"))


def test_small_run_writes_one_file_per_table(sized_runs):
    prefix, _ = sized_runs["default"]
    assert {t: _n_files(prefix, t) for t in _TABLES} == {t: 1 for t in _TABLES}


def test_small_byte_split_keeps_one_file_per_partition(sized_runs):
    prefix, _ = sized_runs["8k"]
    plain = [t for t in _TABLES if t != "metrics"]
    assert {t: _n_files(prefix, t) for t in plain} == {t: 8 for t in plain}


def test_file_sizing_keeps_metrics_and_counts(spark, sized_runs):
    (small, counts), (split, split_counts) = sized_runs["default"], sized_runs["8k"]
    assert counts == split_counts
    assert counts["extracted"] == counts["observed_docs"] == 300
    metrics = {
        p: sorted(tuple(r) for r in spark.read.parquet(f"{p}/metrics").collect())
        for p in (small, split)
    }
    assert len(metrics[small]) == counts["metrics"] == 8
    assert metrics[small] == metrics[split]
    for t in _TABLES:
        rows = [sorted(map(tuple, spark.read.parquet(f"{p}/{t}").collect()),
                       key=repr) for p in (small, split)]
        assert rows[0] == rows[1], t


def test_run_job_jobs_stay_in_caller_group(spark, tmp_path):
    """Every Spark job of run_job, the concurrent appends' included, runs in
    the caller's job group; the caller's job description is restored."""
    from ocr_cezam_spark.job import run_job

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "run_job group test")
    sc.setJobDescription("caller")
    try:
        run_job(spark, corpus_df(spark, 40), str(tmp_path / "grp"), num_partitions=4)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    in_g = sorted(tracker.getJobIdsForGroup("g"))
    assert len(in_g) >= 10  # read marker, hot hosts, kernel, nine appends
    # job ids are sequential: a gap is a job that ran outside group g
    assert in_g == list(range(in_g[0], in_g[-1] + 1))
