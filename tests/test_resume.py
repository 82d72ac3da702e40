"""Checkpoint/resume: kill-and-rerun equals a single clean run
(SURVEY.md section 5, north_rule resumability)."""

from __future__ import annotations

from ocr_cezam_spark.corpus import corpus_df
from ocr_cezam_spark.job import run_job
from ocr_cezam_spark.sources import catalog


def _texts(spark, prefix):
    return {
        (r["url"], r["text"])
        for r in catalog.read(spark, f"{prefix}/extracted").collect()
    }


def test_resume_after_partial_run(spark, tmp_path):
    docs = corpus_df(spark, 120)

    clean = str(tmp_path / "clean")
    run_job(spark, docs, clean, num_partitions=4, resume=False)

    # partial run: only half the urls committed, then "executor loss"
    partial = str(tmp_path / "partial")
    half = docs.limit(60)
    run_job(spark, half, partial, num_partitions=4, resume=False)
    n_after_half = len(_texts(spark, partial))
    assert n_after_half == 60

    # resume: full source again; anti-join must skip committed urls
    counts = run_job(spark, docs, partial, num_partitions=4, resume=True)
    assert counts["extracted"] == 60  # only the missing urls were processed

    assert _texts(spark, partial) == _texts(spark, clean)


def test_resume_noop_when_complete(spark, tmp_path):
    docs = corpus_df(spark, 40)
    prefix = str(tmp_path / "full")
    run_job(spark, docs, prefix, num_partitions=2, resume=False)
    counts = run_job(spark, docs, prefix, num_partitions=2, resume=True)
    assert counts["extracted"] == 0
    assert len(_texts(spark, prefix)) == 40


def test_resume_mixed_html_pdf(spark, tmp_path):
    """The resume anti-join is payload-type agnostic: a partial run over a
    mixed HTML+PDF corpus resumes with exactly the missing urls."""
    from ocr_cezam_spark.corpus import pdf_corpus_df

    docs = corpus_df(spark, 40).unionByName(pdf_corpus_df(spark, 40))
    prefix = str(tmp_path / "mixed")
    run_job(spark, docs.limit(50), prefix, num_partitions=4, resume=False)
    counts = run_job(spark, docs, prefix, num_partitions=4, resume=True)
    assert counts["extracted"] == 30
    assert len(_texts(spark, prefix)) == 80
    rerun = run_job(spark, docs, prefix, num_partitions=4, resume=True)
    assert rerun["extracted"] == 0


def test_catalog_read_raises_on_non_missing_errors(spark, tmp_path):
    from ocr_cezam_spark.sources import catalog

    # missing path -> None (resume treats as nothing committed)
    assert catalog.read(spark, str(tmp_path / "nope")) is None
    # an existing path that is NOT parquet must raise, never None
    bad = tmp_path / "corrupt"
    bad.mkdir()
    (bad / "part-0000.parquet").write_bytes(b"not a parquet file")
    import pytest as _pytest

    with _pytest.raises(Exception):
        df = catalog.read(spark, str(bad))
        # parquet footer errors may surface at action time
        if df is not None:
            df.collect()


def test_failed_secondary_write_leaves_marker_uncommitted(spark, tmp_path, monkeypatch):
    """The marker commits only after every secondary table: a failed
    secondary append leaves no `extracted` rows, and the rerun commits
    each url exactly once."""
    import os

    import pytest as _pytest

    docs = corpus_df(spark, 40)
    prefix = str(tmp_path / "crash")
    real_append = catalog.append

    def failing_append(df, table):
        if table.endswith("/links"):
            raise RuntimeError("injected links failure")
        real_append(df, table)

    monkeypatch.setattr(catalog, "append", failing_append)
    with _pytest.raises(RuntimeError, match="injected links failure"):
        run_job(spark, docs, prefix, num_partitions=4)
    assert not os.path.exists(f"{prefix}/extracted")

    monkeypatch.setattr(catalog, "append", real_append)
    counts = run_job(spark, docs, prefix, num_partitions=4)
    assert counts["extracted"] == 40
    urls = [r["url"] for r in catalog.read(spark, f"{prefix}/extracted").collect()]
    assert len(urls) == len(set(urls)) == 40
    # links never committed on the failed run, so the rerun's rows are all
    assert catalog.read(spark, f"{prefix}/links").count() == counts["links"]


def test_noop_rerun_appends_nothing(spark, tmp_path):
    """A rerun with no work left returns all-zero counts and adds no file
    to any table; a later resume with new docs still commits each url
    exactly once."""
    import os

    prefix = str(tmp_path / "idle")
    first = run_job(spark, corpus_df(spark, 30), prefix, num_partitions=4)

    def files():
        return {t: sorted(os.listdir(f"{prefix}/{t}")) for t in os.listdir(prefix)}

    before = files()
    assert len(before) == 9
    rerun = run_job(spark, corpus_df(spark, 30), prefix, num_partitions=4)
    assert rerun == dict.fromkeys(first, 0)
    assert files() == before

    counts = run_job(spark, corpus_df(spark, 40), prefix, num_partitions=4)
    assert counts["extracted"] == 10
    urls = [r["url"] for r in catalog.read(spark, f"{prefix}/extracted").collect()]
    assert len(urls) == len(set(urls)) == 40
