"""The materialization seam: ``materialize.materialize`` is the only place
the package checkpoints a frame, it labels the jobs it launches, and with
a checkpoint dir set the composed queries survive the loss of every
cached block (simulated by dropping the blocks through the block manager
master, as an executor loss would)."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys

import pytest
from pyspark.sql import functions as F  # noqa: N812

from ocr_cezam_spark.materialize import materialize

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "ocr_cezam_spark"
SF_DIR = "/root/testdata/sf0.001"
COMPOSITIONS = ("build_training_corpus", "ingest_delta", "dedup_clusters",
                "host_hits")


def test_no_checkpoint_outside_the_seam():
    """No module but materialize.py calls ``.localCheckpoint(`` or
    ``.checkpoint(``."""
    calls = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path.name == "materialize.py" and path.parent == PACKAGE:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("localCheckpoint", "checkpoint")):
                calls.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert calls == []


def _job_descriptions(spark, group: str) -> list[str | None]:
    """Descriptions of the jobs of ``group``, in job id order, read from
    the status store once the listener bus has delivered every event."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    for job_id in sorted(spark.sparkContext.statusTracker()
                         .getJobIdsForGroup(group)):
        d = store.job(job_id).description()
        out.append(d.get() if d.isDefined() else None)
    return out


@pytest.mark.parametrize("eager", [False, True])
def test_materialize_labels_its_jobs_and_restores_caller(spark, eager):
    """Jobs launched inside materialize (under AQE, the upstream shuffle
    stage of a lazy checkpoint; the count of an eager one) carry
    ``materialize: <reason>``; the caller's description comes back and
    labels the caller's own jobs."""
    sc = spark.sparkContext
    group = f"materialize-label-{eager}"
    sc.setJobGroup(group, "label test")
    sc.setJobDescription("caller")
    try:
        df = spark.range(200).groupBy((F.col("id") % 7).alias("k")).count()
        m = materialize(df, "label probe", eager=eager)
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert sorted(r["k"] for r in m.collect()) == list(range(7))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    got = _job_descriptions(spark, group)
    inside = [d for d in got if d != "caller"]
    assert inside and set(inside) == {"materialize: label probe"}, got
    assert got[-1] == "caller", got  # the collect ran after the call


def test_materialize_without_caller_description_leaves_none(spark):
    sc = spark.sparkContext
    assert sc.getLocalProperty("spark.job.description") is None
    materialize(spark.range(3), "no caller", eager=True)
    assert sc.getLocalProperty("spark.job.description") is None


_PROBE = """
import json
from ocr_cezam_spark import queries as Q
from ocr_cezam_spark.session import get_spark
from tools.check_oracles import table_hash

spark = get_spark(app="recovery", master="local[2]", shuffle_partitions=4)
jsc = spark.sparkContext._jsc.sc()
out = {{"checkpoint_dir": spark.sparkContext.getCheckpointDir()}}
for name in {names!r}:
    df = Q.QUERIES[name](spark, {sf!r})
    df.collect()
    # executor loss, simulated: every cached block (local checkpoints
    # included) is gone
    ids = [i.id() for i in jsc.getRDDStorageInfo()]
    for rdd_id in ids:
        jsc.env().blockManager().master().removeRdd(rdd_id, True)
    try:  # a new plan over the same frames, so nothing reuses shuffles
        again = df.select("*")
        rows = [tuple(r) for r in again.collect()]
        out[name] = {{"dropped": len(ids),
                      "hash": table_hash(again.columns, rows)[0]}}
    except Exception as e:  # noqa: BLE001 - the error text is the result
        out[name] = {{"dropped": len(ids), "error": str(e)[:300]}}
spark.stop()
print("RECOVERY " + json.dumps(out))
"""


def _recovery_run(tmp_path, checkpoint_dir: str | None) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    env["SPARK_DRIVER_MEM"] = "2g"
    # the Python workers import the package too
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p)
    if checkpoint_dir is not None:
        # the deployment's own setting; the package has no option for it
        env["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.checkpoint.dir={checkpoint_dir} pyspark-shell")
    script = _PROBE.format(names=COMPOSITIONS, sf=SF_DIR)
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True,
                          text=True, cwd=str(tmp_path), env=env, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RECOVERY ")]
    assert line, (proc.stdout[-2000:], proc.stderr[-2000:])
    return json.loads(line[-1].split(" ", 1)[1])


def _oracle_hashes() -> dict[str, str]:
    import duckdb

    from ocr_cezam_spark import queries as Q
    from tools.check_oracles import TABLES, table_hash

    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name in COMPOSITIONS:
        rel = con.sql(Q.ORACLES[name])
        out[name] = table_hash(list(rel.columns), rel.fetchall())[0]
    return out


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} absent")
@pytest.mark.parametrize("durable", [True, False], ids=["checkpoint_dir", "local"])
def test_compositions_survive_block_loss_only_with_checkpoint_dir(
        tmp_path, durable):
    """With a checkpoint dir the four compositions return their oracle
    hash after every cached block is dropped; without one the same loss
    raises CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (the hazard this pins)."""
    ck = tmp_path / "ck"
    got = _recovery_run(tmp_path, str(ck) if durable else None)
    assert (got.pop("checkpoint_dir") is not None) == durable
    if durable:
        assert any(ck.rglob("part-*")), "no reliable checkpoint was written"
        assert got == {n: {"dropped": got[n]["dropped"], "hash": h}
                       for n, h in _oracle_hashes().items()}
    else:
        for name, r in got.items():
            assert r["dropped"] > 0, name
            assert "CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND" in r.get("error", ""), (
                name, r)
