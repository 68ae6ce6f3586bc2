"""CheckpointManager: the jobs a stage runs, one data directory per
stage, and resume after a failed write or a killed process."""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from skyway_spark.plans.checkpoint import CheckpointManager

REPO = Path(__file__).resolve().parents[1]


def _jobs_in(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_runs_only_its_write_job(spark, tmp_path):
    """The file rows come from the footers and the data is read back
    with its written schema: a stage runs no job beyond its write, and
    a resume runs none."""
    pts = spark.range(0, 2000, numPartitions=4).select(
        "id", (F.col("id") % 97 / 12.5).alias("lat"), (F.col("id") * 7 % 360 - 180.0).alias("lon")
    )
    write_alone = _jobs_in(
        spark,
        f"write-alone-{tmp_path.name}",
        lambda: pts.write.mode("overwrite").parquet(str(tmp_path / "alone")),
    )
    root = str(tmp_path / "ck")
    staged = _jobs_in(
        spark,
        f"stage-{tmp_path.name}",
        lambda: CheckpointManager(root).stage(spark, "p", None, lambda: pts),
    )
    cm = CheckpointManager(root)
    resumed = _jobs_in(
        spark,
        f"resume-{tmp_path.name}",
        lambda: cm.stage(spark, "p", None, lambda: 1 / 0),
    )
    assert write_alone >= 1
    assert staged == write_alone
    assert resumed == 0
    assert [(m["rows"], m["resumed"]) for m in cm.metrics()] == [(2000, True)]


def test_recompute_replaces_the_one_data_directory(spark, tmp_path):
    root = str(tmp_path / "ck")
    cm = CheckpointManager(root)
    for fp, n in (("fp1", 10), ("fp2", 20), ("fp3", 30)):
        assert cm.stage(spark, "s1", fp, lambda n=n: spark.range(0, n, numPartitions=2)).count() == n
    dirs = {p.parent for p in Path(root, "s1").rglob("*.parquet")}
    assert dirs == {Path(root, "s1", "data")}
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(30)

    assert CheckpointManager(root).stage(spark, "s1", "fp3", compute).count() == 30
    assert calls["n"] == 0


def test_failed_write_recomputes_and_earlier_stages_resume(spark, tmp_path):
    """A stage whose write fails midway leaves no manifest; a fresh
    manager resumes the stages before it and recomputes that one."""
    root = str(tmp_path / "ck")
    calls = {"a": 0, "b": 0}

    def stage_a():
        calls["a"] += 1
        return spark.range(0, 10)

    def stage_b(fail: bool):
        calls["b"] += 1
        v = F.col("id") * 2
        if fail:
            v = F.when(F.col("id") == 77, F.raise_error(F.lit("boom at 77"))).otherwise(v)
        return spark.range(0, 100, numPartitions=4).withColumn("v", v)

    cm = CheckpointManager(root)
    cm.stage(spark, "a", "p", stage_a)
    cm.stage(spark, "b", "v1", lambda: stage_b(False))
    with pytest.raises(Exception, match="boom at 77"):
        cm.stage(spark, "b", "v2", lambda: stage_b(True))
    assert not os.path.exists(os.path.join(root, "b", "_MANIFEST.json"))

    cm2 = CheckpointManager(root)
    cm2.stage(spark, "a", "p", stage_a)
    got = cm2.stage(spark, "b", "v2", lambda: stage_b(False))
    assert calls == {"a": 1, "b": 3}
    assert [s["resumed"] for s in cm2.metrics()] == [True, False]
    assert sorted((r.id, r.v) for r in got.collect()) == [(i, 2 * i) for i in range(100)]


_KILLED_CHILD = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from skyway_spark.plans.checkpoint import CheckpointManager
from skyway_spark.plans.session import get_spark

root, marker = sys.argv[1], sys.argv[2]
spark = get_spark("killed-stage", cpus=2, shuffle_partitions=2)


@F.udf("long")
def hang_at_77(i):
    if i == 77:
        open(marker, "w").close()
        time.sleep(600)
    return i * 2


cm = CheckpointManager(root)
cm.stage(spark, "a", "p", lambda: spark.range(0, 10))
cm.stage(
    spark, "b", "v", lambda: spark.range(0, 100, numPartitions=4).withColumn("v", hang_at_77("id"))
)
"""


def test_killed_process_resumes_finished_stages(spark, tmp_path):
    """SIGKILL of the whole process group (driver, JVM and Python
    workers) in the middle of stage ``b``'s write: a fresh manager
    resumes ``a`` and recomputes ``b``."""
    root, marker = str(tmp_path / "ck"), tmp_path / "b-writing"
    with open(tmp_path / "child.log", "wb") as log:
        child = subprocess.Popen(
            [sys.executable, "-c", _KILLED_CHILD.format(repo=str(REPO)), root, str(marker)],
            stdout=log,
            stderr=subprocess.STDOUT,
            cwd=REPO,
            env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"},
            start_new_session=True,
        )
        try:
            deadline = time.monotonic() + 300
            while not marker.exists() and child.poll() is None and time.monotonic() < deadline:
                time.sleep(0.2)
            assert marker.exists(), (tmp_path / "child.log").read_text()[-4000:]
        finally:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(child.pid, signal.SIGKILL)
            child.wait()
    assert os.path.exists(os.path.join(root, "a", "_MANIFEST.json"))
    assert not os.path.exists(os.path.join(root, "b", "_MANIFEST.json"))

    calls = {"a": 0, "b": 0}

    def stage_a():
        calls["a"] += 1
        return spark.range(0, 10)

    def stage_b():
        calls["b"] += 1
        return spark.range(0, 100, numPartitions=4).withColumn("v", F.col("id") * 2)

    cm = CheckpointManager(root)
    assert sorted(r.id for r in cm.stage(spark, "a", "p", stage_a).collect()) == list(range(10))
    got = cm.stage(spark, "b", "v", stage_b)
    assert calls == {"a": 0, "b": 1}
    assert [s["resumed"] for s in cm.metrics()] == [True, False]
    assert sorted((r.id, r.v) for r in got.collect()) == [(i, 2 * i) for i in range(100)]
