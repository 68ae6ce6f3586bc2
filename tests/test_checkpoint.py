"""CheckpointManager: one data directory per stage, failed writes, and
the ``layout_by`` file stats read from the parquet footers."""

from __future__ import annotations

import json
import math
import os
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from skyway_spark.plans.checkpoint import BUCKET_COL, CheckpointManager, _min_max
from skyway_spark.plans.session import local_frame


def _jobs_in(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _manifest_files(cm: CheckpointManager, name: str) -> list:
    with open(os.path.join(cm.root, name, "_MANIFEST.json"), encoding="utf-8") as f:
        return json.load(f)["files"]


def _points(spark):
    return spark.range(0, 2000, numPartitions=4).select(
        "id",
        (F.col("id") % 97 / 12.5).alias("lat"),
        (F.col("id") * 7 % 360 - 180.0).alias("lon"),
    )


def test_layout_stage_runs_only_its_write_job(spark, tmp_path):
    """The per-file stats come from the footers and the data is read
    back with its written schema: a ``layout_by`` stage runs no job
    beyond the ``partitionBy`` write itself."""
    pts = _points(spark)
    bucket = F.floor(F.col("lat") * 4 / F.lit(8)).cast("int")
    write_alone = _jobs_in(
        spark,
        f"write-alone-{tmp_path.name}",
        lambda: pts.withColumn(BUCKET_COL, bucket)
        .write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(str(tmp_path / "alone")),
    )
    cm = CheckpointManager(str(tmp_path / "ck"))
    layout = {"key": F.col("lat"), "buckets": 4, "key_max": 8, "stats": ["lat", "lon"]}
    staged = _jobs_in(
        spark,
        f"layout-stage-{tmp_path.name}",
        lambda: cm.stage(spark, "p", None, lambda: pts, layout_by=layout),
    )
    assert write_alone >= 1
    assert staged == write_alone
    files = {f["file_id"]: f for f in _manifest_files(cm, "p")}
    assert sum(f["rows"] for f in files.values()) == 2000
    # footer stats equal the aggregate Spark computes over each bucket
    for r in (
        pts.groupBy(bucket.alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), F.min("lon").alias("lo"), F.max("lon").alias("hi"))
        .collect()
    ):
        assert files[r.b]["rows"] == r.n
        assert files[r.b]["stats"]["lon"] == [r.lo, r.hi]


@pytest.mark.parametrize("stats", [["lon"], ["lat", "lon"]])
def test_layout_null_and_nan_keys_prune_like_a_full_scan(spark, tmp_path, stats):
    """Null layout keys form one more file group, judged by its own
    stats; NaN values (Spark orders NaN above every double) never make
    read_pruned drop a matching row."""
    nan = float("nan")
    rows = [
        (i, None if i % 11 == 0 else (i % 64) / 8.0, nan if i % 13 == 0 else float(i % 50 - 25))
        for i in range(400)
    ]
    pts = local_frame(spark, rows, "id long, lat double, lon double").repartition(3)
    cm = CheckpointManager(str(tmp_path))
    layout = {"key": F.col("lat"), "buckets": 4, "key_max": 8, "stats": stats}
    full = cm.stage(spark, "p", None, lambda: pts, layout_by=layout)
    assert full.count() == 400
    assert {f["file_id"] for f in _manifest_files(cm, "p")} == {0, 1, 2, 3, 4}
    queries = [{"lon": (-30.0, -20.0)}, {"lon": (5.0, 5.0)}, {"lon": (100.0, 200.0)}]
    if "lat" in stats:
        queries += [{"lat": (0.0, 1.0)}, {"lat": (7.5, 9.0), "lon": (-25.0, 0.0)}]
    for ranges in queries:
        cond = F.lit(True)
        for col, (lo, hi) in ranges.items():
            cond = cond & (F.col(col) >= lo) & (F.col(col) <= hi)
        pruned, scanned, total = cm.read_pruned(spark, "p", ranges)
        assert total == 5
        want = sorted(r.id for r in full.where(cond).collect())
        assert sorted(r.id for r in pruned.where(cond).collect()) == want, ranges
    # the null-key rows are in the group of bucket 4 and are read back
    assert cm.read_pruned(spark, "p", {"lon": (-1e9, 1e9)})[0].where(
        F.col("lat").isNull()
    ).count() == sum(r[1] is None for r in rows)


def test_footer_stats_merge_is_nan_aware_and_order_free():
    def st(lo, hi):
        return SimpleNamespace(has_min_max=True, min=lo, max=hi)

    nan = float("nan")
    chunks = [st(1.0, 5.0), st(nan, nan), st(-2.0, nan), st(0.5, 3.0)]
    for order in (chunks, chunks[::-1], chunks[1:] + chunks[:1]):
        lo, hi = _min_max(order)
        assert lo == -2.0 and math.isnan(hi)
    lo, hi = _min_max([st(nan, nan), st(nan, nan)])
    assert math.isnan(lo) and math.isnan(hi)
    assert _min_max([st(1, 2), st(3, 4)]) == [1, 4]
    assert _min_max([st(1, 2), SimpleNamespace(has_min_max=False)]) == [None, None]
    assert _min_max([st(1, 2), None]) == [None, None]


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
