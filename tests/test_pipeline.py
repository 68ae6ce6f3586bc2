"""Checkpoint/resume, pipeline job, streaming, entry contract."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from skyway_spark.plans.checkpoint import CheckpointManager


def test_checkpoint_resume_identical(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(0, 100).withColumn("v", F.col("id") * 2)

    cm = CheckpointManager(root)
    a = cm.stage(spark, "s1", "fp1", compute).collect()
    assert calls["n"] == 1
    # resume: same fingerprint -> no recompute, identical rows
    cm2 = CheckpointManager(root)
    b = cm2.stage(spark, "s1", "fp1", compute).collect()
    assert calls["n"] == 1
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert cm2.results[0].resumed is True
    # changed fingerprint -> recompute
    cm3 = CheckpointManager(root)
    cm3.stage(spark, "s1", "fp2", compute)
    assert calls["n"] == 2
    # manifest carries lineage
    m = json.load(open(f"{root}/s1/_MANIFEST.json"))
    assert m["row_count"] == 100
    assert sum(m["partition_rows"].values()) == 100


def test_checkpoint_snapshot_history_and_time_travel(spark, tmp_path):
    """Every recompute appends an Iceberg-style snapshot; old ones
    stay readable (time travel) until expired; current survives
    expiry."""
    root = str(tmp_path / "ckpt_snap")
    cm = CheckpointManager(root)
    cm.stage(spark, "s1", "fp1", lambda: spark.range(0, 10))
    cm.stage(spark, "s1", "fp2", lambda: spark.range(0, 20))
    cm.stage(spark, "s1", "fp3", lambda: spark.range(0, 30))
    snaps = cm.snapshots("s1")
    assert [s["id"] for s in snaps] == [1, 2, 3]
    assert [s["row_count"] for s in snaps] == [10, 20, 30]
    # time travel to snapshot 1
    assert cm.read_snapshot(spark, "s1", 1).count() == 10
    # expiry keeps the newest `keep` and never the current
    dropped = cm.expire_snapshots("s1", keep=1)
    assert dropped == [1, 2]
    assert [s["id"] for s in cm.snapshots("s1")] == [3]
    with pytest.raises(KeyError):
        cm.read_snapshot(spark, "s1", 1)
    # current read still resumes without recompute
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(30)

    assert CheckpointManager(root).stage(spark, "s1", "fp3", compute).count() == 30
    assert calls["n"] == 0


def test_checkpoint_kill_between_data_and_manifest(spark, tmp_path):
    """A stage whose manifest is missing (crash window) recomputes."""
    root = str(tmp_path / "ckpt2")
    cm = CheckpointManager(root)
    cm.stage(spark, "s1", "fp", lambda: spark.range(10))
    cm.invalidate("s1")  # simulates the crash-before-manifest state
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(10)

    cm2 = CheckpointManager(root)
    cm2.stage(spark, "s1", "fp", compute)
    assert calls["n"] == 1


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    from jobs.run_pipeline import run

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    m1 = run(2000, out, ckpt)
    assert m1["entities"] > 2000
    assert m1["pip_hits"] > 0
    assert all(not s["resumed"] for s in m1["stages"])
    # resume: all stages come back from checkpoints with identical counts
    m2 = run(2000, out, ckpt)
    assert all(s["resumed"] for s in m2["stages"])
    assert m2["entities"] == m1["entities"]
    assert m2["pip_hits"] == m1["pip_hits"]
    # partial resume: nuke a late stage only
    CheckpointManager(ckpt).invalidate("tiles")
    m3 = run(2000, out, ckpt)
    flags = {s["stage"]: s["resumed"] for s in m3["stages"]}
    assert flags["pages"] and flags["extract"] and flags["pip"]
    assert not flags["tiles"]
    assert m3["pip_hits"] == m1["pip_hits"]


def test_checkpoint_resume_recomputes_missing_file(spark, tmp_path):
    """A snapshot that lost one data file is never served: a fresh
    manager recomputes the stage and returns every row."""
    from pathlib import Path

    root = str(tmp_path / "ckpt3")
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(0, 100, numPartitions=4)

    CheckpointManager(root).stage(spark, "s1", "fp", compute)
    m = json.load(open(f"{root}/s1/_MANIFEST.json"))
    parts = sorted(Path(m["data_dir"]).glob("part-*.parquet"))
    assert len(parts) == 4
    parts[0].unlink()
    cm2 = CheckpointManager(root)
    got = cm2.stage(spark, "s1", "fp", compute)
    assert calls["n"] == 2 and not cm2.results[0].resumed
    assert sorted(r.id for r in got.collect()) == list(range(100))


def test_pipeline_filter_change_recomputes_downstream(spark, tmp_path, monkeypatch):
    """Changing FILTERS recomputes filter and every stage after it; the
    stages before it resume."""
    from jobs import run_pipeline

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    m1 = run_pipeline.run(2000, out, ckpt)
    osmfilter, cel = run_pipeline.FILTERS
    monkeypatch.setattr(run_pipeline, "FILTERS", [osmfilter, cel + " && id % 2 == 0"])
    m2 = run_pipeline.run(2000, out, ckpt)
    flags = {s["stage"]: s["resumed"] for s in m2["stages"]}
    assert flags["pages"] and flags["extract"]
    assert not (flags["filter"] or flags["pip"] or flags["tiles"])
    assert 0 < m2["pip_hits"] < m1["pip_hits"]


def test_stage_fingerprint_stable_across_hash_seeds():
    """Two interpreters with different str-hash salts derive the same
    fingerprint, so a plain-python run resumes a spark-submit run."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "from skyway_spark.plans.checkpoint import stage_fingerprint; "
        "from jobs.run_pipeline import FILTERS; "
        "print(stage_fingerprint('filter', FILTERS, [('extract', 'e'), ('pages', 'p')]))"
    )
    fps = [
        subprocess.run(
            [sys.executable, "-c", code],
            capture_output=True,
            text=True,
            check=True,
            cwd=str(Path(__file__).resolve().parents[1]),
            env={**os.environ, "PYTHONHASHSEED": seed},
        ).stdout.strip()
        for seed in ("1", "2")
    ]
    assert len(fps[0]) == 64 and fps[0] == fps[1]


def test_streaming_windowed_counts(spark, tmp_path):
    from skyway_spark.streaming.events import (
        read_events_stream,
        run_bounded,
        windowed_counts,
    )

    src = "/root/testdata/sf0.001/events.parquet"
    ev = spark.read.parquet(src)
    in_dir = str(tmp_path / "stream_in")
    ev.write.parquet(in_dir)
    stream = read_events_stream(spark, in_dir)
    assert stream.isStreaming
    agg = windowed_counts(stream, window="1 hour", watermark="2 hours")
    out_dir = str(tmp_path / "stream_out")
    run_bounded(agg, str(tmp_path / "stream_ck"), out_dir)
    got = spark.read.parquet(out_dir)
    # batch oracle: same tumbling window computed with date_trunc
    want = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    g = {(r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()}
    w = {(r["window_start"], r["event_type"]): r["n_events"] for r in want.collect()}
    # append mode only emits CLOSED windows: those still open at the
    # final watermark (max ts - 2h, minus the 1h window) are withheld
    import datetime as dt

    max_ts = ev.agg(F.max("ts")).first()[0]
    horizon = max_ts - dt.timedelta(hours=3)
    assert g.items() <= w.items()
    missing = set(w) - set(g)
    assert all(k[0] >= horizon for k in missing), missing
    assert len(g) > 0.9 * len(w)


def test_streaming_dedup_and_enrich(spark, tmp_path):
    """dropDuplicatesWithinWatermark removes replayed ids; the
    stream-static enrich join is broadcast (no stream shuffle)."""
    from skyway_spark.streaming.events import (
        dedup_stream,
        enrich_stream,
        read_events_stream,
        run_bounded,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").limit(500)
    in_dir = str(tmp_path / "dd_in")
    # simulate an at-least-once source: every event delivered twice
    ev.unionByName(ev).write.parquet(in_dir)
    stream = read_events_stream(spark, in_dir)
    dim = spark.createDataFrame(
        [(i, f"segment_{i % 3}") for i in range(200)], "user_id long, segment string"
    )
    enriched = enrich_stream(dedup_stream(stream), dim)
    out_dir = str(tmp_path / "dd_out")
    run_bounded(enriched, str(tmp_path / "dd_ck"), out_dir)
    got = spark.read.parquet(out_dir)
    assert got.count() == 500  # replays collapsed
    assert got.select("event_id").distinct().count() == 500
    seg = {r["user_id"]: r["segment"] for r in got.collect()}
    for uid, s in seg.items():
        assert s == (f"segment_{uid % 3}" if uid < 200 else None)


def test_streaming_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionizer: gap-closed sessions are
    emitted (in-batch gap or event-time timeout) and every emitted
    session matches the batch gap-sessionization oracle."""
    import datetime as dt

    from skyway_spark.streaming.events import read_events_stream, run_bounded, sessionize

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def row(eid, ts_min, uid):
        return (eid, t0 + dt.timedelta(minutes=ts_min), uid, "click", 1.0, "{}")

    ddl = ("event_id long, ts timestamp, user_id long, event_type string, "
           "value double, props string")
    in_dir = str(tmp_path / "sess_in")
    # file 1: user 1 has two events 5 min apart; user 2 one event
    spark.createDataFrame([row(1, 0, 1), row(2, 5, 1), row(3, 0, 2)], ddl).coalesce(
        1
    ).write.mode("overwrite").parquet(in_dir)
    # file 2: user 1 comes back 4 HOURS later -> first session closed
    spark.createDataFrame([row(4, 240, 1)], ddl).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    stream = read_events_stream(spark, in_dir)
    sess = sessionize(stream, gap="30 minutes", watermark="10 minutes")
    out_dir = str(tmp_path / "sess_out")
    run_bounded(sess, str(tmp_path / "sess_ck"), out_dir)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # batch oracle: gap-based sessions over the same rows
    want = {
        (1, t0, t0 + dt.timedelta(minutes=5), 2),           # closed by in-batch gap
        (2, t0, t0, 1),                                     # closed by timeout
        (1, t0 + dt.timedelta(minutes=240), t0 + dt.timedelta(minutes=240), 1),
    }
    assert got <= want
    # user 1's first session is provably closed (gap seen in-batch)
    assert (1, t0, t0 + dt.timedelta(minutes=5), 2) in got


def test_py_files_zip_imports(tmp_path):
    """The --py-files artifact is self-contained: a clean interpreter
    with ONLY the zip on sys.path imports the full package; and the
    build is byte-reproducible."""
    import subprocess
    import sys as _sys

    from tools.build_zip import build

    z1 = build(tmp_path / "a.zip")
    z2 = build(tmp_path / "b.zip")
    assert z1.read_bytes() == z2.read_bytes()
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import skyway_spark.operators.asof, skyway_spark.functions.cells, "
        "skyway_spark.streaming.events, skyway_spark.sources.opl; "
        "print('zip-ok')"
    )
    r = subprocess.run(
        [_sys.executable, "-c", code, str(z1)],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
    )
    assert r.returncode == 0 and "zip-ok" in r.stdout, r.stderr


def test_stream_stream_interval_join(spark, tmp_path):
    """view->click pairs within 1h, stream-stream with watermarked
    state — equals the batch interval join on the same input."""
    from skyway_spark.streaming.events import (
        join_streams_interval,
        read_events_stream,
        run_bounded,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "ssj_in")
    ev.write.parquet(in_dir)
    views_s = read_events_stream(spark, in_dir).where(F.col("event_type") == "view")
    clicks_s = read_events_stream(spark, in_dir).where(F.col("event_type") == "click")
    joined = join_streams_interval(views_s, clicks_s)
    out_dir = str(tmp_path / "ssj_out")
    run_bounded(joined, str(tmp_path / "ssj_ck"), out_dir)
    got = {
        (r["user_id"], r["l_id"], r["r_id"])
        for r in spark.read.parquet(out_dir).collect()
    }
    v = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("u2"), F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    want = {
        (r["user_id"], r["l_id"], r["r_id"])
        for r in v.join(
            c,
            (F.col("user_id") == F.col("u2"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr("interval 1 hour")),
        ).collect()
    }
    assert got == want and want  # nonempty and exactly equal


def test_streaming_tile_counts(spark, tmp_path):
    """Streaming tile rollup == batch tile rollup on the same input
    (closed windows only under append mode)."""
    from skyway_spark.functions import cells
    from skyway_spark.streaming.events import (
        read_events_stream,
        run_bounded,
        tile_window_counts,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    in_dir = str(tmp_path / "tiles_in")
    ev.write.parquet(in_dir)

    def pts(df):
        return df.select(
            "ts",
            ((F.col("user_id") * 7919) % 17000 / 100.0 - 85.0).alias("lat"),
            ((F.col("event_id") * 104729) % 36000 / 100.0 - 180.0).alias("lon"),
        )

    stream = tile_window_counts(pts(read_events_stream(spark, in_dir)), z=6)
    out_dir = str(tmp_path / "tiles_out")
    run_bounded(stream, str(tmp_path / "tiles_ck"), out_dir)
    got = {
        (r["window_start"], r["tile_x"], r["tile_y"]): r["n_points"]
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got, "no closed windows emitted"
    b = pts(ev)
    tx, ty = cells.tile_xy(F.col("lat"), F.col("lon"), 6)
    want = {
        (r["ws"], r["tile_x"], r["tile_y"]): r["n"]
        for r in b.groupBy(
            F.date_trunc("hour", "ts").alias("ws"),
            tx.alias("tile_x"),
            ty.alias("tile_y"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # append mode withholds windows still open at the final watermark
    assert got.items() <= want.items()
    # everything before the horizon must have been emitted
    import datetime as dt

    max_ts = ev.agg(F.max("ts")).first()[0]
    horizon = max_ts - dt.timedelta(hours=3)
    missing = {k for k in want if k not in got and k[0] < horizon}
    assert not missing


def test_entry_contract(spark):
    import __spark_entry__ as em

    df = em.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert {f.name for f in df.schema.fields} == {
        "polygon_id", "tile_z", "tile_x", "tile_y", "n_points"
    }
    qs = em.queries()
    oracles = em.oracle_sql()
    assert set(oracles) <= set(qs)
    # since round 2 EVERY query carries an exact DuckDB oracle — even
    # q_media_features (deterministic fake decoder mirrored in SQL;
    # the real codec remains stubbed per driver instruction)
    assert set(qs) == set(oracles)


def test_streaming_trip_segmentation_matches_batch(spark, tmp_path):
    """segment_trips_stream == batch segment_trips on closed segments:
    every emitted segment appears in the batch output, and the segment
    provably closed in-batch (the jump) MUST be emitted."""
    import datetime as dt

    from skyway_spark.operators.trajectory import segment_trips
    from skyway_spark.streaming.events import run_bounded, segment_trips_stream

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    ddl = "user_id long, event_id long, ts timestamp, lat double, lon double"

    def row(uid, eid, ts_min, lat, lon):
        return (uid, eid, t0 + dt.timedelta(minutes=ts_min), lat, lon)

    in_dir = str(tmp_path / "trip_in")
    # user 1: two close points, then a transatlantic jump (closes seg 1
    # IN-BATCH); user 2: a single point (closes only by timeout)
    rows1 = [row(1, 1, 0, 48.85, 2.35), row(1, 2, 5, 48.86, 2.36),
             row(1, 3, 10, 40.71, -74.0), row(2, 10, 0, 35.68, 139.69)]
    spark.createDataFrame(rows1, ddl).coalesce(1).write.mode("overwrite").parquet(in_dir)
    # file 2: user 1 returns 4 h later (gap-break for seg 2)
    rows2 = [row(1, 4, 240, 40.72, -74.01)]
    spark.createDataFrame(rows2, ddl).coalesce(1).write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema(ddl).parquet(in_dir)
    out = segment_trips_stream(stream, jump_km=700.0, gap="30 minutes",
                               watermark="10 minutes")
    out_dir = str(tmp_path / "trip_out")
    run_bounded(out, str(tmp_path / "trip_ck"), out_dir)
    got = {
        (r["user_id"], r["n_points"], r["first_id"], r["last_id"], r["path_cm"])
        for r in spark.read.parquet(out_dir).collect()
    }

    batch = spark.createDataFrame(rows1 + rows2, ddl)
    want = {
        (r["entity"], r["n_points"], r["first_id"], r["last_id"], r["path_cm"])
        for r in segment_trips(batch, jump_km=700.0, gap_us=1_800_000_000).collect()
    }
    assert got <= want, (got, want)
    # the in-batch jump-closed segment (points 1+2, ~1.3 km) is emitted
    closed = [g for g in got if g[0] == 1 and g[1] == 2]
    assert closed and closed[0][2] == 1 and closed[0][3] == 2
    assert closed[0][4] > 0  # nonzero integer path


def test_streaming_trips_survive_multi_chunk_groups(spark, tmp_path):
    """Arrow splits a big group into several chunks delivered in
    shuffle order; the segmenter must sort the WHOLE group, not each
    chunk (regression: per-chunk sorting broke (ts,id) order)."""
    import datetime as dt

    from skyway_spark.operators.trajectory import segment_trips
    from skyway_spark.streaming.events import run_bounded, segment_trips_stream

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
        ddl = "user_id long, event_id long, ts timestamp, lat double, lon double"
        # 14 close-together points (one trip), then one huge jump that
        # closes it in-batch -> emitted segment must cover all 14
        rows = [
            (1, i, t0 + dt.timedelta(minutes=i), 10.0, 10.0 + i * 0.001)
            for i in range(14)
        ] + [(1, 99, t0 + dt.timedelta(minutes=20), -40.0, 120.0)]
        # SCRAMBLED write order: per-chunk sorting then sees
        # time-discontiguous chunks and fragments the segment — this
        # reversal is what makes the test fail on the pre-fix code
        rows = rows[::-1]
        in_dir = str(tmp_path / "chunk_in")
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode("overwrite").parquet(in_dir)
        stream = spark.readStream.schema(ddl).parquet(in_dir)
        out = segment_trips_stream(stream, jump_km=500.0, gap="30 minutes")
        out_dir = str(tmp_path / "chunk_out")
        run_bounded(out, str(tmp_path / "chunk_ck"), out_dir)
        got = {
            (r["n_points"], r["first_id"], r["last_id"], r["path_cm"])
            for r in spark.read.parquet(out_dir).collect()
        }
        batch = {
            (r["n_points"], r["first_id"], r["last_id"], r["path_cm"])
            for r in segment_trips(
                spark.createDataFrame(rows, ddl), jump_km=500.0, gap_us=1_800_000_000
            ).collect()
        }
        assert (14, 0, 13) in {(n, f, l) for n, f, l, _ in got}
        assert got <= batch
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
