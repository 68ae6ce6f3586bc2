"""Checkpoint/resume, pipeline job, entry contract."""

from __future__ import annotations

import json
import os

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


def test_checkpoint_kill_between_data_and_manifest(spark, tmp_path):
    """A stage whose manifest is missing (crash window) recomputes."""
    root = str(tmp_path / "ckpt2")
    cm = CheckpointManager(root)
    cm.stage(spark, "s1", "fp", lambda: spark.range(10))
    os.remove(f"{root}/s1/_MANIFEST.json")  # the crash-before-manifest state
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
    os.remove(f"{ckpt}/tiles/_MANIFEST.json")
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
        "skyway_spark.sources.opl; "
        "print('zip-ok')"
    )
    r = subprocess.run(
        [_sys.executable, "-c", code, str(z1)],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
    )
    assert r.returncode == 0 and "zip-ok" in r.stdout, r.stderr


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


def test_pipeline_stores_page_text_once(spark, tmp_path):
    """Only the pages checkpoint stores ``text``: every extract row's
    url is found there, and extraction over the stored pages carries
    each page's text byte for byte."""
    from jobs.run_pipeline import run
    from skyway_spark.operators.extract import extract_geo_entities

    ckpt = str(tmp_path / "ck")
    run(500, str(tmp_path / "out"), ckpt)
    pages = spark.read.parquet(f"{ckpt}/pages/data")
    ents = spark.read.parquet(f"{ckpt}/extract/data")
    assert "text" in pages.columns
    assert "text" not in ents.columns
    assert "text" not in spark.read.parquet(f"{ckpt}/filter/data").columns
    assert pages.count() == pages.select("url").distinct().count()
    assert ents.count() > 0
    assert ents.join(pages, "url", "left_anti").count() == 0
    got = extract_geo_entities(pages).alias("e").join(pages.alias("p"), "url")
    assert got.count() == ents.count()
    assert got.where(~F.col("e.text").eqNullSafe(F.col("p.text"))).count() == 0


def test_opl_sample_independent_of_partitioning(spark, monkeypatch):
    """The pipeline's OPL stage keeps the first OPL_ROWS elements in
    canonical (type, id) order, so two partitionings of the same pages
    write the same lines."""
    from jobs import run_pipeline
    from skyway_spark.operators.extract import pages_to_elements
    from skyway_spark.sources.generate import generate_pages
    from skyway_spark.sources.opl import serialize_opl

    monkeypatch.setattr(run_pipeline, "OPL_ROWS", 50)
    pages = generate_pages(spark, 400, partitions=1)
    lines = [r["value"] for r in run_pipeline.opl_sample(pages).collect()]
    every = [r["value"] for r in serialize_opl(pages_to_elements(pages)).collect()]
    assert len(every) > 50 and lines == every[:50]
    for parts in (3, 8):
        other = generate_pages(spark, 400, partitions=parts).repartition(parts)
        assert [r["value"] for r in run_pipeline.opl_sample(other).collect()] == lines
