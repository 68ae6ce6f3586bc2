"""``local_frame``: every driver-built DataFrame is an Arrow
``LocalRelation`` with its exact schema, and schema checking stays as
strict as ``createDataFrame`` over a row list."""

from __future__ import annotations

import inspect
from pathlib import Path

import pytest

from skyway_spark.operators.pip import point_in_polygon
from skyway_spark.plans.session import local_frame
from skyway_spark.schema import ELEMENTS_SCHEMA, POLYGONS_SCHEMA
from skyway_spark.sources import jsonio, xmlio
from skyway_spark.sources.generate import (
    element_rows,
    generate_elements,
    generate_polygons,
)

PACKAGE = Path(__file__).resolve().parents[1] / "skyway_spark"


def _relation(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def _with(row: tuple, i: int, value) -> tuple:
    r = list(row)
    r[i] = value
    return tuple(r)


@pytest.fixture(scope="module")
def rows():
    rs = element_rows(n_nodes=3, n_ways=3, n_rels=3)
    return {t: next(r for r in rs if r[0] == t) for t in ("node", "way", "relation")}


@pytest.mark.parametrize(
    "kind,field,value",
    [
        ("node", "id", None),
        ("way", "nodes", [1, None]),
        ("node", "tags", {"k": None}),
        ("relation", "members", [("node", None, "r")]),
    ],
    ids=["id", "nodes-element", "tags-value", "member-ref"],
)
def test_null_in_non_nullable_position_raises(spark, rows, kind, field, value):
    i = ELEMENTS_SCHEMA.fieldNames().index(field)
    with pytest.raises(ValueError):
        local_frame(spark, [rows[kind], _with(rows[kind], i, value)], ELEMENTS_SCHEMA)


def test_out_of_range_and_wrong_type_raise(spark, rows):
    uid = ELEMENTS_SCHEMA.fieldNames().index("uid")
    with pytest.raises(ValueError):
        local_frame(spark, [_with(rows["node"], uid, 2**31)], ELEMENTS_SCHEMA)
    with pytest.raises(TypeError):  # Arrow would truncate 1.5 to 1
        jsonio.parse_json_document(
            spark, '{"elements": [{"type": "node", "id": 1, "lat": 0, "lon": 0, "uid": 1.5}]}'
        )


def test_schema_exact_and_ddl(spark, rows):
    df = local_frame(spark, list(rows.values()), ELEMENTS_SCHEMA)
    assert df.schema == ELEMENTS_SCHEMA
    assert _relation(df) == "LocalRelation"
    empty = local_frame(spark, [], "term string, n long")
    assert empty.schema.simpleString() == "struct<term:string,n:bigint>"
    assert empty.count() == 0


def test_readers_and_generators_are_local_relations(spark):
    json_doc = '{"elements": [{"type": "node", "id": 1, "lat": 1.5, "lon": 2.5}]}'
    xml_doc = '<osm version="0.6"><node id="1" lat="1.5" lon="2.5"/></osm>'
    frames = {
        "read_json": jsonio.parse_json_document(spark, json_doc)[0],
        "read_xml": xmlio.parse_xml_document(spark, xml_doc)[0],
        "generate_elements": generate_elements(spark),
        "generate_polygons": generate_polygons(spark),
    }
    assert {k: _relation(df) for k, df in frames.items()} == dict.fromkeys(
        frames, "LocalRelation"
    )
    assert frames["read_json"].schema == ELEMENTS_SCHEMA
    assert frames["generate_polygons"].schema == POLYGONS_SCHEMA


def _pip_build_jobs(spark, polygons) -> list:
    points = local_frame(spark, [(1, 40.7, -74.0)], "id long, lat double, lon double")
    sc = spark.sparkContext
    group = "test-pip-build-jobs"
    sc.setJobGroup(group, group)
    try:
        point_in_polygon(points, polygons, res=6)
    finally:
        sc.setJobGroup(None, None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_pip_build_over_generated_polygons_runs_no_job(spark):
    """Collecting the polygon rings of a ``LocalRelation`` needs no
    Spark job; an RDD of pickled rows needed one per build."""
    assert _pip_build_jobs(spark, generate_polygons(spark, n_scatter=4)) == []


def test_pip_build_over_registry_polygons_runs_no_job(spark):
    """The query registry's literal polygons (``q_pip``, ``q_pip_agg``,
    ``q_pipeline_exact``, ``entry``) are a ``LocalRelation`` too."""
    import __spark_entry__ as se

    polygons = se._pip_polygons_df(spark)
    assert _relation(polygons) == "LocalRelation"
    assert _pip_build_jobs(spark, polygons) == []


def test_create_data_frame_only_inside_local_frame():
    """A new driver-built frame must go through ``local_frame`` rather
    than fall back to an RDD of pickled rows."""
    calls = {
        path.relative_to(PACKAGE).as_posix(): n
        for path in PACKAGE.rglob("*.py")
        if (n := path.read_text().count("createDataFrame("))
    }
    assert calls == {"plans/session.py": 1}, calls
    assert "createDataFrame(" in inspect.getsource(local_frame)
