"""Converter tests: the reference's 9 byte-level unit vectors ported
verbatim, layout rules, and full write->read->equal round-trips on the
300-row fixture table."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from skyway_spark.schema import empty_metadata
from skyway_spark.sources import convert, jsonio, opl, pbf, xmlio
from skyway_spark.sources.generate import generate_elements

# ---------------- reference unit vectors (src/readers/opl.rs:248-255,
# src/writers/opl.rs:197-233) ----------------


def test_unescape_str_vectors():
    assert opl.unescape_opl("%20%") == " "
    assert opl.unescape_opl("%2c%") == ","
    assert opl.unescape_opl("%2c%%2c%") == ",,"
    assert opl.unescape_opl("%1f631%") == "😱"
    assert opl.unescape_opl("%12108%") == "𒄈"
    # char::from_u32 rejects surrogates and values above 0x10FFFF alike
    assert opl.unescape_opl("a%d800%b%dfff%%110000%%ffffffffffffffffff%") == "ab"


def test_escape_char_vectors():
    for c in [" ", "\n", ",", "=", "@", "%", "😱"]:
        assert opl.should_escape_char(c) is True
    assert opl.escape_opl(" ") == "%20%"
    assert opl.escape_opl(",") == "%2c%"
    assert opl.escape_opl("😱") == "%1f631%"
    assert opl.escape_opl("𒄈") == "%12108%"


def test_escape_string_vectors():
    assert opl.escape_opl("A,B") == "A%2c%B"
    assert opl.escape_opl("ohmy😱goodness") == "ohmy%1f631%goodness"


# ---------------- layout rules ----------------


@pytest.fixture(scope="module")
def elements(spark):
    return generate_elements(spark).cache()


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        ("node", 1, 37.5, -122.25, None, None, {"amenity": "cafe", "name": "a b"},
         77, 9, "ann e", 3, "2024-01-01T00:00:00Z", True),
        ("node", 2, -1.5, 3.25, None, None, {}, None, None, None, None, None, False),
        ("way", 10, None, None, [1, 2, 1], None, {"highway": "path"},
         None, None, None, None, None, None),
        ("relation", 20, None, None, None,
         [("node", 1, "stop"), ("way", 10, None), ("relation", 21, "")],
         {"type": "route"}, 5, None, None, 1, None, True),
    ]
    from skyway_spark.schema import ELEMENTS_SCHEMA

    return spark.createDataFrame(rows, ELEMENTS_SCHEMA)


def test_opl_layout(tiny):
    lines = convert.serialize_string(tiny, "opl").splitlines()
    # node: x(lon) BEFORE y(lat); ' T' always present even with 0 tags
    assert lines[0] == "n1 v3 dV c77 t2024-01-01T00:00:00Z i9 uann%20%e Tamenity=cafe,name=a%20%b x-122.25 y37.5"
    assert lines[1] == "n2 dD T x3.25 y-1.5"
    assert lines[2] == "w10 Thighway=path Nn1,n2,n1"
    # member role None -> nothing after '@' (reference TODO keeps '@')
    assert lines[3] == "r20 v1 dV c5 Ttype=route Mn1@stop,w10@,r21@"


def test_writers_reject_node_without_coordinates(spark, tmp_path):
    """A node whose lat or lon is null or NaN (the OPL reader accepts
    both) fails every writer with an error naming the node; +-inf is
    written as today."""
    from skyway_spark.schema import ELEMENTS_SCHEMA

    def node(i, lat, lon):
        return ("node", i, lat, lon, None, None, {}, None, None, None, None, None, None)

    inf = spark.createDataFrame([node(1, float("inf"), float("-inf"))], ELEMENTS_SCHEMA)
    assert convert.serialize_string(inf, "opl") == "n1 T x-inf yinf\n"
    for i, lat, lon in ((2, float("nan"), 2.5), (3, 1.5, None)):
        df = spark.createDataFrame([node(1, 0.5, 2.5), node(i, lat, lon)], ELEMENTS_SCHEMA)
        for write in (
            lambda d: convert.serialize_string(d, "opl"),
            lambda d: convert.write_elements(d, str(tmp_path / f"out{i}.opl")),
            lambda d: convert.serialize_string(d, "json"),
            lambda d: convert.serialize_string(d, "xml"),
        ):
            with pytest.raises(Exception, match=f"node {i}: lat or lon is null or NaN"):
                write(df)


def test_json_layout(tiny):
    s = convert.serialize_string(tiny, "json", {"generator": "g", "copyright": "c",
                                                "license": "l", "version": None,
                                                "timestamp": None})
    # OSM header: string version
    assert s.startswith('{"generator":"g","copyright":"c","license":"l","version":"0.6","elements":[')
    doc = json.loads(s)
    els = doc["elements"]
    # visible only-if-false
    assert "visible" not in els[0]
    assert els[1]["visible"] is False
    # empty tags object omitted
    assert "tags" not in els[1]
    # role null -> ""
    rel = els[3]
    assert rel["members"][1]["role"] == ""
    assert rel["members"][0] == {"ref": 1, "type": "node", "role": "stop"}
    # exact field order for the node element
    raw_node = s.split('"elements":[')[1]
    assert raw_node.startswith(
        '{"type":"node","lat":37.5,"lon":-122.25,"id":1,"changeset":77,'
        '"timestamp":"2024-01-01T00:00:00Z","uid":9,"user":"ann e",'
        '"tags":{"amenity":"cafe","name":"a b"}}'
    )


def test_overpass_header(tiny):
    s = convert.serialize_string(
        tiny,
        "overpass",
        {"generator": "g", "copyright": "c", "timestamp": "T0", "version": None, "license": None},
    )
    # numeric version + osm3s block
    assert s.startswith(
        '{"generator":"g","osm3s":{"timestamp_osm_base":"T0","copyright":"c"},"version":0.6,"elements":['
    )
    json.loads(s)  # valid JSON


def test_xml_layout(tiny):
    s = convert.serialize_string(tiny, "xml", {"version": "0.6", "generator": "g",
                                               "copyright": None, "license": None,
                                               "timestamp": None})
    assert s.startswith('<?xml version="1.0" encoding="UTF-8"?><osm version="0.6" generator="g">')
    # nodes then ways then relations; visible null -> "true"
    i_node = s.index("<node")
    i_way = s.index("<way")
    i_rel = s.index("<relation")
    assert i_node < i_way < i_rel
    assert '<way id="10" visible="true">' in s
    # node attr order: lat lon id ... ; visible false stays false
    assert '<node lat="-1.5" lon="3.25" id="2" visible="false"/>' in s
    assert '<member type="node" ref="1" role="stop"/>' in s
    # member with null role omits the attr
    assert '<member type="way" ref="10"/>' in s


# ---------------- round-trips on the 300-row fixture ----------------


def _canon(df):
    rank = F.when(F.col("type") == "node", 0).when(F.col("type") == "way", 1).otherwise(2)
    return [
        (r["type"], r["id"], r["lat"], r["lon"], r["nodes"],
         [tuple(m) for m in r["members"]] if r["members"] is not None else None,
         dict(r["tags"]), r["changeset"], r["uid"], r["user"], r["version"],
         r["timestamp"], r["visible"])
        for r in df.orderBy(rank, "id").collect()
    ]


def test_opl_roundtrip(spark, elements, tmp_path):
    p = str(tmp_path / "rt.opl")
    # extra inputs among the fixture lines: an interior blank line, a
    # zero-node way and an empty-M relation
    extra = ["", "w900001 N", "r900002 M"]
    with open(p, "w") as f:
        body = convert.serialize_string(elements, "opl").splitlines()
        f.write("\n".join(body[:5] + extra + body[5:]) + "\n")
    back, md = opl.read_opl(spark, p)
    assert back.count() == elements.count() + len(extra)
    (blank,) = back.where(F.col("type").isNull()).collect()
    assert all(v is None for k, v in blank.asDict().items() if k != "tags")
    assert blank["tags"] == {}
    by_id = {r["id"]: r for r in back.where(F.col("id") >= 900001).collect()}
    assert by_id[900001]["type"] == "way" and by_id[900001]["nodes"] == []
    assert by_id[900002]["type"] == "relation" and by_id[900002]["members"] == []
    back = back.where(F.col("type").isNotNull() & (F.col("id") < 900001))
    want = _canon(elements)
    got = _canon(back)
    assert len(want) == len(got)
    for w, g in zip(want, got):
        w_adj = list(w)
        # member role None -> "": writer emits nothing after '@'
        # (opl.rs:158-162 TODO) and the reference reader always wraps
        # the role in Some (src/readers/opl.rs:196)
        if w_adj[5] is not None:
            w_adj[5] = [(t, r, "" if role is None else role) for (t, r, role) in w_adj[5]]
        assert g == tuple(w_adj), f"\nwant {tuple(w_adj)}\ngot  {g}"
    assert md == empty_metadata()


def test_json_roundtrip(spark, elements, tmp_path):
    p = str(tmp_path / "rt.json")
    md_in = {"version": "0.6", "generator": "skyway_spark", "copyright": "c",
             "license": "l", "timestamp": None}
    with open(p, "w") as f:
        f.write(convert.serialize_string(elements, "json", md_in))
    back, md = jsonio.read_json(spark, p)
    want = _canon(elements)
    got = _canon(back)
    assert len(want) == len(got)
    for w, g in zip(want, got):
        # JSON emits visible only-if-false: True/None both read back None
        w_adj = list(w)
        if w_adj[12] is True:
            w_adj[12] = None
        # the reference JSON writer never emits element version
        # (append_serialized_element, json.rs:140-188) -> lossy by design
        w_adj[10] = None
        # member role None -> "" on write (json.rs:130-134)
        if w_adj[5] is not None:
            w_adj[5] = [(t, r, "" if role is None else role) for (t, r, role) in w_adj[5]]
        assert g == tuple(w_adj), f"\nwant {tuple(w_adj)}\ngot  {g}"
    assert md["generator"] == "skyway_spark"
    assert md["copyright"] == "c"
    assert md["version"] == "0.6"


def test_xml_roundtrip(spark, elements, tmp_path):
    p = str(tmp_path / "rt.xml")
    md_in = {"version": "0.6", "generator": "g", "copyright": None, "license": None,
             "timestamp": None}
    with open(p, "w") as f:
        f.write(convert.serialize_string(elements, "xml", md_in))
    back, md = xmlio.read_xml(spark, p)
    want = _canon(elements)
    got = _canon(back)
    assert len(want) == len(got)
    for w, g in zip(want, got):
        # XML defaults visible null -> true on write (xml.rs:172)
        w_adj = list(w)
        if w_adj[12] is None:
            w_adj[12] = True
        assert g == tuple(w_adj), f"\nwant {tuple(w_adj)}\ngot  {g}"
    assert md["version"] == "0.6"


def test_overpass_roundtrip(spark, elements, tmp_path):
    p = str(tmp_path / "rt_op.json")
    md_in = {"version": None, "generator": "overpass-ish", "copyright": "cr",
             "license": None, "timestamp": "2024-02-02T00:00:00Z"}
    with open(p, "w") as f:
        f.write(convert.serialize_string(elements, "overpass", md_in))
    back, md = jsonio.read_json(spark, p)
    assert back.count() == elements.count()
    # numeric version 0.6 read back as string (reference version
    # deserializer accepts number-or-string, json.rs:82-99)
    assert md["version"] == "0.6"
    assert md["timestamp"] == "2024-02-02T00:00:00Z"
    assert md["copyright"] == "cr"


def test_dispatch(spark, elements, tmp_path):
    with pytest.raises(FileNotFoundError):
        convert.read_pbf(spark, "whatever.pbf")
    with pytest.raises(ValueError):
        convert.serialize_string(elements, "o5m")
    s = convert.serialize_string(elements.limit(3), "opl")
    assert s.count("\n") == 3


def test_cross_format_consistency(spark, elements, tmp_path):
    """The SAME element set serialized to OPL, OSM-JSON, and XML and
    read back through each reader yields identical canonical rows —
    formats are views, not sources of truth. (Caveats encoded: OPL
    drops nothing here because the fixture has no None-typed members;
    XML defaults null visible to true on write, so visible is
    compared with that rule applied.)"""
    from pathlib import Path

    def canon(df, visible_defaulted):
        rows = {}
        for r in df.collect():
            vis = r["visible"]
            if visible_defaulted and vis is None:
                vis = True
            rows[(r["type"], r["id"])] = (
                dict(r["tags"]),
                r["lat"], r["lon"],
                tuple(r["nodes"]) if r["nodes"] is not None else None,
                # role None normalizes to "" — OPL writes nothing
                # after '@' (opl.rs:158-162 TODO) and JSON writes ""
                # (json.rs:130-134), so "" is the canonical form
                tuple(
                    (m["type"], m["ref"], m["role"] or "")
                    for m in (r["members"] or [])
                ) or None,
                vis if visible_defaulted else (True if vis is None else vis),
            )
        return rows

    base = canon(elements, visible_defaulted=True)

    p_opl = str(tmp_path / "x.opl")
    Path(p_opl).write_text(convert.serialize_string(elements, "opl"))
    opl_back, _ = convert.read_elements(spark, p_opl)
    assert canon(opl_back, True) == base

    p_json = str(tmp_path / "x.json")
    Path(p_json).write_text(convert.serialize_string(elements, "json"))
    json_back, _ = convert.read_elements(spark, p_json)
    assert canon(json_back, True) == base

    p_xml = str(tmp_path / "x.xml")
    Path(p_xml).write_text(convert.serialize_string(elements, "xml"))
    xml_back, _ = convert.read_elements(spark, p_xml)
    assert canon(xml_back, True) == base


def test_opl_permissive_corrupt_records(spark):
    """Malformed OPL lines read PERMISSIVE-style, their unparseable
    fields null, not a job abort — reference panics instead
    (opl.rs:112,204)."""
    from skyway_spark.schema import ELEMENTS_SCHEMA

    lines = spark.createDataFrame(
        [("n7 Ta=b x1.0 y2.0",), ("garbage line",), ("zzz9 T",), ("w8 T Nn1,n2",)],
        "value string",
    )
    parsed = opl.parse_opl_lines(lines)
    out = parsed.collect()
    good = {r["id"]: r for r in out if r["id"] is not None}
    bad = [r for r in out if r["id"] is None]
    assert set(good) == {7, 8}
    assert good[7]["type"] == "node" and good[7]["lat"] == 2.0
    assert len(bad) == 2 and all(r["type"] is None for r in bad)
    assert parsed.columns == ELEMENTS_SCHEMA.fieldNames()


def test_opl_permissive_bad_member_ref(spark):
    """Non-numeric member refs ('Mn@role', 'Mnx@role') must read as null
    members, not abort the job: pandas UDFs are evaluated eagerly, so
    the member parser itself has to tolerate them (cannot hide behind
    F.when)."""
    lines = spark.createDataFrame(
        [
            ("r5 v1 Mnx@outer Ta=b",),   # non-numeric ref -> corrupt
            ("r6 v1 Mn@outer",),          # empty ref -> corrupt
            ("r7 v1 Mn1@inner,w2@ Tk=v",),  # well-formed -> parsed
        ],
        "value string",
    )
    out = {r["id"]: r for r in opl.parse_opl_lines(lines).collect()}
    assert [m["ref"] for m in out[7]["members"]] == [1, 2]
    # members null, the rest of the line parsed
    assert out[5]["members"] is None and out[5]["type"] == "relation"
    assert out[5]["tags"] == {"a": "b"}
    assert out[6]["members"] is None and out[6]["version"] == 1


def test_opl_escaped_surrogate_is_dropped(spark):
    """An escaped lone surrogate cannot cross into Arrow; it is dropped
    like any other invalid code point instead of failing the job."""
    lines = spark.createDataFrame([("n1 Tname=a%d800%b",)], "value string")
    assert opl.parse_opl_lines(lines).collect()[0]["tags"] == {"name": "ab"}


def test_opl_member_ref_grammar_is_try_cast(spark):
    """Member refs follow ``try_cast(... as bigint)``: ``members`` is
    null exactly on the lines whose ref ``try_cast`` reads as null, and
    every parsed ref equals ``try_cast`` of its text. So a ref past
    int64 does not abort the job (Python's ``int`` would overflow
    int64), and ``1_0`` and ``٥`` are malformed (``int`` reads 10, 5)."""
    import random

    rng = random.Random(6)
    fixed = [
        "99999999999999999999", "1_0", "٥", "١٢", "+5", "-0", "007", "\x015", "5\x01",
        "\t5", "5\x7f", "5\x85", "　5", "1.5", "1e3", "0x10", "", "+", "-",
    ] + [str(sign * 2**63 + k) for sign in (1, -1) for k in (-2, -1, 0, 1)]
    pieces = ["+", "-", "_", "0", "1", "9", "٥", "\x00", "\x1f", "\t", "　", "."]
    refs = fixed + [
        "".join(rng.choice(pieces) for _ in range(rng.randint(1, 5))) for _ in range(150)
    ] + [str(rng.randint(-(2**64), 2**64)) for _ in range(50)]
    lines = spark.createDataFrame(
        [(i, f"r{i} v1 Mn{ref}@x,w2@ Ta=b") for i, ref in enumerate(refs)],
        "i long, value string",
    )
    want = {
        r["i"]: r["ref"]
        for r in spark.createDataFrame(list(enumerate(refs)), "i long, s string")
        .select("i", F.col("s").try_cast("long").alias("ref"))
        .collect()
    }
    got = {r["id"]: r["members"] for r in opl.parse_opl_lines(lines).collect()}
    assert set(got) == set(want)
    for i, members in got.items():
        assert (members is None) == (want[i] is None), refs[i]
        if members is not None:
            assert [(m["type"], m["ref"]) for m in members] == [
                ("node", want[i]), ("way", 2)
            ], refs[i]


def test_writers_keep_changeset_past_2_53_beside_a_null(spark):
    """A null changeset in the same Arrow batch must not push the column
    through float64: 2**53 + 1 is written exactly by all three writers."""
    from skyway_spark.plans.session import local_frame
    from skyway_spark.schema import ELEMENTS_SCHEMA

    big = 2**53 + 1
    row = ("node", 1, 1.0, 2.0, None, None, {}, big, None, None, None, None, None)
    df = local_frame(spark, [row, ("node", 2, *row[2:7], None, *row[8:])], ELEMENTS_SCHEMA)
    df = df.coalesce(1)
    for col in (opl.opl_line(df), jsonio.element_json_col(df), xmlio.element_xml_col(df)):
        out = [r[0] for r in df.select(col).collect()]
        assert str(big) in out[0], out[0]
        assert str(big - 1) not in "".join(out)


def _element_dicts(rows) -> list[dict]:
    """``element_rows`` tuples -> ``encode_pbf`` element dicts (PBF
    stores timestamps as epoch values; the opaque fixture string is
    left out)."""
    from skyway_spark.schema import ELEMENTS_SCHEMA

    names = ELEMENTS_SCHEMA.fieldNames()
    out = []
    for r in rows:
        e = {k: v for k, v in zip(names, r) if v is not None and k != "timestamp"}
        if "members" in e:
            e["members"] = [{"type": t, "ref": ref, "role": role or ""} for t, ref, role in e["members"]]
        out.append(e)
    return out


@pytest.fixture(scope="module")
def cli_inputs(elements, tmp_path_factory):
    """The 300-row fixture as one OPL, JSON, XML and PBF input file."""
    from skyway_spark.sources.generate import element_rows

    d = tmp_path_factory.mktemp("cli_inputs")
    md = {"version": "0.6", "generator": "g", "copyright": "c", "license": None, "timestamp": None}
    paths = {}
    for fmt in ("opl", "json", "xml"):
        paths[fmt] = str(d / f"in.{fmt}")
        with open(paths[fmt], "w", encoding="utf-8") as f:
            f.write(convert.serialize_string(elements, fmt, md))
    paths["pbf"] = str(d / "in.pbf")
    # several blobs, so the decode and the sort span several partitions
    pbf.encode_pbf(paths["pbf"], _element_dicts(element_rows()), block_size=100)
    return paths


@pytest.fixture
def cli(spark, monkeypatch):
    """jobs/convert.py's ``main`` on the test session, with AQE partition
    coalescing off so each write makes several part files. Returns
    ``run(argv) -> part files of each write_elements call``."""
    import sys as _sys
    from pathlib import Path

    from skyway_spark.plans import session

    # jobs/convert.py is a script, imported as the top-level module
    # "convert"; it also puts its checkout's root on sys.path
    saved_path, saved_mod = _sys.path[:], _sys.modules.pop("convert", None)
    _sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    try:
        import convert as cli_mod
    finally:
        _sys.path[:] = saved_path
        _sys.modules.pop("convert", None)
        if saved_mod is not None:
            _sys.modules["convert"] = saved_mod

    monkeypatch.setattr(session, "get_spark", lambda *a, **k: spark)
    parts = []
    write_elements = convert.write_elements

    def spy(df, path, *args):
        write_elements(df, path, *args)
        parts.append(len([n for n in os.listdir(path) if n.startswith("part-")]))

    monkeypatch.setattr(convert, "write_elements", spy)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")

    def run(argv):
        parts.clear()
        assert cli_mod.main(argv) == 0
        return list(parts)

    yield run
    spark.conf.set(key, saved)


_CLI_FILTER = 'type == "node" || type == "way"'


@pytest.mark.parametrize("to", ["opl", "json", "overpass", "xml"])
@pytest.mark.parametrize("src", ["opl", "json", "xml", "pbf"])
def test_convert_cli_end_to_end(spark, cli, cli_inputs, capsys, tmp_path, src, to):
    """jobs/convert.py: read -> filter -> one document, to a file and to
    stdout, each byte for byte ``convert.serialize_string`` of the
    filtered input, assembled from at least two part files."""
    from pathlib import Path

    from skyway_spark.functions.filter import apply_filters

    flt = tmp_path / "keep.cel"
    flt.write_text(_CLI_FILTER)
    df, md = convert.read_elements(spark, cli_inputs[src])
    want = convert.serialize_string(apply_filters(df, [_CLI_FILTER]), to, md)

    out = str(tmp_path / "out.doc")
    argv = ["--input", cli_inputs[src], "--to", to, "--filter", str(flt)]
    capsys.readouterr()
    (n_parts,) = cli(argv + ["--output", out])
    assert n_parts >= 2
    assert capsys.readouterr().out == ""
    assert Path(out).read_bytes() == want.encode("utf-8")
    assert sorted(os.listdir(tmp_path)) == ["keep.cel", "out.doc"]
    (n_parts,) = cli(argv + ["--output", "-"])
    assert n_parts >= 2
    assert capsys.readouterr().out.encode("utf-8") == want.encode("utf-8")

    kept = df.where(F.col("type").isin("node", "way")).count()
    if to in ("json", "overpass"):
        doc = json.loads(want)
        assert {e["type"] for e in doc["elements"]} == {"node", "way"}
        assert len(doc["elements"]) == kept
    elif to == "opl":
        assert want.count("\n") == kept
    else:
        assert want.count("<node ") + want.count("<way ") == kept


@pytest.mark.parametrize(
    "to, want",
    [
        ("opl", ""),
        ("json", '{"version":"0.6","elements":[]}'),
        ("overpass", '{"osm3s":{},"version":0.6,"elements":[]}'),
        ("xml", '<?xml version="1.0" encoding="UTF-8"?><osm></osm>'),
    ],
    ids=["opl", "json", "overpass", "xml"],
)
def test_convert_cli_no_elements(cli, capsys, tmp_path, to, want):
    """An input with no elements: the document is the header and the
    footer alone."""
    src = tmp_path / "empty.opl"
    src.write_text("")
    out = tmp_path / "out.doc"
    cli(["--input", str(src), "--output", str(out), "--to", to])
    assert out.read_text(encoding="utf-8") == want
    capsys.readouterr()
    cli(["--input", str(src), "--output", "-", "--to", to])
    assert capsys.readouterr().out == want


def test_convert_cli_stdin_leaves_no_file(cli, cli_inputs, capsys, monkeypatch, tmp_path):
    """``--input -`` copies stdin to a temporary file for the reader;
    the run removes it (and its own temporary directory) again."""
    import io
    import sys as _sys
    import tempfile

    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmpdir))
    with open(cli_inputs["opl"], "rb") as f:
        data = f.read()
    monkeypatch.setattr(_sys, "stdin", io.TextIOWrapper(io.BytesIO(data)))
    capsys.readouterr()
    cli(["--input", "-", "--from", "opl", "--output", "-", "--to", "opl"])
    assert capsys.readouterr().out.encode("utf-8") == data
    assert os.listdir(tmpdir) == []


def test_one_line_is_one_element(spark, tmp_path):
    """Every writer escapes the newline characters inside values (OPL
    ``%a%``, JSON ``\\n``, XML ``&#10;``), so each element is one line
    of a ``write_elements`` part file and a document splits back into
    its elements."""
    import xml.etree.ElementTree as ET

    from skyway_spark.schema import ELEMENTS_SCHEMA

    nasty = "a\nb\rc\r\nd\u2028e\x85f"
    rows = [
        ("node", 1, 1.5, 2.5, None, None, {nasty: nasty}, None, None, nasty, None, None, None),
        ("way", 2, None, None, [1], None, {"k": nasty}, None, None, None, None, None, None),
        ("relation", 3, None, None, None, [("node", 1, nasty)], {}, None, None, nasty,
         None, None, None),
    ]
    df = spark.createDataFrame(rows, ELEMENTS_SCHEMA)
    for fmt in ("opl", "json", "xml"):
        path = str(tmp_path / fmt)
        convert.write_elements(df, path, fmt)
        text = "".join(
            open(os.path.join(path, n), encoding="utf-8", newline="").read()
            for n in os.listdir(path)
            if n.startswith("part-")
        )
        assert text.count("\n") == 3 and "\r" not in text, fmt
    assert len(convert.serialize_string(df, "opl").splitlines()) == 3
    back = json.loads(convert.serialize_string(df, "json"))["elements"]
    assert back[0]["tags"] == {nasty: nasty} and back[2]["members"][0]["role"] == nasty
    root = ET.fromstring(convert.serialize_string(df, "xml"))
    assert root.find("node").get("user") == nasty


def test_distributed_opl_write_read(spark, elements, tmp_path):
    out = str(tmp_path / "dist_opl")
    convert.write_elements(elements, out, fmt="opl")
    back = opl.parse_opl_lines(spark.read.text(out))
    assert back.count() == elements.count()
    assert set(back.columns) == set(elements.columns)


# ------------------- property-based (hypothesis) -------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

# any unicode except surrogates (not encodable to UTF-8)
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60
)


@given(_text)
@settings(max_examples=300, deadline=None)
def test_opl_escape_roundtrip_property(s):
    """unescape(escape(s)) == s for arbitrary unicode, and the escaped
    form never contains a char from the must-escape set."""
    esc = opl.escape_opl(s)
    assert opl.unescape_opl(esc) == s
    for ch in esc:
        if ch != "%":  # '%' delimits the escapes themselves
            assert not opl.should_escape_char(ch) or ch in "0123456789abcdef"


@given(_text)
@settings(max_examples=300, deadline=None)
def test_json_element_string_roundtrip_property(s):
    """The hand-built JSON element serializer must parse back with a
    standard JSON parser, preserving arbitrary unicode tag values."""
    e = {"type": "node", "id": 1, "lat": 0.5, "lon": -0.5, "tags": {"k": s}}
    doc = json.loads(jsonio.serialize_element_py(e))
    assert doc["tags"]["k"] == s


def _decode_uvarint(buf: bytes, off: int) -> tuple[int, int]:
    shift = v = 0
    while True:
        b = buf[off]
        off += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, off
        shift += 7


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=12))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip_property(vals):
    """The PBF fixture encoder's unsigned varint decodes back (7-bit
    groups, continuation high bit) for any non-negative int64
    sequence, through both an independent decoder and the reader's."""
    buf = b"".join(pbf._wvarint(v) for v in vals)
    off, got_reader = 0, []
    while off < len(buf):
        v, off = pbf._rvarint(buf, off)
        got_reader.append(v)
    assert got_reader == vals
    got, off = [], 0
    while off < len(buf):
        v, off = _decode_uvarint(buf, off)
        got.append(v)
    assert got == vals


# ------------------- reference example corpus (end-to-end) -------------------

_EXAMPLE_JSON = "/root/reference/src/examples/example.json"


@pytest.mark.skipif(
    not os.path.exists(_EXAMPLE_JSON), reason="reference corpus not present"
)
def test_reference_example_json_end_to_end(spark, tmp_path):
    """The reference's only real-data fixture: 1.5 MB of Overpass
    output (1,551 ways) whose `bounds`/`geometry` fields the reader
    must silently ignore (src/readers/json.rs:66-80 lenient structs).
    OPL and JSON round-trips must be lossless and byte-stable."""
    els, md = jsonio.read_json(spark, _EXAMPLE_JSON)
    els = els.cache()
    # Overpass header metadata (src/readers/json.rs:101-138)
    assert md["version"] == "0.6"
    assert md["generator"].startswith("Overpass API")
    assert md["timestamp"] == "2023-12-21T17:59:38Z"
    assert "openstreetmap.org" in md["copyright"]
    # 1,551 ways, nothing else; bounds/geometry never become columns
    assert els.count() == 1551
    assert els.where(F.col("type") != "way").count() == 0
    assert set(els.columns) == {
        "type", "id", "lat", "lon", "nodes", "members", "tags",
        "changeset", "uid", "user", "version", "timestamp", "visible",
    }
    by_id = {r["id"]: r for r in els.collect()}
    # spot-check a sampled way against the raw document
    import json as _json

    with open(_EXAMPLE_JSON, encoding="utf-8") as f:
        raw = _json.load(f)
    first = raw["elements"][0]
    got = by_id[first["id"]]
    assert got["nodes"] == first["nodes"]
    assert dict(got["tags"]) == first["tags"]
    assert got["lat"] is None and got["lon"] is None  # ways carry no coords

    # OPL round-trip: serialize -> parse -> identical elements
    from skyway_spark.sources import opl as _opl

    lines1 = [r["l"] for r in els.select(_opl.opl_line(els).alias("l")).collect()]
    parsed = _opl.parse_opl_lines(
        spark.createDataFrame([(l,) for l in lines1], "value string")
    )
    assert _canon(parsed) == _canon(els)
    # byte-stability: serializing the re-parsed elements is identical
    lines2 = [r["l"] for r in parsed.select(_opl.opl_line(parsed).alias("l")).collect()]
    assert sorted(lines1) == sorted(lines2)

    # JSON round-trip through the repo writer: re-read matches
    p = str(tmp_path / "example_rt.json")
    s1 = convert.serialize_string(els, "json", md)
    with open(p, "w", encoding="utf-8") as f:
        f.write(s1)
    back, md2 = jsonio.read_json(spark, p)
    assert _canon(back) == _canon(els)
    assert md2["generator"] == md["generator"]
    # idempotence: writer output is byte-stable across a round-trip
    assert convert.serialize_string(back, "json", md2) == s1


# ------------- seeded adversarial write->read round-trip fuzz (r5) -------------
#
# The OSMFilter (300-program) and CEL (600-program) differential fuzzers
# each caught a real semantic divergence; the byte-exact writers had only
# fixed vectors.  This fuzz drives RANDOM elements — unicode tags
# including the OPL escape delimiters themselves ('%', ',', '=', '@'),
# control characters, missing optional metadata, empty strings, empty
# node/member lists, role null-vs-empty-vs-set — through full
# write->read round-trips of all three enabled writers, asserting only
# the documented lossy-by-design canonicalizations change
# (opl.rs:158-162 role TODO; json.rs:140-188 no element version,
# 165-168 visible only-if-false, 130-134 role null->""; xml.rs:172
# visible default true).

import random as _random

# strings the escape rules must defend: OPL delimiters, the escape
# marker itself and marker look-alikes, XML/JSON metacharacters,
# multi-byte and astral unicode, combining marks, bidi/line separators
_NASTY_ATOMS = [
    " ", ",", "=", "@", "%", "%%", "%20%", "%zz%", "%1f631%", "\\", '"',
    "'", "<", ">", "&", "&amp;", "&#10;", "]]>", "\t", "\n", "\r", "\r\n",
    "😱", "𒄈", "é", "中文", "á", "ß", " ", " ", "k=v",
    "a,b", "n1@x", " lead", "trail ",
]
# XML 1.0 cannot represent these at all (not even as character refs)
_CTRL_ATOMS = ["\x00", "\x01", "\x07", "\x1b", "\x7f\x02"]


def _fuzz_str(rng: _random.Random, xml_safe: bool, allow_empty: bool = True) -> str:
    if allow_empty and rng.random() < 0.08:
        return ""
    parts = []
    for _ in range(rng.randrange(1, 5)):
        r = rng.random()
        if r < 0.45:
            parts.append(rng.choice(_NASTY_ATOMS))
        elif r < 0.55 and not xml_safe:
            parts.append(rng.choice(_CTRL_ATOMS))
        elif r < 0.8:
            parts.append(
                "".join(rng.choice("abcXYZ089_-.:/") for _ in range(rng.randrange(1, 7)))
            )
        else:
            # random BMP (surrogate-free, pre-FFFE) + occasional astral
            cp = rng.randrange(0x20, 0xD7FF) if rng.random() < 0.8 else rng.randrange(
                0x10000, 0x10400
            )
            parts.append(chr(cp))
    return "".join(parts)


def _fuzz_rows(seed: int, n: int, xml_safe: bool) -> list:
    rng = _random.Random(seed)
    rows, used = [], {"node": set(), "way": set(), "relation": set()}
    for _ in range(n):
        t = rng.choice(("node", "way", "relation"))
        while True:
            eid = rng.choice(
                (rng.randrange(1, 1000), rng.randrange(-(2**40), 2**40), rng.randrange(2**50))
            )
            if eid not in used[t]:
                used[t].add(eid)
                break
        lat = lon = nodes = members = None
        if t == "node":
            lat = rng.choice((rng.uniform(-90, 90), 0.0, -0.0, 1e-12, 89.999999, -3.5))
            lon = rng.choice((rng.uniform(-180, 180), 0.25, -179.999999, float(rng.randrange(-180, 180))))
        elif t == "way":
            nodes = [rng.randrange(-(2**40), 2**40) for _ in range(rng.randrange(0, 6))]
        else:
            members = [
                (
                    rng.choice(("node", "way", "relation")),
                    rng.randrange(-(2**40), 2**40),
                    rng.choice((None, "", _fuzz_str(rng, xml_safe))),
                )
                for _ in range(rng.randrange(0, 5))
            ]
        tags = {}
        for _ in range(rng.randrange(0, 5)):
            tags[_fuzz_str(rng, xml_safe)] = _fuzz_str(rng, xml_safe)
        changeset = None if rng.random() < 0.4 else rng.randrange(0, 2**40)
        uid = None if rng.random() < 0.4 else rng.randrange(0, 2**31 - 1)
        user = None if rng.random() < 0.3 else _fuzz_str(rng, xml_safe)
        version = None if rng.random() < 0.4 else rng.randrange(0, 2**31 - 1)
        timestamp = (
            None
            if rng.random() < 0.4
            else "%04d-%02d-%02dT%02d:%02d:%02dZ"
            % (
                rng.randrange(1970, 2038), rng.randrange(1, 13), rng.randrange(1, 29),
                rng.randrange(24), rng.randrange(60), rng.randrange(60),
            )
        )
        visible = rng.choice((None, True, False))
        rows.append(
            (t, eid, lat, lon, nodes, members, tags, changeset, uid, user,
             version, timestamp, visible)
        )
    return rows


@pytest.fixture(scope="module")
def fuzz_elements(spark):
    from skyway_spark.schema import ELEMENTS_SCHEMA

    return spark.createDataFrame(_fuzz_rows(20260821, 320, xml_safe=False), ELEMENTS_SCHEMA).cache()


@pytest.fixture(scope="module")
def fuzz_elements_xmlsafe(spark):
    from skyway_spark.schema import ELEMENTS_SCHEMA

    return spark.createDataFrame(_fuzz_rows(9120821, 320, xml_safe=True), ELEMENTS_SCHEMA).cache()


def test_fuzz_opl_roundtrip(spark, fuzz_elements, tmp_path):
    p = str(tmp_path / "fuzz.opl")
    with open(p, "w", encoding="utf-8") as f:
        f.write(convert.serialize_string(fuzz_elements, "opl"))
    back, _ = opl.read_opl(spark, p)
    want, got = _canon(fuzz_elements), _canon(back)
    assert len(want) == len(got)
    for w, g in zip(want, got):
        w_adj = list(w)
        if w_adj[5] is not None:  # role None -> "" (opl.rs:158-162 TODO)
            w_adj[5] = [(t, r, "" if role is None else role) for (t, r, role) in w_adj[5]]
        assert g == tuple(w_adj), f"\nwant {tuple(w_adj)}\ngot  {g}"


def test_fuzz_json_roundtrip(spark, fuzz_elements, tmp_path):
    p = str(tmp_path / "fuzz.json")
    md_in = {"version": "0.6", "generator": "fuzz", "copyright": None,
             "license": None, "timestamp": None}
    with open(p, "w", encoding="utf-8") as f:
        f.write(convert.serialize_string(fuzz_elements, "json", md_in))
    back, _ = jsonio.read_json(spark, p)
    want, got = _canon(fuzz_elements), _canon(back)
    assert len(want) == len(got)
    for w, g in zip(want, got):
        w_adj = list(w)
        if w_adj[12] is True:  # visible only-if-false (json.rs:165-168)
            w_adj[12] = None
        w_adj[10] = None  # element version never written (json.rs:140-188)
        if w_adj[5] is not None:  # role null -> "" (json.rs:130-134)
            w_adj[5] = [(t, r, "" if role is None else role) for (t, r, role) in w_adj[5]]
        assert g == tuple(w_adj), f"\nwant {tuple(w_adj)}\ngot  {g}"


def test_fuzz_xml_roundtrip(spark, fuzz_elements_xmlsafe, tmp_path):
    p = str(tmp_path / "fuzz.xml")
    md_in = {"version": "0.6", "generator": "fuzz", "copyright": None,
             "license": None, "timestamp": None}
    with open(p, "w", encoding="utf-8") as f:
        f.write(convert.serialize_string(fuzz_elements_xmlsafe, "xml", md_in))
    back, _ = xmlio.read_xml(spark, p)
    want, got = _canon(fuzz_elements_xmlsafe), _canon(back)
    assert len(want) == len(got)
    for w, g in zip(want, got):
        w_adj = list(w)
        if w_adj[12] is None:  # visible default true on write (xml.rs:172)
            w_adj[12] = True
        assert g == tuple(w_adj), f"\nwant {tuple(w_adj)}\ngot  {g}"


def test_fuzz_opl_field_order_and_escapes(fuzz_elements):
    """Writer-side invariants on every fuzz line: field order is the
    reference's fixed order (opl.rs:78-109), every token except the
    first is introduced by its prefix letter, and no unescaped
    delimiter survives outside its structural position."""
    lines = convert.serialize_string(fuzz_elements, "opl").splitlines()
    assert len(lines) == 320
    order = "vdctiuTNMxy"
    for ln in lines:
        toks = ln.split(" ")
        assert toks[0][0] in "nwr" and int(toks[0][1:]) is not None
        seen = [t[0] for t in toks[1:]]
        assert seen == sorted(seen, key=order.index), ln
        # tags token: every k=v entry has exactly one unescaped '='
        for t in toks[1:]:
            if t.startswith("T") and len(t) > 1:
                for entry in t[1:].split(","):
                    assert entry.count("=") == 1, ln
