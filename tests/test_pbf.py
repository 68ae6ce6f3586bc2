"""PBF reader: pure-Python protobuf/zlib decode, blob-parallel via
mapInArrow, round-tripped through the local fixture encoder.

Parity: reference src/readers/pbf.rs (dense + plain nodes, ways,
relations); unlike the reference we also decode user/timestamp
(pbf.rs:50,53 leaves them None // TODO).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skyway_spark.schema import ELEMENTS_SCHEMA
from skyway_spark.sources.generate import generate_elements
from skyway_spark.sources.pbf import (
    decode_primitive_block,
    encode_pbf,
    read_pbf,
    read_pbf_metadata,
    scan_blob_index,
)

ELS = [
    {"type": "node", "id": 1, "lat": 51.5, "lon": -0.12,
     "tags": {"amenity": "cafe", "name": "Café \U0001f631"}},
    {"type": "node", "id": 2, "lat": -23.55, "lon": -46.63, "tags": {}},
    {"type": "node", "id": 100, "lat": 35.6762001, "lon": 139.6503002,
     "tags": {"k": "v"}},
    {"type": "way", "id": 10, "nodes": [1, 2, 100],
     "tags": {"highway": "tertiary"}, "version": 3, "changeset": 77,
     "uid": 5, "user": "alice", "visible": True,
     "timestamp_ms": 1700000000000},
    {"type": "relation", "id": 20,
     "members": [{"type": "node", "ref": 1, "role": "outer"},
                 {"type": "way", "ref": 10, "role": ""}],
     "tags": {"type": "route"}},
]


@pytest.fixture(scope="module")
def pbf_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("pbf") / "fixture.osm.pbf")
    encode_pbf(p, ELS, dense=True, block_size=2)
    return p


def test_blob_index_and_metadata(pbf_path):
    idx = scan_blob_index(pbf_path)
    types = [t for _, _, _, t in idx]
    assert types[0] == "OSMHeader"
    assert types.count("OSMData") == 3  # block_size=2 over 5 elements
    meta = read_pbf_metadata(pbf_path)
    assert meta["generator"] == "skyway_spark-fixture"
    assert "DenseNodes" in meta["features"]


def test_read_pbf_elements(spark, pbf_path):
    df = read_pbf(spark, pbf_path)
    assert df.schema == ELEMENTS_SCHEMA
    rows = {(r["type"], r["id"]): r for r in df.collect()}
    assert set(rows) == {("node", 1), ("node", 2), ("node", 100),
                         ("way", 10), ("relation", 20)}
    n1 = rows[("node", 1)]
    assert abs(n1["lat"] - 51.5) < 1e-7 and abs(n1["lon"] + 0.12) < 1e-7
    assert n1["tags"] == {"amenity": "cafe", "name": "Café \U0001f631"}
    w = rows[("way", 10)]
    assert w["nodes"] == [1, 2, 100]
    # full info fidelity (reference drops user/timestamp, pbf.rs:50,53)
    assert (w["version"], w["changeset"], w["uid"], w["user"], w["visible"]) == (
        3, 77, 5, "alice", True)
    assert w["timestamp"] == "2023-11-14T22:13:20Z"
    rel = rows[("relation", 20)]
    assert [(m["type"], m["ref"], m["role"]) for m in rel["members"]] == [
        ("node", 1, "outer"), ("way", 10, "")]


def test_dense_and_plain_nodes_agree(spark, tmp_path):
    p_dense = str(tmp_path / "d.osm.pbf")
    p_plain = str(tmp_path / "p.osm.pbf")
    encode_pbf(p_dense, ELS, dense=True)
    encode_pbf(p_plain, ELS, dense=False)
    a = sorted(map(tuple, read_pbf(spark, p_dense)
                   .select("type", "id", "lat", "lon", "tags").collect()))
    b = sorted(map(tuple, read_pbf(spark, p_plain)
                   .select("type", "id", "lat", "lon", "tags").collect()))
    assert a == b


def test_round_trip_generated_elements(spark, tmp_path):
    """300 mixed generated elements -> pbf -> read back: ids, tags,
    refs, members and 1e-7-granularity coords survive."""
    src = generate_elements(spark)
    els = []
    for r in src.collect():
        e = {"type": r["type"], "id": r["id"], "tags": dict(r["tags"])}
        if r["type"] == "node":
            e["lat"], e["lon"] = r["lat"], r["lon"]
        elif r["type"] == "way":
            e["nodes"] = list(r["nodes"])
        else:
            e["members"] = [
                {"type": m["type"] or "node", "ref": m["ref"],
                 "role": m["role"] or ""}
                for m in r["members"]
            ]
        els.append(e)
    p = str(tmp_path / "gen.osm.pbf")
    encode_pbf(p, els, block_size=64)
    back = read_pbf(spark, p)
    assert back.count() == len(els)
    got = {(r["type"], r["id"]): r for r in back.collect()}
    for e in els:
        r = got[(e["type"], e["id"])]
        assert r["tags"] == e["tags"]
        if e["type"] == "node":
            assert abs(r["lat"] - e["lat"]) < 1e-7
            assert abs(r["lon"] - e["lon"]) < 1e-7
        elif e["type"] == "way":
            assert r["nodes"] == e["nodes"]
        else:
            assert [(m["type"], m["ref"], m["role"]) for m in r["members"]] == [
                (m["type"], m["ref"], m["role"]) for m in e["members"]]


def test_changeset_above_2_53_reads_exactly(spark, tmp_path):
    """A changeset above 2^53 in the same batch as a missing one reads
    back exactly: a pandas frame would hold the column as float64."""
    big = (1 << 53) + 1
    els = [
        {"type": "way", "id": i, "nodes": [1, 2], "tags": {}, "changeset": c}
        for i, c in ((1, big), (2, None), (3, 7))
    ]
    p = str(tmp_path / "changesets.osm.pbf")
    encode_pbf(p, els)
    got = {r["id"]: r["changeset"] for r in read_pbf(spark, p).collect()}
    assert got == {1: big, 2: None, 3: 7}


def test_decode_block_direct(pbf_path):
    """decode_primitive_block is usable standalone (no Spark)."""
    import zlib

    from skyway_spark.sources.pbf import _blob_raw

    idx = [e for e in scan_blob_index(pbf_path) if e[3] == "OSMData"]
    rows = []
    with open(pbf_path, "rb") as f:
        for _, off, size, _ in idx:
            f.seek(off)
            rows.extend(decode_primitive_block(_blob_raw(f.read(size))))
    assert len(rows) == len(ELS)


# ------------------- seeded encode -> decode fuzz -------------------
#
# Random elements through encode_pbf -> read_pbf in both node layouts.
# Ids are random and unsorted, so the delta-coded id, coordinate and ref
# streams carry negative deltas; strings come from a small atom pool
# (heavy string-table reuse) plus random code points, and include the
# empty string as key, value, user and role.

_ATOMS = ["", "a", "name", "highway", " ", ",", "=", "@", "%", "\n", "é", "ß",
          "中文", "😱", "𒄈"]


def _fuzz_str(rng) -> str:
    if rng.random() < 0.1:
        return ""
    parts = []
    for _ in range(rng.randrange(1, 4)):
        if rng.random() < 0.8:
            parts.append(rng.choice(_ATOMS))
        else:
            parts.append(chr(rng.choice((rng.randrange(0x20, 0xD7FF),
                                         rng.randrange(0x10000, 0x10400)))))
    return "".join(parts)


def _fuzz_elements(seed: int, n: int) -> list[dict]:
    import random

    rng = random.Random(seed)
    used: set[tuple[str, int]] = set()
    els = []
    while len(els) < n:
        t = rng.choice(("node", "way", "relation"))
        eid = rng.choice((rng.randrange(1, 1000), rng.randrange(1, 2**40)))
        if (t, eid) in used:
            continue
        used.add((t, eid))
        # the DenseNodes keys_vals stream ends each node's tags with
        # string id 0 (the empty string), so a dense node cannot carry
        # an empty key; every other tag list can
        keys = [_fuzz_str(rng) for _ in range(rng.randrange(0, 5))]
        e = {"type": t, "id": eid,
             "tags": {k: _fuzz_str(rng) for k in keys if k or t != "node"}}
        if t == "node":
            e["lat"] = rng.choice((rng.randrange(-900_000_000, 900_000_001) / 1e7, 90.0, -90.0, 0.0))
            e["lon"] = rng.choice((rng.randrange(-1_800_000_000, 1_800_000_001) / 1e7, 180.0, -180.0))
        elif t == "way":
            e["nodes"] = [rng.randrange(1, 2**40) for _ in range(rng.randrange(0, 8))]
        else:
            e["members"] = [
                {"type": rng.choice(("node", "way", "relation")),
                 "ref": rng.randrange(1, 2**40), "role": _fuzz_str(rng)}
                for _ in range(rng.randrange(0, 6))
            ]
        if rng.random() < 0.5:
            e["version"] = rng.randrange(0, 2**31)
        if rng.random() < 0.5:
            e["timestamp_ms"] = rng.randrange(0, 2**31) * 1000
        if rng.random() < 0.5:
            e["changeset"] = rng.randrange(0, 2**40)
        if rng.random() < 0.5:
            e["uid"] = rng.randrange(0, 2**31)
        if rng.random() < 0.5:
            e["user"] = _fuzz_str(rng)
        if rng.random() < 0.5:
            e["visible"] = rng.random() < 0.5
        els.append(e)
    return els


def _fuzz_expected(e: dict, dense: bool) -> tuple:
    import time

    t = e["type"]
    # the encoder writes no DenseInfo: dense nodes lose their metadata
    info = {} if dense and t == "node" else e
    ts = info.get("timestamp_ms")
    return (
        t, e["id"],
        round(e["lat"], 7) if t == "node" else None,
        round(e["lon"], 7) if t == "node" else None,
        e["nodes"] if t == "way" else None,
        [(m["type"], m["ref"], m["role"]) for m in e["members"]] if t == "relation" else None,
        sorted(e["tags"].items()),
        info.get("changeset"), info.get("uid"), info.get("user"), info.get("version"),
        None if ts is None else time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(ts // 1000)),
        info.get("visible"),
    )


def _fuzz_canon(r) -> tuple:
    return (
        r["type"], r["id"],
        None if r["lat"] is None else round(r["lat"], 7),
        None if r["lon"] is None else round(r["lon"], 7),
        r["nodes"],
        None if r["members"] is None else [tuple(m) for m in r["members"]],
        sorted(r["tags"].items()),
        r["changeset"], r["uid"], r["user"], r["version"], r["timestamp"], r["visible"],
    )


@pytest.mark.parametrize("dense", [True, False], ids=["dense", "plain"])
def test_seeded_encode_decode_fuzz(spark, tmp_path, dense):
    els = _fuzz_elements(20261017, 360)
    p = str(tmp_path / "fuzz.osm.pbf")
    encode_pbf(p, els, dense=dense, block_size=50)
    assert sum(1 for *_, t in scan_blob_index(p) if t == "OSMData") == 8
    df = read_pbf(spark, p)
    # one task per group of blobs, not one for the whole file
    assert df.rdd.getNumPartitions() > 1
    got = sorted((_fuzz_canon(r) for r in df.collect()), key=lambda c: (c[0], c[1]))
    want = sorted((_fuzz_expected(e, dense) for e in els), key=lambda c: (c[0], c[1]))
    assert len(got) == len(want) == 360
    for w, g in zip(want, got):
        assert g == w, f"\nwant {w}\ngot  {g}"
