"""Round-2 LLM-pipeline + spatial operators: PII redaction,
benchmark contamination, grid-density clustering, bbox-overlap join,
Markov transitions — each against an independent Python mirror."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from skyway_spark.functions import cells
from skyway_spark.operators import textstats
from skyway_spark.operators.cluster import grid_dbscan
from skyway_spark.operators.overlap import bbox_overlap_join
from skyway_spark.operators.pii import redact_pii
from skyway_spark.operators.timeseries import transition_counts

SF = "/root/testdata/sf0.001"


# ------------------------------ PII --------------------------------


def test_pii_redaction_known_strings(spark):
    rows = [
        (1, "write to a.b-c_d%e+f@sub.domain.co today"),
        (2, "call 555-123-4567 or 555-000-1111 now"),
        (3, "host 192.168.0.1 and 10.0.0.255 up"),
        (4, "mixed bob@x.io then 555-111-2222 then 1.2.3.4 end"),
        (5, "clean text with no pii at all"),
        (6, "almost 555-12-4567 and 1.2.3 are not matches"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in redact_pii(df).collect()}
    assert got[1]["n_emails"] == 1 and got[1]["redacted"] == "write to [EMAIL] today"
    assert got[2]["n_phones"] == 2
    assert got[2]["redacted"] == "call [PHONE] or [PHONE] now"
    assert got[3]["n_ips"] == 2 and got[3]["redacted"] == "host [IP] and [IP] up"
    assert got[4]["redacted"] == "mixed [EMAIL] then [PHONE] then [IP] end"
    assert (got[4]["n_emails"], got[4]["n_phones"], got[4]["n_ips"]) == (1, 1, 1)
    assert got[5]["redacted"] == rows[4][1]
    assert (got[6]["n_phones"], got[6]["n_ips"]) == (0, 0)


def test_pii_closed_form_oracle_precondition(spark):
    # q_pii_redact's oracle reconstructs the redacted text closed-form,
    # which is sound only while the base corpus can't match any
    # pattern: no digits and no '@' anywhere.
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = docs.where(F.col("text").rlike("[0-9@]")).count()
    assert n == 0


# -------------------------- contamination --------------------------


def test_contamination_matches_python_mirror(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    got = {
        r["doc_id"]: (r["n_windows"], r["n_contaminated"], r["contaminated"])
        for r in textstats.contamination(docs, bench, n=8).collect()
    }

    def wins(text, n=8):
        toks = text.strip().split()
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    rows = docs.select("doc_id", "text").collect()
    bset = set()
    for r in rows:
        if r["doc_id"] % 97 == 0:
            bset.update(wins(r["text"]))
    for r in rows:
        w = wins(r["text"])
        hits = sum(1 for x in w if x in bset)
        assert got[r["doc_id"]] == (len(w), hits, hits > 0)
    # benchmark members are fully self-contaminated
    assert all(
        got[r["doc_id"]][2] for r in rows if r["doc_id"] % 97 == 0 and wins(r["text"])
    )


def test_contamination_short_docs_zero_windows(spark):
    docs = spark.createDataFrame(
        [(1, "one two three"), (2, "a b c d e f g h i")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, "a b c d e f g h")], "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in textstats.contamination(docs, bench, n=8).collect()}
    assert got[1] == {"doc_id": 1, "n_windows": 0, "n_contaminated": 0, "contaminated": False}
    assert got[2]["n_windows"] == 2 and got[2]["n_contaminated"] == 1


# --------------------------- grid dbscan ----------------------------


def _uf_clusters(cells_xy, min_cells):
    """Union-find mirror over dense (x, y) -> {cell: min-cell label}."""
    parent = {c: c for c in min_cells}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo

    bypos = {cells_xy[c]: c for c in min_cells}
    for c in min_cells:
        x, y = cells_xy[c]
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                if (dx, dy) != (0, 0) and (x + dx, y + dy) in bypos:
                    union(c, bypos[(x + dx, y + dy)])
    return {c: find(c) for c in min_cells}


def test_grid_dbscan_matches_union_find(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    pts = ev.select(
        "event_id",
        ((F.col("user_id") * 7919) % 17000 / 100.0 - 85.0).alias("lat"),
        ((F.col("event_id") * 104729) % 36000 / 100.0 - 180.0).alias("lon"),
    )
    res, min_pts = 5, 3
    got = {
        r["cell"]: (r["cluster_id"], r["n_points"])
        for r in grid_dbscan(pts, res=res, min_pts=min_pts).collect()
    }
    # python mirror
    counts = {}
    for r in pts.collect():
        x = min(max(int((r["lon"] + 180.0) / 360.0 * (1 << (res + 1))), 0), (1 << (res + 1)) - 1)
        y = min(max(int((90.0 - r["lat"]) / 180.0 * (1 << res)), 0), (1 << res) - 1)
        c = cells.pack_cell_py(x, y, res)
        counts[c] = counts.get(c, 0) + 1
    dense = {c for c, n in counts.items() if n >= min_pts}
    xy = {c: (cells.cell_x_py(c), cells.cell_y_py(c)) for c in dense}
    labels = _uf_clusters(xy, dense)
    assert got == {c: (labels[c], counts[c]) for c in dense}
    assert len(got) > 3  # non-vacuous


def test_grid_dbscan_diagonal_adjacency(spark):
    # two dense cells touching only at a corner must merge (8-conn)
    pts = []
    for i in range(4):
        pts.append((i, 10.1, 10.1))          # cell A
        pts.append((100 + i, 4.9, 16.0))     # cell diagonally below-right
        pts.append((200 + i, 60.0, -120.0))  # far-away isolated cell
    df = spark.createDataFrame(pts, "event_id long, lat double, lon double")
    out = grid_dbscan(df, res=5, min_pts=4).collect()
    assert len(out) == 3
    clusters = {}
    for r in out:
        clusters.setdefault(r["cluster_id"], []).append(r["cell"])
    sizes = sorted(len(v) for v in clusters.values())
    assert sizes == [1, 2]


# --------------------------- bbox overlap ---------------------------


def test_bbox_overlap_matches_bruteforce(spark):
    # deterministic messy rectangles, many spanning multiple cells
    rects = []
    for i in range(60):
        lat0 = ((i * 37) % 100) - 50 + 0.25
        lon0 = ((i * 53) % 200) - 100 + 0.25
        rects.append((i, lat0, lon0, lat0 + 1.0 + (i % 9), lon0 + 2.0 + (i % 11)))
    df = spark.createDataFrame(rects, "rect_id long, lat0 double, lon0 double, lat1 double, lon1 double")
    got = {
        (r["id_a"], r["id_b"]): r["overlap_area"]
        for r in bbox_overlap_join(df, res=4).collect()
    }
    want = {}
    for a, b in itertools.combinations(rects, 2):
        dlat = min(a[3], b[3]) - max(a[1], b[1])
        dlon = min(a[4], b[4]) - max(a[2], b[2])
        if dlat > 0 and dlon > 0:
            want[(a[0], b[0])] = dlat * dlon
    assert got == want  # also proves each pair emitted exactly once


def test_bbox_overlap_touching_edges_excluded(spark):
    df = spark.createDataFrame(
        [(1, 0.0, 0.0, 10.0, 10.0), (2, 10.0, 0.0, 20.0, 10.0), (3, 0.0, 10.0, 10.0, 20.0)],
        "rect_id long, lat0 double, lon0 double, lat1 double, lon1 double",
    )
    assert bbox_overlap_join(df, res=4).count() == 0


# --------------------------- transitions ----------------------------


def test_transition_counts_hand_computed(spark):
    rows = [
        (1, 1, 100, "a"), (2, 1, 200, "b"), (3, 1, 300, "a"), (4, 1, 400, "b"),
        (5, 2, 100, "a"), (6, 2, 200, "b"),
        (7, 3, 100, "c"),  # single event: no transition
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts long, event_type string")
    got = {
        (r["prev_type"], r["next_type"]): (r["n"], r["p"])
        for r in transition_counts(df).collect()
    }
    assert got == {("a", "b"): (3, 1.0), ("b", "a"): (1, 1.0)}
