"""Round-3 operators: Levenshtein verification, chunk-dedup rewrite,
integer PageRank, exact quantiles/histogram, vocab growth, bigram LM,
site snapping, stay points, domain blocklist — each against a
hand-computed or pure-Python mirror."""

from __future__ import annotations

from pyspark.sql import functions as F

from skyway_spark.operators.dedup import levenshtein_verify_pairs
from skyway_spark.operators.graph import pagerank_int
from skyway_spark.operators.knn import snap_to_sites
from skyway_spark.operators.stats import group_quantiles, histogram_int
from skyway_spark.operators.textstats import (
    bigram_lm_scores,
    dedup_chunks_rewrite,
    vocab_growth,
)
from skyway_spark.operators.trajectory import stay_points
from skyway_spark.operators.urls import filter_blocklist, host_suffixes


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


# ---------------------- levenshtein verification ---------------------


def test_lev_verify_near_dup_pair(spark):
    base = " ".join(f"tok{i}" for i in range(40))
    variant = base.replace("tok7", "tokX")  # 1 substituted token
    far = " ".join(f"other{i}" for i in range(40))
    out = levenshtein_verify_pairs(
        _docs(spark, [base, variant, far]), threshold=0.5, min_sim_pct=90
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in out}
    assert (0, 1) in pairs  # LSH must band the near-dup together
    r = pairs[(0, 1)]
    # "tok7"->"tokX": single char substitution at every occurrence (1x)
    assert r["lev"] == 1
    assert r["len_a"] == len(base) and r["len_b"] == len(variant)
    # 1*100 <= 10*len -> verified
    assert r["verified"] is True
    assert all(k == (0, 1) for k in pairs)  # `far` never pairs


def test_lev_verify_rejects_below_similarity(spark):
    a = "aaaa bbbb cccc dddd " * 5
    b = "aaaa bbbb cccc dddd " * 5
    # same shingle multiset -> LSH pairs them; then make b's text
    # differ massively AFTER shingling would be impossible, so instead
    # tighten min_sim_pct until even 1 edit fails
    b = b[:-1] + "X"
    out = levenshtein_verify_pairs(
        _docs(spark, [a.strip(), b.strip()]), threshold=0.5, min_sim_pct=100
    ).collect()
    assert len(out) == 1 and out[0]["verified"] is False  # lev>0, 0 allowed


# ------------------------ chunk dedup rewrite ------------------------


def test_chunk_dedup_rewrite_hand(spark):
    texts = [
        "a b c d x",  # chunks: [a b][c d], tail [x]
        "a b e f",  # chunks: [a b][e f]
        "g h",  # chunks: [g h]
        "z",  # no full chunk, tail only
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in dedup_chunks_rewrite(
            _docs(spark, texts), window=2, min_repeat=2
        ).collect()
    }
    assert out[0]["cleaned_text"] == "c d x"
    assert (out[0]["n_chunks"], out[0]["n_dropped"]) == (2, 1)
    assert out[1]["cleaned_text"] == "e f"
    assert out[2]["cleaned_text"] == "g h"
    assert out[2]["n_dropped"] == 0
    assert out[3]["cleaned_text"] == "z"
    assert (out[3]["n_chunks"], out[3]["n_dropped"]) == (0, 0)


def test_chunk_dedup_rewrite_noop_when_unique(spark):
    texts = ["p q r s", "t u v w x"]
    out = {
        r["doc_id"]: r["cleaned_text"]
        for r in dedup_chunks_rewrite(
            _docs(spark, texts), window=2, min_repeat=2
        ).collect()
    }
    assert out == {0: "p q r s", 1: "t u v w x"}


# --------------------------- pagerank --------------------------------


def _pagerank_py(edges, iters=3, mass=10**12, damp=85):
    nodes = sorted({u for e in edges for u in e})
    deg = {u: sum(1 for s, _ in edges if s == u) for u in nodes}
    n = len(nodes)
    base = (100 - damp) * (mass // n) // 100
    r = {u: mass // n for u in nodes}
    for _ in range(iters):
        inflow = {u: 0 for u in nodes}
        for s, t in edges:
            inflow[t] += r[s] // deg[s]
        r = {u: base + damp * inflow[u] // 100 for u in nodes}
    return r


def test_pagerank_int_matches_python_mirror(spark):
    # path a-b-c-d plus triangle b-c-e, symmetric
    und = [(1, 2), (2, 3), (3, 4), (2, 5), (3, 5)]
    sym = und + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank_int(edges, iters=3).collect()}
    assert got == _pagerank_py(sym)


def test_pagerank_mass_is_approximately_conserved(spark):
    sym = [(1, 2), (2, 1), (2, 3), (3, 2)]
    edges = spark.createDataFrame(sym, "src long, dst long")
    got = sum(r["rank"] for r in pagerank_int(edges, iters=2).collect())
    # floor-division rounding only ever LEAKS mass, a few units/iter
    assert 10**12 - 100 <= got <= 10**12


# ------------------------ quantiles / histogram ----------------------


def test_group_quantiles_rank_formula(spark):
    df = spark.createDataFrame(
        [("g", 10 * i, i) for i in range(1, 5)] + [("h", 7, 9)],
        "src string, v long, id long",
    )
    out = {
        (r["grp"], r["p"]): (r["n"], r["value"])
        for r in group_quantiles(df, "src", "v", "id").collect()
    }
    # g: n=4 -> ranks ceil(4p/100): p50->2, p90->4, p99->4
    assert out[("g", 50)] == (4, 20)
    assert out[("g", 90)] == (4, 40)
    assert out[("g", 99)] == (4, 40)
    # h: single row is every percentile
    assert out[("h", 50)] == (1, 7)


def test_group_quantiles_ties_break_by_id(spark):
    df = spark.createDataFrame(
        [("g", 5, 2), ("g", 5, 1)], "src string, v long, id long"
    )
    out = group_quantiles(df, "src", "v", "id").collect()
    assert {r["p"]: r["value"] for r in out} == {50: 5, 90: 5, 99: 5}


def test_histogram_int_exact_ppm(spark):
    df = spark.createDataFrame([(v,) for v in (0, 63, 64, 128)], "v long")
    out = {r["bin"]: r.asDict() for r in histogram_int(df, "v", 64).collect()}
    assert out[0]["n"] == 2 and out[0]["ppm"] == 500000 and out[0]["lo"] == 0
    assert out[1]["n"] == 1 and out[1]["ppm"] == 250000 and out[1]["lo"] == 64
    assert out[2]["n"] == 1 and out[2]["ppm"] == 250000


# --------------------------- vocab growth ----------------------------


def test_vocab_growth_hand(spark):
    # doc ids 0..3; max_id=3 -> checkpoints (3*i div 10): mostly 0,
    # so use explicit ids spanning the range via a 10-doc corpus
    texts = [f"w{i // 2} common" for i in range(10)]  # new type every 2 docs
    out = {
        r["i"]: (r["cp"], r["n_docs"], r["vocab"])
        for r in vocab_growth(_docs(spark, texts), n_checkpoints=3).collect()
    }
    # max_id=9: cp1=3, cp2=6, cp3=9
    # docs 0-3: types w0,w1 + common = 3; docs 0-6: w0..w3+common = 5
    assert out[1] == (3, 4, 3)
    assert out[2] == (6, 7, 5)
    assert out[3] == (9, 10, 6)


# ---------------------------- bigram LM ------------------------------


def test_bigram_lm_hand(spark):
    out = {
        r["doc_id"]: (r["n_bigrams"], r["lm_q"])
        for r in bigram_lm_scores(_docs(spark, ["a b a c", "a b"])).collect()
    }
    # c2: ab=2 ba=1 ac=1; c1(first-pos): a=3 b=1
    q_ab = (1 << 20) * 2 // 3
    q_ba = (1 << 20) * 1 // 1
    q_ac = (1 << 20) * 1 // 3
    assert out[0] == (3, (q_ab + q_ba + q_ac) // 3)
    assert out[1] == (1, q_ab)


# ------------------------- snap to sites -----------------------------


def _pts(spark, rows):
    return spark.createDataFrame(
        [(i, latc, lonc, latc / 100.0, lonc / 100.0) for i, latc, lonc in rows],
        "event_id long, lat_c long, lon_c long, lat double, lon double",
    )


def _sites(spark, rows):
    return spark.createDataFrame(
        [(i, latc, lonc, latc / 100.0, lonc / 100.0) for i, latc, lonc in rows],
        "node_id long, lat_c long, lon_c long, lat double, lon double",
    )


def test_snap_nearest_and_tie_break(spark):
    # res=2: 8x4 grid, 45-degree cells. Point at origin-ish.
    pts = _pts(spark, [(1, 1000, 1000)])
    sites = _sites(
        spark,
        [
            (10, 1200, 1000),  # d2 = 200^2
            (11, 1000, 1200),  # d2 = 200^2 (tie -> lower id wins)
            (12, 1000, 1300),  # farther
        ],
    )
    out = snap_to_sites(
        pts, sites, res=2, ring=1, point_id="event_id", site_id="node_id"
    ).collect()
    assert len(out) == 1
    assert out[0]["node_id"] == 10 and out[0]["d2"] == 40000


def test_snap_no_candidates_yields_no_row(spark):
    pts = _pts(spark, [(1, 1000, 1000)])
    sites = _sites(spark, [(99, -8000, -17000)])  # opposite corner
    assert snap_to_sites(pts, sites, res=2, ring=1, point_id="event_id",
                         site_id="node_id").count() == 0


def test_snap_finds_site_in_neighbor_cell(spark):
    # point near a cell edge; site just across the boundary
    pts = _pts(spark, [(1, 100, 4400)])  # lon 44 deg, cell x edge at 45
    sites = _sites(spark, [(7, 100, 4600)])  # lon 46 deg, next cell
    out = snap_to_sites(pts, sites, res=2, ring=1, point_id="event_id",
                        site_id="node_id").collect()
    assert len(out) == 1 and out[0]["node_id"] == 7


# --------------------------- stay points -----------------------------


def test_stay_points_runs(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: cells A A B A A A  (lon 10 vs 100 at res=2 differ)
    lons = [10.0, 10.0, 100.0, 10.0, 10.0, 10.0]
    for i, lon in enumerate(lons):
        rows.append((i, 1, t0 + dt.timedelta(minutes=i), 10.0, lon))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, lat double, lon double"
    )
    out = sorted(
        stay_points(df, res=2, min_pts=2).collect(), key=lambda r: r["stay_seq"]
    )
    assert [(r["stay_seq"], r["n_points"], r["first_id"], r["last_id"]) for r in out] == [
        (1, 2, 0, 1),
        (3, 3, 3, 5),
    ]


# -------------------------- url blocklist ----------------------------


def test_host_suffixes_expansion(spark):
    got = (
        spark.range(1)
        .select(host_suffixes(F.lit("a.b.example.com")).alias("s"))
        .collect()[0]["s"]
    )
    assert got == ["a.b.example.com", "b.example.com", "example.com", "com"]


def test_filter_blocklist_label_boundaries(spark):
    urls = [
        (0, "http://www.site1.com/a"),  # blocked: www-stripped exact
        (1, "http://sub.site1.com/b"),  # blocked: subdomain suffix
        (2, "http://notsite1.com/c"),  # kept: label boundary respected
        (3, "http://site2.com/d"),  # kept
        (4, "https://SITE1.COM:443/e"),  # blocked: case+port
    ]
    df = spark.createDataFrame(urls, "doc_id long, url string")
    kept = sorted(
        r["doc_id"] for r in filter_blocklist(df, ["site1.com"]).collect()
    )
    assert kept == [2, 3]
