"""Round-3 batch-2 operators vs direct Python mirrors: semantic
dedup, hashed n-gram classifier, Bellman-Ford, winnowing
fingerprints."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skyway_spark.operators.dedup import HASH_MOD, PRIME, winnow_fingerprints
from skyway_spark.operators.graph import BF_INF, bellman_ford
from skyway_spark.operators.similarity import semantic_dedup
from skyway_spark.operators.textstats import hash_feature_score

A1, B1 = 1_103_515_245, 12_345


def fold(s: str) -> int:
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % HASH_MOD
    return acc


# ---------------------------------------------------------------------------
# winnowing
# ---------------------------------------------------------------------------


def py_winnow(text: str, k: int = 8, w: int = 4):
    t = text.lower()
    nk = max(len(t) - k + 1, 0)
    hashes = [fold(t[i : i + k]) for i in range(nk)]
    nw = max(len(hashes) - w + 1, 0)
    fps = sorted({min(hashes[j : j + w]) for j in range(nw)})
    chk = 0
    for f in fps:
        chk = (chk * 31 + f) % HASH_MOD
    return nk, nw, len(fps), chk


WINNOW_DOCS = [
    (1, "The quick brown fox jumps over the lazy dog"),
    (2, "the quick BROWN fox jumps over the lazy dog"),  # case-folds to same
    (3, "completely different content with words here"),
    (4, "short"),  # len < k -> no kgrams
    (5, ""),  # empty
    (6, "exactly8"),  # len == k -> one kgram, no window (w=4)
]


def test_winnow_matches_python_mirror(spark):
    df = spark.createDataFrame(WINNOW_DOCS, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_kgrams, r.n_windows, r.n_fps, r.fp_chk)
        for r in winnow_fingerprints(df).collect()
    }
    for doc_id, text in WINNOW_DOCS:
        assert got[doc_id] == py_winnow(text), (doc_id, text)


def test_winnow_case_insensitive_and_shared_substring(spark):
    df = spark.createDataFrame(WINNOW_DOCS, "doc_id long, text string")
    got = {r.doc_id: r.fp_chk for r in winnow_fingerprints(df).collect()}
    # case-folded identical docs -> identical fingerprint sets
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_winnow_substring_guarantee(spark):
    # any shared substring of length >= k+w-1 guarantees a shared
    # fingerprint (the winnowing theorem); verify via the mirror sets
    k, w = 8, 4
    shared = "a very distinctive shared fragment"
    a, b = "XX " + shared + " YYY", "zzzz " + shared + " qq"

    def fps(text):
        t = text.lower()
        hs = [fold(t[i : i + k]) for i in range(len(t) - k + 1)]
        return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}

    assert fps(a) & fps(b)
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    rows = {r.doc_id: r for r in winnow_fingerprints(df).collect()}
    assert rows[1].n_fps == len(fps(a)) and rows[2].n_fps == len(fps(b))


# ---------------------------------------------------------------------------
# hashed n-gram classifier
# ---------------------------------------------------------------------------


def py_hash_score(text: str, n: int = 2):
    from skyway_spark.operators.textstats import GRAM_MULT

    toks = [t for t in text.strip().split()] if text.strip() else [""]
    th = [fold(t) for t in toks]
    grams = (
        [th[i : i + n] for i in range(len(th) - n + 1)] if len(th) >= n else []
    )
    score = 0
    for hs in grams:
        g = hs[0]
        for h in hs[1:]:
            g = (g * GRAM_MULT + h) % HASH_MOD
        score += ((g % PRIME) * A1 + B1) % PRIME % 2001 - 1000
    return len(grams), score


def test_hash_classifier_matches_python_mirror(spark):
    docs = [
        (1, "alpha beta gamma delta"),
        (2, "one"),
        (3, ""),
        (4, "  padded   tokens  here "),
        (5, "repeat repeat repeat repeat"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in hash_feature_score(df).collect()}
    for doc_id, text in docs:
        ng, score = py_hash_score(text)
        r = got[doc_id]
        assert (r.n_grams, r.score, r.quality) == (ng, score, score > 0), text


# ---------------------------------------------------------------------------
# Bellman-Ford
# ---------------------------------------------------------------------------


def test_bellman_ford_hand_graph(spark):
    # tolls 1 + (src + dst) % 7: 1 -1-> 6 -1-> 8 ; 1 -3-> 8 ; 8 -6-> 4 ;
    # 5 isolated via edge to 9
    edges = spark.createDataFrame(
        [(1, 6), (6, 8), (1, 8), (8, 4), (5, 9)], "src long, dst long"
    )
    got = {r.node: r.dist for r in bellman_ford(edges, [1], iters=3).collect()}
    # 3 rounds: 1->6 (1), 1->6->8 (2) beats direct 3, 1->6->8->4 (8)
    assert got == {1: 0, 6: 1, 8: 2, 4: 8}


def test_bellman_ford_iteration_bound(spark):
    # tolls: 1->2 is 4, 2->3 is 6, 3->4 is 1
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    got1 = {r.node: r.dist for r in bellman_ford(edges, [1], iters=1).collect()}
    assert got1 == {1: 0, 2: 4}  # nodes 3,4 unreached in one round
    got3 = {r.node: r.dist for r in bellman_ford(edges, [1], iters=3).collect()}
    assert got3 == {1: 0, 2: 4, 3: 10, 4: 11}


def test_bellman_ford_default_toll_and_multi_source(spark):
    edges = spark.createDataFrame([(10, 11), (11, 12)], "src long, dst long")
    got = {r.node: r.dist for r in bellman_ford(edges, [10, 12], iters=2).collect()}
    assert got[10] == 0 and got[12] == 0
    assert got[11] == 1 + (10 + 11) % 7
    assert BF_INF not in got.values()


# ---------------------------------------------------------------------------
# semantic dedup
# ---------------------------------------------------------------------------


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs],
        "vec_id long, embedding array<float>",
    )


def test_semantic_dedup_drops_higher_id_near_dupes(spark):
    base = [0.5] * 4
    far = [-0.9, 0.8, -0.7, 0.6]
    vecs = [(1, base), (2, base), (3, far), (4, [x + 1e-7 for x in base])]
    df = _emb_df(spark, vecs)
    # tau=0: only bit-identical quantized vectors collide (1,2 and 4 —
    # 1e-7 vanishes under floor at 2^20)
    got = {r.vec_id: r.keep for r in semantic_dedup(df, tau=0, k=1, iters=1).collect()}
    assert got == {1: True, 2: False, 3: True, 4: False}


def test_semantic_dedup_tau_widens_and_lowest_id_survives(spark):
    vecs = [(1, [0.0] * 4), (2, [0.001] * 4), (3, [0.5] * 4)]
    df = _emb_df(spark, vecs)
    strict = {r.vec_id: r.keep for r in semantic_dedup(df, tau=0, k=1, iters=1).collect()}
    assert strict == {1: True, 2: True, 3: True}
    # quantized delta per dim = floor(0.001*2^20) = 1048 -> sq dist 4*1048^2
    loose = {
        r.vec_id: r.keep
        for r in semantic_dedup(df, tau=4 * 1048**2, k=1, iters=1).collect()
    }
    assert loose == {1: True, 2: False, 3: True}


def test_semantic_dedup_cluster_blocks_pairing(spark):
    # two tight groups far apart; k=2 separates them, so cross-group
    # pairs are never even candidates — but within-group dupes drop
    g1, g2 = [0.9] * 4, [-0.9] * 4
    vecs = [(1, g1), (2, g1), (3, g2), (4, g2)]
    df = _emb_df(spark, vecs)
    out = semantic_dedup(df, tau=10, k=2, iters=2).collect()
    keep = {r.vec_id: r.keep for r in out}
    clusters = {r.vec_id: r.cluster for r in out}
    assert keep == {1: True, 2: False, 3: True, 4: False}
    assert clusters[1] == clusters[2] and clusters[3] == clusters[4]
    assert clusters[1] != clusters[3]


# ---------------------------------------------------------------------------
# Hilbert keys
# ---------------------------------------------------------------------------


def py_xy2d(order: int, x: int, y: int) -> int:
    d = 0
    s = 1 << (order - 1)
    while s > 0:
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_matches_reference_walk(spark):
    from skyway_spark.functions.cells import hilbert_key

    order, n = 6, 64
    pts = [(-85.0, -179.0), (0.0, 0.0), (48.85, 2.35), (89.9, 179.9),
           (-90.0, -180.0), (37.77, -122.41), (90.0, 180.0)]
    df = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(pts)],
        "i long, lat double, lon double",
    )
    rows = df.select(
        "i", "lat", "lon",
        hilbert_key(F.col("lat"), F.col("lon"), order).alias("h"),
    ).collect()
    for r in rows:
        x = max(0, min(n - 1, int(((r.lon + 180.0) / 360.0) * n)))
        y = max(0, min(n - 1, int(((90.0 - r.lat) / 180.0) * n)))
        assert r.h == py_xy2d(order, x, y), (r.lat, r.lon)


def test_hilbert_bijective_and_locality(spark):
    """Every cell of the full 16x16 grid gets a distinct key covering
    0..255, and consecutive keys are GRID-ADJACENT (the Hilbert
    property Z-order lacks — its seams jump across the grid)."""
    from skyway_spark.functions.cells import hilbert_key

    order, n = 4, 16
    # cell centers: lat/lon that land exactly in grid cell (i, j)
    rows = [
        (i * n + j, 90.0 - (i + 0.5) * 180.0 / n, (j + 0.5) * 360.0 / n - 180.0)
        for i in range(n)
        for j in range(n)
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lon double")
    got = df.select(
        "lat", "lon", hilbert_key(F.col("lat"), F.col("lon"), order).alias("h")
    ).collect()
    keys = sorted(r.h for r in got)
    assert keys == list(range(n * n))  # bijection onto 0..255
    bykey = {
        r.h: (
            int(((r.lon + 180.0) / 360.0) * n),
            int(((90.0 - r.lat) / 180.0) * n),
        )
        for r in got
    }
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = bykey[d], bykey[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, bykey[d], bykey[d + 1])


# ---------------------------------------------------------------------------
# CDC changelog apply
# ---------------------------------------------------------------------------


def test_apply_changelog_upsert_delete_insert(spark):
    from skyway_spark.operators.cdc import apply_changelog

    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    ch = spark.createDataFrame(
        [
            (2, 10, "U", "b2"),   # update
            (2, 11, "U", "b3"),   # later update wins
            (3, 5, "D", "x"),     # delete (payload ignored)
            (9, 7, "U", "new"),   # insert of unseen key
            (1, 4, "D", "x"),
            (1, 6, "U", "a2"),    # delete then re-insert: latest wins
        ],
        "k long, seq long, op string, v string",
    )
    got = {
        (r.k, r.v)
        for r in apply_changelog(snap, ch, ["k"], "seq", "op").collect()
    }
    assert got == {(1, "a2"), (2, "b3"), (9, "new")}


def test_apply_changelog_seq_tie_prefers_upsert(spark):
    from skyway_spark.operators.cdc import apply_changelog

    snap = spark.createDataFrame([(1, "a")], "k long, v string")
    ch = spark.createDataFrame(
        [(1, 5, "D", "x"), (1, 5, "U", "kept")],
        "k long, seq long, op string, v string",
    )
    got = apply_changelog(snap, ch, ["k"], "seq", "op").collect()
    assert [(r.k, r.v) for r in got] == [(1, "kept")]


def test_apply_changelog_empty_log_is_identity(spark):
    from skyway_spark.operators.cdc import apply_changelog

    snap = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    ch = spark.createDataFrame([], "k long, seq long, op string, v string")
    got = {(r.k, r.v) for r in apply_changelog(snap, ch, ["k"]).collect()}
    assert got == {(1, "a"), (2, "b")}


def test_apply_changelog_missing_payload_column_raises(spark):
    from skyway_spark.operators.cdc import apply_changelog

    snap = spark.createDataFrame([(1, "a")], "k long, v string")
    ch = spark.createDataFrame([(1, 5, "U")], "k long, seq long, op string")
    with pytest.raises(ValueError, match="missing columns"):
        apply_changelog(snap, ch, ["k"])


# ---------------------------------------------------------------------------
# per-group sampling, MAD outliers, co-occurrence
# ---------------------------------------------------------------------------


def test_group_bottom_k_exact_sizes_and_determinism(spark):
    from skyway_spark.operators.sampling import group_bottom_k

    rows = [(i, "a" if i % 3 else "b") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = group_bottom_k(df, 5, "lang").collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r.lang, []).append((r.sample_rank, r.doc_id))
    assert {g: len(v) for g, v in by_grp.items()} == {"a": 5, "b": 5}
    # determinism: repartitioned input picks the identical members
    out2 = group_bottom_k(df.repartition(7), 5, "lang").collect()
    assert {(r.lang, r.doc_id) for r in out2} == {(r.lang, r.doc_id) for r in out}
    # small group: returns the whole group, never pads
    tiny = spark.createDataFrame([(1, "x"), (2, "x")], "doc_id long, lang string")
    assert group_bottom_k(tiny, 5, "lang").count() == 2


def test_mad_outliers_python_mirror(spark):
    from skyway_spark.operators.stats import mad_outliers

    vals = [10, 11, 12, 10, 11, 12, 10, 11, 500]  # one wild point
    rows = [(i, "g", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = {r.id: r for r in mad_outliers(df, "source", "n_chars", "doc_id").collect()}
    sv = sorted((v, i) for i, v in enumerate(vals))
    med = sv[(len(sv) + 1) // 2 - 1][0]
    ads = sorted((abs(v - med), i) for i, v in enumerate(vals))
    mad = ads[(len(ads) + 1) // 2 - 1][0]
    for i, v in enumerate(vals):
        r = got[i]
        assert (r.med, r.mad) == (med, mad)
        assert r.is_outlier == (abs(v - med) * 1349 > 7000 * mad), (i, v)
    assert got[8].is_outlier and not got[0].is_outlier


def test_mad_outliers_constant_group_flags_any_deviation(spark):
    from skyway_spark.operators.stats import mad_outliers

    rows = [(i, "g", 7) for i in range(9)] + [(9, "g", 8)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    got = {r.id: r.is_outlier for r in
           mad_outliers(df, "source", "n_chars", "doc_id").collect()}
    assert got[9] is True and not any(got[i] for i in range(9))


def test_cooccurrence_pairs_counts_and_ordering(spark):
    from skyway_spark.operators.stats import cooccurrence_pairs

    rows = [
        (1, "x"), (1, "y"), (1, "y"),  # duplicate (1,y) must not double-count
        (2, "x"), (2, "y"), (2, "z"),
        (3, "y"), (3, "z"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string")
    got = {
        (r.item_a, r.item_b): r.n_entities
        for r in cooccurrence_pairs(df, "user_id", "event_type").collect()
    }
    assert got == {("x", "y"): 2, ("x", "z"): 1, ("y", "z"): 2}
    assert all(a < b for a, b in got)
    filtered = {
        (r.item_a, r.item_b)
        for r in cooccurrence_pairs(df, "user_id", "event_type", min_count=2).collect()
    }
    assert filtered == {("x", "y"), ("y", "z")}


def test_changelog_to_scd2_intervals(spark):
    from skyway_spark.operators.cdc import changelog_to_scd2

    ch = spark.createDataFrame(
        [
            (1, 10, "U", "a1"),
            (1, 20, "U", "a2"),
            (1, 30, "D", "x"),   # closes a2's interval, emits nothing
            (2, 5, "U", "b"),
        ],
        "k long, seq long, op string, v string",
    )
    got = {
        (r.k, r.v): (r.valid_from, r.valid_to, r.is_current)
        for r in changelog_to_scd2(ch, ["k"]).collect()
    }
    assert got == {
        (1, "a1"): (10, 20, False),
        (1, "a2"): (20, 30, False),  # closed by the delete, not current
        (2, "b"): (5, None, True),
    }
    # time travel at seq 25: exactly the rows whose interval covers 25
    alive_at_25 = {kv for kv, (f, t, _) in got.items() if f <= 25 and (t is None or t > 25)}
    assert alive_at_25 == {(1, "a2"), (2, "b")}


def test_bpe_pair_counts_hand_corpus(spark):
    from collections import Counter

    from skyway_spark.operators.textstats import bpe_pair_counts

    docs = [(1, "abab ab"), (2, "abc  cc"), (3, "x")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    want = Counter()
    for _, text in docs:
        for tok in text.split():
            if len(tok) > 1:
                for i in range(len(tok) - 1):
                    want[tok[i : i + 2]] += 1
    got = {r.pair: r.n for r in bpe_pair_counts(df, top_n=50).collect()}
    assert got == dict(want)
    # 'ab' dominates: abab has 2 ('ab','ba' -> ab twice? positions ab,ba,ab), plus ab, abc
    assert got["ab"] == 4 and "x" not in got


def test_winnow_decontaminate_catches_planted_leak(spark):
    from skyway_spark.operators.dedup import winnow_decontaminate

    bench_text = "the secret benchmark passage that must never leak into training"
    corpus = spark.createDataFrame(
        [
            (1, "PREFIX junk " + bench_text + " SUFFIX junk"),  # verbatim leak
            (2, "an entirely unrelated document about mountains and rivers"),
            (3, bench_text.upper()),  # case-variant leak (lowercased match)
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    got = {r.doc_id: r for r in winnow_decontaminate(corpus, bench).collect()}
    assert len(got) == 3  # one row per corpus doc
    assert got[1].flagged and got[3].flagged
    assert not got[2].flagged and got[2].n_shared_fps == 0
    assert got[1].n_bench_docs == 1
    # coverage math: flagged iff shared*100 >= n_fps*60
    for r in got.values():
        assert r.flagged == (r.n_shared_fps * 100 >= r.n_fps * 60)
