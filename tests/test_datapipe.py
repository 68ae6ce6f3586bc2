"""Dedup / similarity / text-stats / multimodal operators on the
driver-provided documents + embeddings tables (sf0.001)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from skyway_spark.operators import dedup, multimodal, similarity, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ------------------------------ dedup ------------------------------


def test_exact_dedup_matches_python(docs):
    rows = docs.select("doc_id", "text").collect()
    by_text = {}
    for r in rows:
        by_text.setdefault(r["text"], []).append(r["doc_id"])
    want = {(t, min(ids), len(ids)) for t, ids in by_text.items() if len(ids) > 1}
    got = {
        (r["text"], r["keep_id"], r["n_dups"]) for r in dedup.exact_duplicates(docs).collect()
    }
    assert got == want
    kept = dedup.dedup_exact(docs)
    assert kept.count() == len(by_text)


def _py_ngrams(text, n=3):
    return {text[i : i + n] for i in range(max(len(text) - n + 1, 1))}


def _py_jaccard(a, b):
    return len(a & b) / len(a | b) if (a | b) else 0.0


def test_ngram_jaccard_pairs_match_python(docs):
    sub = docs.limit(200).cache()
    got = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in dedup.ngram_jaccard_pairs(sub, threshold=0.8).collect()
    }
    rows = sub.select("doc_id", "text", "n_chars").collect()
    want = set()
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            if a["n_chars"] != b["n_chars"]:
                continue
            j = _py_jaccard(_py_ngrams(a["text"]), _py_ngrams(b["text"]))
            if j >= 0.8:
                lo, hi = sorted((a["doc_id"], b["doc_id"]))
                want.add((lo, hi, round(j, 9)))
    assert got == want


def test_minhash_lsh_recall_vs_exact(docs):
    """LSH candidates verified by exact jaccard must equal the exact
    high-threshold pair set (at t=0.8 recall of 4-band/16-perm LSH is
    ~1 for these sizes); every returned pair is exact-verified."""
    sub = docs.limit(300).cache()
    lsh = {
        (r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(sub, threshold=0.8).collect()
    }
    rows = sub.select("doc_id", "text").collect()
    exact = set()
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            if _py_jaccard(_py_ngrams(a["text"]), _py_ngrams(b["text"])) >= 0.8:
                exact.add(tuple(sorted((a["doc_id"], b["doc_id"]))))
    # soundness: every LSH pair is a true pair
    assert lsh <= exact
    # recall: miss at most 10%
    assert len(lsh) >= 0.9 * len(exact), (len(lsh), len(exact))
    assert len(exact) > 0


def test_minhash_lsh_join_degrades_to_shuffle(docs):
    """The gram re-attach joins must carry NO broadcast hint: with
    auto-broadcast disabled the plan must degrade to keyed shuffle
    joins (SortMergeJoin/ShuffledHashJoin), never a forced
    BroadcastHashJoin — a hinted broadcast would OOM on duplicate-heavy
    corpora because AQE cannot override an explicit hint."""
    spark = docs.sparkSession
    sub = docs.limit(50)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            dedup.minhash_lsh_pairs(sub, threshold=0.8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" not in plan and "BroadcastExchange" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_simhash_pairs_sound(docs):
    sub = docs.limit(300)
    pairs = dedup.simhash_near_dup_pairs(sub, max_hamming=2).collect()
    sigs = {
        r["doc_id"]: r["sh"]
        for r in sub.select(
            "doc_id", dedup.simhash(F.col("text")).alias("sh")
        ).collect()
    }
    for r in pairs:
        ham = bin(sigs[r["id_a"]] ^ sigs[r["id_b"]]).count("1")
        assert ham == r["hamming"] and ham <= 2
    assert len(pairs) > 0  # duplicated docs exist in the fixture


def test_embedding_near_dup(emb):
    pairs = dedup.embedding_near_dup_pairs(emb, threshold=0.99).collect()
    rows = emb.collect()
    vecs = {r["vec_id"]: (np.array(r["embedding"], dtype=float), r["label"]) for r in rows}
    want = set()
    for i, (ia, (va, la)) in enumerate(sorted(vecs.items())):
        for ib, (vb, lb) in sorted(vecs.items())[i + 1 :]:
            if la != lb:
                continue
            cs = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if round(cs, 6) >= 0.99:
                want.add((ia, ib))
    assert {(r["id_a"], r["id_b"]) for r in pairs} == want


# ------------------------------ similarity ------------------------------


def test_cosine_topk_exact(emb):
    rows = emb.collect()
    q = list(np.array(rows[0]["embedding"], dtype=float))
    got = [(r["vec_id"], r["cos_sim"]) for r in
           similarity.cosine_topk(emb, q, k=10).orderBy("rank").collect()]
    sims = []
    qv = np.array(q)
    for r in rows:
        v = np.array(r["embedding"], dtype=float)
        sims.append((round(float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv))), 6), r["vec_id"]))
    want = [(vid, s) for s, vid in sorted(sims, key=lambda t: (-t[0], t[1]))[:10]]
    assert got == want
    assert got[0][0] == rows[0]["vec_id"]  # self is nearest


def test_ann_topk_recall(emb):
    rows = emb.collect()
    q = list(np.array(rows[3]["embedding"], dtype=float))
    exact = {r["vec_id"] for r in similarity.cosine_topk(emb, q, k=10).collect()}
    approx = {r["vec_id"] for r in similarity.ann_topk(emb, q, k=10).collect()}
    # LSH with 3 bands of 4 planes: recall@10 well above half on 64-d
    assert len(exact & approx) >= 5
    assert rows[3]["vec_id"] in approx


def test_ivf_assign_matches_numpy(emb):
    cents = similarity.ivf_centroids(64, 8, seed=7)
    got = {
        r["vec_id"]: r["lst"]
        for r in emb.select(
            "vec_id", similarity.ivf_assign(F.col("embedding"), cents).alias("lst")
        ).collect()
    }
    for r in emb.collect():
        v = np.array(r["embedding"], dtype=float)
        d = np.einsum("ij,ij->i", cents, cents) - 2.0 * cents @ v
        assert got[r["vec_id"]] == int(np.argmin(d)) + 1
    # every inverted list is used (centroids spread over the data)
    assert len(set(got.values())) >= 4


def test_ivf_topk_recall(emb):
    rows = emb.collect()
    q = list(np.array(rows[5]["embedding"], dtype=float))
    exact = {r["vec_id"] for r in similarity.cosine_topk(emb, q, k=10).collect()}
    approx = {r["vec_id"] for r in similarity.ivf_topk(emb, q, k=10, nprobe=3).collect()}
    assert len(exact & approx) >= 5
    assert rows[5]["vec_id"] in approx  # self's list is always probed


# ------------------------------ textstats ------------------------------


def test_text_stats_match_python(docs):
    out = {r["doc_id"]: r for r in textstats.text_stats(docs.limit(100)).collect()}
    rows = docs.limit(100).collect()
    import re

    for r in rows:
        t = r["text"]
        g = out[r["doc_id"]]
        assert g["ws_tokens"] == len(t.split())
        assert g["bpe_tokens"] == len(re.findall(textstats.BPE_RE, t))
        assert g["n_chars_actual"] == len(t)
        # quality in range and deterministic
        assert 0.0 <= g["quality"] <= 1.0
        # fingerprint: python mirror
        fp = 0
        for tok in t.split():
            th = 0
            for c in tok:
                th = (th * 31 + ord(c)) % dedup.HASH_MOD
            fp = (fp * dedup.FP_MULT + th) % dedup.FP_MOD
        assert g["fingerprint"] == fp


def test_lang_id_sane(docs):
    out = textstats.text_stats(docs).select("doc_id", "lang_pred").collect()
    preds = {r["lang_pred"] for r in out}
    assert preds <= {"en", "de", "fr", "es", "und"}


# ------------------------------ multimodal ------------------------------


def _page_media(pages):
    """(media_id, payload) over the page html, as q_media_features builds it."""
    return pages.select(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long").alias("media_id"),
        F.col("html").alias("payload"),
    )


def test_media_features(spark):
    from skyway_spark.sources.generate import generate_pages

    media = _page_media(generate_pages(spark, 50, partitions=3))
    feats = multimodal.extract_media_features(media, dim=8).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r["feature"]) == 8
        assert r["n_bytes"] > 0
        assert all(0.0 <= v <= 1.0 for v in r["feature"])
    # determinism across partitionings
    media2 = _page_media(generate_pages(spark, 50, partitions=7))
    feats2 = multimodal.extract_media_features(media2, dim=8).collect()
    a = {r["media_id"]: tuple(r["feature"]) for r in feats}
    b = {r["media_id"]: tuple(r["feature"]) for r in feats2}
    assert a == b


def test_sample_frames(spark, docs):
    media = docs.limit(20).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        (F.col("n_chars") * 40).cast("long").alias("duration_ms"),
    )
    frames = multimodal.sample_frames(media, every_ms=1000).collect()
    want = {}
    for r in media.collect():
        want[r["media_id"]] = [
            (ts, ts // 1000) for ts in range(0, r["duration_ms"], 1000)
        ]
    got = {}
    for r in frames:
        got.setdefault(r["media_id"], []).append((r["frame_ts"], r["frame_idx"]))
    for k in got:
        got[k].sort()
    assert got == want
    # non-video rows are excluded
    audio = media.withColumn("kind", F.lit("audio"))
    assert multimodal.sample_frames(audio).count() == 0


def test_sampling_deterministic_and_exhaustive(spark, docs):
    from skyway_spark.operators import sampling

    sub = docs.limit(300).cache()
    # split: disjoint + exhaustive + stable under repartitioning
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    s1 = {r["doc_id"]: r["split"] for r in sampling.hash_split(sub, w).collect()}
    s2 = {
        r["doc_id"]: r["split"]
        for r in sampling.hash_split(sub.repartition(7), w).collect()
    }
    assert s1 == s2 and len(s1) == sub.count()
    assert set(s1.values()) == {"train", "val", "test"}
    # roughly proportional (hash uniformity, loose bound)
    n = len(s1)
    assert sum(1 for v in s1.values() if v == "train") > 0.6 * n
    # sample subset law: lower rate selects a subset of a higher rate
    a = {r["doc_id"] for r in sampling.stratified_sample(sub, {}, default=0.2).collect()}
    b = {r["doc_id"] for r in sampling.stratified_sample(sub, {}, default=0.6).collect()}
    assert a <= b and len(a) < len(b) < n
    with pytest.raises(ValueError):
        sampling.hash_split(sub, {"a": 0.5, "b": 0.2})


def test_hash_bucket_large_ids_no_overflow(spark):
    """ids past ~8.4e9 must hash without int64 wrap: non-negative bucket,
    identical to an arbitrary-precision Python mirror (engine-independence
    at 10^12-row id ranges)."""
    from pyspark.sql import functions as F

    from skyway_spark.operators import sampling

    ids = [0, 1, 8_400_000_000, 2**40, 2**62, 2**63 - 1]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["bkt"]
        for r in df.select(
            "doc_id", sampling.hash_bucket(F.col("doc_id")).alias("bkt")
        ).collect()
    }
    p, a, b, nb = sampling.PRIME, sampling._A, sampling._B, sampling.BUCKETS
    for i in ids:
        want = ((i % p) * a + b) % p % nb  # Python ints: no overflow
        assert got[i] == want and 0 <= got[i] < nb, (i, got[i], want)
    # splits over large ids stay exhaustive (no all-to-'test' collapse)
    s = sampling.hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1})
    assert s.where(F.col("split").isNull()).count() == 0
    assert s.select("split").distinct().count() > 1


def test_connected_components(spark):
    """Label propagation vs a python union-find: long chains (many
    propagation rounds), stars, singleton edges, two disjoint blobs."""
    from skyway_spark.operators.graph import connected_components

    edges = (
        [(i, i + 1) for i in range(100, 110)]        # chain of 11
        + [(0, j) for j in range(1, 6)]              # star at 0
        + [(200, 201)]                               # pair
        + [(300, 301), (301, 302), (300, 302)]       # triangle
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(edges, "src long, dst long")
        ).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


def test_hourly_gap_fill(spark):
    """Dense grid, zero fill on gap hours, forward fill across gaps —
    vs a python mirror."""
    import datetime as dt

    from skyway_spark.operators.timeseries import hourly_gap_fill

    t0 = dt.datetime(2024, 3, 1, 10, 30)
    rows = [
        (1, t0, 100.0),
        (1, t0 + dt.timedelta(minutes=10), 50.0),      # same hour
        (1, t0 + dt.timedelta(hours=3), 20.0),          # 2-hour gap
        (2, t0 + dt.timedelta(hours=1), 7.0),           # single event
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, value double")
    got = {
        (r["user_id"], r["hour"]): (r["n_events"], r["ffill_cents"])
        for r in hourly_gap_fill(ev).collect()
    }
    h = dt.datetime(2024, 3, 1, 10)
    want = {
        (1, h): (2, 15000),
        (1, h + dt.timedelta(hours=1)): (0, 15000),     # gap: ffill
        (1, h + dt.timedelta(hours=2)): (0, 15000),
        (1, h + dt.timedelta(hours=3)): (1, 2000),
        (2, h + dt.timedelta(hours=1)): (1, 700),
    }
    assert got == want


def test_asof_join_bruteforce(spark):
    """Backward-inclusive as-of vs a python mirror: equal-ts match,
    no-preceding-row nulls, interleaved keys."""
    import random

    from skyway_spark.operators.asof import asof_join

    rnd = random.Random(7)
    lrows = [(i, rnd.randrange(4), rnd.randrange(100)) for i in range(200)]
    rrows_raw = {(rnd.randrange(4), rnd.randrange(100)) for _ in range(80)}
    rrows = [(k, t, k * 1000 + t) for k, t in rrows_raw]
    left = spark.createDataFrame(lrows, "lid long, k long, ts long")
    right = spark.createDataFrame(rrows, "k long, ts long, val long")
    got = {
        r["lid"]: r["val"]
        for r in asof_join(left, right, key="k", value_cols=["val"]).collect()
    }

    want = {}
    for lid, k, t in lrows:
        cand = [(rt, v) for rk, rt, v in rrows if rk == k and rt <= t]
        want[lid] = max(cand)[1] if cand else None

    assert got == want
    # row multiplicity: exactly one output row per left row
    assert len(got) == len(lrows)


def test_top_ngrams(spark, docs):
    import collections

    sub = docs.limit(60)
    got = [
        (r["ngram"], r["n_occurrences"])
        for r in textstats.top_ngrams(sub, n=3, k=20).collect()
    ]
    c = collections.Counter()
    for r in sub.collect():
        toks = r["text"].strip().split()
        for i in range(len(toks) - 2):
            c[" ".join(toks[i : i + 3])] += 1
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == want
    # fewer tokens than n -> no grams, no crash
    tiny = spark.createDataFrame([("one two",), ("",)], "text string")
    assert textstats.top_ngrams(tiny, n=3, k=5).count() == 0


def test_audio_windows(spark, docs):
    media = docs.limit(40).select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    W, H = 32, 16
    got = multimodal.audio_windows(media, window=W, hop=H).collect()
    want = []
    for r in media.collect():
        b = bytes(r["payload"])
        for i in range(0, (len(b) - W) // H + 1 if len(b) >= W else 0):
            w = b[i * H : i * H + W]
            want.append((r["media_id"], i, i * H, sum(w), max(w)))
    assert sorted(
        (r["media_id"], r["win_idx"], r["start"], r["energy"], r["peak"]) for r in got
    ) == sorted(want)
    # partition invariance: batch boundaries must not change framing
    got2 = multimodal.audio_windows(media.repartition(7), window=W, hop=H).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, got))
    # payloads shorter than one window emit nothing
    tiny = spark.createDataFrame(
        [(1, bytearray(b"abc"))], "media_id long, payload binary"
    )
    assert multimodal.audio_windows(tiny, window=8, hop=4).count() == 0


def test_url_canonicalization_cases(spark):
    """Spec cases from operators/urls.py: fragment, case, ports, www,
    tracking params, param sort, trailing slash."""
    from skyway_spark.operators import urls as U

    cases = [
        ("HTTP://WWW.Ex.COM:80/A/b/?utm_source=x&z=1&a=2#f", "http://ex.com/A/b?a=2&z=1"),
        ("https://Ex.com:443/", "https://ex.com/"),
        ("https://ex.com:8443/p", "https://ex.com:8443/p"),  # non-default port kept
        ("http://ex.com", "http://ex.com/"),
        ("http://ex.com/p?fbclid=abc", "http://ex.com/p"),
        ("http://ex.com/p?b=2&a=1", "http://ex.com/p?a=1&b=2"),
        ("http://user@ex.com/p", "http://user@ex.com/p"),  # userinfo preserved in canon
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(U.canonicalize_url(F.col("url"))).collect()]
    for (u, want), g in zip(cases, got):
        assert g == want, (u, g, want)
    # host_of strips userinfo, port, www
    hosts = [r[0] for r in df.select(U.host_of(F.col("url"))).collect()]
    assert hosts == ["ex.com"] * 2 + ["ex.com"] * 5


def test_bm25_ranking_sanity(docs):
    """BM25: a doc containing the query terms more densely must not
    rank below a doc with fewer matches at equal length; scores are
    positive and deterministic under repartitioning."""
    from skyway_spark.operators.retrieval import bm25_scores

    sub = docs.limit(200).cache()
    a = {r["doc_id"]: r["score"] for r in bm25_scores(sub, ("data", "join")).collect()}
    b = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(sub.repartition(7), ("data", "join")).collect()
    }
    assert a == b  # bit-deterministic under partitioning
    assert a and all(s > 0 for s in a.values())


def test_repetition_and_boilerplate_mirror_python(docs):
    """Gopher repetition stats + CCNet boilerplate vs plain-Python
    mirrors on a corpus slice (independent of the SQL oracles)."""
    from collections import Counter

    sub = docs.limit(120).cache()
    rows = {r["doc_id"]: r["text"] for r in sub.collect()}

    got_rep = {r["doc_id"]: r for r in textstats.repetition_stats(sub).collect()}
    for did, text in rows.items():
        toks = text.strip().split()
        bis = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        top = max(Counter(bis).values()) if bis else 0
        r = got_rep[did]
        assert r["n_tokens"] == len(toks)
        assert r["dup_token_frac"] == (len(toks) - len(set(toks))) / len(toks)
        assert r["top_bigram_frac"] == (top * 2.0 / len(toks) if bis else 0.0)

    got_bp = {
        r["doc_id"]: (r["n_windows"], r["n_boiler"])
        for r in textstats.boilerplate_windows(sub, window=8, min_repeat=3).collect()
    }
    corpus = Counter()
    chunks_of = {}
    for did, text in rows.items():
        toks = text.strip().split()
        cs = [" ".join(toks[i * 8 : i * 8 + 8]) for i in range(len(toks) // 8)]
        chunks_of[did] = cs
        corpus.update(cs)
    for did, cs in chunks_of.items():
        boiler = sum(1 for c in cs if corpus[c] >= 3)
        assert got_bp[did] == (len(cs), boiler), did


def test_connected_components_adversarial(spark):
    """Contraction + pointer-jumping CC vs a python union-find on the
    shapes that stress it: a 500-edge chain (deep pointer forest — must
    flatten by doubling, not one hop per round), a 999-leaf star (hub
    skew), random blobs with duplicate/reversed/self edges."""
    import random

    from skyway_spark.operators.graph import connected_components

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(1000, 1500)]
    edges += [(5000, 5000 + j) for j in range(1, 1000)]
    nodes = list(range(20000, 20200))
    edges += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(400)]
    edges += [(b, a) for a, b in edges[:50]] + edges[:50]

    got = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(edges, "src long, dst long")
        ).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want
