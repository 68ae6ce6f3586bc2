"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline — one narrow pass,
  dot products and norms are ``functions/vec`` folds (JVM-side),
  global top-k via one window;
- LSH-bucketed and IVF ANN: random-hyperplane signs -> band buckets
  (or nearest-centroid inverted lists) -> candidates. The scale path:
  at 10^12 rows the bucket join touches a tiny candidate slice instead
  of everything. Hyperplanes and centroids are seeded/deterministic.

All three top-k operators end in the same exact cosine re-rank,
``_rerank``.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from skyway_spark.functions import vec
from skyway_spark.operators.kmeans import _assign, _quantize, kmeans_train


def _dot_literal(vec_col: Column, q: list[float]) -> Column:
    """dot(vec, literal query) without a UDF."""
    qcol = F.array(*[F.lit(float(x)) for x in q])
    return vec.dot(vec_col.cast("array<double>"), qcol)


def _rerank(cand: DataFrame, query: list[float], k: int) -> DataFrame:
    """(vec_id, cos_sim, rank) of the k candidates nearest ``query`` by
    exact cosine, rounded to 6 places; ties broken by id."""
    qn = math.sqrt(sum(float(x) * float(x) for x in query))
    norm = vec.norm(F.col("embedding").cast("array<double>"))
    sim = _dot_literal(F.col("embedding"), query) / (norm * F.lit(qn))
    scored = cand.select("vec_id", F.round(sim, 6).alias("cos_sim"))
    w = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def cosine_topk(emb: DataFrame, query: list[float], k: int = 10) -> DataFrame:
    """Exact top-k by cosine to one literal query vector.
    (id, cos_sim, rank). Ties broken by id."""
    return _rerank(emb, query, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_signature(vec_col: Column, planes: np.ndarray) -> Column:
    """Sign-bit signature as int64 (n_planes <= 63): bit i = 1 iff
    dot(vec, plane_i) > 0. Column-only."""
    bits = []
    for i, plane in enumerate(planes):
        d = _dot_literal(vec_col, plane.tolist())
        bits.append(F.shiftleft((d > 0).cast("long"), i))
    out = F.lit(0).cast("long")
    for b in bits:
        out = out + b
    return out


def ann_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 12,
    bands: int = 3,
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing >=1 LSH band
    with the query, re-ranked by exact cosine. Recall rises with
    bands; candidate count falls with planes-per-band."""
    dim = len(query)
    planes = _hyperplanes(dim, n_planes)
    width = n_planes // bands
    mask = (1 << width) - 1
    qsig = 0
    for i, plane in enumerate(planes):
        if float(np.dot(plane, np.asarray(query, dtype=float))) > 0:
            qsig |= 1 << i
    sig = lsh_signature(F.col("embedding"), planes)
    banded = emb.withColumn("__sig", sig)
    cond = F.lit(False)
    for b in range(bands):
        qband = (qsig >> (b * width)) & mask
        cond = cond | (
            F.shiftrightunsigned("__sig", b * width).bitwiseAND(F.lit(mask)) == F.lit(qband)
        )
    return _rerank(banded.where(cond), query, k)


def ivf_centroids(dim: int, n_centroids: int, seed: int = 7) -> np.ndarray:
    """Deterministic coarse-quantizer centroids (seeded Gaussian).

    A production deployment would fit these with k-means on a sample
    and broadcast them; the assignment/probe machinery below is
    identical either way, and seeded centroids keep the whole path
    reproducible (and SQL-expressible for the oracle)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_centroids, dim))


def ivf_assign(vec_col: Column, centroids: np.ndarray) -> Column:
    """Inverted-list id (1-based) = argmin_i ||v - c_i||^2, computed as
    argmin_i (||c_i||^2 - 2*dot(v, c_i)) — the ||v||^2 term is constant
    per row. Pure Column math: one literal-dot per centroid, then
    array_position(array_min) for a first-occurrence argmin."""
    dists = []
    for c in centroids:
        cn2 = float(np.dot(c, c))
        dists.append(F.lit(cn2) - F.lit(2.0) * _dot_literal(vec_col, c.tolist()))
    darr = F.array(*dists)
    return F.array_position(darr, F.array_min(darr)).cast("int")


def ivf_topk(
    emb: DataFrame,
    query: list[float],
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: rows are bucketed into inverted lists by
    nearest centroid; only the query's `nprobe` closest lists are
    scanned and exactly re-ranked by cosine. At 10^12 rows the table
    is written partitioned by list id, so a probe is a partition-pruned
    scan of nprobe/n_centroids of the data — no shuffle, no full pass."""
    cents = ivf_centroids(len(query), n_centroids)
    q = np.asarray(query, dtype=float)
    qdists = np.einsum("ij,ij->i", cents, cents) - 2.0 * cents @ q
    probe = [int(i) + 1 for i in np.argsort(qdists, kind="stable")[:nprobe]]

    cand = emb.withColumn("__list", ivf_assign(F.col("embedding"), cents)).where(
        F.col("__list").isin(probe)
    )
    return _rerank(cand, query, k)


def semantic_dedup(vectors: DataFrame, tau: int, k: int = 8, iters: int = 2) -> DataFrame:
    """SemDeDup-style semantic near-duplicate marking: (vec_id,
    cluster, keep) for EVERY input vector, keep = false iff a
    LOWER-id vector in the same k-means cluster lies within integer
    squared distance ``tau`` (quantized 2^20 units).

    The public recipe (Abbas et al. 2023, "SemDeDup"): cluster the
    embedding space, then compare pairs only WITHIN a cluster — the
    clustering bounds the candidate set exactly like LSH banding does
    for minhash, so the pair join is sum(c_i^2) instead of n^2.  The
    keep rule here is the deterministic variant (drop anything with a
    smaller-id near neighbor) so the survivor set is engine-exact and
    independent of iteration order — a SQL oracle can replay it.

    Scale shape: training is operators/kmeans.py (per-iteration driver
    sync = k*dim longs); the pair stage shuffles (cluster, id, qvec)
    once on the cluster key — at 10^12 rows cluster count grows with
    the corpus (k ~ n/avg_cluster), keeping per-cluster blocks bounded,
    and the quantized vectors are int64 arrays (no text, no floats).
    The self-join is cluster-equi (no cross product); drops flow back
    as an id-only anti-join, the corpus itself is never re-shuffled.
    """
    centroids, qdf = kmeans_train(vectors, k, iters)
    assigned = _assign(qdf, [("q", centroids, "cluster", "dist")]).select(
        "vec_id", "cluster", "q"
    )
    qdf.unpersist()
    x, y = assigned.alias("x"), assigned.alias("y")
    sq = vec.sq_dist(F.col("x.q"), F.col("y.q"))
    dropped = (
        x.join(
            y,
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col("x.vec_id") > F.col("y.vec_id")),
        )
        .where(sq <= F.lit(int(tau)))
        .select(F.col("x.vec_id").alias("vec_id"))
        .distinct()
    )
    return assigned.join(dropped.withColumn("__drop", F.lit(True)), "vec_id", "left") \
        .select(
            "vec_id",
            "cluster",
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
        )


def int8_quantize_error(embs: DataFrame) -> DataFrame:
    """Per-vector worst-case reconstruction error of int8 scalar
    quantization (per-dimension affine min/max codebook) — the
    go/no-go check before shipping a quantized ANN index: if
    max|v - recon| is small everywhere, 4x memory is free; a fat tail
    means per-dim affine is the wrong codebook (use PQ).

    q      = clamp(round((v - mn_d) / scale_d), 0..255)
    recon  = mn_d + q * scale_d,   scale_d = (mx_d - mn_d) / 255
    err    = max_d |v - recon|     (constant dims: q = 0, err = 0)

    Engine-exactness: every step is per-element double arithmetic
    with one pinned op order (round() is half-away-from-zero on both
    engines, and the argument is >= 0 here); the per-vector reduction
    is MAX — a selection, not a sum — so the result is bit-exact.

    Scale shape: one posexplode shuffle to (dim, value), a 64-row
    min/max aggregate, a broadcast join of that dim table back onto
    the exploded corpus, one keyed max-groupBy per vector. At 100 TB
    the dim table is still 64 rows — the join is always broadcast.
    """
    ex = embs.select(
        F.col("vec_id").alias("vid"),
        F.posexplode(F.col("embedding")).alias("dim", "vf"),
    ).select("vid", "dim", F.col("vf").cast("double").alias("v"))
    stats = ex.groupBy("dim").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    j = ex.join(F.broadcast(stats), "dim")
    scale = (F.col("mx") - F.col("mn")) / F.lit(255.0)
    q = F.least(
        F.lit(255.0), F.greatest(F.lit(0.0), F.round((F.col("v") - F.col("mn")) / scale))
    )
    recon = F.col("mn") + q * scale
    err = F.when(F.col("mx") == F.col("mn"), F.lit(0.0)).otherwise(
        F.abs(F.col("v") - recon)
    )
    return (
        j.select("vid", err.alias("err"))
        .groupBy("vid")
        .agg(F.max("err").alias("max_abs_err"))
        .select(F.col("vid").alias("vec_id"), "max_abs_err")
    )


def matryoshka_recall(emb: DataFrame, prefix_dims: int = 16, k: int = 10) -> DataFrame:
    """Prefix-dimension retrieval quality (the Matryoshka/MRL
    question): if the index keeps only the first ``prefix_dims`` of
    each embedding, how much of the FULL-vector top-k survives?  Per
    query (every vector whose id is a multiple of 50): rank the corpus by exact
    integer dot product under full dims and under the prefix, count
    the candidates in BOTH top-k sets.

    Engine-exact: dims quantize to floor(v * 2^20) int64 once;
    dot products are integer sums; ranks break ties by candidate id —
    a total order, so recall is deterministic (no float argsort).

    Scale shape: the query side is tiny by construction and broadcasts
    across the corpus scan (the labeled brute-force convention of
    q_embed_topk — the IVF/LSH operators are the indexed path); ranks
    are per-query windows over corpus-sized groups; one shuffle.

    Output: (query_id, n_overlap) with n_overlap in [0, k].
    """
    quant = emb.select(
        F.col("vec_id").alias("id"), _quantize(F.col("embedding"), 20).alias("q")
    )
    qs = quant.where(F.col("id") % 50 == 0).select(
        F.col("id").alias("query_id"), F.col("q").alias("qa")
    )
    cs = quant.where(F.col("id") % 50 != 0).select(
        F.col("id").alias("cand_id"), F.col("q").alias("qb")
    )
    pairs = F.broadcast(qs).crossJoin(cs).select(
        "query_id",
        "cand_id",
        vec.dot(F.col("qa"), F.col("qb"), long=True).alias("d_full"),
        vec.dot(
            F.slice("qa", 1, prefix_dims), F.slice("qb", 1, prefix_dims), long=True
        ).alias("d_pre"),
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("d_full").desc(), "cand_id")
    wp = Window.partitionBy("query_id").orderBy(F.col("d_pre").desc(), "cand_id")
    ranked = pairs.select(
        "query_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wp).alias("rp"),
    )
    return ranked.groupBy("query_id").agg(
        F.sum(((F.col("rf") <= k) & (F.col("rp") <= k)).cast("long")).alias(
            "n_overlap"
        )
    )


def nearest_centroid_confusion(emb: DataFrame, scale_bits: int = 10) -> DataFrame:
    """Nearest-centroid classifier train + eval in one pass — the
    embedding-space sanity check (are the labels linearly separated by
    their means?): per-label centroids from integer-quantized sums,
    every vector classified to the closest centroid, confusion matrix
    out.

    Exactness: dims quantize once (floor(v*2^b)); centroids quantize
    as floor(sum*2^b / n) via explicit floor division — a documented,
    deterministic rounding (the true rational centroid would need
    cross-multiplied argmin whose products overflow int64 at dim 64);
    distances are integer sums; argmin ties break by label.

    Scale shape: training is one (label, dim) groupBy — map-side
    combined, alphabet-sized output — then a LABELS x DIMS driver sync
    (the kmeans.py convention: kilobytes); classification rides the
    scan as one kmeans._assign pass against the broadcast per-label
    centroid matrix (labels sorted, so its lowest-index tie-break is
    the lowest label).  One shuffle for the confusion groupBy.

    Output: (label, pred, n) — exact confusion matrix.
    """
    scale = 1 << scale_bits
    # q = floor(v*2^b) * 2^b: the vector on the centroids' 2^(2b) grid
    quant = emb.select(
        F.col("vec_id"),
        F.col("label"),
        F.transform(_quantize(F.col("embedding"), scale_bits), lambda q: q * scale).alias("q"),
    )
    sums = (
        quant.select(
            "label", F.posexplode("q").alias("dim", "v")
        )
        .groupBy("label", "dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_label: dict[int, dict[int, int]] = {}
    for r in sums:
        # floor division on possibly-negative sums (python // floors,
        # matching the SQL mirror's pmod construction)
        by_label.setdefault(int(r.label), {})[int(r.dim)] = int(r.s) // int(r.n)
    labels = sorted(by_label)
    dims = max(max(d) for d in by_label.values()) + 1
    cents = [[by_label[lab][d] for d in range(dims)] for lab in labels]
    pred = F.element_at(F.array(*[F.lit(lab) for lab in labels]), F.col("cluster") + 1)
    return (
        _assign(quant, [("q", cents, "cluster", "dist")])
        .select("label", pred.cast("int").alias("pred"))
        .groupBy("label", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
