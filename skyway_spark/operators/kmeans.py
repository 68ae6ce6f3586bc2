"""Engine-exact distributed k-means (Lloyd's) via integer quantization.

Iterative ML algorithms are normally impossible to oracle-check
exactly: every float summation order changes the centroids by ULPs
and assignments can flip.  This implementation removes the floats
entirely — coordinates quantize to int64 on entry
(floor(x * 2^scale_bits); power-of-two scaling of a float is EXACT in
IEEE, floor is exact, so quantization is deterministic), distances
and centroid sums are pure int64 arithmetic (order-independent), and
centroid updates use floor division — so k-means' every iteration is
bit-identical on any engine, and the whole trained model carries an
exact DuckDB oracle.  Quantization error (2^-scale_bits per coord) is
orders of magnitude below embedding noise; this is also how real
systems ship ANN indexes (IVF trains on int8/int16-quantized vectors
in FAISS/ScaNN for the same throughput reasons).

Scale shape per iteration (the MLlib pattern):
- assignment runs in the scan stage as Arrow-batched numpy — the
  (k, dim) int64 centroid matrix ships once per executor as a
  SparkContext.broadcast, so any k*dim fits (a k=4096 IVF coarse
  quantizer included); no join, no shuffle.  Not a Column argmin over
  literal centroids: it measured slower at k=8 and k=64 alike, and
  its plan build grows with k*dim (ROADMAP);
- the update is ONE map-side-combined groupBy on (cluster, dim) —
  k*dim output rows regardless of corpus size — collected to the
  driver (k-means has an inherent per-iteration sync point; it is
  k*dim*8 bytes, not data);
- the input projection (vec_id, q) is cached once for all iterations.

At 10^12 rows: same plan; the only driver traffic is k*dim longs per
iteration.  Empty clusters keep their previous centroid (deterministic,
mirrored by the oracle).

No reference counterpart (skyway has no ML ops; SURVEY.md §2.4) —
north-rule LLM-pipeline operator (IVF/coreset training for the ANN
index in operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SCALE_BITS = 20


def _quantize(vec_col: Column, scale_bits: int) -> Column:
    scale = float(1 << scale_bits)
    return F.transform(
        vec_col, lambda x: F.floor(x.cast("double") * F.lit(scale)).cast("long")
    )


def _sq_dist(q: Column, centroid: list[int]) -> Column:
    lit = F.array(*[F.lit(int(v)).cast("long") for v in centroid])
    return F.aggregate(
        F.zip_with(q, lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )


def _assign(qdf: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Add (cluster, dist): argmin over per-centroid integer squared
    distances, ties to the lowest centroid id:
    (vec_id, q) -> + (cluster int, dist long).

    The (k, dim) int64 centroid matrix rides a SparkContext.broadcast
    (off-plan, one torrent transfer per executor, any k*dim); each
    Arrow batch computes the distances with vectorized int64 numpy,
    looping over the k centroids so peak memory is O(batch * k), never
    O(batch * k * dim)."""
    import numpy as np
    import pandas as pd

    bc = qdf.sparkSession.sparkContext.broadcast(np.asarray(centroids, dtype=np.int64))

    def assign(batches):
        cmat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(
                    cluster=pd.Series(dtype="int32"), dist=pd.Series(dtype="int64")
                )
                continue
            qmat = np.stack([np.asarray(v, dtype=np.int64) for v in pdf["q"]])
            dists = np.empty((len(pdf), len(cmat)), dtype=np.int64)
            for i in range(len(cmat)):
                d = qmat - cmat[i]
                dists[:, i] = (d * d).sum(axis=1)
            cid = dists.argmin(axis=1)  # first min = lowest cid on ties
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "q": pdf["q"],
                    "cluster": cid.astype("int32"),
                    "dist": dists[np.arange(len(pdf)), cid],
                }
            )

    return qdf.mapInPandas(
        assign, "vec_id long, q array<bigint>, cluster int, dist long"
    )


def kmeans_train(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = DEFAULT_SCALE_BITS,
) -> tuple[list[list[int]], DataFrame]:
    """Train ``iters`` Lloyd iterations from the k lowest-id vectors
    (deterministic init).  Returns (centroids, qdf) — the trained
    quantized centroids plus the cached quantized projection, so
    callers (final assignment, IVF probing) reuse both."""
    qdf = vectors.select(
        F.col(id_col).alias("vec_id"), _quantize(F.col(vec_col), scale_bits).alias("q")
    ).persist()
    init = qdf.orderBy("vec_id").limit(k).collect()
    centroids = [list(r["q"]) for r in sorted(init, key=lambda r: r["vec_id"])]
    dim = len(centroids[0])
    for _ in range(iters):
        stats = (
            _assign(qdf, centroids)
            .select("cluster", F.posexplode("q").alias("d", "v"))
            .groupBy("cluster", "d")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
        nxt = [list(c) for c in centroids]  # empty clusters carry over
        for r in stats:
            nxt[r["cluster"]][r["d"]] = r["s"] // r["c"]  # Python floor div
        centroids = nxt
        assert all(len(c) == dim for c in centroids)
    return centroids, qdf


def kmeans_fit_assign(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = DEFAULT_SCALE_BITS,
) -> DataFrame:
    """Train and return the final assignment: (vec_id, cluster, dist)
    with dist the integer squared distance in quantized units.

    The quantized projection is cached for the TRAINING collects only;
    it is unpersisted before the (lazy) final assignment is returned,
    so the output pass re-derives quantization from the source scan —
    deliberate: at 10^12 rows the training sync points are the only
    passes worth pinning in cluster storage, and re-quantizing is two
    Column ops inside the output scan."""
    centroids, qdf = kmeans_train(vectors, k, iters, id_col, vec_col, scale_bits)
    out = _assign(qdf, centroids).select("vec_id", "cluster", "dist")
    qdf.unpersist()
    return out


def ivf_trained_topk(
    vectors: DataFrame,
    query: list[float],
    k_lists: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_bits: int = DEFAULT_SCALE_BITS,
) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer (what
    similarity.ivf_topk's seeded-Gaussian centroids stand in for):
    k-means inverted lists, then scan only the query's ``nprobe``
    nearest lists and re-rank exactly — all in quantized int64 space,
    so the trained index + probe carries an exact SQL oracle.

    Scale shape: training as kmeans_train (per-iteration driver sync
    of k*dim longs); the probe is a scan-stage filter on the list id
    (at rest: partition pruning on a list-partitioned layout) + a
    TakeOrderedAndProject top-k — no shuffle of the corpus.  As in
    kmeans_fit_assign the cache serves training only; the returned
    probe re-quantizes inside its own scan by design.
    """
    import math

    centroids, qdf = kmeans_train(vectors, k_lists, iters, id_col, vec_col, scale_bits)
    qq = [math.floor(float(x) * (1 << scale_bits)) for x in query]
    cdist = sorted(
        (sum((a - b) ** 2 for a, b in zip(qq, c)), i) for i, c in enumerate(centroids)
    )
    probe = [i for _, i in cdist[:nprobe]]
    out = (
        _assign(qdf, centroids)
        .where(F.col("cluster").isin(probe))
        .select(
            "vec_id",
            "cluster",
            _sq_dist(F.col("q"), qq).alias("qdist"),
        )
        .orderBy("qdist", "vec_id")
        .limit(topk)
    )
    qdf.unpersist()
    return out


def _argmin_literal(qcol: Column, centroids: list[list[int]]) -> Column:
    """(dist, cid) struct of the nearest literal centroid — argmin via
    array_min over per-centroid integer squared distances, ties to the
    lowest centroid id (the same contract as _assign)."""
    return F.array_min(
        F.array(
            *[
                F.struct(
                    _sq_dist(qcol, c).alias("dist"),
                    F.lit(i).alias("cid"),
                )
                for i, c in enumerate(centroids)
            ]
        )
    )


def pq_train(
    vectors: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    scale_bits: int = DEFAULT_SCALE_BITS,
) -> list[list[list[int]]]:
    """Train all ``m`` PQ sub-codebooks JOINTLY: one corpus scan per
    Lloyd iteration instead of m (and one init collect instead of m).

    Bit-identical to training each dim/m sub-block with kmeans_train
    separately — same quantization, same k-lowest-id init (every vector
    carries all m blocks, so the per-block inits are slices of the same
    k rows), same argmin with lowest-cid ties, same
    order-independent int64 sums and floor-div updates, same
    empty-cluster carry-over — because the blocks never interact: the
    joint pass just stacks the m independent (cluster, dim) aggregates
    into one (block, cluster, dim) aggregate.

    Scale shape per iteration: ONE pass over the cached quantized
    projection; the m per-block assignments are scan-stage literal
    argmins; one explode to (block, cluster, d, v) feeds a map-side-
    combined groupBy with m*k*(dim/m) = k*dim output rows regardless of
    corpus size; one driver sync of k*dim longs — the cost of training
    m codebooks collapses to the cost of training one.
    """
    if dim % m:
        raise ValueError("dim must divide evenly into m blocks")
    bs = dim // m
    staged = vectors.select(
        F.col(id_col).alias("vec_id"),
        *[
            _quantize(F.slice(F.col(vec_col), j * bs + 1, bs), scale_bits).alias(
                f"__q{j}"
            )
            for j in range(m)
        ],
    ).persist()
    init = sorted(
        staged.orderBy("vec_id").limit(k).collect(), key=lambda r: r["vec_id"]
    )
    books = [[list(r[f"__q{j}"]) for r in init] for j in range(m)]
    for _ in range(iters):
        stacked = staged.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("b"),
                            _argmin_literal(F.col(f"__q{j}"), books[j])[
                                "cid"
                            ].alias("cluster"),
                            F.col(f"__q{j}").alias("q"),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("e")
        )
        stats = (
            stacked.select("e.b", "e.cluster", F.posexplode("e.q").alias("d", "v"))
            .groupBy("b", "cluster", "d")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
        nxt = [[list(c) for c in book] for book in books]  # empty clusters carry
        for r in stats:
            nxt[r["b"]][r["cluster"]][r["d"]] = r["s"] // r["c"]
        books = nxt
    staged.unpersist()
    return books


def pq_codes(
    vectors: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    scale_bits: int = DEFAULT_SCALE_BITS,
) -> DataFrame:
    """Product quantization: ``m`` independent integer k-means
    codebooks, one per contiguous dim/m sub-block of the embedding —
    the memory-side half of a PQ/IVF-PQ ANN index (a 64-dim float
    vector compresses to m small codes; distances against codebook
    entries reconstruct approximate similarities without touching the
    raw vectors).

    Training reuses the engine-exact Lloyd's of ``kmeans_train`` on
    the SLICED sub-vectors (same quantization / floor-div / tie-break
    contract, so the whole index carries an exact SQL oracle); the
    final encoding emits all m codes in ONE output scan — per block an
    array_min(struct) argmin over the k literal sub-centroids, staged
    through a quantized projection so the interpreted slice/quantize
    HOFs evaluate once per block, not once per centroid.

    Output: (vec_id, code_0..dist_0.., code_{m-1}, dist_{m-1}) with
    dist_j the integer squared distance to the chosen sub-centroid.

    Scale shape: training is pq_train's one-scan-per-iteration joint
    Lloyd (one k*dim-long driver sync per iteration, shared by all m
    codebooks); encoding is scan-stage Column math with zero shuffles
    and zero joins — at 10^12 vectors the codes append to the scan like
    any derived column.
    """
    if dim % m:
        raise ValueError("dim must divide evenly into m blocks")
    bs = dim // m
    books = pq_train(vectors, m, k, iters, id_col, vec_col, dim, scale_bits)
    staged = vectors.select(
        F.col(id_col).alias("vec_id"),
        *[
            _quantize(F.slice(F.col(vec_col), j * bs + 1, bs), scale_bits).alias(
                f"__q{j}"
            )
            for j in range(m)
        ],
    )
    out_cols = [F.col("vec_id")]
    for j, centroids in enumerate(books):
        best = _argmin_literal(F.col(f"__q{j}"), centroids)
        out_cols.append(best["cid"].alias(f"code_{j}"))
        out_cols.append(best["dist"].alias(f"dist_{j}"))
    return staged.select(*out_cols)


def pq_topk(
    vectors: DataFrame,
    query_id: int,
    topk: int = 10,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    scale_bits: int = DEFAULT_SCALE_BITS,
) -> DataFrame:
    """PQ-ANN search via asymmetric distance computation (ADC): the
    query's exact squared distance to every sub-centroid forms an
    m x k lookup table; each corpus vector's approximate distance is
    the sum of m table entries selected by its PQ codes — the standard
    IVF-PQ probe arithmetic, here engine-exact because the tables and
    codes are the integer-quantized kind.

    Output: the ``topk`` (vec_id, approx_dist) rows, ordered
    (approx_dist, vec_id) — deterministic cut.

    Scale shape: after pq_train's joint training (one scan + one
    k*dim-long sync per Lloyd iteration), everything is one
    output scan — per block an argmin over k literal sub-centroids
    plus a literal-array table lookup — and a TakeOrdered top-k.  The
    query vector is one driver-side row (the only collect); no joins,
    no shuffle beyond the top-k reduction.
    """
    if dim % m:
        raise ValueError("dim must divide evenly into m blocks")
    bs = dim // m
    qrow = vectors.where(F.col(id_col) == query_id).select(vec_col).collect()
    if not qrow:
        raise KeyError(f"query vector {query_id} not found")
    import math

    scale = float(1 << scale_bits)
    qvec = [int(math.floor(float(x) * scale)) for x in qrow[0][0]]

    books = pq_train(vectors, m, k, iters, id_col, vec_col, dim, scale_bits)

    staged = vectors.select(
        F.col(id_col).alias("vec_id"),
        *[
            _quantize(F.slice(F.col(vec_col), j * bs + 1, bs), scale_bits).alias(
                f"__q{j}"
            )
            for j in range(m)
        ],
    )
    approx = F.lit(0).cast("long")
    for j, centroids in enumerate(books):
        qsub = qvec[j * bs : (j + 1) * bs]
        dtab = [
            sum((a - b) * (a - b) for a, b in zip(qsub, c)) for c in centroids
        ]
        best = _argmin_literal(F.col(f"__q{j}"), centroids)
        approx = approx + F.element_at(
            F.array(*[F.lit(int(d)).cast("long") for d in dtab]),
            best["cid"] + 1,
        )
    return (
        staged.select("vec_id", approx.alias("approx_dist"))
        .orderBy("approx_dist", "vec_id")
        .limit(topk)
    )
