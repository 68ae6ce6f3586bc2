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
- assignment runs in the scan stage as Arrow-batched numpy (``_assign``,
  the package's one integer nearest-centroid engine; PQ, the trained
  IVF probe and similarity.nearest_centroid_confusion use it too) —
  each (k, dim) int64 codebook ships once per executor as a
  SparkContext.broadcast, so any k*dim fits (a k=4096 IVF coarse
  quantizer included); no join, no shuffle.  Not a Column argmin over
  literal centroids: that measured slower for k-means, PQ and the
  nearest-centroid classifier alike, and its plan build grows with
  k*dim (CHANGES.md);
- the update is ONE map-side-combined groupBy on (block, cluster, dim)
  — k*dim output rows per codebook regardless of corpus size —
  collected to the driver (k-means has an inherent per-iteration sync
  point; it is k*dim*8 bytes, not data);
- the input projection (vec_id, q) is cached once for all iterations.

At 10^12 rows: same plan; the only driver traffic is k*dim longs per
iteration.  Empty clusters keep their previous centroid (deterministic,
mirrored by the oracle).  A null vector, a null element or a vector
whose length is not its codebook's dim raises a ValueError naming the
vec_id.

No reference counterpart (skyway has no ML ops; SURVEY.md §2.4) —
north-rule LLM-pipeline operator (IVF/coreset training for the ANN
index in operators/similarity.py).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SCALE_BITS = 20


def _quantize(vec_col: Column, scale_bits: int) -> Column:
    scale = float(1 << scale_bits)
    return F.transform(
        vec_col, lambda x: F.floor(x.cast("double") * F.lit(scale)).cast("long")
    )


def _bad_vector(vec_id, qcol: str, dim: int) -> ValueError:
    return ValueError(
        f"vec_id {vec_id}: vector {qcol!r} is null, holds a null or is not "
        f"{dim} long"
    )


def _assign(
    df: DataFrame, books: list[tuple[str, list[list[int]], str, str]]
) -> DataFrame:
    """For each ``(qcol, codebook, cluster_col, dist_col)`` in ``books``,
    append the index of the codebook row nearest to the int64 vector in
    ``qcol`` (int, ties to the lowest index) and its integer squared
    distance (long) — every codebook in ONE mapInArrow pass over ``df``,
    which must carry ``vec_id``.

    The (k, dim) int64 codebooks ride a SparkContext.broadcast (off-plan,
    one torrent transfer per executor, any k*dim).  Each Arrow batch's
    list column is read as a (rows, dim) matrix without a per-row copy,
    and a running minimum over the k rows keeps peak memory
    O(rows * dim), never O(rows * k * dim)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import StructType

    bc = df.sparkSession.sparkContext.broadcast(
        [np.asarray(book, dtype=np.int64) for _, book, _, _ in books]
    )

    def matrix(rb, qcol: str, dim: int):
        arr = rb.column(qcol)
        bad = pc.list_value_length(arr).fill_null(-1).to_numpy() != dim
        flat = arr.flatten()
        if flat.null_count:
            holes = pc.list_parent_indices(arr).filter(flat.is_null())
            bad[holes.to_numpy()] = True
        if bad.any():
            vec_id = rb.column("vec_id")[int(bad.argmax())].as_py()
            raise _bad_vector(vec_id, qcol, dim)
        return flat.to_numpy().reshape(-1, dim)

    def assign(batches):
        cmats = bc.value
        for rb in batches:
            out = list(rb.columns)
            for (qcol, _, _, _), cmat in zip(books, cmats):
                qmat = matrix(rb, qcol, cmat.shape[1])
                cid = np.zeros(len(qmat), dtype=np.int32)
                best = np.full(len(qmat), np.iinfo(np.int64).max)
                for i, c in enumerate(cmat):
                    d = qmat - c
                    d = (d * d).sum(axis=1)
                    closer = d < best  # strict: ties keep the lowest cid
                    cid[closer] = i
                    best[closer] = d[closer]
                out += [pa.array(cid), pa.array(best)]
            yield pa.RecordBatch.from_arrays(out, names=names)

    schema = StructType(list(df.schema.fields))
    for _, _, c, d in books:
        schema = schema.add(c, "integer").add(d, "long")
    names = schema.fieldNames()
    return df.mapInArrow(assign, schema)


def _lloyd(staged: DataFrame, qcols: list[str], k: int, iters: int) -> list:
    """``iters`` Lloyd iterations of one k-means codebook per quantized
    column of ``staged`` (vec_id, *qcols), from the k lowest-id vectors
    (deterministic init).  The codebooks never interact, so one pass per
    iteration assigns them all and stacks their (cluster, dim)
    aggregates into one (block, cluster, dim) aggregate — bit-identical
    to training each column alone."""
    init = sorted(
        staged.orderBy("vec_id").limit(k).collect(), key=lambda r: r["vec_id"]
    )
    books = [[r[c] for r in init] for c in qcols]
    for c, book in zip(qcols, books):
        dim = len(book[0] or ())  # the lowest-id vector sets the dim
        for r, row in zip(init, book):
            if not row or None in row or len(row) != dim:
                raise _bad_vector(r["vec_id"], c, dim)
    for _ in range(iters):
        assigned = _assign(
            staged,
            [(c, books[b], f"__c{b}", f"__d{b}") for b, c in enumerate(qcols)],
        )
        stacked = assigned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("b"),
                            F.col(f"__c{b}").alias("cluster"),
                            F.col(c).alias("q"),
                        )
                        for b, c in enumerate(qcols)
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
            nxt[r["b"]][r["cluster"]][r["d"]] = r["s"] // r["c"]  # Python floor div
        books = nxt
    return books


def kmeans_train(
    vectors: DataFrame,
    k: int = 8,
    iters: int = 2,
) -> tuple[list[list[int]], DataFrame]:
    """Train ``iters`` Lloyd iterations from the k lowest-id vectors
    (deterministic init).  Returns (centroids, qdf) — the trained
    quantized centroids plus the cached quantized projection, so
    callers (final assignment, IVF probing) reuse both."""
    qdf = vectors.select(
        "vec_id", _quantize(F.col("embedding"), DEFAULT_SCALE_BITS).alias("q")
    ).persist()
    return _lloyd(qdf, ["q"], k, iters)[0], qdf


def kmeans_fit_assign(vectors: DataFrame, k: int = 8, iters: int = 2) -> DataFrame:
    """Train and return the final assignment: (vec_id, cluster, dist)
    with dist the integer squared distance in quantized units.

    The quantized projection is cached for the TRAINING collects only;
    it is unpersisted before the (lazy) final assignment is returned,
    so the output pass re-derives quantization from the source scan —
    deliberate: at 10^12 rows the training sync points are the only
    passes worth pinning in cluster storage, and re-quantizing is two
    Column ops inside the output scan."""
    centroids, qdf = kmeans_train(vectors, k, iters)
    out = _assign(qdf, [("q", centroids, "cluster", "dist")]).select(
        "vec_id", "cluster", "dist"
    )
    qdf.unpersist()
    return out


def ivf_trained_topk(
    vectors: DataFrame,
    query: list[float],
    k_lists: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    topk: int = 10,
) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer (what
    similarity.ivf_topk's seeded-Gaussian centroids stand in for):
    k-means inverted lists, then scan only the query's ``nprobe``
    nearest lists and re-rank exactly — all in quantized int64 space,
    so the trained index + probe carries an exact SQL oracle.

    Scale shape: training as kmeans_train (per-iteration driver sync
    of k*dim longs); the probe is one scan-stage ``_assign`` pass that
    yields both the list id and the query distance (the query is a
    one-row codebook), a filter on the list id (at rest: partition
    pruning on a list-partitioned layout) + a TakeOrderedAndProject
    top-k — no shuffle of the corpus.  As in kmeans_fit_assign the
    cache serves training only; the returned probe re-quantizes inside
    its own scan by design.
    """
    centroids, qdf = kmeans_train(vectors, k_lists, iters)
    qq = [math.floor(float(x) * (1 << DEFAULT_SCALE_BITS)) for x in query]
    cdist = sorted(
        (sum((a - b) ** 2 for a, b in zip(qq, c)), i) for i, c in enumerate(centroids)
    )
    probe = [i for _, i in cdist[:nprobe]]
    out = (
        _assign(
            qdf, [("q", centroids, "cluster", "dist"), ("q", [qq], "__self", "qdist")]
        )
        .where(F.col("cluster").isin(probe))
        .select("vec_id", "cluster", "qdist")
        .orderBy("qdist", "vec_id")
        .limit(topk)
    )
    qdf.unpersist()
    return out


def _pq_blocks(vectors: DataFrame, m: int, dim: int) -> DataFrame:
    """(vec_id, __q0 .. __q{m-1}): the m quantized dim/m sub-blocks that
    PQ trains and encodes on."""
    if dim % m:
        raise ValueError("dim must divide evenly into m blocks")
    bs = dim // m
    return vectors.select(
        "vec_id",
        *[
            _quantize(
                F.slice(F.col("embedding"), j * bs + 1, bs), DEFAULT_SCALE_BITS
            ).alias(f"__q{j}")
            for j in range(m)
        ],
    )


def pq_train(
    vectors: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
) -> list[list[list[int]]]:
    """Train all ``m`` PQ sub-codebooks JOINTLY: one corpus scan per
    Lloyd iteration instead of m (and one init collect instead of m).

    Bit-identical to training each dim/m sub-block with kmeans_train
    separately — both run the same Lloyd loop over the same
    quantization and the same k lowest-id init rows (every vector
    carries all m blocks, so the per-block inits are slices of the same
    k rows); the blocks never interact, the joint pass just stacks the
    m independent (cluster, dim) aggregates into one (block, cluster,
    dim) aggregate.

    Scale shape per iteration: ONE pass over the cached quantized
    projection; the m per-block assignments are one ``_assign`` pass;
    one explode to (block, cluster, d, v) feeds a map-side-combined
    groupBy with m*k*(dim/m) = k*dim output rows regardless of corpus
    size; one driver sync of k*dim longs — the cost of training m
    codebooks collapses to the cost of training one.
    """
    staged = _pq_blocks(vectors, m, dim).persist()
    books = _lloyd(staged, [f"__q{j}" for j in range(m)], k, iters)
    staged.unpersist()
    return books


def _pq_encode(vectors: DataFrame, books: list[list[list[int]]], dim: int) -> DataFrame:
    m = len(books)
    staged = _pq_blocks(vectors, m, dim)
    coded = _assign(
        staged,
        [(f"__q{j}", book, f"code_{j}", f"dist_{j}") for j, book in enumerate(books)],
    )
    return coded.select(
        "vec_id", *[c for j in range(m) for c in (f"code_{j}", f"dist_{j}")]
    )


def pq_codes(
    vectors: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
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
    final encoding emits all m codes in ONE output scan — the quantized
    sub-blocks staged once, then one ``_assign`` pass probing all m
    broadcast sub-codebooks.

    Output: (vec_id, code_0..dist_0.., code_{m-1}, dist_{m-1}) with
    dist_j the integer squared distance to the chosen sub-centroid.

    Scale shape: training is pq_train's one-scan-per-iteration joint
    Lloyd (one k*dim-long driver sync per iteration, shared by all m
    codebooks); encoding is a scan-stage Arrow-batched pass with zero
    shuffles and zero joins — at 10^12 vectors the codes append to the
    scan like any derived column.
    """
    books = pq_train(vectors, m, k, iters, dim=dim)
    return _pq_encode(vectors, books, dim)


def pq_topk(
    vectors: DataFrame,
    query_id: int,
    topk: int = 10,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """PQ-ANN search via asymmetric distance computation (ADC): the
    query's exact squared distance to every sub-centroid forms an
    m x k lookup table; each corpus vector's approximate distance is
    the sum of m table entries selected by its PQ codes — the standard
    IVF-PQ probe arithmetic, here engine-exact because the tables and
    codes are the integer-quantized kind.

    Output: the ``topk`` (vec_id, approx_dist) rows, ordered
    (approx_dist, vec_id) — deterministic cut.

    Scale shape: pq_codes' training and encoding scan, plus the sum of
    m literal-array table lookups and a TakeOrdered top-k.  The query
    vector is one driver-side row (the only collect); no joins, no
    shuffle beyond the top-k reduction.
    """
    qrow = vectors.where(F.col("vec_id") == query_id).select("embedding").collect()
    if not qrow:
        raise KeyError(f"query vector {query_id} not found")
    scale = float(1 << DEFAULT_SCALE_BITS)
    qvec = [math.floor(float(x) * scale) for x in qrow[0][0]]

    books = pq_train(vectors, m, k, iters)
    bs = 64 // m
    approx = F.lit(0).cast("long")
    for j, book in enumerate(books):
        qsub = qvec[j * bs : (j + 1) * bs]
        dtab = [sum((a - b) * (a - b) for a, b in zip(qsub, c)) for c in book]
        approx = approx + F.element_at(
            F.array(*[F.lit(d).cast("long") for d in dtab]), F.col(f"code_{j}") + 1
        )
    return (
        _pq_encode(vectors, books, 64)
        .select("vec_id", approx.alias("approx_dist"))
        .orderBy("approx_dist", "vec_id")
        .limit(topk)
    )
