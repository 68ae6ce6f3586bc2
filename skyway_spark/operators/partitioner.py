"""STR (Sort-Tile-Recursive) spatial bulk-load partitioning.

STR is the classic R-tree bulk-loading layout (Leutenegger et al.,
ICDE 1997): sort points by x into ``sx`` vertical slices of equal
cardinality, then sort each slice by y into ``sy`` tiles — giving a
balanced spatial partitioning whose tiles have near-minimal overlap.
At 100 TB this is how you lay out a spatial table for co-located
joins: the tile id becomes the bucket/file key, every tile holds
n/(sx*sy) +- 1 rows regardless of skew (unlike fixed grids, which the
hot-city disks overload 1000x — compare operators/salt.py).

The primitive is a GLOBAL RANK under a total order — exactly the
operation a naive ``Window.orderBy`` with no partition funnels through
one task.  ``global_rank`` instead runs the two-level distributed scan
(same discipline as packing.pack_sequences): a caller-supplied COARSE
BLOCK key that is a non-decreasing function of the leading sort column
partitions the window; block counts aggregate to a block-count-sized
table whose own prefix sum is one tiny window, broadcast back.  Rank
is therefore exact, engine- and partitioning-independent, and never
single-task.  Tile boundaries replicate SQL ``ntile`` semantics
(larger groups first) from the rank in closed form, so a DuckDB
``ntile`` window is an exact oracle.

No reference counterpart (skyway is a format converter; SURVEY.md
S2.4) — north-rule spatial-partitioning operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_rank(
    df: DataFrame,
    order_cols: list[str],
    block_col: Column,
    rank_name: str = "rank",
) -> DataFrame:
    """1-based global rank of every row under ORDER BY ``order_cols``,
    computed with the two-level distributed scan.  ``block_col`` must
    be a non-decreasing function of the leading order column (e.g.
    ``x div 4096`` for an ordering led by ``x``) so block boundaries
    respect the total order; the caller picks its granularity so block
    count ~ sqrt(n) at the target scale.

    ``df`` is read TWICE (windowed ranks + block counts — the fresh
    narrow re-scan keeps the counts branch off the corpus-sized window
    exchange, same as packing.pack_sequences); callers whose input is
    an expensive pipeline rather than a scan should localCheckpoint it
    first.
    """
    base = df.withColumn("__blk", block_col.cast("long"))
    w_in = Window.partitionBy("__blk").orderBy(*[F.col(c) for c in order_cols])
    local = base.withColumn("__lrn", F.row_number().over(w_in).cast("long"))
    # block counts from the pre-window projection (fresh narrow scan with
    # map-side combine), not from `local` — deriving them from the
    # windowed frame would re-execute the corpus-sized window exchange
    # (plan forks don't dedupe when column pruning diverges; the same
    # finding as packing.pack_sequences)
    counts = base.groupBy("__blk").agg(F.count(F.lit(1)).alias("__cnt"))
    w_blk = Window.orderBy("__blk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__blk", F.coalesce(F.sum("__cnt").over(w_blk), F.lit(0)).alias("__off")
    )
    return (
        local.join(F.broadcast(offsets), "__blk")
        .withColumn(rank_name, F.col("__off") + F.col("__lrn"))
        .drop("__blk", "__lrn", "__off")
    )


def _ntile_from_rank(rank: Column, total: Column, n: int) -> Column:
    """0-based SQL-standard ntile bucket from a 1-based rank: the first
    ``total % n`` buckets get ``total div n + 1`` rows, the rest
    ``total div n`` (larger groups first).  Closed form, so no second
    window; greatest(q, 1) keeps the dead branch division-safe when
    total < n (every row then lands in its own bucket via the rem
    branch, matching ntile)."""
    nn = F.lit(int(n)).cast("long")
    q = F.call_function("div", total, nn)
    rem = total % nn
    r0 = rank - 1
    head = rem * (q + 1)
    return F.when(
        r0 < head, F.call_function("div", r0, q + 1)
    ).otherwise(rem + F.call_function("div", r0 - head, F.greatest(q, F.lit(1).cast("long"))))


def str_pack(
    points: DataFrame,
    sx: int,
    sy: int,
    x_col: str = "x",
    y_col: str = "y",
    id_col: str = "id",
    x_block: int = 4096,
    y_block: int = 4096,
) -> DataFrame:
    """Assign every point an STR tile ``(tx, ty)``: ``sx`` equal-count
    vertical slices by (x, id), then ``sy`` equal-count tiles by
    (y, id) within each slice.  Input columns must be integers (grid
    coordinates); ``id_col`` breaks ties into a total order so the
    layout is deterministic.

    Output: points + (tx, ty).

    Scale shape: two two-level distributed ranks (four aggregate-sized
    shuffles + two corpus-sized window exchanges partitioned by coarse
    blocks — never a single-task window); slice totals and block
    offsets broadcast.  Tiles are balanced to +-1 row under ANY skew,
    which is the point of STR over a fixed grid.
    """
    totals = points.agg(F.count(F.lit(1)).alias("__n"))
    ranked_x = global_rank(
        points,
        [x_col, id_col],
        F.call_function("div", F.col(x_col).cast("long"), F.lit(int(x_block))),
        rank_name="__rx",
    )
    sliced = (
        ranked_x.crossJoin(F.broadcast(totals))
        .withColumn("tx", _ntile_from_rank(F.col("__rx"), F.col("__n"), sx))
        .drop("__rx", "__n")
    )

    # second-level rank within each slice: block key = (tx, y-block),
    # window partitioned by both so the order (tx, y, id) is respected.
    # The slice table is localCheckpoint-pinned first: three plan
    # branches read it (local ranks, block counts, slice totals) and
    # without the pin Catalyst re-executes the ENTIRE first-level rank
    # subtree once per branch (measured 6 parquet scans -> 1; the
    # repo's multi-reference staging discipline)
    base = sliced.withColumn(
        "__yblk", F.call_function("div", F.col(y_col).cast("long"), F.lit(int(y_block)))
    ).localCheckpoint(eager=True)
    w_in = Window.partitionBy("tx", "__yblk").orderBy(y_col, id_col)
    local = base.withColumn("__lrn", F.row_number().over(w_in).cast("long"))
    counts = base.groupBy("tx", "__yblk").agg(F.count(F.lit(1)).alias("__cnt"))
    w_blk = (
        Window.partitionBy("tx")
        .orderBy("__yblk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "tx",
        "__yblk",
        F.coalesce(F.sum("__cnt").over(w_blk), F.lit(0)).alias("__off"),
    )
    slice_totals = counts.groupBy("tx").agg(F.sum("__cnt").alias("__stot"))
    ry = F.col("__off") + F.col("__lrn")
    return (
        local.join(F.broadcast(offsets), ["tx", "__yblk"])
        .join(F.broadcast(slice_totals), "tx")
        .withColumn("ty", _ntile_from_rank(ry, F.col("__stot"), sy))
        .drop("__yblk", "__lrn", "__off", "__stot")
    )


def str_tile_stats(packed: DataFrame) -> DataFrame:
    """Per-tile summary of an STR layout: row count and bounding box —
    the manifest a spatial reader would prune against.  One map-side-
    combined groupBy over the packed table."""
    return packed.groupBy("tx", "ty").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
        F.min("y").alias("y_min"),
        F.max("y").alias("y_max"),
    )


def rendezvous_shards(ids: DataFrame, n_before: int, n_after: int) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing shard assignment —
    the consistent-placement scheme behind cache/shard topologies
    (Thaler & Ravishankar '98): every id scores each shard with a
    portable integer hash and lands on the argmax, so growing the
    fleet from ``n_before`` to ``n_after`` shards moves ONLY the ids
    the new shards win (expected n*(1 - n_before/n_after)) and never
    reshuffles between surviving shards — the property that makes
    100 TB re-sharding an append, not a rebuild.

    Hash: ((id % P) * 131 + shard * 7919) % P * 1103515245 + 12345,
    all mod P = 2^31-1 (sampling.py's portable LCG family).  The id is
    reduced mod P BEFORE the LCG multiply so every intermediate stays
    below 2^31 * 1103515245 < 2^63 for the whole int64 id domain —
    the unreduced form overflows int64 above id ~6.4e10, where Spark
    wraps silently but DuckDB raises, breaking the oracle contract.
    Argmax ties break to the smallest shard id.  Output per after-shard:
    (shard, n_before_here, n_after_here, n_moved_in) — the movement
    audit; the invariant ``n_moved_in = 0`` for shard < n_before is
    the rendezvous guarantee, pinned by tests.

    Scale shape: the score table is a shards-count explode of the id
    scan (Column-only, no shuffle); both assignments reduce in ONE
    map-side-combined groupBy; no joins.
    """
    if not (0 < n_before <= n_after):
        raise ValueError("need 0 < n_before <= n_after")
    i = F.col("doc_id").cast("long")

    P = 2147483647

    def best(n):
        scores = F.array(*[
            F.struct(
                (
                    (((i % P) * 131 + s * 7919) % P * 1103515245 + 12345)
                    % P
                ).alias("h"),
                (-F.lit(s)).alias("ns"),
            )
            for s in range(n)
        ])
        return (-F.array_max(scores)["ns"]).cast("int")

    assigned = ids.select(
        best(n_before).alias("s_before"), best(n_after).alias("s_after")
    )
    return (
        assigned.groupBy(F.col("s_after").alias("shard"))
        .agg(
            F.sum(
                F.when(F.col("s_before") == F.col("s_after"), 0).otherwise(1)
            ).cast("long").alias("n_moved_in"),
            F.count(F.lit(1)).alias("n_after_here"),
        )
        .join(
            assigned.groupBy(F.col("s_before").alias("shard")).agg(
                F.count(F.lit(1)).alias("n_before_here")
            ),
            "shard",
            "full",
        )
        .select(
            "shard",
            F.coalesce("n_before_here", F.lit(0)).cast("long").alias("n_before_here"),
            F.coalesce("n_after_here", F.lit(0)).cast("long").alias("n_after_here"),
            F.coalesce("n_moved_in", F.lit(0)).cast("long").alias("n_moved_in"),
        )
    )
