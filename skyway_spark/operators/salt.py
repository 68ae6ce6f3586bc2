"""Hot-cell detection + explicit join salting (north_rule: "explicit
salting of hot cells and AQE skew-join handling").

Web-extracted geo entities are power-law concentrated in cities: a
handful of cells hold a large share of rows, so a plain cell
equi-join stragglers on those cells. Fix:

1. pre-pass ``groupBy(cell).count()`` (cheap: map-side combined,
   output = #distinct cells) -> hot set = cells above a count
   threshold;
2. fact side: ``salt = pmod(xxhash64(id), n_salt)`` for hot cells,
   0 otherwise;
3. dim side: hot-cell rows replicated n_salt times (explode), cold
   rows once;
4. join on (cell, salt) — hot cells now spread over n_salt tasks.

AQE skew-join (enabled in plans/session.py) remains the runtime
backstop for skew the pre-pass threshold misses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hot_cells(df: DataFrame, cell_col: str = "cell", threshold: int | None = None) -> DataFrame:
    """(cell, cnt) for cells whose row count exceeds ``threshold``
    (default: 20x the mean cell count — a straggler by definition)."""
    counts = df.groupBy(cell_col).agg(F.count(F.lit(1)).alias("cnt"))
    if threshold is None:
        mean = counts.agg(F.avg("cnt")).first()[0] or 0.0
        threshold = max(int(mean * 20), 100)
    return counts.where(F.col("cnt") > threshold).select(cell_col, "cnt")


def salt_fact(
    df: DataFrame,
    hot: DataFrame,
    n_salt: int,
    cell_col: str = "cell",
    id_col: Column | str = "id",
) -> DataFrame:
    """Add ``__salt``: uniform in [0, n_salt) on hot cells, 0 elsewhere.
    ``hot`` is broadcast (it is tiny by construction)."""
    id_col = F.col(id_col) if isinstance(id_col, str) else id_col
    hot_flag = F.broadcast(hot.select(F.col(cell_col).alias("__hot_cell"))).withColumn(
        "__is_hot", F.lit(True)
    )
    return (
        df.join(hot_flag, df[cell_col] == hot_flag["__hot_cell"], "left")
        .withColumn(
            "__salt",
            F.when(F.col("__is_hot"), F.pmod(F.xxhash64(id_col), F.lit(n_salt)).cast("int"))
            .otherwise(F.lit(0)),
        )
        .drop("__hot_cell", "__is_hot")
    )


def salt_dim(
    df: DataFrame, hot: DataFrame, n_salt: int, cell_col: str = "cell"
) -> DataFrame:
    """Replicate dim rows n_salt times on hot cells (salt 0..n-1),
    once (salt 0) on cold cells."""
    hot_flag = F.broadcast(hot.select(F.col(cell_col).alias("__hot_cell"))).withColumn(
        "__is_hot", F.lit(True)
    )
    return (
        df.join(hot_flag, df[cell_col] == hot_flag["__hot_cell"], "left")
        .withColumn(
            "__salts",
            F.when(
                F.col("__is_hot"),
                F.sequence(F.lit(0).cast("int"), F.lit(n_salt - 1).cast("int")),
            ).otherwise(F.array(F.lit(0).cast("int"))),
        )
        .withColumn("__salt", F.explode("__salts"))
        .drop("__hot_cell", "__is_hot", "__salts")
    )


def salted_equi_join(
    fact: DataFrame,
    dim: DataFrame,
    n_salt: int = 8,
    cell_col: str = "cell",
    fact_id: str = "id",
    hot: DataFrame | None = None,
) -> DataFrame:
    """Skew-safe fact-dim equi-join on ``cell_col``."""
    if hot is None:
        hot = hot_cells(fact, cell_col)
    f = salt_fact(fact, hot, n_salt, cell_col, fact_id)
    d = salt_dim(dim, hot, n_salt, cell_col)
    return f.join(d, on=[cell_col, "__salt"]).drop("__salt")
