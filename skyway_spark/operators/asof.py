"""Distributed as-of join (point-in-time lookup).

For every left row, attach the most recent right row for the same key
with right.ts <= left.ts (backward, inclusive — the semantics of
DuckDB's ASOF JOIN, which serves as the exact oracle). No reference
counterpart (skyway has no joins; SURVEY.md §2.4) — this is the
classic time-series operator Spark's built-ins lack.

Scale shape: the naive formulations are a range join (quadratic
candidate explosion) or a per-key collect. This implementation is the
canonical distributed one:
  * tag both sides, union them (narrow),
  * ONE shuffle: window partitionBy(key) orderBy(ts, side),
  * forward-fill the right-side values with last(ignorenulls=True)
    over an unbounded-preceding running frame,
  * keep the left rows.
Cost is a single sort-shuffle of |L|+|R| rows — the same cost as any
groupBy over the key — regardless of how many right rows precede each
left row. Right rows at ts equal to a left row's sort BEFORE it
(side 0 < side 1), making the match inclusive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Left as-of join: all left columns + each right value column
    (null when no right row precedes), matched on ``key`` and ``ts``.

    Right (key, ts) pairs should be unique for deterministic output
    (pre-aggregate duplicates upstream) — matching DuckDB ASOF.
    """
    value_cols = value_cols or [
        c for c in right.columns if c not in (key, "ts")
    ]
    lcols = left.columns
    tagged_l = left.select(
        F.col(key).alias("__k"),
        F.col("ts").alias("__ts"),
        F.lit(1).alias("__side"),
        F.struct(*[F.col(c) for c in lcols]).alias("__lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"__v_{c}") for c in value_cols],
    )
    tagged_r = right.select(
        F.col(key).alias("__k"),
        F.col("ts").alias("__ts"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(tagged_l.schema["__lrow"].dataType).alias("__lrow"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
    )
    w = (
        Window.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = tagged_l.unionByName(tagged_r)
    filled = [
        F.last(F.col(f"__v_{c}"), ignorenulls=True).over(w).alias(f"__f_{c}")
        for c in value_cols
    ]
    out = u.select("*", *filled).where(F.col("__side") == 1)
    return out.select(
        *[F.col("__lrow")[c].alias(c) for c in lcols],
        *[F.col(f"__f_{c}").alias(c) for c in value_cols],
    )
