"""Time-series resampling: regular-grid gap fill + forward fill.

No reference counterpart (skyway never parses timestamps —
src/elements.rs:37 keeps them as opaque strings; SURVEY.md §2.4) —
this is a training-pipeline operator over the events stream.

Scale shape: one shuffle aggregates raw events to (key, bucket); the
dense grid is generated per key with JVM-side sequence()+explode from
the per-key min/max bucket (computed from the AGGREGATE rows, never
re-scanning raw events), and the grid joins back to the aggregate on
(key, bucket). Forward fill is a window last(ignorenulls) over the
grid — rows per key bounded by the time span, not the event rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hourly_gap_fill(events: DataFrame, key: str = "user_id") -> DataFrame:
    """Dense hourly series per key between that key's first and last
    event hour: n_events (0 on gap hours) and ffill_cents (the last
    seen hour-sum of integer cents, carried forward across gaps).

    Cents are floor(value*100) — integer money so sums are
    cross-engine exact.
    """
    cents = F.floor(F.col("value") * 100)
    hour = F.date_trunc("hour", F.col("ts"))
    agg = events.groupBy(F.col(key), hour.alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents.cast("long")).alias("cents"),
    )
    spans = agg.groupBy(key).agg(
        F.min("hour").alias("__h0"), F.max("hour").alias("__h1")
    )
    grid = spans.select(
        F.col(key),
        F.explode(
            F.sequence(F.col("__h0"), F.col("__h1"), F.expr("interval 1 hour"))
        ).alias("hour"),
    )
    dense = grid.join(agg, [key, "hour"], "left")
    w = (
        Window.partitionBy(key)
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return dense.select(
        F.col(key),
        F.col("hour"),
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.last(F.col("cents"), ignorenulls=True).over(w).alias("ffill_cents"),
    )


def ewma(
    df: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
) -> DataFrame:
    """Per-key exponentially weighted moving average, alpha = 1/2:
    ewma_0 = x_0; ewma_t = (ewma_{t-1} + x_t) / 2.

    alpha = 1/2 is deliberate: every weight is a power of two, and the
    fold uses only IEEE +,/ in a FIXED order, so the result is
    bit-identical on any engine (DuckDB mirror: list_reduce over
    list(value ORDER BY ...), which seeds with the first element
    exactly like F.aggregate over slice(2..) seeded with element 1).

    Scale shape: one shuffle to the key; the per-key sequence rides a
    collect_list bounded by events-per-key (same envelope as the
    sessionizer), never the corpus. A window-function EWMA would need
    pow() with float exponents — not portable cross-engine.
    """
    seq = F.transform(
        F.array_sort(
            F.collect_list(F.struct(*[F.col(c) for c in order_cols], value_col))
        ),
        lambda s: s[value_col],
    )
    per_key = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"), seq.alias("__vals")
    )
    folded = F.aggregate(
        F.slice(F.col("__vals"), 2, F.greatest(F.size("__vals") - 1, F.lit(0))),
        F.element_at(F.col("__vals"), 1),
        lambda acc, x: (acc + x) / 2.0,
    )
    return per_key.select(key_col, "n_events", folded.alias("ewma"))


def transition_counts(df: DataFrame) -> DataFrame:
    """Corpus-wide Markov transition matrix over per-key ordered
    event streams: count every consecutive (prev_state -> next_state)
    pair and its conditional probability P(next | prev).

    Scale shape: ONE shuffle (window partitioned by key) produces the
    lag pairs; the result then collapses to |states|^2 rows with
    map-side combine, and the probability normalization is a window
    over that kilobyte-sized matrix — nothing after the first
    exchange scales with the corpus.  Order must be total per key
    ((ts, event_id) ends in a unique id) or lag() is nondeterministic.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    pairs = df.select(prev.alias("prev_type"), F.col("event_type").alias("next_type"))
    counts = (
        pairs.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wp).cast("double")).alias("p"),
    )


def rolling_distinct_active(
    df: DataFrame, entity: str = "user_id", day: str = "day", window: int = 7
) -> DataFrame:
    """Rolling N-day distinct actives (WAU for window=7): for every
    day PRESENT in the data, the count of distinct entities active in
    the trailing ``window`` days. A plain window function cannot do
    DISTINCT-over-range; the distributed shape is scatter-to-window:
    each (entity, day) activity row is exploded to the <= N window
    ENDS it belongs to, then one countDistinct groupBy per end day.

    Scale shape: activity first collapses to DISTINCT (entity, day) —
    the explode factor is then exactly ``window`` on an
    already-aggregated table, and the final groupBy is keyed by day
    (365 keys/year — broadcast-sized output). Ghost trailing days are
    removed by a semi-join against the observed-day set.

    Output: (day, n_active) — exact integers.
    """
    act = df.select(F.col(entity).alias("e"), F.col(day).alias("d")).distinct()
    days = act.select(F.col("d").alias("day")).distinct()
    scattered = act.select(
        "e", F.explode(F.sequence(F.col("d"), F.col("d") + F.lit(window - 1))).alias("day")
    )
    return (
        scattered.join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("e").alias("n_active"))
    )


def interval_union(df: DataFrame, key: str = "user_id", id_col: str | None = None) -> DataFrame:
    """Per-key union length of possibly-overlapping intervals — the
    sweep-line primitive behind session coverage, geofence dwell time,
    machine-utilization and SLA-uptime rollups.  Intervals that touch
    (next.start == running.end) merge.

    Algorithm: per key, sort by (start, end[, id]); an interval opens
    a new island iff its start exceeds the running max end of all
    PRECEDING intervals (classic interval-merge recast as two window
    functions — a lag-style running max and a running sum over the
    island flags — so it stays one sort-shuffle, no iterative loop);
    islands then aggregate to (min start, max end).

    Scale shape: exactly one shuffle (the per-key window sort); island
    detection is O(1) state per row; the island groupBy is map-side
    combined and output is islands-count-sized.  All arithmetic is
    integer (caller supplies epoch-us or any monotone integer axis),
    so results are engine-exact.

    Output: (key, n_intervals, n_islands, covered) — covered in the
    caller's units.
    """
    order = [F.col("s"), F.col("e")] + ([F.col(id_col)] if id_col else [])
    w_prev = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = [F.col(key), F.col("s"), F.col("e")] + (
        [F.col(id_col)] if id_col else []
    )
    flagged = df.select(
        *base,
        F.when(F.col("s") > F.max("e").over(w_prev), F.lit(1))
        .otherwise(F.lit(0))
        .alias("new_island"),
    ).select(
        F.col(key).alias("k"),
        F.col("s"),
        F.col("e"),
        F.sum("new_island").over(w_run).alias("island"),
    )
    islands = flagged.groupBy("k", "island").agg(
        F.count(F.lit(1)).alias("n_iv"),
        F.min("s").alias("is_"),
        F.max("e").alias("ie"),
    )
    return (
        islands.groupBy(F.col("k").alias(key))
        .agg(
            F.sum("n_iv").alias("n_intervals"),
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(F.col("ie") - F.col("is_")).alias("covered"),
        )
    )


def acf_counts(counts: DataFrame, max_lag: int = 24) -> DataFrame:
    """Integer autocorrelation raw moments of a regularly-keyed count
    series at lags 1..max_lag: for each lag the number of aligned
    pairs and the exact int64 sums (sum x_t*x_{t+lag}, sum x_t,
    sum x_{t+lag}, sum of squares of both ends), from which any ACF
    normalization is one engine-local float step — the seasonality
    detector over event volumes, kept engine-exact by deferring the
    division (same discipline as morans_i / variogram).

    Scale shape: ``counts`` is already aggregate-sized (one row per
    hour/bucket); the lag alignment is a broadcast of the lag list
    crossed with the series and ONE self equi-join on the shifted key
    — never a window over an unpartitioned global sort."""
    lags = F.explode(
        F.sequence(F.lit(1).cast("long"), F.lit(max_lag).cast("long"))
    ).alias("lag")
    a = counts.select(F.col("h").alias("ha"), F.col("x").alias("xa")).crossJoin(
        counts.sparkSession.range(1).select(lags)
    )
    b = counts.select(F.col("h").alias("hb"), F.col("x").alias("xb"))
    j = a.join(b, F.col("hb") == F.col("ha") + F.col("lag"))
    return j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("xa") * F.col("xb")).alias("sum_xy"),
        F.sum("xa").alias("sum_x"),
        F.sum("xb").alias("sum_y"),
        F.sum(F.col("xa") * F.col("xa")).alias("sum_xx"),
        F.sum(F.col("xb") * F.col("xb")).alias("sum_yy"),
    )
