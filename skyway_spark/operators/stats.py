"""Exact statistical aggregates beyond SUM/COUNT.

Spark's var_pop/stddev run Welford-style float accumulation whose
result depends on partition order — unusable under a bit-exact
cross-engine gate. These aggregates keep the MOMENTS in int64
(order-independent) and derive mean/variance from them with a PINNED
sequence of IEEE double operations: +, -, *, / are correctly rounded
by the standard, so identical inputs + identical op order = identical
doubles on any engine — which floor() then pins to an integer.

Scale shape: one map-side-combined groupBy; three int64 sums per
group. At 10^12 rows raw second moments can exceed int64 — the
docstring contract bounds |x| so n*x^2 fits (token counts, lengths,
ratings all qualify); past that, swap the sums to DECIMAL(38,0), same
plan.

No reference counterpart (skyway has no aggregation; SURVEY.md §2.4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def group_moments(df: DataFrame, group_col: str, value: Column) -> DataFrame:
    """(group, n, sum_x, sum_x2, mean_milli, var_micro) with ``value``
    an integer-valued Column (cast to long inside).

    mean_milli = floor(sum_x / n * 1000);
    var_micro  = floor((sum_x2/n - (sum_x/n)^2) * 1000000);
    both via the pinned double op order mirrored by the SQL oracle
    (floor, not a cast: DuckDB's DOUBLE->BIGINT cast ROUNDS while
    Spark's truncates — floor agrees everywhere).
    """
    x = value.cast("long")
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sum_x"),
        F.sum(x * x).alias("sum_x2"),
    )
    m = F.col("sum_x").cast("double") / F.col("n").cast("double")
    var = F.col("sum_x2").cast("double") / F.col("n").cast("double") - m * m
    return g.select(
        "grp",
        "n",
        "sum_x",
        "sum_x2",
        F.floor(m * 1000.0).alias("mean_milli"),
        F.floor(var * 1_000_000.0).alias("var_micro"),
    )


def group_quantiles(df: DataFrame, group_col: str, value_col: str, id_col: str) -> DataFrame:
    """EXACT per-group percentiles (type-1 / lower discontinuous
    definition): for percentile p the result is the value at sorted
    rank ceil(n*p/100) = (n*p + 99) div 100, ordering by
    (value, id) so ties are deterministic.  No interpolation — engine
    quantile builtins disagree on interpolation rules, the explicit
    rank formula is bit-exact everywhere.

    Output: (grp, p, n, value) — one row per group and p in (50, 90, 99).

    Scale shape: ONE keyed sort-shuffle (window partitioned by group)
    computes rank + group count together; the percentile fan-out and
    rank filter are row-local.  At web scale a skewed group sorts in
    parallel within its partition range (range-partitioned sort), and
    only one row per (group, p) survives the filter — the output is
    group-count sized.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(value_col, id_col)
    ranked = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy(group_col)).alias("n"),
    )
    pcol = F.explode(F.array(*[F.lit(p) for p in (50, 90, 99)])).alias("p")
    return (
        ranked.select("grp", "v", "rn", "n", pcol)
        .where(F.col("rn") == F.expr("(n * p + 99) div 100"))
        .select("grp", "p", "n", F.col("v").alias("value"))
    )


def histogram_int(
    df: DataFrame,
    value_col: str,
    bin_width: int,
) -> DataFrame:
    """Fixed-width histogram over a non-negative integer column with
    exact parts-per-million shares: bin = v div width,
    ppm = (10^6 * count) div total — all integer division, engine-
    exact.

    Output: (bin, lo, n, ppm) where lo = bin * width.

    Scale shape: one map-side-combined groupBy (output is bin-count
    sized); the total rides back on a broadcast of the 1-row grand
    aggregate, not a second scan of the data (the counts table is
    reused).
    """
    counts = (
        df.select(F.expr(f"cast({value_col} as bigint) div {bin_width}").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # reused: per-bin rows + grand total
    )
    total = counts.agg(F.sum("n").alias("tot"))
    return counts.crossJoin(F.broadcast(total)).select(
        "bin",
        (F.col("bin") * bin_width).alias("lo"),
        "n",
        F.expr("1000000 * n div tot").alias("ppm"),
    )


def mad_outliers(df: DataFrame, group_col: str, value_col: str, id_col: str) -> DataFrame:
    """Robust per-group outlier flags via Median Absolute Deviation —
    the outlier detector that survives the outliers themselves (mean/
    stddev z-scores explode under heavy tails; web-scale length and
    score columns ARE heavy-tailed).

    Integer-exact: med = exact lower median (rank ceil(n/2) ordered by
    (value, id)), mad = lower median of |x - med| (ties by id), and
    the modified-z threshold |x - med| * 1349 > 7000 * mad is pure int64
    cross-multiplication (7000/1349 approximates the textbook
    0.6745*z > 3.5 rule).  mad = 0 (constant group) flags any
    deviation, matching the convention.

    Output: every input row as (grp, id, v, med, mad, is_outlier).

    Scale shape: two keyed window sorts (values, then absolute
    deviations) and one broadcast-sized join of per-group medians —
    group-count rows — back to the corpus; the corpus shuffles on the
    group key only.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(value_col, id_col)
    ranked = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.col(value_col).cast("long").alias("v"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy(group_col)).alias("n"),
    )
    med = ranked.where(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "grp", F.col("v").alias("med")
    )
    dev = ranked.join(F.broadcast(med), "grp").select(
        "grp", "id", "v", "med", F.abs(F.col("v") - F.col("med")).alias("ad")
    )
    w2 = Window.partitionBy("grp").orderBy("ad", "id")
    ranked2 = dev.select(
        "*",
        F.row_number().over(w2).alias("rn2"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("n2"),
    )
    mad = ranked2.where(F.col("rn2") == F.expr("(n2 + 1) div 2")).select(
        "grp", F.col("ad").alias("mad")
    )
    return dev.join(F.broadcast(mad), "grp").select(
        "grp",
        "id",
        "v",
        "med",
        "mad",
        (F.col("ad") * F.lit(1349) > F.lit(7000) * F.col("mad")).alias("is_outlier"),
    )


def cooccurrence_pairs(
    df: DataFrame,
    entity_col: str,
    item_col: str,
    min_count: int = 1,
) -> DataFrame:
    """Item co-occurrence counts: for every unordered item pair
    (a < b), in how many entities (users, sessions, documents) both
    appear — the substrate of co-visitation recommenders and PMI-style
    association mining.

    Output: (item_a, item_b, n_entities), item_a < item_b,
    n_entities >= min_count.

    Scale shape: distinct (entity, item) first (map-side combined —
    the dedup bounds fan-out by the DISTINCT item count per entity,
    not event count), then a self-equi-join on entity and a count
    groupBy.  Join fan-out is sum over entities of k_e^2 with k_e the
    per-entity distinct-item count — bounded when item sets per entity
    are (per-entity caps compose: feed this a per-group bottom-k
    sample to hard-cap k_e).  The item VOCABULARY never shuffles as a
    whole; only observed pairs do.
    """
    ei = df.select(
        F.col(entity_col).alias("e"), F.col(item_col).alias("i")
    ).distinct()
    a, b = ei.alias("a"), ei.alias("b")
    return (
        a.join(b, (F.col("a.e") == F.col("b.e")) & (F.col("a.i") < F.col("b.i")))
        .groupBy(F.col("a.i").alias("item_a"), F.col("b.i").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n_entities"))
        .where(F.col("n_entities") >= min_count)
    )


def auc_exact(
    scored: DataFrame, score_col: str = "score", label_col: str = "label"
) -> DataFrame:
    """Exact ROC AUC of an integer scorer against boolean labels via
    the rank-sum (Mann-Whitney U) identity, kept integer throughout:

        auc_num = sum over distinct scores s of
                      p_s * (2 * negatives_below(s) + n_s)
        AUC     = auc_num / (2 * P * N)

    where p_s / n_s count positives / negatives AT score s — each
    (pos, neg) pair contributes 2 when the positive outscores the
    negative and 1 on a tie, so auc_num is the standard tie-corrected
    AUC scaled by 2*P*N and is exact int64 on any engine; the final
    AUC is one double division.  This is the evaluation harness for
    the quality-classifier operators (hash_feature_score, quality
    gates): a curation pipeline that cannot measure its own filter is
    flying blind.

    Output: single row (n_pos, n_neg, auc_num, auc).

    Scale shape: one corpus-sized groupBy to the DISTINCT-SCORE
    aggregate (map-side combined), then a running window + total over
    that aggregate — the corpus never sorts globally."""
    from pyspark.sql import Window

    is_pos = F.col(label_col).cast("boolean")
    per = scored.groupBy(F.col(score_col).alias("s")).agg(
        F.sum(F.when(is_pos, 1).otherwise(0)).alias("p"),
        F.sum(F.when(is_pos, 0).otherwise(1)).alias("q"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    c = per.withColumn("nb", F.coalesce(F.sum("q").over(w), F.lit(0)))
    agg = c.agg(
        F.sum("p").alias("n_pos"),
        F.sum("q").alias("n_neg"),
        F.sum(F.col("p") * (F.lit(2) * F.col("nb") + F.col("q"))).alias("auc_num"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "auc_num",
        (
            F.col("auc_num").cast("double")
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


def running_zscore_flags(df: DataFrame) -> DataFrame:
    """Online anomaly detection, the detect-at-arrival convention:
    each point is judged against the moments of its entity's PRIOR
    points only (never itself — self-inclusion shrinks the z of the
    very outlier being tested).

    Engine-exact integer arithmetic: values quantize to int64 units
    v = floor(value * 100); with prior-window sums (n, s, ssq) the
    z^2 > 9 test cross-multiplies to

        (v*n - s)^2  >  9 * (n*ssq - s^2)

    — no division, no sqrt, no float variance.  Output: the flagged
    rows (entity, ts, point_id, v_q, n_prior).

    Scale shape: ONE entity-keyed sort shuffle; the prior-window sums
    are a single running-frame window pass (O(1) state per row); the
    flag predicate is scan-stage Column math.
    """
    from pyspark.sql import Window

    v = F.floor(F.col("value") * 100).cast("long")
    pw = (
        Window.partitionBy("entity")
        .orderBy(F.col("ts"), F.col("point_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w = df.select(
        F.col("user_id").alias("entity"),
        F.col("ts"),
        F.col("event_id").alias("point_id"),
        v.alias("v_q"),
    ).select(
        "*",
        F.count("v_q").over(pw).alias("n"),
        F.coalesce(F.sum("v_q").over(pw), F.lit(0)).alias("s"),
        F.coalesce(F.sum(F.col("v_q") * F.col("v_q")).over(pw), F.lit(0)).alias(
            "ssq"
        ),
    )
    dev = F.col("v_q") * F.col("n") - F.col("s")
    var_n2 = F.col("n") * F.col("ssq") - F.col("s") * F.col("s")
    return (
        w.where((F.col("n") >= 5) & (dev * dev > F.lit(9) * var_n2))
        .select("entity", "ts", "point_id", "v_q", F.col("n").alias("n_prior"))
    )


def cusum_changepoints(df: DataFrame, mu_q: int, k_q: int, h_q: int) -> DataFrame:
    """Two-sided CUSUM drift detection (Page 1954) per entity — the
    classic sequential changepoint test: quantized values v = floor(
    value*100) accumulate upper/lower statistics around the target
    ``mu_q`` with allowance ``k_q`` and alarm threshold ``h_q`` (all
    in quantized units)

        S+_t = max(0, S+_{t-1} + (v_t - mu_q) - k_q)
        S-_t = min(0, S-_{t-1} + (v_t - mu_q) + k_q)

    and a row is an alarm when S+ > h_q or S- < -h_q.

    Engine-exact via the prefix-scan identity: the max(0, .)
    recurrence is NOT a window aggregate, but with P_t = prefix sum of
    (v - k_q),   S+_t = P_t - min(0, running_min(P))   exactly (the
    running min plays the role of the last reset), and dually for S-.
    All integer, so bit-exact on any engine, and the whole operator is
    ONE entity-keyed sort shuffle: both prefix sums and both running
    extrema share a single window partitioning/ordering, so Catalyst
    plans one sort + one window stage; the alarm predicate is
    scan-stage Column math.  O(1) window state per row -> skewed
    entities stream.

    Output: alarm rows (entity, ts, point_id, v_q, s_hi, s_lo).
    """
    from pyspark.sql import Window

    v = F.floor(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("entity")
        .orderBy(F.col("ts"), F.col("point_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pref = df.select(
        F.col("user_id").alias("entity"),
        F.col("ts"),
        F.col("event_id").alias("point_id"),
        v.alias("v_q"),
    ).select(
        "*",
        F.sum(F.col("v_q") - (mu_q + k_q)).over(w).alias("p_hi"),
        F.sum(F.col("v_q") - (mu_q - k_q)).over(w).alias("p_lo"),
    )
    s_hi = F.col("p_hi") - F.least(F.lit(0), F.min("p_hi").over(w))
    s_lo = F.col("p_lo") - F.greatest(F.lit(0), F.max("p_lo").over(w))
    return (
        pref.select(
            "entity", "ts", "point_id", "v_q",
            s_hi.alias("s_hi"), s_lo.alias("s_lo"),
        )
        .where((F.col("s_hi") > h_q) | (F.col("s_lo") < -h_q))
    )
