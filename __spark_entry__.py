"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator family (SURVEY.md §2 +
north-rule spatial ops + training-data pipeline ops) to a DataFrame
callable; ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL.
Cross-engine exactness strategy:
- money aggregates go through DECIMAL casts (exact sums in both
  engines, emitted as DOUBLE);
- every custom hash is portable integer math (mod 2^44 / 2^40 folds)
  written identically in Column exprs and SQL;
- float formulas are written with the same operation order on both
  sides so IEEE doubles match bit-for-bit (trig ULP divergence only
  affects floor/round at ~1e-15 boundaries, avoided by construction);
- spatial queries derive deterministic lat/lon from the events table
  with pure integer arithmetic, so both engines see identical points.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skyway_spark.functions import cells, strhash
from skyway_spark.functions.filter import compile_osmfilter, compile_cel
from skyway_spark.operators import (
    cluster,
    dedup,
    overlap,
    retrieval,
    salt,
    similarity,
    textstats,
    tiles,
)
from skyway_spark.operators.extract import extract_geo_entities
from skyway_spark.operators.knn import knn_join
from skyway_spark.operators.pip import point_in_polygon
from skyway_spark.operators.rangejoin import range_join
from skyway_spark.schema import ELEMENTS_SCHEMA, POLYGONS_SCHEMA
from skyway_spark.sources import opl as oplio
from skyway_spark.sources.generate import generate_pages, generate_polygons

# ---------------------------------------------------------------------------
# shared derivations (Spark side + SQL side must match exactly)
# ---------------------------------------------------------------------------

CELL_RES = 6
TILE_Z = 10

_POINTS_SQL = """
    SELECT event_id,
           ((user_id * 7919) % 17000) / 100.0 - 85.0  AS lat,
           ((event_id * 104729) % 36000) / 100.0 - 180.0 AS lon
    FROM events
"""


def _tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names]


def _event_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    (ev,) = _tables(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        ((F.col("user_id") * 7919) % 17000 / 100.0 - 85.0).alias("lat"),
        ((F.col("event_id") * 104729) % 36000 / 100.0 - 180.0).alias("lon"),
    )


def _part_elements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic elements table derived from `part` (tags map +
    type discriminator) — lets the filter compilers run against
    driver-provided data with a plain-SQL oracle."""
    (part,) = _tables(spark, sf_dir, "part")
    etype = (
        F.when(F.col("p_partkey") % 3 == 0, "node")
        .when(F.col("p_partkey") % 3 == 1, "way")
        .otherwise("relation")
    )
    base_tags = F.create_map(
        F.lit("brand"), F.col("p_brand"), F.lit("ptype"), F.col("p_type")
    )
    tags = F.when(
        F.col("p_size") > 40,
        F.map_concat(base_tags, F.create_map(F.lit("big"), F.lit("yes"))),
    ).otherwise(base_tags)
    return part.select(
        etype.alias("type"),
        F.col("p_partkey").alias("id"),
        F.when(etype == "node", (F.col("p_partkey") % 170) - 85.0).alias("lat"),
        F.when(etype == "node", (F.col("p_partkey") % 360) - 180.0).alias("lon"),
        F.when(
            etype == "way", F.array(F.col("p_partkey"), F.col("p_partkey") + 1)
        ).alias("nodes"),
        F.when(
            etype == "relation",
            F.array(
                F.struct(
                    F.lit("node").alias("type"),
                    F.col("p_partkey").alias("ref"),
                    F.lit("outer").alias("role"),
                )
            ),
        ).alias("members"),
        tags.alias("tags"),
        F.lit(None).cast("long").alias("changeset"),
        F.lit(None).cast("int").alias("uid"),
        F.lit(None).cast("string").alias("user"),
        F.lit(None).cast("int").alias("version"),
        F.lit(None).cast("string").alias("timestamp"),
        F.lit(None).cast("boolean").alias("visible"),
    )


OSMFILTER_PROGRAM = (
    "OSMFilter v0.2.0\n"
    "\n"
    "TYPE node, way\n"
    '\tHAS "big"\n'
    '\t\tSET "class" "large"\n'
    '\t\tRENAME "ptype" "kind"\n'
    '\t\tDELETE "brand"\n'
    "\t\tCOMMIT\n"
    'EQUALS "brand" "Brand#13"\n'
    "\tDROP\n"
    "COMMIT\n"
)

CEL_PROGRAM = 'has(tags.big) && id % 2 == 0 || type == "relation"'

# exercises the round-2 CEL surface: comprehension macros
# (exists/filter/map over map keys and list literals), method-style
# size(), conversions int()/string(), ternary — all of which compile
# to Spark higher-order functions (no interpreter fallback; pinned by
# tests/test_cel.py::test_macros_compile_to_columns_not_fallback)
CEL_MACROS_PROGRAM = (
    '(tags.exists(k, k == "big")'
    ' ? size(tags.filter(k, tags[k].contains("ECONOMY"))) == 1'
    ' : int(string(id)) % 7 == 0)'
    " && [1, 2, 3].map(x, x * id).exists(v, v % 4 == 0)"
)

# deterministic 64-d query vector for similarity search
QUERY_VEC = [((i * 37) % 19 - 9) / 10.0 for i in range(64)]
_QNORM = math.sqrt(sum(x * x for x in QUERY_VEC))

# literal polygons for the PIP oracle (offsets .005 avoid the .01
# point grid, so no point ever sits exactly on an edge)
PIP_POLYGONS = {
    # polygon_id -> list of (ring_role, [(lat, lon), ...closed])
    1: [("outer", [(10.005, -50.005), (10.005, -10.005), (30.005, -10.005),
                   (30.005, -50.005), (10.005, -50.005)]),
        ("hole", [(15.005, -40.005), (15.005, -20.005), (25.005, -20.005),
                  (25.005, -40.005), (15.005, -40.005)])],
    2: [("outer", [(-20.005, 100.005), (-40.005, 120.005), (-20.005, 140.005),
                   (0.005, 120.005), (-20.005, 100.005)])],  # diamond
    3: [("outer", [(40.005, 60.005), (40.005, 90.005), (55.005, 75.005),
                   (40.005, 60.005)])],  # triangle
}

KNN_QUERIES = [(0, 5.01, 10.01), (1, -10.01, -60.01), (2, 0.01, 120.01),
               (3, 12.01, -120.01), (4, -5.01, 60.01)]
KNN_K = 5
KNN_RADIUS = 300.0
RANGE_RADIUS = 500.0
ROLLUP_RES = 3
# Java's \s as the body of a DuckDB (RE2) character class: RE2's \s
# omits \x0B, which Java's [ \t\n\x0B\f\r] has
_JAVA_WS = r" \t\n\x0B\f\r"
# strhash.words (split of trim(text) on \s+) in DuckDB: both trims strip
# U+0020 only
_WS_SPLIT = f"string_split_regex(trim(text), '[{_JAVA_WS}]+')"


def _pip_polygons_df(spark: SparkSession) -> DataFrame:
    rows = []
    for pid, rings in PIP_POLYGONS.items():
        for role, ring in rings:
            rows.append((pid, f"p{pid}", [{"lat": a, "lon": b} for a, b in ring], role))
    return spark.createDataFrame(rows, POLYGONS_SCHEMA)


# ---------------------------------------------------------------------------
# entry — flagship query (driver smoke-check at sf0.001)
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial-join + tile-assignment over points derived
    from the sf0.001 events table — cell encode, PIP against literal
    polygons, slippy tile assignment, per-tile/polygon rollup."""
    sf = "/root/testdata/sf0.001"
    pts = _event_points(spark, sf)
    polys = _pip_polygons_df(spark)
    hits = point_in_polygon(pts, polys, res=5, point_id="event_id")
    tiled = tiles.assign_tiles(hits, TILE_Z)
    return (
        tiled.groupBy("polygon_id", "tile_z", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("polygon_id", "tile_x", "tile_y")
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _dec(col, p=18, s=2):
    return col.cast(f"decimal({p},{s})")


def q01_pricing_summary(spark, sf):
    (li,) = _tables(spark, sf, "lineitem")
    disc = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"), 18, 2)
    return (
        li.where(F.col("l_shipdate") <= F.lit("1999-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(_dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q03_top_orders(spark, sf):
    cust, orders, li = _tables(spark, sf, "customer", "orders", "lineitem")
    disc = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"), 18, 2)
    return (
        cust.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(
            (F.col("o_orderdate") < F.lit("1998-03-15"))
            & (F.col("l_shipdate") > F.lit("1998-03-15"))
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(disc).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q05_region_volume(spark, sf):
    region, nation, cust, orders, li, supp = _tables(
        spark, sf, "region", "nation", "customer", "orders", "lineitem", "supplier"
    )
    disc = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"), 18, 2)
    return (
        region.where(F.col("r_name") == "ASIA")
        .join(nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(cust, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .where(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-01-01"))
        )
        .groupBy("n_name")
        .agg(F.sum(disc).cast("double").alias("revenue"))
    )


def q06_discount_revenue(spark, sf):
    """TPC-H Q6 shape: tight scan-side filter + global agg — the
    whole query is one narrow pass (PushedFilters + partial agg)."""
    (li,) = _tables(spark, sf, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(_dec(F.col("l_extendedprice")) * _dec(F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_cust_no_orders(spark, sf):
    """Anti join: customers with no large (>400k) order."""
    cust, orders = _tables(spark, sf, "customer", "orders")
    big = orders.where(F.col("o_totalprice") > 400000)
    return (
        cust.join(big, cust["c_custkey"] == big["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


def q_late_orders_semi(spark, sf):
    """Semi join (TPC-H Q4 shape): orders with >=1 returned lineitem,
    counted by priority."""
    orders, li = _tables(spark, sf, "orders", "lineitem")
    ret = li.where(F.col("l_returnflag") == "R")
    return (
        orders.join(ret, orders["o_orderkey"] == ret["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_cust_order_left(spark, sf):
    """Left outer join with null-aware aggregation: per-nation customer
    count and order count (customers without orders contribute 0)."""
    cust, orders = _tables(spark, sf, "customer", "orders")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_nationkey")
        .agg(
            F.count_distinct("c_custkey").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


def q_orders_cube(spark, sf):
    (orders,) = _tables(spark, sf, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec(F.col("o_totalprice"))).cast("double").alias("sum_total"),
    )


def q_percentiles(spark, sf):
    """Exact interpolated percentiles (not approx — matches DuckDB
    quantile_cont bit-for-bit on the integer-valued quantities)."""
    (li,) = _tables(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, array(0.25D, 0.5D, 0.75D))").alias("pct"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
        )
        .select(
            "l_returnflag",
            F.col("pct")[0].alias("p25"),
            F.col("pct")[1].alias("p50"),
            F.col("pct")[2].alias("p75"),
            "min_qty",
            "max_qty",
        )
    )


def q_running_window(spark, sf):
    """Window-function suite: running decimal sum, sequence number,
    lag, rank, ntile — all per customer."""
    from pyspark.sql import Window

    (orders,) = _tables(spark, sf, "orders")
    seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run = seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    by_price = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.sum(_dec(F.col("o_totalprice"))).over(run).cast("double").alias("run_total"),
        F.row_number().over(seq).alias("order_seq"),
        F.lag("o_orderkey").over(seq).alias("prev_orderkey"),
        F.rank().over(by_price).alias("price_rank"),
        F.ntile(4).over(seq).alias("quartile"),
    )


def q_funnel(spark, sf):
    """Event funnel: per user, first 'view' then the first 'click'
    AFTER it, conversion flag if within 1 hour — min-over-filter
    aggregates, one shuffle by user."""
    (ev,) = _tables(spark, sf, "events")
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    base = ev.select("user_id", "event_type", us.alias("us"))
    first_view = F.min(F.when(F.col("event_type") == "view", F.col("us")))
    agg = base.groupBy("user_id").agg(
        first_view.alias("view_us"),
        F.collect_list(
            F.when(F.col("event_type") == "click", F.col("us"))
        ).alias("_clicks"),
    )
    first_click_after = F.array_min(
        F.filter(F.col("_clicks"), lambda c: c >= F.col("view_us"))
    )
    return agg.select(
        "user_id",
        F.col("view_us").isNotNull().alias("viewed"),
        first_click_after.alias("click_us"),
        (
            F.col("view_us").isNotNull()
            & (first_click_after - F.col("view_us") <= 3_600_000_000)
        ).alias("converted_1h"),
    )


def q_retention(spark, sf):
    """Cohort retention: users grouped by first-activity day, counted
    per day-offset of later activity — two aggregations, the second
    over (cohort, offset) aggregate rows only."""
    (ev,) = _tables(spark, sf, "events")
    day = F.date_trunc("day", F.col("ts"))
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    acts = ev.select("user_id", day.alias("act_day")).distinct()
    joined = acts.join(firsts, "user_id")
    return (
        joined.groupBy(
            "cohort_day",
            F.datediff(F.col("act_day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def q_sliding_window(spark, sf):
    """Sliding event-time windows (1 h width, 15 min slide): each
    event lands in 4 overlapping windows — JVM window() explode;
    oracle re-derives the 4 window starts per event."""
    (ev,) = _tables(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def q_overlap_join(spark, sf):
    """Interval-overlap self-join scoped by order: each lineitem gets
    a derived [ship, ship + (qty%10+1) days] window; overlapping pairs
    within the same order (a.start <= b.end AND b.start <= a.end).
    The equi-key (orderkey) bounds the candidate set — overlap joins
    stay linear when scoped by a partition key."""
    (li,) = _tables(spark, sf, "lineitem")
    days = (F.col("l_quantity").cast("int") % 10 + 1).cast("int")
    iv = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").alias("s"),
        F.expr(
            "l_shipdate + make_dt_interval(CAST(l_quantity AS INT) % 10 + 1)"
        ).alias("e"),
    )
    a = iv.select(
        "l_orderkey",
        F.col("l_linenumber").alias("ln_a"),
        F.col("s").alias("sa"),
        F.col("e").alias("ea"),
    )
    b = iv.select(
        "l_orderkey",
        F.col("l_linenumber").alias("ln_b"),
        F.col("s").alias("sb"),
        F.col("e").alias("eb"),
    )
    return (
        a.join(b, "l_orderkey")
        .where(
            (F.col("ln_a") < F.col("ln_b"))
            & (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea"))
        )
        .select("l_orderkey", "ln_a", "ln_b")
    )


def q_pivot(spark, sf):
    """Pivot (crosstab) with an explicit value list — no
    value-discovery pass, so the plan is a single partial-aggregated
    groupBy however wide the fact table is."""
    (orders,) = _tables(spark, sf, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


def q_window_range(spark, sf):
    """RANGE-frame window: per-user trailing 600-second sum/count over
    event time (value-based frame, peers included — distinct from the
    ROWS frames in q_running_window). Money is floor-scaled to integer
    cents so the frame sum is order-independent and cross-engine
    exact."""
    from pyspark.sql import Window

    (ev,) = _tables(spark, sf, "events")
    amt = F.floor(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
        )
        .rangeBetween(-600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(amt).over(w).alias("trail_cents"),
        F.count(F.lit(1)).over(w).alias("trail_n"),
    )


def q_gap_fill(spark, sf):
    """Hourly resample per user with dense grid + zero fill + forward
    fill — grid generated from aggregate rows, never rescanning raw
    events. Oracle: generate_series + LAST_VALUE IGNORE NULLS."""
    from skyway_spark.operators.timeseries import hourly_gap_fill

    (ev,) = _tables(spark, sf, "events")
    # keep the grid tractable: one key bucket spans the full window
    sub = ev.select((F.col("user_id") % 100).alias("k"), "ts", "value")
    return hourly_gap_fill(sub, key="k")


def q_asof_join(spark, sf):
    """As-of join: each order picks up the most recent event snapshot
    (right.ts <= order date) for its key — one sort-shuffle of L+R,
    never a range explosion. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from skyway_spark.operators.asof import asof_join

    orders, ev = _tables(spark, sf, "orders", "events")
    left = orders.select(
        (F.col("o_custkey") % 50).alias("k"),
        F.col("o_orderdate").alias("ts"),
        "o_orderkey",
    )
    right = (
        ev.select((F.col("user_id") % 50).alias("k"), "ts", "event_id")
        .groupBy("k", "ts")
        .agg(F.max("event_id").alias("ref_event"))
    )
    out = asof_join(left, right, key="k", value_cols=["ref_event"])
    return out.select("o_orderkey", "k", "ref_event")


def q_string_funcs(spark, sf):
    (part,) = _tables(spark, sf, "part")
    return part.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 8)).alias("name8"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_brand"), F.lit("Brand#"), F.lit("B")).alias("brand_short"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.col("p_name").like("%gre%").alias("has_gre"),
        F.split("p_type", " ").getItem(0).alias("type_head"),
        F.instr(F.col("p_name"), "a").alias("first_a"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("key_pad"),
    )


def q_null_funcs(spark, sf):
    """Null-handling / conditional family: coalesce, nullif, nvl2,
    greatest/least, CASE — over orders with injected nulls."""
    (o,) = _tables(spark, sf, "orders")
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return o.select(
        "o_orderkey",
        status_or_null.alias("status_np"),
        F.coalesce(status_or_null, F.lit("PENDING")).alias("status_filled"),
        F.expr("nvl2(nullif(o_orderstatus, 'P'), 'known', 'pending')").alias(
            "nvl2_class"
        ),
        F.greatest(F.col("o_custkey") % 97, F.col("o_orderkey") % 89).alias("g"),
        F.least(F.col("o_custkey") % 97, F.col("o_orderkey") % 89).alias("l"),
        F.when(F.col("o_totalprice") > 100000.0, "big")
        .when(F.col("o_totalprice") > 10000.0, "mid")
        .otherwise("small")
        .alias("price_band"),
    )


def q_datetime_funcs(spark, sf):
    (orders,) = _tables(spark, sf, "orders")
    d = F.col("o_orderdate")
    return orders.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.quarter(d).alias("qtr"),
        F.month(d).alias("m"),
        F.dayofmonth(d).alias("dom"),
        F.dayofweek(d).alias("dow"),
        F.datediff(F.lit("1998-01-01").cast("date"), d.cast("date")).alias(
            "days_before_98"
        ),
        F.date_format(d, "yyyy-MM").alias("ym"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_trunc("month", d).alias("month_start"),
    )


def q_json_props(spark, sf):
    """JSON functions over the events.props payload column."""
    (ev,) = _tables(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type", (F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_array_map_funcs(spark, sf):
    """Array/map higher-order functions over way elements: size,
    aggregate-fold, transform, reverse, sorted map keys."""
    els = _part_elements(spark, sf).where(F.col("type") == "way")
    return els.select(
        "id",
        F.size("nodes").alias("n_nodes"),
        F.aggregate("nodes", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "node_sum"
        ),
        F.aggregate(
            F.transform("nodes", lambda x: x * 2),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("double_sum"),
        F.element_at(F.reverse("nodes"), 1).alias("last_node"),
        F.concat_ws(",", F.sort_array(F.map_keys("tags"))).alias("tag_keys"),
        F.size("tags").alias("n_tags"),
    )


def q_tag_freq(spark, sf):
    """OSM tag-key frequency: map explode over the tags column (the
    canonical OSM analytics query — taginfo-style), counts + distinct
    values per key."""
    els = _part_elements(spark, sf)
    return (
        els.select(F.explode("tags").alias("tag_key", "tag_value"))
        .groupBy("tag_key")
        .agg(
            F.count(F.lit(1)).alias("n_elements"),
            F.countDistinct("tag_value").alias("n_values"),
        )
    )


def q_lateral_view(spark, sf):
    """SQL-layer generator syntax (LATERAL VIEW explode + posexplode)
    over way node refs — the spark.sql surface of the JVM Generate
    operator."""
    _part_elements(spark, sf).createOrReplaceTempView("els_lv")
    return spark.sql(
        """
        SELECT id, pos, node_ref
        FROM els_lv
        LATERAL VIEW posexplode(nodes) t AS pos, node_ref
        WHERE type = 'way'
        """
    )


def q_grouping_sets(spark, sf):
    """SQL-layer entry (spark.sql) with explicit GROUPING SETS."""
    (orders,) = _tables(spark, sf, "orders")
    orders.createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


def q_scalar_subquery(spark, sf):
    """Correlated scalar subquery (Catalyst de-correlates it to an
    aggregate + join): customers whose biggest order exceeds 350k."""
    cust, orders = _tables(spark, sf, "customer", "orders")
    cust.createOrReplaceTempView("customer_v")
    orders.createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer_v
        WHERE (SELECT MAX(o_totalprice) FROM orders_v
               WHERE o_custkey = c_custkey) > 350000
        GROUP BY c_mktsegment
        """
    )


def q_orders_rollup(spark, sf):
    (orders,) = _tables(spark, sf, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec(F.col("o_totalprice"))).cast("double").alias("sum_total"),
    )


def q_nation_setops(spark, sf):
    cust, supp = _tables(spark, sf, "customer", "supplier")
    c = cust.select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = supp.select(F.col("s_nationkey").alias("nationkey")).distinct()
    both = c.intersect(s).withColumn("src", F.lit("both"))
    conly = c.exceptAll(s).withColumn("src", F.lit("customer_only"))
    return both.unionByName(conly)


def q_events_hourly(spark, sf):
    (ev,) = _tables(spark, sf, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(_dec(F.col("value"))).cast("double") / F.count(F.lit(1))).alias(
                "avg_value"
            ),
        )
    )


def q_events_sessions(spark, sf):
    from pyspark.sql import Window

    (ev,) = _tables(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = ts_us - F.lag(ts_us).over(w)
    brk = F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    return (
        ev.withColumn("__brk", brk)
        .groupBy("user_id")
        .agg(F.sum("__brk").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


def _docs_with_dups(spark, sf):
    """documents + derived duplicates so the dedup operators have
    non-trivial output at every sf: exact copies (doc_id+100000,
    doc_id%7==0) and same-length near copies with the first char
    replaced (doc_id+200000, doc_id%5==0). The oracle SQL derives the
    identical view."""
    (docs,) = _tables(spark, sf, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    exact = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), *cols[1:]
    )
    near = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.expr("concat('Z', substring(text, 2))").alias("text"),
        *cols[2:],
    )
    from skyway_spark.plans.session import spread

    return spread(docs.select(*cols).unionByName(exact).unionByName(near))


def _emb_with_dups(spark, sf):
    (emb,) = _tables(spark, sf, "embeddings")
    cols = ["vec_id", "embedding", "label"]
    copies = emb.where(F.col("vec_id") % 9 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), *cols[1:]
    )
    return emb.select(*cols).unionByName(copies)


def q_dedup_exact(spark, sf):
    return dedup.exact_duplicates(_docs_with_dups(spark, sf))


def q_dedup_ngram(spark, sf):
    return dedup.ngram_jaccard_pairs(_docs_with_dups(spark, sf), threshold=0.8).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_minhash_lsh(spark, sf):
    """MinHash+LSH near-dup pairs over word shingles (char grams over
    a small shared vocabulary defeat banding — see dedup module)."""
    return dedup.minhash_lsh_pairs(
        _docs_with_dups(spark, sf), threshold=0.8, unit="word"
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_clusters(spark, sf):
    """Near-dup CLUSTERS: connected components (min-label propagation)
    over the MinHash-LSH pair graph — A~B, B~C collapse to one cluster
    even when A~C was never emitted. Oracle: recursive-CTE transitive
    closure over the same pair SQL."""
    from skyway_spark.operators.graph import connected_components

    pairs = dedup.minhash_lsh_pairs(
        _docs_with_dups(spark, sf), threshold=0.8, unit="word"
    )
    return connected_components(pairs, src="id_a", dst="id_b")


def q_simhash_pairs(spark, sf):
    """SimHash banding pairs; 44 effective bits (token hashes are
    mod 2^44), 11-bit bands."""
    return dedup.simhash_near_dup_pairs(
        _docs_with_dups(spark, sf), bits=44, bands=4, max_hamming=1
    )


def q_simhash_clusters(spark, sf):
    """Scale path for simhash dedup: identical-signature clusters
    (linear output) instead of materializing quadratic pairs — on a
    self-similar corpus the pair set itself is O(n^2)."""
    docs2 = _docs_with_dups(spark, sf)
    return (
        docs2.select("doc_id", dedup.simhash(F.col("text"), bits=44).alias("simhash44"))
        .groupBy("simhash44")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )


def q_dedup_keep(spark, sf):
    """The dedup OUTPUT table: exactly one survivor (min doc_id) per
    distinct text — dedup_exact's window path over the 64-bit-hash
    pre-partitioning."""
    keep = dedup.dedup_exact(_docs_with_dups(spark, sf))
    return keep.select("doc_id", F.length("text").alias("text_len"))


def q_minhash(spark, sf):
    (docs,) = _tables(spark, sf, "documents")
    sig = dedup.minhash_signature(F.col("text"))
    return docs.select(
        "doc_id",
        sig[0].alias("mh_0"),
        sig[7].alias("mh_7"),
        sig[15].alias("mh_15"),
    )


def q_simhash(spark, sf):
    (docs,) = _tables(spark, sf, "documents")
    return docs.select("doc_id", dedup.simhash(F.col("text"), bits=32).alias("simhash32"))


def q_token_stats(spark, sf):
    (docs,) = _tables(spark, sf, "documents")
    st = textstats.text_stats(docs)
    return st.select("doc_id", "ws_tokens", "bpe_tokens", "n_chars_actual", "fingerprint")


def q_quality(spark, sf):
    (docs,) = _tables(spark, sf, "documents")
    st = textstats.text_stats(docs)
    return st.select("doc_id", "punct_ratio", "stopword_ratio", "quality")


def q_lang_id(spark, sf):
    (docs,) = _tables(spark, sf, "documents")
    return docs.select("doc_id", textstats.lang_id(F.col("text")).alias("lang_pred"))


def q_embed_topk(spark, sf):
    (emb,) = _tables(spark, sf, "embeddings")
    return similarity.cosine_topk(emb, QUERY_VEC, k=10)


def q_ann_topk(spark, sf):
    """LSH-bucketed approximate top-k (the scale path): sign-bit
    signatures against literal hyperplanes, band-bucket candidate
    filter, exact cosine re-rank. The oracle replicates the identical
    plane literals, so results match exactly."""
    (emb,) = _tables(spark, sf, "embeddings")
    return similarity.ann_topk(emb, QUERY_VEC, k=10, n_planes=12, bands=3)


def q_ann_ivf(spark, sf):
    """IVF approximate top-k (the partition-pruned scale path):
    deterministic coarse-quantizer centroids, argmin inverted-list
    assignment in pure Column math, nprobe=2 probed lists, exact
    cosine re-rank. The oracle replicates the centroid literals and
    the same left-fold arithmetic, so results match exactly."""
    (emb,) = _tables(spark, sf, "embeddings")
    return similarity.ivf_topk(emb, QUERY_VEC, k=10, n_centroids=8, nprobe=2)


def q_way_lengths(spark, sf):
    """Distributed way-geometry assembly: synthetic ways (4 node refs
    derived from part keys) equi-joined against a node table, per-way
    ordered re-assembly, left-to-right haversine length fold. The
    oracle resolves the same refs closed-form (node coords are pure
    functions of node id), so lengths match bit-for-bit."""
    from skyway_spark.operators.geometry import assemble_way_geometry

    (part,) = _tables(spark, sf, "part")
    mx = part.agg(F.max("p_partkey")).first()[0]
    nodes = part.select(
        F.col("p_partkey").alias("id"),
        ((F.col("p_partkey") % 170) - 85.0).alias("lat"),
        ((F.col("p_partkey") * 11 % 360) - 180.0).alias("lon"),
    )
    pk = F.col("p_partkey")
    ways = part.where(pk % 5 == 0).select(
        pk.alias("way_id"),
        F.array(pk, pk * 7 % mx + 1, pk * 13 % mx + 1, pk * 3 % mx + 1).alias("refs"),
    )
    return assemble_way_geometry(ways, nodes)


def q_relation_rollup(spark, sf):
    """Two-level geometry assembly: relation members -> way geometries
    -> per-relation rollup with member-ordered perimeter fold. Oracle
    resolves the same member/way/node formulas closed-form."""
    from skyway_spark.operators.geometry import (
        assemble_way_geometry,
        relation_way_rollup,
    )

    (part,) = _tables(spark, sf, "part")
    mx = part.agg(F.max("p_partkey")).first()[0]
    pk = F.col("p_partkey")
    nodes = part.select(
        pk.alias("id"),
        ((pk % 170) - 85.0).alias("lat"),
        ((pk * 11 % 360) - 180.0).alias("lon"),
    )
    ways = part.where(pk % 5 == 0).select(
        pk.alias("way_id"),
        F.array(pk, pk * 7 % mx + 1, pk * 13 % mx + 1, pk * 3 % mx + 1).alias("refs"),
    )
    wg = assemble_way_geometry(ways, nodes)
    w1 = (pk * 3 % mx) - (pk * 3 % mx) % 5
    w2 = (pk * 7 % mx) - (pk * 7 % mx) % 5
    rels = part.where(pk % 7 == 3).select(
        pk.alias("rel_id"),
        F.array(
            F.struct(F.lit("way").alias("type"), w1.alias("ref"), F.lit("outer").alias("role")),
            F.struct(F.lit("way").alias("type"), w2.alias("ref"), F.lit("inner").alias("role")),
            F.struct(F.lit("node").alias("type"), pk.alias("ref"), F.lit("admin_centre").alias("role")),
        ).alias("members"),
    )
    return relation_way_rollup(rels, wg)


def q_frame_sample(spark, sf):
    """Video frame sampling plumbing: documents stand in for a video
    table (duration = n_chars * 40 ms); the timestamp grid is a pure
    JVM explode(sequence(...)), and each sampled frame carries a
    16-char text chunk standing in for the frame bytes."""
    from skyway_spark.operators import multimodal

    (docs,) = _tables(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.col("text"),
        (F.col("n_chars") * 40).cast("long").alias("duration_ms"),
    )
    frames = multimodal.sample_frames(media, every_ms=1000)
    return frames.select(
        "media_id",
        "frame_idx",
        "frame_ts",
        F.substring(
            F.col("text"), (F.col("frame_ts") / 40 + 1).cast("int"), 16
        ).alias("chunk"),
    )


def q_vector_tiles(spark, sf):
    pts = _event_points(spark, sf).withColumnRenamed("event_id", "id")
    vt = tiles.vector_tiles(pts, z=5, feature_cols=["id"], max_features=3)
    return vt.select(
        "tile_x",
        "tile_y",
        "n_points",
        F.size("features").alias("n_features"),
        F.element_at("features", 1)["id"].alias("first_id"),
    )


def q_raster_tiles(spark, sf):
    pts = _event_points(spark, sf).withColumnRenamed("event_id", "id")
    rt = tiles.raster_tiles(pts, z=5, pixel_zoom_delta=4)
    return rt.select(
        "tile_x",
        "tile_y",
        "n_points",
        F.size("pixels").alias("n_pixels"),
        F.array_max(F.transform("pixels", lambda p: p["cnt"])).alias("max_pixel"),
    )


def q_embed_neardup(spark, sf):
    return dedup.embedding_near_dup_pairs(_emb_with_dups(spark, sf), threshold=0.95)


def q_cell_assign(spark, sf):
    pts = _event_points(spark, sf)
    return (
        pts.withColumn("cell", cells.cell_encode(F.col("lat"), F.col("lon"), CELL_RES))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def q_tile_assign(spark, sf):
    pts = _event_points(spark, sf)
    return tiles.tile_stats(
        pts.withColumnRenamed("event_id", "id"), TILE_Z
    ).select("tile_x", "tile_y", "n_points")


def q_pip(spark, sf):
    pts = _event_points(spark, sf)
    polys = _pip_polygons_df(spark)
    return point_in_polygon(pts, polys, res=5, point_id="event_id").select(
        "event_id", "polygon_id"
    )


def q_pip_agg(spark, sf):
    """Spatial join fused with per-polygon aggregation — the rollup
    happens on the join output without rematerializing pairs."""
    pts = _event_points(spark, sf)
    polys = _pip_polygons_df(spark)
    hits = point_in_polygon(pts, polys, res=5, point_id="event_id")
    return hits.groupBy("polygon_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("event_id").alias("min_event"),
        F.max("event_id").alias("max_event"),
    )


def q_knn(spark, sf):
    pts = _event_points(spark, sf).withColumnRenamed("event_id", "id")
    queries = spark.createDataFrame(KNN_QUERIES, "query_id long, lat double, lon double")
    return knn_join(pts, queries, k=KNN_K, radius_km=KNN_RADIUS).select(
        "query_id", F.col("id").alias("event_id"), "rank"
    )


def q_range_join(spark, sf):
    """Distance-band join: every (site, point) pair within RANGE_RADIUS
    km, via cell-cover equi-join + haversine refine (never a cross
    join). Oracle cross-joins and filters — tractable at sf0.01 only."""
    pts = _event_points(spark, sf)
    sites = spark.createDataFrame(KNN_QUERIES, "site_id long, lat double, lon double")
    return range_join(
        pts, sites, RANGE_RADIUS, point_id="event_id", site_id="site_id"
    ).select("site_id", "event_id")


def q_cell_rollup(spark, sf):
    """Hierarchical cell rollup: fine-res counts re-aggregated to an
    ancestor resolution with pure integer parent math (no rescan of
    the raw points — the scale path for multi-res tile pyramids)."""
    pts = _event_points(spark, sf)
    fine = (
        pts.groupBy(
            cells.cell_encode(F.col("lat"), F.col("lon"), CELL_RES).alias("cell")
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        fine.groupBy(
            cells.cell_parent(F.col("cell"), CELL_RES, ROLLUP_RES).alias("parent_cell")
        )
        .agg(
            F.sum("n").alias("n_points"),
            F.count(F.lit(1)).alias("n_child_cells"),
            F.max("n").alias("max_child"),
        )
    )


def q_zorder(spark, sf):
    """Morton (Z-order) clustering key per event — the layout key a
    100 TB table sorts by for 2-D file locality. Full bit-math check:
    one key per event row."""
    pts = _event_points(spark, sf)
    return pts.select(
        "event_id", cells.zorder_key(F.col("lat"), F.col("lon"), 16).alias("zkey")
    )


def _interleave_py(x: int, y: int, bits: int) -> int:
    k = 0
    for i in range(bits):
        k |= ((x >> i) & 1) << (2 * i)
        k |= ((y >> i) & 1) << (2 * i + 1)
    return k


def q_zorder_range(spark, sf):
    """Index-style bbox scan: points inside one res-4 cell selected by a
    SINGLE CONTIGUOUS zkey range [K<<22, (K+1)<<22) — the Z-order
    locality law that turns 2-D bbox queries into 1-D file ranges on a
    zkey-sorted layout. The target cell is the one containing the
    lowest-event_id point, so the result is NON-EMPTY at every scale
    factor (a hard-coded cell was vacuously correct at sf0.001); the
    anchor lookup is a 1-row driver fetch, dimension-scale by design.
    Oracle selects the same cell by direct coordinate math."""
    pts = _event_points(spark, sf)
    a = pts.orderBy("event_id").limit(1).collect()[0]
    ax = max(0, min(31, math.floor((a["lon"] + 180.0) / 360.0 * 32.0)))
    ay = max(0, min(15, math.floor((90.0 - a["lat"]) / 180.0 * 16.0)))
    k = _interleave_py(ax, ay, 5)
    lo, hi = k << 22, (k + 1) << 22
    z = cells.zorder_key(F.col("lat"), F.col("lon"), 16)
    return pts.where((z >= lo) & (z < hi)).select("event_id")


def q_quadkey(spark, sf):
    """Bing quadkey tile strings (prefix-hierarchical tile keys) —
    per-quadkey counts at z=7, pure Column bit math."""
    pts = _event_points(spark, sf)
    return (
        pts.groupBy(cells.quadkey(F.col("lat"), F.col("lon"), 7).alias("qk"))
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def q_compact_cells(spark, sf):
    """H3-compact-style sibling compaction of the occupied res-6 cell
    set, two levels: full 2x2 sibling groups promote to their parent.
    Compaction runs over the distinct-cell aggregate only."""
    pts = _event_points(spark, sf)
    occupied = pts.select(
        cells.cell_encode(F.col("lat"), F.col("lon"), CELL_RES).alias("cell")
    ).distinct()
    return cells.compact_cells(occupied, CELL_RES, levels=2)


def q_polygon_area(spark, sf):
    """Shoelace ring area (deg^2) per polygon ring — ordered
    left-fold over vertices so the float sum is bit-identical
    cross-engine (same trick as q_way_lengths)."""
    polys = _pip_polygons_df(spark)
    ring = F.col("ring")
    n = F.size(ring)
    term = lambda i: (  # noqa: E731
        F.element_at(ring, i)["lon"] * F.element_at(ring, i + 1)["lat"]
        - F.element_at(ring, i + 1)["lon"] * F.element_at(ring, i)["lat"]
    )
    area = F.abs(
        F.aggregate(
            F.sequence(F.lit(1), n - 1),
            F.lit(0.0),
            lambda acc, i: acc + term(i),
        )
    ) / F.lit(2.0)
    return polys.select(
        F.col("polygon_id"),
        F.col("ring_role"),
        area.alias("area_deg2"),
        (n - 1).alias("n_edges"),
    )


BBOX_COVER = (12.0, 27.5, -71.0, -33.25)  # lat0, lat1, lon0, lon1


def q_bbox_cover(spark, sf):
    """Covering cell set of a bbox at res 6, generated DISTRIBUTEDLY
    (sequence x sequence explode in the JVM — the polygon-side prep of
    the cell-join PIP path, here as its own verified operator)."""
    lat0, lat1, lon0, lon1 = BBOX_COVER
    nx, ny = 1 << 7, 1 << 6
    x0 = max(0, min(nx - 1, math.floor((lon0 + 180.0) / 360.0 * nx)))
    x1 = max(0, min(nx - 1, math.floor((lon1 + 180.0) / 360.0 * nx)))
    y0 = max(0, min(ny - 1, math.floor((90.0 - lat1) / 180.0 * ny)))
    y1 = max(0, min(ny - 1, math.floor((90.0 - lat0) / 180.0 * ny)))
    xs = spark.range(x0, x1 + 1).select(F.col("id").alias("x"))
    ys = spark.range(y0, y1 + 1).select(F.col("id").alias("y"))
    return xs.crossJoin(ys).select(
        cells.pack_cell(F.col("x"), F.col("y"), 6).alias("cell")
    )


def q_rank_funcs(spark, sf):
    """Remaining window-rank family: dense_rank / percent_rank /
    cume_dist per return-flag over integral quantities (identical
    closed-form arithmetic cross-engine)."""
    from pyspark.sql import Window

    (li,) = _tables(spark, sf, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_quantity").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.dense_rank().over(w).alias("drank"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
    )


def q_cell_users(spark, sf):
    """Per-cell distinct-user + count aggregation (the two-shuffle
    distinct-agg shape; partial aggregation map-side on both)."""
    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        "user_id",
        ((F.col("user_id") * 7919) % 17000 / 100.0 - 85.0).alias("lat"),
        ((F.col("event_id") * 104729) % 36000 / 100.0 - 180.0).alias("lon"),
    )
    return pts.groupBy(
        cells.cell_encode(F.col("lat"), F.col("lon"), CELL_RES).alias("cell")
    ).agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_points"),
    )


def q_hash_split(spark, sf):
    """Deterministic train/val/test assignment via portable content
    hash (partitioning/engine independent, unlike randomSplit) —
    counts per (lang, split)."""
    from skyway_spark.operators import sampling

    (docs,) = _tables(spark, sf, "documents")
    out = sampling.hash_split(docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("lang", "split").agg(F.count(F.lit(1)).alias("n_docs"))


def q_stratified_sample(spark, sf):
    """Per-language deterministic downsampling (hash-threshold, not
    seeded RNG) — the exact surviving row set."""
    from skyway_spark.operators import sampling

    (docs,) = _tables(spark, sf, "documents")
    keep = sampling.stratified_sample(
        docs, {"en": 0.5, "de": 1.0}, strata_col="lang", default=0.1
    )
    return keep.select("doc_id", "lang")


def q_tfidf_topterms(spark, sf):
    """TF-IDF-shaped retrieval pipeline: per-doc term frequencies,
    corpus document frequencies (broadcast back), top-3 terms per doc.
    Ranking is pure-integer (tf desc, df asc, term) so the result is
    engine-exact — the float idf weight would only reorder within
    these ties."""
    from pyspark.sql import Window

    (docs,) = _tables(spark, sf, "documents")
    terms = docs.select(
        "doc_id", F.explode(strhash.words(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    j = tf.join(F.broadcast(dfreq), "term")
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "rank")
    )


def q_inverted_index(spark, sf):
    """Inverted-index materialization for the rarest terms (df within
    16x of the corpus minimum — a relative threshold so the slice is
    nonempty at every sf):
    term -> sorted postings, emitted as a joined string so the value
    comparison is byte-stable. The per-term groupBy IS the index
    build; at 100 TB the postings write out partitioned by term
    prefix."""
    (docs,) = _tables(spark, sf, "documents")
    terms = docs.select(
        "doc_id", F.explode(F.array_distinct(strhash.words(F.col("text")))).alias("term")
    )
    idx = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("postings"),
    )
    mind = idx.agg(F.min("df").alias("mindf"))
    return (
        idx.crossJoin(F.broadcast(mind))
        .where(F.col("df") <= 16 * F.col("mindf"))
        .select("term", "df", "postings")
    )


def q_term_search(spark, sf):
    """Boolean retrieval over the term table: docs containing BOTH
    'spark' and 'join' but NOT 'slow' — two semi joins + one anti
    join on doc_id."""
    (docs,) = _tables(spark, sf, "documents")
    terms = docs.select(
        "doc_id", F.explode(F.array_distinct(strhash.words(F.col("text")))).alias("term")
    )
    has = lambda t: terms.where(F.col("term") == t).select("doc_id")  # noqa: E731
    return (
        docs.select("doc_id", "lang")
        .join(has("spark"), "doc_id", "left_semi")
        .join(has("join"), "doc_id", "left_semi")
        .join(has("slow"), "doc_id", "left_anti")
    )


def q_phrase_search(spark, sf):
    """Positional-index phrase search: occurrences of the exact
    phrase 'the table' via pos+1 equi-self-join on (doc_id, pos) —
    the retrieval-engine shape for phrase queries. Emits per-doc
    match counts."""
    (docs,) = _tables(spark, sf, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(strhash.words(F.col("text"))).alias("pos", "term")
    )
    a = pos.where(F.col("term") == "the").select("doc_id", "pos")
    b = pos.where(F.col("term") == "table").select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        a.join(b, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


def q_top_ngrams(spark, sf):
    """Corpus-wide top-50 word bigrams over documents (explode ->
    partial-agg count -> sort of the aggregate only)."""
    (docs,) = _tables(spark, sf, "documents")
    return textstats.top_ngrams(docs, n=2, k=50)


def q_salted_join(spark, sf):
    pts = _event_points(spark, sf).withColumn(
        "cell", cells.cell_encode(F.col("lat"), F.col("lon"), CELL_RES)
    )
    dim = pts.select("cell").distinct()
    hot = salt.hot_cells(pts, "cell", threshold=50)
    joined = salt.salted_equi_join(
        pts, dim, n_salt=4, cell_col="cell", fact_id="event_id", hot=hot
    )
    return joined.groupBy("cell").agg(F.count(F.lit(1)).alias("n_points"))


def q_osmfilter(spark, sf):
    els = _part_elements(spark, sf)
    out = compile_osmfilter(OSMFILTER_PROGRAM).apply(els)
    return out.select(
        "type",
        "id",
        F.col("tags")["class"].alias("class"),
        F.col("tags")["kind"].alias("kind"),
        F.col("tags")["brand"].alias("brand"),
        F.size("tags").alias("n_tags"),
    )


def q_cel(spark, sf):
    els = _part_elements(spark, sf)
    out = compile_cel(CEL_PROGRAM).apply(els)
    return out.select("type", "id")


def q_url_host_stats(spark, sf):
    """URL canonicalization -> per-host dedup stats. Messy url variants
    (scheme/host case, :80 port, www., tracking params, param order,
    trailing slash, fragments) are built deterministically from doc_id;
    the operator must collapse them, and the oracle derives the
    expected canonical strings CLOSED-FORM — a fully independent check
    of operators/urls.py, not a SQL re-run of the same regexes."""
    from skyway_spark.operators import urls as urlops

    (docs,) = _tables(spark, sf, "documents")
    did = F.col("doc_id")
    s = did.cast("string")
    k = (did % 7).cast("string")
    v1 = F.concat(
        F.lit("HTTP://WWW.Site"), k, F.lit(".COM:80/Path/"), s,
        F.when(did % 3 == 0, "/").otherwise(""),
        F.when(did % 4 == 0, F.concat(F.lit("?utm_source=x&id="), s))
        .when(did % 4 == 1, F.concat(F.lit("?id="), s, F.lit("&utm_campaign=y&b=2")))
        .when(did % 4 == 2, F.concat(F.lit("?b=2&id="), s))
        .otherwise(""),
        F.when(did % 5 == 0, "#frag").otherwise(""),
    )
    v2 = F.concat(
        F.lit("http://site"), k, F.lit(".com/Path/"), s, F.lit("?id="), s, F.lit("&b=2")
    )
    messy = docs.select(v1.alias("url")).unionAll(
        docs.where(did % 2 == 0).select(v2.alias("url"))
    )
    return urlops.url_host_stats(messy)


def q_geohash(spark, sf):
    """Standard base32 geohash (public Niemeyer format, vectors pinned
    in tests/test_cells.py) — per-prefix counts at precision 4; the
    prefix hierarchy makes coarse containment a LIKE-range scan, same
    layout story as quadkey/Z-order."""
    pts = _event_points(spark, sf)
    return pts.groupBy(
        cells.geohash(F.col("lat"), F.col("lon"), 4).alias("gh")
    ).agg(F.count(F.lit(1)).alias("n_points"))


def q_ewma(spark, sf):
    """Per-user EWMA (alpha=1/2) of event values — bit-exact across
    engines because every weight is a power of two and the fold order
    is pinned (see operators/timeseries.ewma)."""
    from skyway_spark.operators.timeseries import ewma

    (ev,) = _tables(spark, sf, "events")
    return ewma(ev, key_col="user_id", order_cols=("ts", "event_id"), value_col="value")


def q_rep_quality(spark, sf):
    """Gopher/MassiveText repetition rules per doc: duplicate-token
    fraction + top-bigram coverage. Integer numerators until one final
    division, so values are engine-exact."""
    (docs,) = _tables(spark, sf, "documents")
    return textstats.repetition_stats(docs)


def q_boilerplate(spark, sf):
    """CCNet-style corpus boilerplate: consecutive 8-token chunks
    counted corpus-wide, per-doc count of chunks repeated >= 3 times.
    Spark keys the shuffle by xxhash64(chunk); the oracle counts by
    the chunk STRING itself — an independent derivation whose counts
    agree unless the hash collides (it doesn't; a collision would
    surface as a gate mismatch)."""
    (docs,) = _tables(spark, sf, "documents")
    return textstats.boilerplate_windows(docs, window=8, min_repeat=3)


BM25_TERMS = ("data", "join", "window")


def q_bm25(spark, sf):
    """Log-free BM25 top-20 (odds-ratio idf — ln() differs across
    engines in the last ulp, IEEE arithmetic does not; see
    operators/retrieval.py). Scale shape: only query-term postings
    shuffle, stats broadcast, global top-k via TakeOrdered (orderBy +
    limit), and rank is assigned on the 20 survivors only — the full
    score table is never globally sorted."""
    from pyspark.sql import Window

    (docs,) = _tables(spark, sf, "documents")
    top = (
        retrieval.bm25_scores(docs, BM25_TERMS)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w))


def q_cel_macros(spark, sf):
    """Full-CEL surface (VERDICT r1 #4): macros + conversions compiled
    to Catalyst higher-order functions; reference runs the same program
    through cel-interpreter (src/filter/cel/mod.rs:59-67)."""
    els = _part_elements(spark, sf)
    out = compile_cel(CEL_MACROS_PROGRAM).apply(els)
    return out.select("type", "id")


def q_pii_redact(spark, sf):
    """PII scrub (emails / phones / IPv4): counts on the original
    text, category tokens in the redacted text, all JVM regexp Column
    exprs in the scan stage (operators/pii.py). PII spans are
    injected deterministically from doc_id; the oracle reconstructs
    the expected redacted string CLOSED-FORM — no regex on the oracle
    side at all — so the gate independently proves the patterns match
    exactly the injected spans and nothing else (the base text
    contains no digits or '@', verified in tests)."""
    from skyway_spark.operators.pii import redact_pii

    (docs,) = _tables(spark, sf, "documents")
    did = F.col("doc_id")
    s = did.cast("string")
    pii = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" Contact user"), s, F.lit("@mail"),
                (did % 5).cast("string"), F.lit(".example.com soon."),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" Call 555-"), (did % 900 + 100).cast("string"),
                F.lit("-"), (did % 9000 + 1000).cast("string"), F.lit(" today."),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" Host 10."), (did % 256).cast("string"),
                F.lit("."), ((did * 7) % 256).cast("string"),
                F.lit("."), (did % 100).cast("string"), F.lit(" online."),
            ),
        ).otherwise(F.lit("")),
    )
    return redact_pii(docs.select("doc_id", pii.alias("text")))


def q_contamination(spark, sf):
    """Benchmark decontamination (published GPT-3/Llama recipe):
    sliding 8-token windows vs a benchmark set (docs with
    doc_id % 97 == 0 stand in for an eval suite; the set broadcasts).
    Spark matches windows by xxhash64; the oracle matches the window
    STRING itself — independent identities whose counts agree unless
    the hash collides (a collision would surface as a gate fail)."""
    (docs,) = _tables(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return textstats.contamination(docs, bench, n=8)


GRID_RES = 5
GRID_MIN_PTS = 6


def q_grid_dbscan(spark, sf):
    """Cell-grid DBSCAN over the event points: dense res-5 cells
    (>= 6 pts), clusters = 8-connected dense components, cluster_id =
    min cell id. Spark runs the contraction CC (operators/graph.py);
    the oracle recomputes components with a recursive-CTE transitive
    closure — fully independent algorithms, identical labels.
    Non-vacuous at both gate scales (28+ dense cells at sf0.001, ~800
    at sf0.01 — empirically pinned, per ADVICE r1 on q_zorder_range)."""
    pts = _event_points(spark, sf)
    return cluster.grid_dbscan(pts, res=GRID_RES, min_pts=GRID_MIN_PTS)


def q_poly_overlap(spark, sf):
    """Extent-overlap self-join over deterministic rectangles derived
    from part: cell-bucketed candidates at res 4, every pair emitted
    exactly once via the intersection-corner rule (no distinct
    shuffle; operators/overlap.py). Oracle: the O(n^2) interval join,
    trivially exact at gate scale; dyadic coordinates (0.25 offsets,
    integer sizes) make the overlap arithmetic bit-exact. 163 pairs
    at sf0.001 / 24,428 at sf0.01 — non-vacuous at both."""
    (part,) = _tables(spark, sf, "part")
    pid = F.col("p_partkey")
    rects = part.select(
        pid.alias("rect_id"),
        ((pid * 13) % 60 - 30 + 0.25).alias("lat0"),
        ((pid * 29) % 120 - 60 + 0.25).alias("lon0"),
        ((pid * 13) % 60 - 30 + 0.25 + 2.0 + (pid % 5)).alias("lat1"),
        ((pid * 29) % 120 - 60 + 0.25 + 3.0 + (pid % 7)).alias("lon1"),
    )
    return overlap.bbox_overlap_join(rects, res=4)


def q_transitions(spark, sf):
    """Markov transition matrix over per-user event streams: one
    user-keyed window shuffle, then a |states|^2 aggregate with
    map-side combine; P(next|prev) normalizes over the kilobyte
    matrix only (operators/timeseries.transition_counts)."""
    from skyway_spark.operators.timeseries import transition_counts

    (ev,) = _tables(spark, sf, "events")
    return transition_counts(ev)


PACK_SEQ_LEN = 512


def q_pack_sequences(spark, sf):
    """Concat-and-chunk training-sequence packing via a two-level
    distributed prefix sum (operators/packing.py) — NO unpartitioned
    global window. block_size=64 so even the 500-doc fixture spans
    multiple blocks and the block-offset broadcast path is exercised.
    All integer math; the oracle is the naive single-window scan."""
    from skyway_spark.operators.packing import pack_sequences

    (docs,) = _tables(spark, sf, "documents")
    return pack_sequences(docs, seq_len=PACK_SEQ_LEN, block_size=64)


REBALANCE_TARGETS = {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.2}


def q_rebalance(spark, sf):
    """Downsample-only domain mixing toward a target lang mix (en is
    over-represented in the fixture; the scarcest-vs-target stratum is
    kept whole; zh is not whitelisted and drops). Keep decisions
    ride the portable content hash; the float threshold arithmetic is
    op-order-pinned and mirrored verbatim in the oracle."""
    from skyway_spark.operators.sampling import rebalance_sources

    (docs,) = _tables(spark, sf, "documents")
    kept = rebalance_sources(docs, REBALANCE_TARGETS, strata_col="lang")
    return kept.select("doc_id", "lang")


def q_triangles(spark, sf):
    """Global triangle / degree stats over a deterministic
    bounded-degree graph derived from orders (u -> u + 1 + okey%8):
    oriented wedge join, every triangle counted exactly once
    (operators/graph.triangle_stats). All-integer output."""
    from skyway_spark.operators.graph import triangle_stats

    (orders,) = _tables(spark, sf, "orders")
    edges = orders.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_custkey") + 1 + F.col("o_orderkey") % 8).alias("dst"),
    )
    return triangle_stats(edges)


def q_heatmap(spark, sf):
    """Separable 3x3 binomial blur of the res-5 cell density grid
    (operators/cluster.grid_heatmap). Dyadic kernel weights make the
    float densities bit-exact cross-engine (sums of multiples of
    2^-4 are exact in double, hence order-independent)."""
    pts = _event_points(spark, sf)
    return cluster.grid_heatmap(pts, res=GRID_RES)


PYRAMID_RES, PYRAMID_LEVELS = 6, 4


def q_tile_pyramid(spark, sf):
    """Multi-resolution cell-count rollup (res 6..3) from ONE point
    scan: the pyramid is built on the finest-level AGGREGATE via
    bit-shift ancestors (operators/tiles.tile_pyramid); the oracle
    re-encodes every level directly from lat/lon — the two agree
    because floor(u*2^r) == floor(u*2^(r+1)) >> 1 exactly in IEEE."""
    from skyway_spark.operators.tiles import tile_pyramid

    pts = _event_points(spark, sf)
    return tile_pyramid(pts, finest_res=PYRAMID_RES, levels=PYRAMID_LEVELS)


TRIP_JUMP_KM, TRIP_GAP_US = 5000.0, 3_600_000_000


def q_trips(spark, sf):
    """Trajectory segmentation over the event points: a trip breaks on
    a >5000 km jump or a >1 h gap (operators/trajectory.segment_trips).
    All-integer output; path length enters as floor(step_km*1e5)
    summed in int64, so the result is order- and engine-exact."""
    from skyway_spark.operators.trajectory import segment_trips

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        "user_id",
        "event_id",
        "ts",
        ((F.col("user_id") * 7919) % 17000 / 100.0 - 85.0).alias("lat"),
        ((F.col("event_id") * 104729) % 36000 / 100.0 - 180.0).alias("lon"),
    )
    return segment_trips(pts, jump_km=TRIP_JUMP_KM, gap_us=TRIP_GAP_US)


BLOOM_N, BLOOM_K, BLOOM_M = 8, 4, 62 * 1024


def q_bloom_contamination(spark, sf):
    """Bloom-filter decontamination (operators/bloom.py): the filter is
    BUILT distributed from the benchmark windows (bit_or groupBy),
    then broadcast (8 KB) and probed in Arrow-batched numpy inside the
    corpus scan — the membership structure that still works when the
    benchmark registry no longer broadcasts as a hash set. Every bit
    position is portable
    integer math, so the oracle reconstructs the identical bitmap and
    probe results in SQL — false positives and all."""
    from skyway_spark.operators.bloom import bloom_contamination, build_bloom

    (docs,) = _tables(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    bl = build_bloom(bench, n=BLOOM_N, k=BLOOM_K, m_bits=BLOOM_M)
    return bloom_contamination(docs, bl, n=BLOOM_N, k=BLOOM_K, m_bits=BLOOM_M)


KMEANS_K, KMEANS_ITERS = 8, 2


def q_kmeans(spark, sf):
    """Two Lloyd iterations of k=8 k-means over the embeddings,
    engine-exact via int64 quantization (operators/kmeans.py): floored
    2^20 scaling, integer distances, floor-division centroid updates —
    an ITERATIVE ML algorithm with an exact SQL oracle (the oracle
    unrolls both iterations as CTEs)."""
    from skyway_spark.operators.kmeans import kmeans_fit_assign

    (emb,) = _tables(spark, sf, "embeddings")
    return kmeans_fit_assign(emb, k=KMEANS_K, iters=KMEANS_ITERS)


def q_bottomk_sample(spark, sf):
    """EXACTLY-100 deterministic sample: bottom-k by content hash
    (ties by id) with 1-based sample_rank — fixed output size where
    rate-based sampling can't promise one; compiles to
    TakeOrderedAndProject, never a full sort."""
    from skyway_spark.operators.sampling import bottom_k_sample

    (docs,) = _tables(spark, sf, "documents")
    return bottom_k_sample(docs.select("doc_id", "lang"), k=100)


VECT_RES, VECT_MIN = 5, 4


def q_raster_vectorize(spark, sf):
    """Raster -> vector polygonization: maximal horizontal runs of hot
    res-5 cells via gaps-and-islands (x - row_number), all-integer
    output (operators/tiles.vectorize_raster) — the inverse of
    q_raster_tiles, closing the raster<->vector loop."""
    from skyway_spark.operators.tiles import vectorize_raster

    pts = _event_points(spark, sf)
    return vectorize_raster(pts, res=VECT_RES, min_count=VECT_MIN)


def q_var_stats(spark, sf):
    """Exact statistical aggregates beyond SUM: per-lang token-count
    moments kept in int64 (order-independent), mean/variance derived
    by a PINNED chain of IEEE doubles + floor (operators/stats.py) —
    var_pop without Welford's partition-order dependence."""
    from skyway_spark.operators.stats import group_moments

    (docs,) = _tables(spark, sf, "documents")
    ntok = textstats.whitespace_token_count(F.col("text"))
    return group_moments(docs, "lang", ntok)


def q_collocations(spark, sf):
    """Top-50 corpus collocations by LIFT (exp-PMI — same ranking as
    PMI with no log, so no libm ULP divergence): integer counts,
    pinned-double ratio, floor at 1e-6 (textstats.collocations)."""
    (docs,) = _tables(spark, sf, "documents")
    return textstats.collocations(docs, top_k=50, min_count=3)


CURATION_MIN_TOKENS = 20


def q_curation_pipeline(spark, sf):
    """END-TO-END corpus curation (the FineWeb/RefinedWeb recipe shape):
    token-count quality gate -> exact-dedup survivor (min doc_id per
    text) -> downsample to the target lang mix -> concat-and-chunk
    sequence packing. Four operators COMPOSED in one plan; the oracle
    chains their SQL mirrors through the same CTE pipeline, so the
    stage boundaries (which doc survives, which sequence offset it
    gets) are verified jointly, not just per-operator."""
    from skyway_spark.operators.packing import pack_sequences
    from skyway_spark.operators.sampling import rebalance_sources

    (docs,) = _tables(spark, sf, "documents")
    ntok = textstats.whitespace_token_count(F.col("text"))
    gated = docs.where(ntok >= CURATION_MIN_TOKENS)
    surv = dedup.dedup_exact(gated)
    reb = rebalance_sources(surv, REBALANCE_TARGETS, strata_col="lang")
    return pack_sequences(
        reb.select("doc_id", "text"), seq_len=PACK_SEQ_LEN, block_size=64
    )


def q_ann_ivf_trained(spark, sf):
    """IVF ANN with a TRAINED coarse quantizer: k-means inverted lists
    (the real version of q_ann_ivf's seeded-Gaussian stand-in), probe
    the query's 2 nearest lists, exact integer re-rank, top-10. The
    oracle replays training AND probe in one unrolled SQL."""
    from skyway_spark.operators.kmeans import ivf_trained_topk

    (emb,) = _tables(spark, sf, "embeddings")
    return ivf_trained_topk(
        emb, QUERY_VEC, k_lists=KMEANS_K, iters=KMEANS_ITERS, nprobe=2, topk=10
    )


_GEO_KINDS = ("cafe", "bench", "station", "museum", "park")


def _fmt_centideg(v):
    """Signed centidegrees -> canonical '[-]D.DD' string, built from
    integers (no double->string formatting, so the construction is
    portable to the SQL oracle bit-for-bit)."""
    s = F.when(v < 0, F.lit("-")).otherwise(F.lit(""))
    av = F.abs(v)
    return F.concat(
        s,
        F.floor(av / 100).cast("long").cast("string"),
        F.lit("."),
        F.lpad((av % 100).cast("string"), 2, "0"),
    )


def _doc_mention(did, j: int):
    vlat = (did * 37 + j * 791) % 17000 - 8500
    # lon multiplier 7919 (vs lat's 37) decorrelates the two grids:
    # consecutive doc_ids wind across the plane instead of tracing a
    # single lat/lon line that could miss every polygon
    vlon = (did * 7919 + j * 613) % 36000 - 18000
    kind = F.element_at(
        F.array(*[F.lit(k) for k in _GEO_KINDS]), ((did + j) % 5).cast("int") + 1
    )
    return F.concat(
        F.lit(" @geo("),
        _fmt_centideg(vlat),
        F.lit(","),
        _fmt_centideg(vlon),
        F.lit(";name=place-"),
        did.cast("string"),
        F.lit(f"-{j}"),
        F.lit(";amenity="),
        kind,
        F.lit(")"),
    )


def q_extract_mentions(spark, sf):
    """The real extraction operator (one regex pass + byte-scan field
    parse) over a pages table derived from `documents` with mentions
    embedded by portable integer/string arithmetic — so an
    independent closed-form DuckDB oracle checks the regex + parse
    end-to-end exactly (lat/lon strings are integer-built, making the
    parsed doubles bit-identical across engines)."""
    ents = extract_geo_entities(_portable_pages(spark, sf))
    return ents.select(
        "url",
        "lat",
        "lon",
        F.col("tags")["name"].alias("name"),
        F.col("tags")["amenity"].alias("amenity"),
    )


def _portable_pages(spark, sf):
    """documents -> pages with portable integer-built geo mentions
    (shared by q_extract_mentions and q_pipeline_exact)."""
    (docs,) = _tables(spark, sf, "documents")
    did = F.col("doc_id")
    n = did % 3
    text2 = F.concat(
        F.col("text"),
        *[F.when(n > j, _doc_mention(did, j)).otherwise(F.lit("")) for j in (0, 1)],
    )
    return docs.select(
        F.concat(F.lit("doc://"), did.cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        text2.alias("text"),
        F.col("lang"),
    )


def q_pipeline_exact(spark, sf):
    """The whole north-rule pipeline — extract -> CEL filter -> PIP
    (cell-bucketed broadcast ray-cast) -> slippy tile rollup — over
    portable pages, verified against a closed-form DuckDB oracle that
    re-derives the mentions, re-filters, re-ray-casts and re-tiles
    independently. This is the flagship plan shape with an EXACT
    cross-engine answer."""
    pages = _portable_pages(spark, sf)
    ents = extract_geo_entities(pages)
    kept = compile_cel('tags["amenity"] != "bench"').apply(ents)
    polys = _pip_polygons_df(spark)
    hits = point_in_polygon(
        kept.select("id", "lat", "lon"), polys, res=5, point_id="id"
    )
    tiled = tiles.assign_tiles(hits, 8)
    return tiled.groupBy("polygon_id", "tile_x", "tile_y").agg(
        F.count(F.lit(1)).alias("n_points")
    )


# ------------------------- rows-only (non-SQL) queries -------------------------


def q_extract_entities(spark, sf):
    """Extraction over the DISTRIBUTED page generator (hash-of-id
    corpus with hot-city skew). EXACT oracle since round 2: the
    generator's integer-LCG/microdegree arithmetic is mirrored in SQL
    (_page_mentions_sql); the output carries the portable mention
    ordinal ``pos`` rather than the xxhash64 entity id, which stays
    64-bit on purpose (collision-free at 10^12 rows, not worth
    mirroring)."""
    pages = generate_pages(spark, 2000, partitions=8)
    return extract_geo_entities(pages).select(
        "url",
        "pos",
        "lat",
        "lon",
        F.col("tags")["amenity"].alias("amenity"),
    )


def q_opl_lines(spark, sf):
    els = _part_elements(spark, sf)
    return oplio.serialize_opl(els)


def q_json_lines(spark, sf):
    """Byte-exact per-element OSM-JSON strings (writer hot path:
    vectorized Arrow UDF, reference field order json.rs:74-188) vs a
    string-built DuckDB oracle — exercises conditional-field rules and
    shortest-roundtrip float formatting on integral coordinates."""
    from skyway_spark.sources import jsonio

    els = _part_elements(spark, sf)
    return els.select(jsonio.element_json_col(els).alias("value"))


def q_xml_lines(spark, sf):
    """Byte-exact per-element OSM-XML strings (flattened attr order
    xml.rs:43-58, visible default-true, nd/member/tag children) vs a
    string-built DuckDB oracle."""
    from skyway_spark.sources import xmlio

    els = _part_elements(spark, sf)
    return els.select(xmlio.element_xml_col(els).alias("value"))


def q_audio_windows(spark, sf):
    """Audio framing over binary payloads (documents text bytes as
    8-bit PCM): strided numpy windows in mapInPandas, integer energy/
    peak per window, exact SQL oracle."""
    from skyway_spark.operators import multimodal

    (docs,) = _tables(spark, sf, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    return multimodal.audio_windows(media, window=64, hop=32)


def _pbf_fixture_elements() -> list[dict]:
    """Shared input of q_pbf_roundtrip and its oracle: the pure-Python
    elements fixture (no Spark session needed)."""
    from skyway_spark.sources.generate import element_rows

    els = []
    for (t, i, lat, lon, nodes, members, tags, *_meta) in element_rows():
        e = {"type": t, "id": i, "tags": dict(tags)}
        if t == "node":
            e["lat"], e["lon"] = lat, lon
        elif t == "way":
            e["nodes"] = list(nodes)
        else:
            e["members"] = [
                {"type": m[0] or "node", "ref": m[1], "role": m[2] or ""}
                for m in members
            ]
        els.append(e)
    return els


def q_pbf_roundtrip(spark, sf):
    """Encode the deterministic elements fixture to OSM PBF bytes and
    read it back through the distributed blob decoder. EXACT oracle
    since round 2: the expected rows are re-derived in pure Python from
    the same fixture (nanodegree quantization mirrored, tags serialized
    independently) and emitted as a DuckDB VALUES table — any encode or
    decode corruption of ids, coords or tag bytes mismatches."""
    import tempfile

    from skyway_spark.sources import pbf as pbfio

    path = tempfile.mktemp(suffix=".osm.pbf")
    pbfio.encode_pbf(path, _pbf_fixture_elements(), block_size=64)
    df = pbfio.read_pbf(spark, path)
    tags_ser = F.array_join(
        F.transform(
            F.array_sort(F.map_entries("tags")),
            lambda e: F.concat(e["key"], F.lit("\x1f"), e["value"]),
        ),
        "\x1e",
    )
    return df.select("type", "id", "lat", "lon", tags_ser.alias("tags_ser"))


def q_simplify_ways(spark, sf):
    """Visvalingam polyline simplification over deterministic ways
    built from event points. EXACT oracle since round 2: DuckDB
    re-runs the same iterative argmin-(area, index) removal as a
    recursive CTE over point lists, and the kept-vertex set is pinned
    by ``chk`` — an ordered left-fold over the surviving points (same
    IEEE add sequence both engines, see q_way_lengths)."""
    from skyway_spark.operators.geometry import simplify_ways

    pts = _event_points(spark, sf)
    ways = (
        pts.withColumn("way_id", F.col("event_id") % 500)
        .groupBy("way_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("event_id", "lat", "lon"))),
                lambda s: F.struct(s["lat"].alias("lat"), s["lon"].alias("lon")),
            ).alias("pts")
        )
    )
    out = simplify_ways(ways, keep=6)
    chk = F.aggregate(
        F.col("pts"),
        F.lit(0.0),
        lambda acc, p: acc + (p["lat"] * 3.0 + p["lon"]),
    )
    return out.select("way_id", "n_in", "n_out", chk.alias("chk"))


def q_media_features(spark, sf):
    """Batched binary feature extraction through the REAL mapInPandas
    plumbing with the documented deterministic fake decoder (real codec
    stubbed per driver instruction). EXACT oracle since round 2: the
    fold-the-bytes decode is re-derived in SQL from the portable page
    corpus (per-position ascii sums mod 256, float32 division verified
    double-rounding-safe for all 256 values), the media id is the
    portable page index, and the 8 feature floats are pinned by an
    ordered fold checksum."""
    from skyway_spark.operators import multimodal

    pages = generate_pages(spark, 500, partitions=8)
    media = pages.select(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long").alias("media_id"),
        F.col("html").alias("payload"),
    )
    feats = multimodal.extract_media_features(media, dim=8)
    chk = F.aggregate(
        F.col("feature"), F.lit(0.0), lambda a, x: a + x.cast("double")
    )
    return feats.select("media_id", "n_bytes", chk.alias("chk"))


def q_pages_pipeline(spark, sf):
    """End-to-end north-rule slice over the DISTRIBUTED generators:
    pages -> extract -> filter -> PIP vs generated polygons -> tile
    rollup. EXACT oracle since round 2: mentions re-derived via
    _page_mentions_sql, polygons re-ray-cast in SQL from the shared
    pure-Python fixture rows (id-free output, so nothing depends on
    xxhash64)."""
    pages = generate_pages(spark, 2000, partitions=8)
    ents = extract_geo_entities(pages)
    kept = compile_cel('tags["amenity"] != "bench"').apply(ents)
    polys = generate_polygons(spark)
    hits = point_in_polygon(kept.select("id", "lat", "lon"), polys, res=6)
    return tiles.assign_tiles(hits, 8).groupBy("polygon_id", "tile_x", "tile_y").agg(
        F.count(F.lit(1)).alias("n_points")
    )


# ---------------------------------------------------------------------------
# round-3 queries
# ---------------------------------------------------------------------------


def q_lev_verify(spark, sf):
    """MinHash-LSH candidates verified with EXACT Levenshtein (the
    RefinedWeb recipe): banding prunes the pair space, edit distance
    re-checks the survivors.  Integer-only normalized-similarity cut
    (lev*100 <= (100-99)*max_len), so the verdict column is
    engine-exact; DuckDB's levenshtein() is an independent
    implementation of the same standard metric."""
    return dedup.levenshtein_verify_pairs(
        _docs_with_dups(spark, sf), threshold=0.8, min_sim_pct=99
    )


def q_chunk_dedup_rewrite(spark, sf):
    """Corpus-duplicated-chunk REMOVAL with byte-exact rebuilt text
    (CCNet/RefinedWeb line-dedup, on 8-token chunks).  The oracle
    re-derives hot chunks by chunk TEXT equality — independent of the
    Spark side's xxhash64 keys."""
    return textstats.dedup_chunks_rewrite(
        _docs_with_dups(spark, sf), window=8, min_repeat=2
    )


def q_pagerank_cells(spark, sf):
    """Integer-quantized PageRank over the dense-cell adjacency graph
    (same dense cells + 8-neighbor edges as q_grid_dbscan, both
    directions).  All mass arithmetic is int64 floor division, so 3
    iterations are bit-exact; the oracle chains 3 CTE iterations of
    the same recurrence."""
    from skyway_spark.operators.graph import pagerank_int

    dense, edges = cluster.dense_cell_graph(
        _event_points(spark, sf), GRID_RES, GRID_MIN_PTS
    )
    return pagerank_int(edges, iters=3).select(
        F.col("node").alias("cell"), F.col("rank").alias("pr")
    )


def q_quantiles(spark, sf):
    """Exact per-source percentiles (p50/p90/p99) of document length —
    explicit rank formula ceil(n*p/100), no engine quantile builtin
    (interpolation rules differ across engines)."""
    from skyway_spark.operators.stats import group_quantiles

    (docs,) = _tables(spark, sf, "documents")
    return group_quantiles(docs, "source", "n_chars", "doc_id")


def q_vocab_growth(spark, sf):
    """Heaps-law vocabulary growth: distinct types seen after each of
    10 evenly spaced doc-id checkpoints (cp = max_id * i div 10)."""
    (docs,) = _tables(spark, sf, "documents")
    return textstats.vocab_growth(docs, n_checkpoints=10)


def q_url_blocklist(spark, sf):
    """Domain-suffix blocklist filter over the messy-url fixture of
    q_url_host_stats: suffix-exploded broadcast ANTI join (the
    10^6-domain-safe plan).  Oracle derives hosts CLOSED-FORM
    (site<k>.com from doc_id) and excludes the blocked k — fully
    independent of operators/urls.py."""
    from skyway_spark.operators import urls as urlops

    (docs,) = _tables(spark, sf, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("HTTP://WWW.Site"),
        (did % 7).cast("string"),
        F.lit(".COM:80/p/"),
        did.cast("string"),
    )
    kept = urlops.filter_blocklist(
        docs.select("doc_id", url.alias("url")), ["site1.com", "site4.com"]
    )
    return kept.groupBy(urlops.host_of(F.col("url")).alias("host")).agg(
        F.count(F.lit(1)).alias("n_kept")
    )


def q_bigram_lm(spark, sf):
    """Corpus-bigram LM quality score per doc (the CCNet perplexity-
    filter shape): conditional P(b|a) quantized to
    (2^20*c(ab)) div c(a·) — integer division only, engine-exact."""
    (docs,) = _tables(spark, sf, "documents")
    return textstats.bigram_lm_scores(docs)


def q_snap_nodes(spark, sf):
    """Map-matching: snap every event point to the nearest way node in
    its 3x3 cell neighborhood at res 4 — exact int64 centidegree
    distances, argmin ties to the lowest node id.  Both coordinate
    sets derive closed-form (events / part), so the oracle recomputes
    the full candidate set with wrap-aware modular x-distance."""
    from skyway_spark.operators.knn import snap_to_sites

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        "event_id",
        ((F.col("user_id") * 7919) % 17000 - 8500).alias("lat_c"),
        ((F.col("event_id") * 104729) % 36000 - 18000).alias("lon_c"),
    ).select(
        "event_id",
        "lat_c",
        "lon_c",
        (F.col("lat_c") / 100.0).alias("lat"),
        (F.col("lon_c") / 100.0).alias("lon"),
    )
    (part,) = _tables(spark, sf, "part")
    sites = part.where(F.col("p_partkey") % 3 == 0).select(
        F.col("p_partkey").alias("node_id"),
        (((F.col("p_partkey") % 170) - 85) * 100).alias("lat_c"),
        (((F.col("p_partkey") % 360) - 180) * 100).alias("lon_c"),
    ).select(
        "node_id",
        "lat_c",
        "lon_c",
        (F.col("lat_c") / 100.0).alias("lat"),
        (F.col("lon_c") / 100.0).alias("lon"),
    )
    return snap_to_sites(
        pts, sites, res=4, ring=1, point_id="event_id", site_id="node_id"
    )


def q_cell_regions(spark, sf):
    """Region rollup over the grid-DBSCAN components: per cluster the
    cell count, total points and anchor cell — the dissolve step that
    turns dense cells into named regions."""
    labels = cluster.grid_dbscan(_event_points(spark, sf), GRID_RES, GRID_MIN_PTS)
    return labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n_points").alias("total_points"),
        F.min("cell").alias("min_cell"),
    )


def q_dup_chunk_by_source(spark, sf):
    """Dedup diagnostics by origin: per source, how many docs carry
    corpus-duplicated 8-token chunks (boilerplate_windows joined back
    to doc metadata) — the per-host dup-rate report every curation
    pipeline ships."""
    docs2 = _docs_with_dups(spark, sf)
    bw = textstats.boilerplate_windows(docs2, window=8, min_repeat=2)
    src = docs2.select("doc_id", "source")
    return (
        bw.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_boiler") > 0, 1).otherwise(0)).alias(
                "n_docs_flagged"
            ),
            F.sum("n_windows").alias("tot_windows"),
            F.sum("n_boiler").alias("tot_boiler"),
        )
    )


def q_histogram(spark, sf):
    """Fixed-width doc-length histogram with exact ppm shares
    (integer division only)."""
    from skyway_spark.operators.stats import histogram_int

    (docs,) = _tables(spark, sf, "documents")
    return histogram_int(docs, "n_chars", 64)


def q_stay_points(spark, sf):
    """Dwell detection: maximal runs of >= 2 consecutive same-cell
    events per user (res 5) — gaps-and-islands over one keyed window,
    mirrored by the oracle's SUM(brk) OVER cumulative run ids."""
    from skyway_spark.operators.trajectory import stay_points

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        "event_id",
        "user_id",
        "ts",
        ((F.col("user_id") * 7919) % 17000 / 100.0 - 85.0).alias("lat"),
        ((F.col("event_id") * 104729) % 36000 / 100.0 - 180.0).alias("lon"),
    )
    return stay_points(pts, res=GRID_RES, min_pts=2)


def q_hll_users(spark, sf):
    """Mergeable HyperLogLog distinct-user sketch + integer estimate
    per event_type (m=64 registers).  The whole pipeline — LCG
    bucket/register hashing, trailing-zero registers, the 2^20-scaled
    harmonic sum, the alpha-corrected estimate — is int64 arithmetic,
    so the oracle reproduces sketch AND estimate bit-for-bit (unlike
    engine-builtin approx_count_distinct, whose registers are
    implementation-defined)."""
    from skyway_spark.operators import sketches

    (ev,) = _tables(spark, sf, "events")
    return sketches.hll_distinct(ev, "event_type", "user_id", m=64)


def q_cms_heavy_hitters(spark, sf):
    """Count-Min heavy hitters: build a 4x1024 integer CMS over all
    document tokens, then point-query it for the exact top-20 terms —
    output (term, true_n, cms_n) demonstrates the sketch's one-sided
    error (cms_n >= true_n always).  Token->counter hashing is the
    repo's portable fold+LCG family, so the oracle rebuilds the exact
    counter array in SQL."""
    from skyway_spark.operators import sketches

    (docs,) = _tables(spark, sf, "documents")
    w = 1024
    sk = sketches.cms_sketch(docs, w=w)
    toks = docs.select(
        F.explode(strhash.words(F.col("text"))).alias("term")
    ).where(F.length("term") > 0)
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.desc("true_n"), F.asc("term"))
        .limit(20)
    )
    return top.join(sketches.cms_estimate(top, sk, w=w), "term").select(
        "term", "true_n", "cms_n"
    )


def q_weighted_sample(spark, sf):
    """Exactly-200 weighted deterministic sample of documents with
    inclusion odds ~ n_chars (integer priority = hash(id) div weight —
    the engine-exact analogue of A-ES weighted reservoir keys)."""
    from skyway_spark.operators import sampling

    (docs,) = _tables(spark, sf, "documents")
    return sampling.weighted_bottom_k(docs, 200, "n_chars").select(
        "doc_id", "n_chars", "priority", "sample_rank"
    )


def q_geofence(spark, sf):
    """Geofence enter/exit/switch event stream: event points vs the
    PIP polygon set — broadcast cell-bucketed ray-cast containment,
    then one per-user window pass emits rows only where the containing
    region changes (pre-history = outside)."""
    from skyway_spark.operators.trajectory import geofence_transitions

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        "event_id",
        "user_id",
        "ts",
        ((F.col("user_id") * 7919) % 17000 / 100.0 - 85.0).alias("lat"),
        ((F.col("event_id") * 104729) % 36000 / 100.0 - 180.0).alias("lon"),
    )
    return geofence_transitions(pts, _pip_polygons_df(spark), res=5)


SEMDEDUP_TAU = 1_300_000_000_000  # quantized-units^2; ~NN-distance p25


def q_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023): k-means clusters bound the pair
    space, then every vector with a lower-id near neighbor (integer
    squared distance <= tau) in its cluster is marked keep=false.
    Exact end-to-end: the oracle replays the Lloyd chain as unrolled
    CTEs and the same within-cluster pair rule."""
    from skyway_spark.operators.similarity import semantic_dedup

    (emb,) = _tables(spark, sf, "embeddings")
    return semantic_dedup(emb, tau=SEMDEDUP_TAU, k=KMEANS_K, iters=KMEANS_ITERS)


def q_hash_classifier(spark, sf):
    """FastText-shaped hashed-bigram linear quality scorer: per doc
    the int64 sum of LCG-derived gram weights — the corpus-wide
    quality-filter pass, zero shuffles (one Arrow-batched pass in the scan stage)."""
    from skyway_spark.operators.textstats import hash_feature_score

    (docs,) = _tables(spark, sf, "documents")
    return hash_feature_score(docs)


def q_dsir_resample(spark, sf):
    """DSIR-shaped importance resampling: hashed-n-gram importance
    score -> positive integer weight -> EXACTLY-100 weighted
    deterministic sample (priority = hash(id) div weight).  Composes
    hash_feature_score + weighted_bottom_k end-to-end like the public
    data-selection recipe (Xie et al. 2023)."""
    from skyway_spark.operators.sampling import weighted_bottom_k
    from skyway_spark.operators.textstats import hash_feature_score

    (docs,) = _tables(spark, sf, "documents")
    scored = hash_feature_score(docs).withColumn(
        "w", F.greatest(F.col("score"), F.lit(0)).cast("long") + F.lit(1)
    )
    # Pin the scoring pass to exactly ONE evaluation: the sampler's
    # filter + sort-key both reference w, and predicate pushdown
    # re-inlines the scoring UDF per reference (the plan then runs it
    # twice).  Scoring-then-sampling is two
    # passes in every public DSIR recipe anyway; the materialized
    # slice is (id, score, w) longs — kilobytes per million docs.
    scored = scored.localCheckpoint(eager=False)
    return weighted_bottom_k(scored, 100, "w").select(
        "doc_id", "score", "priority", "sample_rank"
    )


def q_bellman_cells(spark, sf):
    """Bounded-hop integer shortest paths (3 synchronous Bellman-Ford
    rounds) from the lowest dense cell over the 8-neighbor grid graph,
    edge toll 1 + ((s+t) % 7) — the routing/reachability primitive on
    the same substrate as q_pagerank_cells; all-int64 so the oracle
    chains the identical rounds as CTEs."""
    from skyway_spark.operators.graph import bellman_ford

    dense, edges = cluster.dense_cell_graph(
        _event_points(spark, sf), GRID_RES, GRID_MIN_PTS
    )
    src = edges.agg(F.min("src")).first()[0]  # driver scalar: source id
    return bellman_ford(edges, [src], iters=3).select(
        F.col("node").alias("cell"), "dist"
    )


HILBERT_ORDER = 10


def q_hilbert(spark, sf):
    """Hilbert-curve layout keys for the event points on the square
    2^10 grid: the locality-superior alternative to q_zorder (every
    consecutive key pair is grid-adjacent).  The state-carrying
    xy->d walk runs as one struct-accumulator fold (constant ~10
    steps/row); the oracle unrolls the same levels as CTEs."""
    pts = _event_points(spark, sf)
    n = 1 << HILBERT_ORDER
    gx = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit(n - 1).cast("long"),
            F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))),
        ),
    )
    gy = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit(n - 1).cast("long"),
            F.floor((F.lit(90.0) - F.col("lat")) / F.lit(180.0) * F.lit(float(n))),
        ),
    )
    return pts.select(
        "event_id",
        gx.alias("gx"),
        gy.alias("gy"),
        cells.hilbert_key(F.col("lat"), F.col("lon"), HILBERT_ORDER).alias("hkey"),
    )


def q_cdc_merge(spark, sf):
    """Changelog apply (Iceberg/Delta MERGE semantics; OSM `.osc`
    changeset-apply): a keyed upsert/delete log derived from events
    replays onto the documents snapshot — latest seq wins per key,
    deletes drop, upserts replace-or-insert.  One changelog key-window
    + one anti-join; snapshot payload never shuffles."""
    from skyway_spark.operators.cdc import apply_changelog

    (docs,) = _tables(spark, sf, "documents")
    snapshot = docs.select("doc_id", "lang", "source", "n_chars")
    # a day's changelog collapses to <= keyspace rows after the
    # latest-wins window, whose key set apply_changelog broadcasts
    return apply_changelog(snapshot, _cdc_changes(spark, sf), ["doc_id"], "seq", "op")


def q_group_sample(spark, sf):
    """EXACTLY-20-per-language deterministic sample (per-group
    bottom-k by id hash) — per-stratum caps with fixed output size,
    one keyed window shuffle, no global sort."""
    from skyway_spark.operators.sampling import group_bottom_k

    (docs,) = _tables(spark, sf, "documents")
    return group_bottom_k(docs.select("doc_id", "lang"), 20, "lang")


def q_outliers(spark, sf):
    """Robust per-source length outliers via integer-exact MAD
    (modified z > ~3.5 as pure int64 cross-multiplication) — the
    heavy-tail-safe anomaly pass mean/stddev z-scores get wrong."""
    from skyway_spark.operators.stats import mad_outliers

    (docs,) = _tables(spark, sf, "documents")
    return mad_outliers(docs, "source", "n_chars", "doc_id")


def q_covisit(spark, sf):
    """Event-type co-occurrence across users (unordered pairs seen
    together in >= 2 users' histories): distinct (entity, item) dedup
    bounds the self-join fan-out to per-entity distinct items."""
    from skyway_spark.operators.stats import cooccurrence_pairs

    (ev,) = _tables(spark, sf, "events")
    return cooccurrence_pairs(ev, "user_id", "event_type", min_count=2)


def _cdc_changes(spark, sf):
    (ev,) = _tables(spark, sf, "events")
    return ev.select(
        (F.col("user_id") % 600).alias("doc_id"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.col("event_type").alias("lang"),
        F.concat(F.lit("ev-"), (F.col("user_id") % 7).cast("string")).alias(
            "source"
        ),
        (F.col("user_id") + F.col("event_id")).alias("n_chars"),
    )


def q_scd2(spark, sf):
    """Type-2 SCD history from the same changelog as q_cdc_merge: one
    row per (key, version) with [valid_from, valid_to) in seq units —
    time travel by seq; one keyed lead() window."""
    from skyway_spark.operators.cdc import changelog_to_scd2

    return changelog_to_scd2(_cdc_changes(spark, sf), ["doc_id"])


def q_bpe_pairs(spark, sf):
    """One BPE merge-step candidate scan: corpus-wide adjacent char-
    pair counts within tokens, top-20 by (count desc, pair) — the
    tokenizer-training primitive; only the pair alphabet shuffles."""
    from skyway_spark.operators.textstats import bpe_pair_counts

    (docs,) = _tables(spark, sf, "documents")
    return bpe_pair_counts(docs, top_n=20)


def q_winnow_decontam(spark, sf):
    """Benchmark decontamination by winnowing fingerprints (every
    doc_id % 50 == 0 doc is 'benchmark'): per corpus doc, how much of
    its OWN fingerprint set benchmark fingerprints cover, flagged at
    >= 60% coverage (integer cross-multiply) — substring-robust where
    exact-window contamination is tokenization-bound; both sides
    reduce to (id, fp) longs before the join, text never shuffles."""
    from skyway_spark.operators.dedup import winnow_decontaminate

    (docs,) = _tables(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    return winnow_decontaminate(
        corpus, bench, k=WINNOW_K, w=WINNOW_W, share_pct=60
    )


WINNOW_K, WINNOW_W = 8, 4


def q_winnow(spark, sf):
    """Winnowing (MOSS) fingerprints per document: char-8-gram
    rolling hashes, min-of-4-window selection, order-canonical fold
    checksum over the sorted fingerprint set — the position-robust
    substring-dedup signature; one Arrow-batched pass in the scan stage, zero shuffles."""
    (docs,) = _tables(spark, sf, "documents")
    return dedup.winnow_fingerprints(docs, k=WINNOW_K, w=WINNOW_W)


LINKED_PAGES_N = 1500


def _linked_pages(spark):
    from skyway_spark.sources.generate import generate_linked_pages

    return generate_linked_pages(spark, LINKED_PAGES_N)


def q_link_graph(spark, sf):
    """Host-level link graph from raw html bytes: decode + JVM regexp
    href extraction in the scan stage (operators/weblinks.extract_links,
    zero shuffles), then ONE map-side-combined groupBy on the
    (src_host, dst_host) pair — the shuffle is edge-vocabulary-sized,
    never corpus-sized.  Deterministic linked-pages fixture mirrored
    arithmetically in SQL (_linked_pages_sql)."""
    from skyway_spark.operators import weblinks

    return weblinks.host_graph(weblinks.extract_links(_linked_pages(spark)))


def q_anchor_terms(spark, sf):
    """Top-2 anchor-text terms per target host (the classic anchor
    signal for target-page description): explode anchor words, count
    by (host, term), rank inside the vocabulary-sized aggregate."""
    from skyway_spark.operators import weblinks

    return weblinks.anchor_terms(
        weblinks.extract_links(_linked_pages(spark)), top=2
    )


def q_dom_stats(spark, sf):
    """Per-host markup census (tag / anchor counts, html bytes, text
    chars) — exact integer sums; the markup-to-text ratio is the
    standard boilerplate feature for web corpora.  The oracle derives
    the same totals from the generation arithmetic, independently of
    Spark's regexp_count path."""
    from skyway_spark.operators import weblinks

    return weblinks.dom_stats(_linked_pages(spark))


def q_host_rank(spark, sf):
    """PageRank over the extracted host graph (distinct directed
    host->host edges from the anchor hrefs) via the engine-exact
    integer mass-passing of operators/graph.pagerank_int — same
    quantization contract as q_pagerank_cells, new substrate: the web
    link graph instead of the spatial cell grid."""
    from skyway_spark.operators import weblinks
    from skyway_spark.operators.graph import pagerank_int

    links = weblinks.extract_links(_linked_pages(spark))
    edges = links.select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    ).distinct()
    return pagerank_int(edges, iters=3).select(
        F.col("node").alias("host"), F.col("rank").alias("pr")
    )


def q_crawl_frontier(spark, sf):
    """Crawl-frontier scheduling over the extracted link graph: a
    partial crawl (url id % 3 != 0) anti-joined against its own
    outlinks yields the uncrawled frontier, ranked by referring-host
    diversity then in-link count — one anti-join, one vocabulary-sized
    aggregate, one TakeOrdered top-k (operators/weblinks.crawl_frontier)."""
    from skyway_spark.operators import weblinks

    pages = _linked_pages(spark)
    crawled = pages.where(
        F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long") % 3 != 0
    )
    return weblinks.crawl_frontier(
        weblinks.extract_links(crawled), crawled.select("url"), k=50
    )


def q_map_match(spark, sf):
    """Map-matching to road SEGMENTS (edge-level upgrade of
    q_snap_nodes): nearest segment by exact rational point-to-segment
    distance (num/den int64, clamped projection), candidates from the
    3x3 cell neighborhood of either endpoint; argmin tie-chain ends on
    the unique segment id (operators/knn.match_to_segments).  The road
    network derives closed-form from part (10-node ways of every third
    partkey), so the oracle recomputes the full candidate set."""
    from pyspark.sql import Window

    from skyway_spark.operators.knn import match_to_segments

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        "event_id",
        ((F.col("user_id") * 7919) % 17000 - 8500).alias("lat_c"),
        ((F.col("event_id") * 104729) % 36000 - 18000).alias("lon_c"),
    ).select(
        "event_id",
        "lat_c",
        "lon_c",
        (F.col("lat_c") / 100.0).alias("lat"),
        (F.col("lon_c") / 100.0).alias("lon"),
    )
    (part,) = _tables(spark, sf, "part")
    nodes = part.where(F.col("p_partkey") % 3 == 0).select(
        F.col("p_partkey").alias("node_id"),
        (F.col("p_partkey") / F.lit(30)).cast("long").alias("way_id"),
        (((F.col("p_partkey") % 170) - 85) * 100).alias("ay_c"),
        (((F.col("p_partkey") % 360) - 180) * 100).alias("ax_c"),
    )
    w = Window.partitionBy("way_id").orderBy("node_id")
    segs = (
        nodes.select(
            "node_id",
            "way_id",
            "ay_c",
            "ax_c",
            F.lead("ay_c").over(w).alias("by_c"),
            F.lead("ax_c").over(w).alias("bx_c"),
        )
        .where(F.col("by_c").isNotNull())
        .select(
            F.col("node_id").alias("seg_id"),
            "way_id",
            "ay_c",
            "ax_c",
            "by_c",
            "bx_c",
            (F.col("ay_c") / 100.0).alias("alat"),
            (F.col("ax_c") / 100.0).alias("alon"),
            (F.col("by_c") / 100.0).alias("blat"),
            (F.col("bx_c") / 100.0).alias("blon"),
        )
    )
    return match_to_segments(pts, segs, res=4, ring=1, point_id="event_id")


PQ_M, PQ_K, PQ_ITERS = 4, 8, 2


def q_pq_codes(spark, sf):
    """Product quantization of the embeddings: m=4 independent
    engine-exact integer k-means codebooks over the 16-dim sub-blocks
    (operators/kmeans.pq_codes — same Lloyd contract as q_kmeans),
    all 4 codes emitted in one output scan.  The oracle runs four
    unrolled-Lloyd mirrors on embedding slices and joins them on
    vec_id."""
    from skyway_spark.operators.kmeans import pq_codes

    (emb,) = _tables(spark, sf, "embeddings")
    return pq_codes(emb, m=PQ_M, k=PQ_K, iters=PQ_ITERS)


def _pq_sql() -> str:
    bs = 64 // PQ_M
    parts = []
    for j in range(PQ_M):
        vec_expr = f"embedding[{j * bs + 1}:{(j + 1) * bs}]"
        parts.append(
            f"({_kmeans_sql(k=PQ_K, iters=PQ_ITERS, dim=bs, vec_expr=vec_expr)}) a{j}"
        )
    joins = parts[0] + "".join(
        f" JOIN {p} USING (vec_id)" for p in parts[1:]
    )
    sel = ", ".join(
        f"a{j}.cluster AS code_{j}, a{j}.dist AS dist_{j}" for j in range(PQ_M)
    )
    return f"SELECT vec_id, {sel} FROM {joins}"


def q_running_anomaly(spark, sf):
    """Online anomaly detection, detect-at-arrival: each event judged
    against its user's PRIOR integer moments (n, s, ssq) with the
    cross-multiplied z^2 > 9 inequality — no division, no sqrt
    (operators/stats.running_zscore_flags).  ONE entity-keyed sort
    shuffle."""
    from skyway_spark.operators.stats import running_zscore_flags

    (ev,) = _tables(spark, sf, "events")
    return running_zscore_flags(ev)


def q_host_hits(spark, sf):
    """HITS hubs & authorities over the extracted host link graph —
    the link-analysis complement to q_host_rank, engine-exact via
    integer mass with per-half-step max-rescaling
    (operators/graph.hits_int)."""
    from skyway_spark.operators import weblinks
    from skyway_spark.operators.graph import hits_int

    links = weblinks.extract_links(_linked_pages(spark))
    edges = links.select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    ).distinct()
    return hits_int(edges, iters=2).select(
        F.col("node").alias("host"), "hub", "auth"
    )


def _hits_sql(iters: int = 2, scale_bits: int = 20) -> str:
    peak = 1 << scale_bits
    sql = f"""
            WITH l AS ({_linked_links_sql(LINKED_PAGES_N)}),
            e AS (SELECT DISTINCT src_host AS s, dst_host AS t FROM l),
            nodes AS (SELECT s AS node FROM e UNION SELECT t FROM e),
            a0 AS (SELECT node, {peak}::BIGINT AS x FROM nodes)"""
    prev_a = "a0"
    for i in range(1, iters + 1):
        sql += f""",
            h{i}r AS (SELECT e.s AS node, (SUM(a.x))::BIGINT AS x
                      FROM e JOIN {prev_a} a ON a.node = e.t GROUP BY 1),
            h{i}f AS (SELECT n.node, COALESCE(h.x, 0)::BIGINT AS x
                      FROM nodes n LEFT JOIN h{i}r h USING (node)),
            h{i} AS (SELECT node,
                            (x * {peak}) // (SELECT MAX(x) FROM h{i}f) AS x
                     FROM h{i}f),
            a{i}r AS (SELECT e.t AS node, (SUM(h.x))::BIGINT AS x
                      FROM e JOIN h{i} h ON h.node = e.s GROUP BY 1),
            a{i}f AS (SELECT n.node, COALESCE(a.x, 0)::BIGINT AS x
                      FROM nodes n LEFT JOIN a{i}r a USING (node)),
            a{i} AS (SELECT node,
                            (x * {peak}) // (SELECT MAX(x) FROM a{i}f) AS x
                     FROM a{i}f)"""
        prev_a = f"a{i}"
    return sql + f"""
            SELECT h{iters}.node AS host, h{iters}.x AS hub,
                   a{iters}.x AS auth
            FROM h{iters} JOIN a{iters} USING (node)
    """


ISO_SOURCES = 5


def q_isochrone(spark, sf):
    """Multi-source isochrone: bounded-hop toll distances from the
    ISO_SOURCES densest cells AT ONCE (the service-area / coverage-map
    primitive — one Bellman run answers 'which cells are within d of
    ANY depot', no per-depot loop).  Same integer relaxation as
    q_bellman_cells; sources are a deterministic top-k of the dense
    table."""
    from skyway_spark.operators.graph import bellman_ford

    dense, edges = cluster.dense_cell_graph(
        _event_points(spark, sf), GRID_RES, GRID_MIN_PTS
    )
    srcs = [
        r.cell
        for r in dense.orderBy(F.desc("n_points"), F.asc("cell"))
        .limit(ISO_SOURCES)
        .collect()
    ]
    return bellman_ford(edges, srcs, iters=3).select(
        F.col("node").alias("cell"), "dist"
    )


FILL_RES = 6


def q_polygon_fill(spark, sf):
    """Vector->raster polygon FILL: the res-6 grid cells whose centers
    lie inside each fixture polygon (outer odd-crossings, holes
    subtracted) — the interior mask that completes the rasterization
    trio (raster_tiles fills POINTS, rasterize_segments LINES, this
    AREAS).  Candidate cells enumerate from each polygon's bbox via a
    JVM sequence explode (dimension-sized); the center test is the
    batch PIP's even-odd ray cast (``pip.inside_sql``) over the
    polygon's edges, carried as columns of its bbox row."""
    from skyway_spark.operators.pip import EDGE_LISTS_DDL, inside_sql

    nx, ny = 1 << (FILL_RES + 1), 1 << FILL_RES

    def grid_x(lon):
        return max(0, min(nx - 1, int(math.floor((lon + 180.0) / 360.0 * float(nx)))))

    def grid_y(lat):
        return max(0, min(ny - 1, int(math.floor((90.0 - lat) / 180.0 * float(ny)))))

    def edges(rings, role):
        return [
            [(a[0], a[1], b[0], b[1]) for a, b in zip(ring[:-1], ring[1:])]
            for r, ring in rings
            if r == role
        ]

    rows = []
    for pid, rings in PIP_POLYGONS.items():
        lats = [p[0] for _, ring in rings for p in ring]
        lons = [p[1] for _, ring in rings for p in ring]
        rows.append(
            (pid, grid_x(min(lons)), grid_x(max(lons)),
             grid_y(max(lats)), grid_y(min(lats)),
             edges(rings, "outer"), edges(rings, "hole"))
        )
    bbox = spark.createDataFrame(
        rows,
        "polygon_id long, x0 long, x1 long, y0 long, y1 long, "
        f"outer {EDGE_LISTS_DDL}, hole {EDGE_LISTS_DDL}",
    )
    g = bbox.select(
        "polygon_id",
        F.explode(F.sequence("x0", "x1")).alias("x"),
        "y0",
        "y1",
        "outer",
        "hole",
    ).select("polygon_id", "x", F.explode(F.sequence("y0", "y1")).alias("y"), "outer", "hole")
    lon_c = (F.col("x") + 0.5) / float(nx) * 360.0 - 180.0
    lat_c = 90.0 - (F.col("y") + 0.5) / float(ny) * 180.0
    c = g.select("polygon_id", "x", "y", lat_c.alias("clat"), lon_c.alias("clon"), "outer", "hole")
    return c.where(F.expr(inside_sql("outer", "hole", "clat", "clon"))).select("polygon_id", "x", "y")


def _polygon_fill_sql() -> str:
    """SQL mirror of q_polygon_fill: bbox-cell enumeration + center
    ray cast over the literal polygon edges, same float op order."""
    nx, ny = 1 << (FILL_RES + 1), 1 << FILL_RES

    def gx(lon):
        return max(0, min(nx - 1, int(math.floor((lon + 180.0) / 360.0 * float(nx)))))

    def gy(lat):
        return max(0, min(ny - 1, int(math.floor((90.0 - lat) / 180.0 * float(ny)))))

    rows = []
    for pid, rings in PIP_POLYGONS.items():
        lats = [p[0] for _, ring in rings for p in ring]
        lons = [p[1] for _, ring in rings for p in ring]
        rows.append(
            f"({pid}, {gx(min(lons))}, {gx(max(lons))}, "
            f"{gy(max(lats))}, {gy(min(lats))})"
        )
    return f"""
            WITH bbox(polygon_id, x0, x1, y0, y1) AS (VALUES {', '.join(rows)}),
            g AS (SELECT polygon_id, x, y
                  FROM bbox, unnest(range(x0, x1 + 1)) u(x),
                       unnest(range(y0, y1 + 1)) v(y)),
            c AS (SELECT polygon_id, x, y,
                         (x + 0.5) / {float(nx)} * 360.0 - 180.0 AS clon,
                         90.0 - (y + 0.5) / {float(ny)} * 180.0 AS clat
                  FROM g),
            edges(polygon_id, role, ey1, ex1, ey2, ex2)
                AS (VALUES {_pip_edges_values()}),
            rh AS (
                SELECT c.polygon_id, c.x, c.y, e.role,
                       SUM(CASE WHEN ((e.ey1 > c.clat) != (e.ey2 > c.clat))
                                 AND c.clon < (e.ex2 - e.ex1)
                                     * (c.clat - e.ey1) / (e.ey2 - e.ey1)
                                     + e.ex1
                                THEN 1 ELSE 0 END) % 2 = 1 AS inside
                FROM c JOIN edges e ON e.polygon_id = c.polygon_id
                GROUP BY 1, 2, 3, 4)
            SELECT polygon_id::BIGINT AS polygon_id, x, y
            FROM rh GROUP BY 1, 2, 3
            HAVING bool_or(role = 'outer' AND inside)
               AND NOT bool_or(role = 'hole' AND inside)
    """


def q_dedup_eval(spark, sf):
    """Dedup-method EVALUATION harness: exhaustive word-shingle
    Jaccard >= 0.8 ground truth (integer inequality 5*inter >=
    4*union over the gram-keyed pair join) vs the three candidate
    generators — MinHash-LSH, SimHash banding, containment — reporting
    per method the pair count, true-pair hits, and the truth-set size:
    precision and recall numerators in one table, so banding
    parameters are tuned with evidence instead of folklore.  Gram
    arrays localCheckpoint-pinned (staging discipline); truth is
    id-pair-sized."""
    docs2 = _docs_with_dups(spark, sf)
    sh = docs2.select(
        F.col("doc_id").alias("__id"),
        dedup.word_shingle_hashes(F.col("text"), 3).alias("__g"),
    ).localCheckpoint(eager=True)
    # grams are DISTINCT per doc (word_shingle_hashes array_distincts),
    # so inter <= min(sa, sb) and Jaccard >= 0.8 forces the size-ratio
    # filter 5*min(sa,sb) >= 4*max(sa,sb): applying it INSIDE the
    # gram-keyed pair join is exact pruning (same truth set), and it
    # kills the dominant cost — the near-identical-length dup pairs
    # survive while the cross-length gram collisions never reach the
    # pair aggregate.  Sizes ride along on the gram rows, so the two
    # post-aggregate size joins disappear too.
    gsz = sh.select(
        F.col("__id"),
        F.size("__g").alias("sz"),
        F.explode("__g").alias("gram"),
    )
    a = gsz.select("gram", F.col("__id").alias("id_a"), F.col("sz").alias("sa"))
    b = gsz.select("gram", F.col("__id").alias("id_b"), F.col("sz").alias("sb"))
    inter = (
        a.join(b, "gram")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (5 * F.least("sa", "sb") >= 4 * F.greatest("sa", "sb"))
        )
        .groupBy("id_a", "id_b", "sa", "sb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    truth = (
        inter.where(
            F.col("inter") * 5 >= 4 * (F.col("sa") + F.col("sb") - F.col("inter"))
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    methods = {
        "minhash_lsh": dedup.minhash_lsh_pairs(
            docs2, threshold=0.8, unit="word"
        ).select("id_a", "id_b"),
        "simhash": dedup.simhash_near_dup_pairs(
            docs2, bits=44, bands=4, max_hamming=1
        ).select("id_a", "id_b"),
        "containment": dedup.ngram_containment_pairs(
            docs2, threshold_pct=80
        ).select("id_a", "id_b"),
    }
    out = None
    for name, pairs in methods.items():
        stats = (
            pairs.withColumn("method", F.lit(name))
            .join(truth.withColumn("t", F.lit(1)), ["id_a", "id_b"], "left")
            .groupBy("method")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(F.when(F.col("t").isNotNull(), 1).otherwise(0)).alias(
                    "n_true"
                ),
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out.crossJoin(
        F.broadcast(truth.agg(F.count(F.lit(1)).alias("n_truth")))
    )


TILE_BIN_CAP = 500


def q_tile_bins(spark, sf):
    """Write planning for the adaptive tile set: next-fit bin packing
    of the quadtree leaves into ~500-point output partitions, ordered
    (n_points, z, x, y) — a unique total order, so the cut is deterministic
    (operators/packing.next_fit_bins) — the output-file sizing step a
    tile-serving job runs before writing."""
    from skyway_spark.operators.packing import next_fit_bins

    leaves = q_adaptive_tiles(spark, sf)
    return next_fit_bins(
        leaves, capacity=TILE_BIN_CAP,
        order_cols=["n_points", "z", "x", "y"],
    ).select(
        "z", "x", "y", "n_points", "running_start", "bin"
    )


def q_cell_trends(spark, sf):
    """Spatio-temporal trend detection: per event cell, the exact
    integer OLS slope rational of hourly counts over observed hours
    (operators/spatialstats.cell_trends) — rising/falling density per
    place, no float regression."""
    from skyway_spark.operators import spatialstats

    return spatialstats.cell_trends(_event_cells_int(spark, sf))


def q_dedup_best(spark, sf):
    """Near-dup cluster SURVIVOR POLICY, keep-best variant: within each
    MinHash-LSH connected component keep the LONGEST document (tie: the
    lowest id) instead of the min-id — the policy real corpora use
    (longest member usually carries the fullest content).  One window
    over the component-sized cluster table; composes q_dedup_clusters."""
    from pyspark.sql import Window

    from skyway_spark.operators.graph import connected_components

    docs2 = _docs_with_dups(spark, sf)
    pairs = dedup.minhash_lsh_pairs(docs2, threshold=0.8, unit="word")
    cc = connected_components(pairs, src="id_a", dst="id_b")
    j = cc.join(
        docs2.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("node"))
    nw = Window.partitionBy("component")
    return (
        j.select(
            "component",
            "node",
            "n_chars",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(nw).alias("n_members"),
        )
        .where(F.col("rk") == 1)
        .select(
            "component",
            F.col("node").alias("keep_id"),
            F.col("n_chars").alias("keep_chars"),
            "n_members",
        )
    )


def q_lang_confusion(spark, sf):
    """Corpus-QA confusion matrix: declared language label vs the
    n-gram-marker detector (operators/textstats.lang_id), counted per
    (declared, detected) pair — the standard label-audit before
    language-stratified sampling.  Scan-stage detection, one
    vocabulary-sized groupBy."""
    (docs,) = _tables(spark, sf, "documents")
    return (
        docs.select(
            F.col("lang").alias("lang_declared"),
            textstats.lang_id(F.col("text")).alias("lang_detected"),
        )
        .groupBy("lang_declared", "lang_detected")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_quality_gate(spark, sf):
    """Per-language ADAPTIVE quality gate (FineWeb-style relative
    thresholding): rank every doc inside its language by the integer
    bigram-LM score and keep the top half — the threshold moves with
    each language's own distribution instead of a global constant.
    Rank chain (lm_q DESC, doc_id) is unique, so the cut is exact.
    One vocabulary-sized LM join + one lang-keyed window."""
    (docs,) = _tables(spark, sf, "documents")
    from pyspark.sql import Window

    scored = textstats.bigram_lm_scores(docs).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    w = Window.partitionBy("lang").orderBy(F.desc("lm_q"), F.asc("doc_id"))
    nw = Window.partitionBy("lang")
    ranked = scored.select(
        "doc_id",
        "lang",
        "lm_q",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(nw).alias("n_lang"),
    )
    return ranked.where(F.col("rk") * 2 <= F.col("n_lang") + 1)


def q_fetch_slots(spark, sf):
    """Crawl politeness scheduling on top of the frontier: each target
    host serves at most 2 fetches per time slot, so slot =
    (per-host rank - 1) div 2 with the rank ordered by the frontier
    priority — the standard host-bucketed rate limiter.  One
    frontier-sized window; composes q_crawl_frontier."""
    from pyspark.sql import Window

    fr = q_crawl_frontier(spark, sf).select(
        "href",
        F.regexp_extract(F.col("href"), r"^https?://([^/]+)[/$]?", 1).alias("host"),
        "n_hosts",
        "n_refs",
    )
    w = Window.partitionBy("host").orderBy(
        F.desc("n_hosts"), F.desc("n_refs"), F.asc("href")
    )
    return fr.select(
        "href",
        "host",
        F.row_number().over(w).alias("rk"),
        ((F.row_number().over(w) - 1) / F.lit(2)).cast("int").alias("slot"),
    )


def q_od_matrix(spark, sf):
    """Origin-destination flow matrix: the geofence transition stream
    (q_geofence) aggregated to (from_region, to_region, kind) with move
    and distinct-entity counts — the mobility-analytics rollup that
    closes the trajectory family.  Adds ONE vocabulary-sized groupBy on
    top of the transition plan; the oracle wraps the geofence oracle as
    a derived table."""
    return q_geofence(spark, sf).groupBy("from_region", "to_region", "kind").agg(
        F.count(F.lit(1)).alias("n_moves"),
        F.countDistinct("entity").alias("n_entities"),
    )


PQ_QUERY_ID, PQ_TOPK = 7, 10


def q_pq_topk(spark, sf):
    """PQ-ANN search via asymmetric distance computation: the query's
    exact distances to every sub-centroid form an m x k table; each
    corpus vector's approximate distance is the sum of m lookups
    selected by its PQ codes — one scan + TakeOrdered, no joins
    (operators/kmeans.pq_topk).  Oracle: the same codebooks unrolled
    per block, distance tables via CROSS JOIN against the quantized
    query row, table lookup as a cid equi-join."""
    from skyway_spark.operators.kmeans import pq_topk

    (emb,) = _tables(spark, sf, "embeddings")
    return pq_topk(emb, query_id=PQ_QUERY_ID, topk=PQ_TOPK, m=PQ_M, k=PQ_K, iters=PQ_ITERS)


def _pq_topk_sql() -> str:
    bs = 64 // PQ_M
    scale = float(1 << 20)
    dparts = []
    for j in range(PQ_M):
        vec_expr = f"embedding[{j * bs + 1}:{(j + 1) * bs}]"
        prefix, prev = _kmeans_cte_prefix(PQ_K, PQ_ITERS, bs, 20, vec_expr)
        dparts.append(
            f"""({prefix}
            qv AS (SELECT list_transform({vec_expr},
                       x -> floor(x::DOUBLE * {scale})::BIGINT) AS q
                   FROM embeddings WHERE vec_id = {PQ_QUERY_ID})
            SELECT c.cid, ({_kmeans_dist_sql('qv', 'c', bs)})::BIGINT AS qd
            FROM {prev} c CROSS JOIN qv) d{j}"""
        )
    joins = f"({_pq_sql()}) e" + "".join(
        f" JOIN {d} ON d{j}.cid = e.code_{j}" for j, d in enumerate(dparts)
    )
    s = " + ".join(f"d{j}.qd" for j in range(PQ_M))
    return f"""
        SELECT e.vec_id, ({s}) AS approx_dist FROM {joins}
        ORDER BY approx_dist, e.vec_id LIMIT {PQ_TOPK}
    """


def q_line_raster(spark, sf):
    """Road-density raster: integer DDA walk of every road segment
    (the q_map_match network gridded to degree cells — endpoint
    centidegrees are multiples of 100, so the division is exact)
    counting segments per visited cell (operators/tiles.rasterize_segments).
    The walk is a row-local JVM sequence+transform; ONE cell groupBy."""
    from pyspark.sql import Window

    (part,) = _tables(spark, sf, "part")
    nodes = part.where(F.col("p_partkey") % 3 == 0).select(
        F.col("p_partkey").alias("node_id"),
        (F.col("p_partkey") / F.lit(30)).cast("long").alias("way_id"),
        ((F.col("p_partkey") % 170) - 85).alias("gy"),
        ((F.col("p_partkey") % 360) - 180).alias("gx"),
    )
    w = Window.partitionBy("way_id").orderBy("node_id")
    segs = nodes.select(
        "gy",
        "gx",
        F.lead("gy").over(w).alias("gy2"),
        F.lead("gx").over(w).alias("gx2"),
    ).where(F.col("gy2").isNotNull())
    return tiles.rasterize_segments(segs, ax="gx", ay="gy", bx="gx2", by="gy2")


def q_morans_i(spark, sf):
    """Global Moran's I spatial autocorrelation (rook contiguity) over
    the integer event-cell grid — engine-exact integer deviations
    z_i = n*x_i - S, so the numerator / denominator are int64 and only
    the final index is one identically-ordered double division
    (operators/spatialstats.py)."""
    from skyway_spark.operators import spatialstats

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        (((F.col("user_id") * 7919) % 17000) / F.lit(100)).cast("long").alias("cx"),
        (((F.col("event_id") * 104729) % 36000) / F.lit(100)).cast("long").alias("cy"),
    )
    return spatialstats.morans_i(spatialstats.cell_counts(pts))


def _event_cells_int(spark, sf):
    (ev,) = _tables(spark, sf, "events")
    return ev.select(
        "ts",
        (((F.col("user_id") * 7919) % 17000) / F.lit(100)).cast("long").alias("cx"),
        (((F.col("event_id") * 104729) % 36000) / F.lit(100)).cast("long").alias("cy"),
    )


def q_hot_spots(spark, sf):
    """Local hot/cold-spot map (Getis-Ord G_i* shape) over the event
    cell grid: focal rook+self sums on the aggregate-sized cell table,
    hot flag via the cross-multiplied integer inequality
    nb_sum * n > n_nb * S (operators/spatialstats.hot_spots)."""
    from skyway_spark.operators import spatialstats

    pts = _event_cells_int(spark, sf).drop("ts")
    return spatialstats.hot_spots(spatialstats.cell_counts(pts))


def q_tile_diff(spark, sf):
    """Space-time change detection: the per-cell event-count changelog
    between the first and second half of January — operator
    COMPOSITION: cdc.snapshot_diff keyed by the grid cell over two
    spatialstats.cell_counts aggregates.  Cells that appear, vanish, or
    change density surface as I/D/U rows."""
    from skyway_spark.operators import spatialstats
    from skyway_spark.operators.cdc import snapshot_diff

    pts = _event_cells_int(spark, sf)
    before = spatialstats.cell_counts(pts.where(F.col("ts") < "2024-01-15"))
    after = spatialstats.cell_counts(pts.where(F.col("ts") >= "2024-01-15"))
    return snapshot_diff(before, after, ["cx", "cy"], ["x"])


def q_containment_pairs(spark, sf):
    """Asymmetric n-gram containment near-dup pairs (short-doc-inside-
    long-doc signal Jaccard dilutes): intersections counted FROM the
    gram-keyed self-join with a max-df stop-gram cap; integer threshold
    inequality (operators/dedup.ngram_containment_pairs)."""
    (docs,) = _tables(spark, sf, "documents")
    return dedup.ngram_containment_pairs(docs, n=3, threshold_pct=80)


def q_lm_coverage(spark, sf):
    """Cross-corpus bigram-LM scoring, CCNet shape: model estimated on
    the train split (doc_id % 5 != 0), held-out docs scored against it
    with OOV bigrams counted, all integer-quantized
    (operators/textstats.lm_cross_score)."""
    (docs,) = _tables(spark, sf, "documents")
    return textstats.lm_cross_score(
        docs.where(F.col("doc_id") % 5 != 0), docs.where(F.col("doc_id") % 5 == 0)
    )


def q_snapshot_diff(spark, sf):
    """Changelog between two keyed snapshots (the inverse of
    q_cdc_merge): per-customer 1994 vs 1995 order aggregates diffed by
    ONE co-partitioned full-outer join into I/U/D rows
    (operators/cdc.snapshot_diff)."""
    from skyway_spark.operators import cdc

    (orders,) = _tables(spark, sf, "orders")

    def snap(y: int):
        return (
            orders.where(
                (F.col("o_orderdate") >= f"{y}-01-01")
                & (F.col("o_orderdate") < f"{y + 1}-01-01")
            )
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.max("o_orderdate").alias("last_date"),
            )
        )

    return cdc.snapshot_diff(
        snap(1994), snap(1995), ["o_custkey"], ["n_orders", "last_date"]
    )


ADAPTIVE_BASE_Z, ADAPTIVE_MAX_Z, ADAPTIVE_T = 4, 6, 60


def q_adaptive_tiles(spark, sf):
    """Adaptive quadtree tiling of the skewed event points: tiles over
    the count budget split into children until max_z — the skew-aware
    spatial partition map.  One corpus-sized aggregate at max_z, then
    tile-table-sized rollups and semi-joins (operators/tiles.adaptive_tiles)."""
    return tiles.adaptive_tiles(
        _event_points(spark, sf),
        base_z=ADAPTIVE_BASE_Z,
        max_z=ADAPTIVE_MAX_Z,
        threshold=ADAPTIVE_T,
    )


def _event_grid_ints(spark, sf):
    """Integer grid coordinates straight from the id arithmetic — no
    float quantization, so STR / skyline oracles are pure-int SQL."""
    (ev,) = _tables(spark, sf, "events")
    return ev.select(
        "event_id",
        ((F.col("event_id") * 104729) % 36000).alias("x"),
        ((F.col("user_id") * 7919) % 17000).alias("y"),
    )


def q_str_pack(spark, sf):
    """STR (sort-tile-recursive) R-tree bulk-load layout of the event
    point cloud into an 8x4 EQUAL-COUNT tile grid — the balanced
    spatial partitioning a 100 TB table buckets by.  Global ranks run
    as two-level distributed scans (coarse-block windows + broadcast
    block offsets, never a single-task Window.orderBy); tile bounds
    replicate SQL ntile in closed form, so native DuckDB ntile windows
    are the oracle (operators/partitioner.py)."""
    from skyway_spark.operators import partitioner

    pts = _event_grid_ints(spark, sf)
    packed = partitioner.str_pack(
        pts, sx=8, sy=4, x_col="x", y_col="y", id_col="event_id"
    )
    return partitioner.str_tile_stats(packed)


def q_gearys_c(spark, sf):
    """Global Geary's C spatial autocorrelation (rook contiguity) over
    the event cell grid — the difference-based sibling of q_morans_i,
    same integer-deviation exactness contract
    (operators/spatialstats.gearys_c)."""
    from skyway_spark.operators import spatialstats

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        (((F.col("user_id") * 7919) % 17000) / F.lit(100)).cast("long").alias("cx"),
        (((F.col("event_id") * 104729) % 36000) / F.lit(100)).cast("long").alias("cy"),
    )
    return spatialstats.gearys_c(spatialstats.cell_counts(pts))


def q_skyline(spark, sf):
    """2-D skyline (Pareto front, minimize both grid axes) of the
    event points: one corpus groupBy to per-column minima, then a
    running strict min over the distinct-x aggregate
    (operators/spatialstats.skyline_min)."""
    from skyway_spark.operators import spatialstats

    pts = _event_grid_ints(spark, sf).drop("event_id")
    return spatialstats.skyline_min(pts, x="x", y="y")


def q_polygon_centroid(spark, sf):
    """Shoelace ring centroid per fixture ring — three ordered
    left-folds (signed twice-area + both centroid numerators) so every
    float sum is bit-identical cross-engine; centroid = one double
    division per axis (operators/geometry.ring_centroid)."""
    from skyway_spark.operators.geometry import ring_centroid

    polys = _pip_polygons_df(spark)
    return ring_centroid(polys).select(
        "polygon_id", "ring_role", "area2", "centroid_lon", "centroid_lat"
    )


def q_classifier_auc(spark, sf):
    """Exact ROC AUC of the hashed-bigram quality scorer against the
    lang=='en' labels via the tie-corrected rank-sum identity — all
    integer until one final double division (operators/stats.auc_exact
    over textstats.hash_feature_score).  The eval harness a curation
    pipeline needs to trust its own filters."""
    from skyway_spark.operators.stats import auc_exact
    from skyway_spark.operators.textstats import hash_feature_score

    (docs,) = _tables(spark, sf, "documents")
    scored = hash_feature_score(docs).join(
        docs.select("doc_id", (F.col("lang") == "en").alias("label")), "doc_id"
    )
    return auc_exact(scored, score_col="score", label_col="label")


ROBOTS_RULES = [
    (f"h{hn}.example", pfx, allow)
    for hn in range(40)
    for pfx, allow, cond in (
        ("", True, True),
        ("/p/1", False, hn % 3 == 0),
        ("/p/12", True, hn % 4 == 0),
    )
    if cond
]


def q_robots_rules(spark, sf):
    """Robots-exclusion longest-match rule application (RFC 9309
    precedence: longest prefix wins, allow wins ties) over the linked-
    pages corpus against a deterministic per-host rule table —
    broadcast dimension join + per-URL max_by, corpus never shuffles
    (operators/urls.robots_apply)."""
    from skyway_spark.operators.urls import robots_apply

    pages = _linked_pages(spark)
    rules = spark.createDataFrame(
        ROBOTS_RULES, "host string, prefix string, allow boolean"
    )
    return robots_apply(pages, rules)


def q_readability(spark, sf):
    """Flesch-Kincaid-shaped readability grade per document as an
    exact integer rational (words/sentences/vowel-run counts; grade
    x100 over the common denominator w*s), readable flag via
    cross-multiplied inequality (operators/textstats.readability)."""
    from skyway_spark.operators.textstats import readability

    (docs,) = _tables(spark, sf, "documents")
    return readability(docs)


def q_session_paths(spark, sf):
    """Top clickstream paths: each user's first-4 event types under
    the (ts, event_id) total order joined into a path string, counted
    across users — per-user window with bounded state, then
    aggregate-sized path counts (operators/trajectory.event_paths)."""
    from skyway_spark.operators.trajectory import event_paths

    (ev,) = _tables(spark, sf, "events")
    return event_paths(ev, k=4)


def q_nn_graph(spark, sf):
    """All-points nearest-neighbor graph (bounded 3x3-cell search) over
    the integer event grid — exact int64 squared distances, ties to
    the lowest neighbor id; the probe side explodes to 9 neighbor
    cells and candidates arrive via ONE cell equi-join
    (operators/knn.nn_self_join)."""
    from skyway_spark.operators.knn import nn_self_join

    pts = _event_grid_ints(spark, sf)
    return nn_self_join(pts, cell_size=256, x_col="x", y_col="y", id_col="event_id")


def q_mention_city(spark, sf):
    """Voronoi assignment of every EXTRACTED geo-mention to its nearest
    hot city (planar squared-degree argmin over literal sites, ties to
    lowest city id), rolled up city x amenity — the geo-entity
    disambiguation step of a web-corpus pipeline, composed over the
    byte-exact extraction operator (operators/knn.voronoi_assign over
    extract_geo_entities)."""
    from skyway_spark.operators.knn import voronoi_assign
    from skyway_spark.sources.generate import HOT_CITIES

    ents = extract_geo_entities(_portable_pages(spark, sf))
    m = ents.select(
        F.col("tags")["name"].alias("name"),
        F.col("tags")["amenity"].alias("amenity"),
        "lat",
        "lon",
    )
    assigned = voronoi_assign(
        m, [(i, la, lo) for i, (la, lo) in enumerate(HOT_CITIES)]
    )
    return assigned.groupBy("site", "amenity").agg(
        F.count(F.lit(1)).alias("n_mentions")
    )


def q_host_components(spark, sf):
    """Site clusters: connected components of the host link graph
    restricted to strong edges (>= 5 links) — contraction +
    pointer-jumping CC over STRING node ids (7 components over 29
    hosts on the fixture; the mirror-network discovery pass of a
    crawl corpus).  Oracle: recursive-CTE reachability."""
    from skyway_spark.operators.graph import connected_components
    from skyway_spark.operators.weblinks import extract_links, host_graph

    links = extract_links(_linked_pages(spark))
    hg = host_graph(links).where(F.col("n_links") >= 5)
    return connected_components(hg, src="src_host", dst="dst_host")


def q_url_templates(spark, sf):
    """URL pattern mining: digit runs in the path collapse to '{d}',
    query/fragment stripped, counted per host — crawl-structure
    discovery (operators/urls.url_templates).  The oracle derives the
    expected templates CLOSED-FORM from the id arithmetic, fully
    independent of the operator's regexes."""
    from skyway_spark.operators.urls import url_templates

    (docs,) = _tables(spark, sf, "documents")
    did = F.col("doc_id")
    s = did.cast("string")
    url = F.concat(
        F.lit("https://site"), (did % 7).cast("string"), F.lit(".com/items/"), s,
        F.when(did % 3 == 0, F.concat(F.lit("/reviews/"), (did % 10).cast("string")))
        .otherwise(F.lit("")),
        F.when(did % 4 == 0, F.concat(F.lit("?page="), (did % 5).cast("string")))
        .otherwise(F.lit("")),
    )
    return url_templates(docs.select(url.alias("url")))


def q_simpson_cells(spark, sf):
    """Per-cell user diversity as the Gini-Simpson index kept as an
    exact integer rational (N^2 - sum n_u^2) / N^2 — the bot-vs-plaza
    venue signal over the event grid
    (operators/spatialstats.simpson_diversity)."""
    from skyway_spark.operators import spatialstats

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        "user_id",
        (((F.col("user_id") * 7919) % 17000) / F.lit(100)).cast("long").alias("cx"),
        (((F.col("event_id") * 104729) % 36000) / F.lit(100)).cast("long").alias("cy"),
    )
    return spatialstats.simpson_diversity(pts)


CLIP_BBOX = (0.0, 45.0, -30.0, 120.0)  # lat0, lat1, lon0, lon1


def q_clip_rings(spark, sf):
    """Sutherland-Hodgman clipping of every fixture ring (outer AND
    hole) against a bbox crossing all three polygons — the real
    vector-tile border cut (geometry is SLICED at the tile edge, not
    binned).  Every output vertex is an input vertex or a pinned-op-
    order half-plane intersection, so the 4-stage SQL mirror
    reproduces each coordinate bit-for-bit
    (operators/geometry.clip_rings_to_bbox).

    Rings that clip away entirely are KEPT with n_vertices=0 — both
    because callers want to know a geometry vanished at this tile, and
    because a `.where` on a column derived from the fold chain would be
    pushed through every staged projection by PushDownPredicate,
    re-inlining the whole 4-pass HOF tree into the filter (measured:
    >120 s vs 1 s on the 4-row fixture)."""
    from skyway_spark.operators.geometry import clip_rings_to_bbox, ring_fold_area2

    lat0, lat1, lon0, lon1 = CLIP_BBOX
    polys = _pip_polygons_df(spark)
    out = clip_rings_to_bbox(polys, lat0, lat1, lon0, lon1)
    return out.select(
        "polygon_id",
        "ring_role",
        F.size("clipped").alias("n_vertices"),
        ring_fold_area2(F.col("clipped")).alias("area2"),
    )


def _clip_rings_sql() -> str:
    """SQL mirror of q_clip_rings: the same four half-plane passes as
    chained CTEs — per input edge, emit (intersection, inside-endpoint)
    in pinned order via an unnested CASE list, re-assemble with
    list(... ORDER BY i, o)."""
    lat0, lat1, lon0, lon1 = CLIP_BBOX
    vals = ", ".join(
        f"({pid}, '{role}', {i}, {a!r}, {b!r})"
        for pid, rings in PIP_POLYGONS.items()
        for role, ring in rings
        for i, (a, b) in enumerate(ring)
    )
    stages = []
    prev = "s0"
    for k, (f, c, keep_min) in enumerate(
        (("lon", lon0, True), ("lon", lon1, False),
         ("lat", lat0, True), ("lat", lat1, False)),
        start=1,
    ):
        op = ">=" if keep_min else "<="
        cl = f"({c!r})::DOUBLE"
        g = "lat" if f == "lon" else "lon"  # the interpolated field
        inter = (
            f"struct_pack({g} := ed.v1.{g} + (ed.v2.{g} - ed.v1.{g})"
            f" * (({cl} - ed.v1.{f}) / (ed.v2.{f} - ed.v1.{f})),"
            f" {f} := {cl})"
        )
        if f == "lat":  # struct field order must stay (lat, lon)
            inter = (
                f"struct_pack({f} := {cl},"
                f" {g} := ed.v1.{g} + (ed.v2.{g} - ed.v1.{g})"
                f" * (({cl} - ed.v1.{f}) / (ed.v2.{f} - ed.v1.{f})))"
            )
        stages.append(f"""
            s{k} AS (
                SELECT pid, role, list(e.p ORDER BY ed.i, e.o) AS r
                FROM (
                    SELECT pid, role, i, r[i] AS v1, r[(i % len(r)) + 1] AS v2
                    FROM {prev}, unnest(range(1, len(r) + 1)) t(i)
                    WHERE len(r) >= 2
                ) ed,
                unnest(CASE
                    WHEN (ed.v2.{f} {op} {cl}) AND NOT (ed.v1.{f} {op} {cl})
                        THEN [struct_pack(o := 0, p := {inter}),
                              struct_pack(o := 1, p := ed.v2)]
                    WHEN (ed.v2.{f} {op} {cl})
                        THEN [struct_pack(o := 1, p := ed.v2)]
                    WHEN (ed.v1.{f} {op} {cl})
                        THEN [struct_pack(o := 0, p := {inter})]
                    ELSE []
                END) AS uu(e)
                GROUP BY 1, 2
            )""")
        prev = f"s{k}"
    chain = ",".join(stages)
    return f"""
            WITH v(pid, role, i, lat, lon) AS (VALUES {vals}),
            c0 AS (
                SELECT pid, role,
                       list(struct_pack(lat := lat::DOUBLE, lon := lon::DOUBLE)
                            ORDER BY i) AS r
                FROM v GROUP BY 1, 2),
            s0 AS (SELECT pid, role, r[1:len(r) - 1] AS r FROM c0),
            {chain}
            SELECT c0.pid::BIGINT AS polygon_id, c0.role AS ring_role,
                   COALESCE(len(s4.r), 0)::INT AS n_vertices,
                   CASE WHEN len(s4.r) >= 3 THEN
                       list_reduce(list_prepend(0.0::DOUBLE,
                           list_transform(range(1, len(s4.r) + 1),
                               j -> s4.r[j].lon * s4.r[(j % len(s4.r)) + 1].lat
                                    - s4.r[(j % len(s4.r)) + 1].lon * s4.r[j].lat)),
                           (a, b) -> a + b)
                   ELSE 0.0::DOUBLE END AS area2
            FROM c0 LEFT JOIN s4 USING (pid, role)
        """


GRID_CLIP_RES = 3  # 22.5-degree cells: every fixture ring spans 2-3


def q_tile_clip(spark, sf):
    """The FULL vector-tile cut: every fixture ring fans out to the
    grid cells its bbox covers (sequence+explode, no tile-table join)
    and is Sutherland-Hodgman-clipped against each cell's bbox with
    per-row bounds — one shared 4-pass HOF plan for all (ring, cell)
    pieces (operators/geometry.clip_rings_to_grid).  Cell bboxes are
    exact doubles (360/2^k), so the mirror is bit-exact.  Empty pieces
    are kept (n_vertices=0) per the q_clip_rings pushdown lesson."""
    from skyway_spark.operators.geometry import clip_rings_to_grid, ring_fold_area2

    polys = _pip_polygons_df(spark)
    out = clip_rings_to_grid(polys, GRID_CLIP_RES)
    return out.select(
        "polygon_id",
        "ring_role",
        "cx",
        "cy",
        F.size("clipped").alias("n_vertices"),
        ring_fold_area2(F.col("clipped")).alias("area2"),
    )


def _tile_clip_sql() -> str:
    """SQL mirror of q_tile_clip: covering cells from the ring bbox,
    then the same four half-plane passes with per-row cell bounds
    (cx/cy arithmetic re-derived in each stage — exact doubles)."""
    res = GRID_CLIP_RES
    nx, ny = 1 << (res + 1), 1 << res
    sx, sy = 360.0 / nx, 180.0 / ny
    vals = ", ".join(
        f"({pid}, '{role}', {i}, {a!r}, {b!r})"
        for pid, rings in PIP_POLYGONS.items()
        for role, ring in rings
        for i, (a, b) in enumerate(ring)
    )
    bounds = {
        ("lon", True): f"(ed.cx * {sx!r} - 180.0)",
        ("lon", False): f"((ed.cx + 1) * {sx!r} - 180.0)",
        ("lat", True): f"(90.0 - (ed.cy + 1) * {sy!r})",
        ("lat", False): f"(90.0 - ed.cy * {sy!r})",
    }
    stages = []
    prev = "s0"
    for k, (f, keep_min) in enumerate(
        (("lon", True), ("lon", False), ("lat", True), ("lat", False)), start=1
    ):
        op = ">=" if keep_min else "<="
        cl = bounds[(f, keep_min)]
        g = "lat" if f == "lon" else "lon"
        pack = (
            f"struct_pack({g} := ed.v1.{g} + (ed.v2.{g} - ed.v1.{g})"
            f" * (({cl} - ed.v1.{f}) / (ed.v2.{f} - ed.v1.{f})),"
            f" {f} := {cl})"
        )
        if f == "lat":  # struct field order must stay (lat, lon)
            pack = (
                f"struct_pack({f} := {cl},"
                f" {g} := ed.v1.{g} + (ed.v2.{g} - ed.v1.{g})"
                f" * (({cl} - ed.v1.{f}) / (ed.v2.{f} - ed.v1.{f})))"
            )
        stages.append(f"""
            s{k} AS (
                SELECT pid, role, cx, cy, list(e.p ORDER BY ed.i, e.o) AS r
                FROM (
                    SELECT pid, role, cx, cy, i,
                           r[i] AS v1, r[(i % len(r)) + 1] AS v2
                    FROM {prev}, unnest(range(1, len(r) + 1)) t(i)
                    WHERE len(r) >= 2
                ) ed,
                unnest(CASE
                    WHEN (ed.v2.{f} {op} {cl}) AND NOT (ed.v1.{f} {op} {cl})
                        THEN [struct_pack(o := 0, p := {pack}),
                              struct_pack(o := 1, p := ed.v2)]
                    WHEN (ed.v2.{f} {op} {cl})
                        THEN [struct_pack(o := 1, p := ed.v2)]
                    WHEN (ed.v1.{f} {op} {cl})
                        THEN [struct_pack(o := 0, p := {pack})]
                    ELSE []
                END) AS uu(e)
                GROUP BY 1, 2, 3, 4
            )""")
        prev = f"s{k}"
    chain = ",".join(stages)
    return f"""
            WITH v(pid, role, i, lat, lon) AS (VALUES {vals}),
            c0 AS (
                SELECT pid, role,
                       list(struct_pack(lat := lat::DOUBLE, lon := lon::DOUBLE)
                            ORDER BY i) AS r
                FROM v GROUP BY 1, 2),
            s0r AS (SELECT pid, role, r[1:len(r) - 1] AS r FROM c0),
            bb AS (
                SELECT pid, role, r,
                       GREATEST(0, LEAST({nx - 1}, floor(
                           (list_min(list_transform(r, w -> w.lon)) + 180.0) / {sx!r}
                       )::BIGINT)) AS x0,
                       GREATEST(0, LEAST({nx - 1}, floor(
                           (list_max(list_transform(r, w -> w.lon)) + 180.0) / {sx!r}
                       )::BIGINT)) AS x1,
                       GREATEST(0, LEAST({ny - 1}, floor(
                           (90.0 - list_max(list_transform(r, w -> w.lat))) / {sy!r}
                       )::BIGINT)) AS y0,
                       GREATEST(0, LEAST({ny - 1}, floor(
                           (90.0 - list_min(list_transform(r, w -> w.lat))) / {sy!r}
                       )::BIGINT)) AS y1
                FROM s0r),
            s0 AS (
                SELECT pid, role, tx.cx, ty.cy, r
                FROM bb, unnest(range(x0, x1 + 1)) tx(cx),
                     unnest(range(y0, y1 + 1)) ty(cy)),
            {chain}
            SELECT s0.pid::BIGINT AS polygon_id, s0.role AS ring_role,
                   s0.cx::BIGINT AS cx, s0.cy::BIGINT AS cy,
                   COALESCE(len(s4.r), 0)::INT AS n_vertices,
                   CASE WHEN len(s4.r) >= 3 THEN
                       list_reduce(list_prepend(0.0::DOUBLE,
                           list_transform(range(1, len(s4.r) + 1),
                               j -> s4.r[j].lon * s4.r[(j % len(s4.r)) + 1].lat
                                    - s4.r[(j % len(s4.r)) + 1].lon * s4.r[j].lat)),
                           (a, b) -> a + b)
                   ELSE 0.0::DOUBLE END AS area2
            FROM s0 LEFT JOIN s4 USING (pid, role, cx, cy)
        """


REDIRECT_N = 64
REDIRECT_OVERRIDES = {41: 42, 42: 43, 43: 41, 50: 41}  # 3-cycle + a feeder
REDIRECT_URL = "https://s.example/r/"


def _redirect_edges_df(spark: SparkSession) -> DataFrame:
    """Deterministic functional redirect graph: page i (i%4 != 0)
    redirects to i-1 (chains of length <= 3 into the multiple-of-4
    terminals), except the overrides forming the cycle 41->42->43->41
    and its feeder 50->41."""
    i = F.col("id")
    dst = i - 1
    for s, d in sorted(REDIRECT_OVERRIDES.items()):
        dst = F.when(i == s, F.lit(d)).otherwise(dst)
    url = lambda c: F.concat(F.lit(REDIRECT_URL), c.cast("string"))  # noqa: E731
    return (
        spark.range(1, REDIRECT_N)
        .where(i % 4 != 0)
        .select(url(i).alias("src"), url(dst).alias("dst"))
    )


def q_redirects(spark, sf):
    """Redirect-chain resolution over a deterministic functional URL
    graph: final target + hop count per URL, cycle members (and URLs
    leading into cycles) flagged dead — pointer DOUBLING, O(log hops)
    small self-joins (operators/graph.resolve_redirects)."""
    from skyway_spark.operators.graph import resolve_redirects

    return resolve_redirects(_redirect_edges_df(spark), max_hops=REDIRECT_N)


def _redirects_sql() -> str:
    over = " ".join(
        f"WHEN i = {s} THEN {d}" for s, d in sorted(REDIRECT_OVERRIDES.items())
    )
    return f"""
        WITH RECURSIVE e AS (
            SELECT '{REDIRECT_URL}' || i::VARCHAR AS src,
                   '{REDIRECT_URL}' ||
                   (CASE {over} ELSE i - 1 END)::VARCHAR AS dst
            FROM range(1, {REDIRECT_N}) t(i) WHERE i % 4 <> 0),
        nodes AS (
            -- DISTINCT, not UNION-dedup: under WITH RECURSIVE DuckDB
            -- parses a CTE-level UNION as the recursive-union operator
            -- and keeps both branches' duplicates
            SELECT DISTINCT url FROM (
                SELECT src AS url FROM e UNION ALL SELECT dst FROM e)),
        walk AS (
            SELECT url, url AS cur, 0::BIGINT AS hops FROM nodes
            UNION ALL
            SELECT w.url, e.dst, w.hops + 1
            FROM walk w JOIN e ON w.cur = e.src WHERE w.hops < 70),
        term AS (
            SELECT url, cur, hops FROM walk
            WHERE cur NOT IN (SELECT src FROM e))
        SELECT n.url, t.cur AS final_url, t.hops AS hops,
               (t.url IS NULL) AS in_cycle
        FROM nodes n LEFT JOIN term t USING (url)
    """


RIPLEY_RADII = (0.5, 1.0, 2.0)
RIPLEY_RES = 6  # 2.8125-degree cells >= max radius


def q_ripley_k(spark, sf):
    """Ripley's K point-pattern statistic at three radii over the
    even-id event points — exact int64 pair counts from ONE
    cell-bucketed self-join pass (operators/spatialstats.ripley_k);
    the n^2 cross join exists only in the oracle."""
    from skyway_spark.operators import spatialstats

    pts = _event_points(spark, sf).where(F.col("event_id") % 2 == 0)
    return spatialstats.ripley_k(
        pts, list(RIPLEY_RADII), RIPLEY_RES, id_col="event_id"
    )


def _ripley_sql() -> str:
    cs = ", ".join(
        f"SUM(CASE WHEN d2 <= {r * r!r} THEN 1 ELSE 0 END)::BIGINT AS c{i}"
        for i, r in enumerate(RIPLEY_RADII)
    )
    unions = "\nUNION ALL\n".join(
        f"""SELECT {float(r)!r}::DOUBLE AS r, c{i} AS n_pairs,
                   (64800.0 * c{i}::DOUBLE) /
                   (n::DOUBLE * (n::DOUBLE - 1.0)) AS k_hat
            FROM c, nn"""
        for i, r in enumerate(RIPLEY_RADII)
    )
    return f"""
        WITH p AS (
            SELECT event_id AS id,
                   ((user_id * 7919) % 17000) / 100.0 - 85.0 AS lat,
                   ((event_id * 104729) % 36000) / 100.0 - 180.0 AS lon
            FROM events WHERE event_id % 2 = 0),
        nn AS (SELECT COUNT(*)::BIGINT AS n FROM p),
        d AS (
            SELECT (a.lat - b.lat) * (a.lat - b.lat)
                 + (a.lon - b.lon) * (a.lon - b.lon) AS d2
            FROM p a, p b WHERE a.id <> b.id),
        c AS (SELECT {cs} FROM d)
        {unions}
    """


def q_track_hausdorff(spark, sf):
    """Route regularity: squared discrete Hausdorff distance between
    each user's consecutive DAILY tracks — candidate pairs from the
    (user, day)=(user, day+1) equi-join, min/max selections only, so
    the result is bit-exact (operators/trajectory.track_hausdorff)."""
    from skyway_spark.operators.trajectory import track_hausdorff

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
        (((F.col("user_id") * 7919 + F.col("event_id") * 131) % 17000) / 100.0 - 85.0).alias("lat"),
        ((F.col("event_id") * 104729) % 36000 / 100.0 - 180.0).alias("lon"),
    )
    return track_hausdorff(pts, entity="user_id", track="day")


def _hausdorff_sql() -> str:
    return """
        WITH p AS (
            SELECT user_id,
                   epoch_us(ts) // 86400000000 AS day,
                   ((user_id * 7919 + event_id * 131) % 17000) / 100.0 - 85.0 AS lat,
                   ((event_id * 104729) % 36000) / 100.0 - 180.0 AS lon
            FROM events),
        pr AS (
            SELECT a.user_id, a.day,
                   a.lat AS alat, a.lon AS alon, b.lat AS blat, b.lon AS blon,
                   (a.lat - b.lat) * (a.lat - b.lat)
                 + (a.lon - b.lon) * (a.lon - b.lon) AS d2
            FROM p a JOIN p b
              ON a.user_id = b.user_id AND b.day = a.day + 1),
        hab AS (
            SELECT user_id, day, MAX(dmin) AS h FROM (
                SELECT user_id, day, alat, alon, MIN(d2) AS dmin
                FROM pr GROUP BY 1, 2, 3, 4) GROUP BY 1, 2),
        hba AS (
            SELECT user_id, day, MAX(dmin) AS h FROM (
                SELECT user_id, day, blat, blon, MIN(d2) AS dmin
                FROM pr GROUP BY 1, 2, 3, 4) GROUP BY 1, 2)
        SELECT user_id, day, MAX(h) AS h2
        FROM (SELECT * FROM hab UNION ALL SELECT * FROM hba)
        GROUP BY 1, 2
    """


IDW_RES = 4  # 11.25-degree cells: ~20 stations/cell at sf0.01


def q_idw(spark, sf):
    """IDW interpolation of the event value at every occupied cell
    center: weight/value totals are ORDERED left-folds over the
    (d2, station)-sorted neighbor list, so the float sums are
    bit-exact cross-engine (operators/spatialstats.idw_cells)."""
    from skyway_spark.operators import spatialstats

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        "event_id",
        ((F.col("user_id") * 7919) % 17000 / 100.0 - 85.0).alias("lat"),
        ((F.col("event_id") * 104729) % 36000 / 100.0 - 180.0).alias("lon"),
        "value",
    )
    out = spatialstats.idw_cells(pts, IDW_RES, value="value", id_col="event_id")
    return out.select(
        cells.cell_x(F.col("cell")).alias("cx"),
        cells.cell_y(F.col("cell")).alias("cy"),
        "n_stations",
        "idw",
    )


def _idw_sql() -> str:
    res = IDW_RES
    nx, ny = 1 << (res + 1), 1 << res
    sx, sy = 360.0 / nx, 180.0 / ny
    gx = f"greatest(0, least({nx - 1}, floor(((lon) + 180.0) / 360.0 * {float(nx)!r})::BIGINT))"
    gy = f"greatest(0, least({ny - 1}, floor((90.0 - (lat)) / 180.0 * {float(ny)!r})::BIGINT))"
    return f"""
        WITH p AS (
            SELECT event_id AS sid, value AS v,
                   ((user_id * 7919) % 17000) / 100.0 - 85.0 AS lat,
                   ((event_id * 104729) % 36000) / 100.0 - 180.0 AS lon
            FROM events),
        st AS (SELECT sid, v, lat, lon, {gx} AS sx, {gy} AS sy FROM p),
        t AS (SELECT DISTINCT sx AS tx, sy AS ty FROM st),
        nb AS (
            SELECT t.tx, t.ty, st.sid, st.v,
                   ((90.0 - (t.ty + 0.5) * {sy!r}) - st.lat)
                 * ((90.0 - (t.ty + 0.5) * {sy!r}) - st.lat)
                 + (((t.tx + 0.5) * {sx!r} - 180.0) - st.lon)
                 * (((t.tx + 0.5) * {sx!r} - 180.0) - st.lon) AS d2
            FROM t JOIN st
              ON abs(st.sy - t.ty) <= 1
             AND (abs(st.sx - t.tx) <= 1 OR abs(st.sx - t.tx) = {nx - 1})),
        g AS (
            SELECT tx, ty,
                   list(struct_pack(d2 := d2, sid := sid, v := v)
                        ORDER BY d2, sid) AS ns
            FROM nb WHERE d2 > 0 GROUP BY 1, 2)
        SELECT tx::BIGINT AS cx, ty::BIGINT AS cy,
               len(ns)::INT AS n_stations,
               list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(ns, s -> (1.0 / s.d2) * s.v)), (a, b) -> a + b)
             / list_reduce(list_prepend(0.0::DOUBLE,
                   list_transform(ns, s -> 1.0 / s.d2)), (a, b) -> a + b) AS idw
        FROM g
    """


CRAWL_BUDGET = 1000


def q_crawl_budget(spark, sf):
    """Largest-remainder (Hamilton) apportionment of a 1000-fetch
    crawl budget across document sources — all-integer, allocates
    exactly the budget (operators/urls.crawl_budget)."""
    from skyway_spark.operators.urls import crawl_budget

    (docs,) = _tables(spark, sf, "documents")
    return crawl_budget(docs, CRAWL_BUDGET, host_col="source")


def _crawl_budget_sql() -> str:
    b = CRAWL_BUDGET
    return f"""
        WITH c AS (
            SELECT source AS host, COUNT(*)::BIGINT AS n_docs
            FROM documents GROUP BY 1),
        t AS (SELECT (SUM(n_docs))::BIGINT AS total FROM c),
        w AS (
            SELECT host, n_docs,
                   ({b} * n_docs) // total AS base,
                   ({b} * n_docs) % total AS rem
            FROM c, t),
        r AS (
            SELECT host, n_docs, base,
                   ROW_NUMBER() OVER (ORDER BY rem DESC, host ASC) AS rk,
                   (SUM(base) OVER ())::BIGINT AS sb
            FROM w)
        SELECT host, n_docs,
               (base + CASE WHEN rk <= {b} - sb THEN 1 ELSE 0 END)::BIGINT AS alloc
        FROM r
    """


HULL_RES = 4
HULL_USERS = 8


def q_user_hulls(spark, sf):
    """Strict convex hull of each user's visited grid cells (integer
    coordinates, bit-exact cross products) — monotone chain per entity
    via applyInPandas over the DISTINCT cell set; the oracle proves the
    same vertex set through the O(n^3) maximal-edge characterization
    (operators/geometry.convex_hulls)."""
    from skyway_spark.operators.geometry import convex_hulls

    (ev,) = _tables(spark, sf, "events")
    pts = ev.where(F.col("user_id") < HULL_USERS).select(
        "user_id",
        (((F.col("user_id") * 7919 + F.col("event_id") * 131) % 17000) / 100.0 - 85.0).alias("lat"),
        ((F.col("event_id") * 104729) % 36000 / 100.0 - 180.0).alias("lon"),
    )
    cx, cy = cells.cell_xy(F.col("lat"), F.col("lon"), HULL_RES)
    grid = pts.select("user_id", cx.alias("cx"), cy.alias("cy"))
    return convex_hulls(grid, entity="user_id", x="cx", y="cy")


def _user_hulls_sql() -> str:
    res = HULL_RES
    nx, ny = 1 << (res + 1), 1 << res
    gx = f"greatest(0, least({nx - 1}, floor(((lon) + 180.0) / 360.0 * {float(nx)!r})::BIGINT))"
    gy = f"greatest(0, least({ny - 1}, floor((90.0 - (lat)) / 180.0 * {float(ny)!r})::BIGINT))"
    cross = (
        "((pr.bx - pr.ax) * (q.cy - pr.ay) - (pr.by_ - pr.ay) * (q.cx - pr.ax))"
    )
    return f"""
        WITH raw AS (
            SELECT user_id,
                   ((user_id * 7919 + event_id * 131) % 17000) / 100.0 - 85.0 AS lat,
                   ((event_id * 104729) % 36000) / 100.0 - 180.0 AS lon
            FROM events WHERE user_id < {HULL_USERS}),
        p AS (SELECT DISTINCT user_id AS e, {gx} AS cx, {gy} AS cy FROM raw),
        pairs AS (
            SELECT a.e, a.cx AS ax, a.cy AS ay, b.cx AS bx, b.cy AS by_
            FROM p a JOIN p b ON a.e = b.e
            WHERE NOT (a.cx = b.cx AND a.cy = b.cy)),
        edges AS (
            SELECT * FROM pairs pr WHERE NOT EXISTS (
                SELECT 1 FROM p q
                WHERE q.e = pr.e
                  AND NOT (q.cx = pr.ax AND q.cy = pr.ay)
                  AND NOT (q.cx = pr.bx AND q.cy = pr.by_)
                  AND ({cross} < 0
                       OR ({cross} = 0
                           AND ((q.cx - pr.ax) * (pr.bx - pr.ax)
                              + (q.cy - pr.ay) * (pr.by_ - pr.ay) < 0
                            OR (q.cx - pr.bx) * (pr.ax - pr.bx)
                              + (q.cy - pr.by_) * (pr.ay - pr.by_) < 0))))),
        verts AS (
            SELECT DISTINCT e, hx, hy FROM (
                SELECT e, ax AS hx, ay AS hy FROM edges
                UNION ALL SELECT e, bx, by_ FROM edges)),
        singles AS (
            SELECT e, MIN(cx) AS hx, MIN(cy) AS hy
            FROM p GROUP BY e HAVING COUNT(*) = 1)
        SELECT e AS user_id, hx, hy FROM verts
        UNION ALL SELECT e, hx, hy FROM singles
    """


KCORE_K = 9  # 36/40 hosts survive after a 2-round cascade (k=10 empties)
KCORE_STRONG = 3  # host-graph edges with >= this many links


def q_kcore(spark, sf):
    """k-core of the strong host link graph (edges with >= 3 links,
    k=9): iterative peeling over the contracting edge list — the
    link-farm / dense-community extractor
    (operators/graph.k_core)."""
    from skyway_spark.operators.graph import k_core
    from skyway_spark.operators.weblinks import extract_links, host_graph

    links = extract_links(_linked_pages(spark))
    hg = host_graph(links).where(F.col("n_links") >= KCORE_STRONG)
    return k_core(hg, KCORE_K, src="src_host", dst="dst_host")


def _kcore_sql(stages: int = 8) -> str:
    """Unrolled peel: each stage drops nodes with degree < k and
    filters the edge list; the fixture converges in 2 rounds (verified
    offline), 8 stages is a 4x margin and every extra stage is
    idempotent. Stages are MATERIALIZED — each e{{i}} is referenced
    three times by stage i+1 and DuckDB would otherwise inline the
    chain (3^stages blowup, measured)."""
    chain = []
    prev = "e0"
    for i in range(1, stages + 1):
        chain.append(f"""
            n{i} AS MATERIALIZED (SELECT s FROM (
                SELECT s, COUNT(*) AS deg FROM {prev} GROUP BY 1)
                WHERE deg >= {KCORE_K}),
            e{i} AS MATERIALIZED (
                SELECT e.s, e.t FROM {prev} e
                JOIN n{i} a ON e.s = a.s JOIN n{i} b ON e.t = b.s)""")
        prev = f"e{i}"
    body = ",".join(chain)
    return f"""
        WITH l AS MATERIALIZED ({_linked_links_sql(LINKED_PAGES_N)}),
        hg AS (
            SELECT src_host, dst_host FROM (
                SELECT src_host, dst_host, COUNT(*) AS n FROM l GROUP BY 1, 2)
            WHERE n >= {KCORE_STRONG} AND src_host <> dst_host),
        e0 AS MATERIALIZED (
            SELECT DISTINCT s, t FROM (
                SELECT src_host AS s, dst_host AS t FROM hg
                UNION ALL SELECT dst_host, src_host FROM hg)),
        {body}
        SELECT s AS node, COUNT(*)::BIGINT AS degree FROM {prev} GROUP BY 1
    """


SEG_N = 3000
SEG_RES = 6


def _segments_df(spark: SparkSession, sf: str) -> DataFrame:
    """Short integer-coordinate segments derived from events: start at
    the centidegree event point, end at a deterministic offset < 1
    degree — all-integer, so orientation tests are exact."""
    (ev,) = _tables(spark, sf, "events")
    i, u = F.col("event_id"), F.col("user_id")
    y1 = (u * 7919 + i * 131) % 17000 - 8500
    x1 = (i * 104729) % 36000 - 18000
    return ev.where(i < SEG_N).select(
        i.alias("id"),
        (i % 2).alias("par"),
        x1.alias("x1"),
        y1.alias("y1"),
        (x1 + (i * 271) % 200 - 100).alias("x2"),
        (y1 + (i * 331) % 200 - 100).alias("y2"),
    )


def q_segment_crossings(spark, sf):
    """Road x rail proper-crossing pairs over integer segments: four
    exact integer orientation signs per candidate; candidates from
    ONE bbox-cover cell equi-join, never the |A|x|B| theta join
    (operators/geometry.segment_crossings — oracle is the brute
    cross join, which doubles as a candidate-completeness proof)."""
    from skyway_spark.operators.geometry import segment_crossings

    segs = _segments_df(spark, sf)
    return segment_crossings(
        segs.where(F.col("par") == 0).drop("par"),
        segs.where(F.col("par") == 1).drop("par"),
        SEG_RES,
    )


def _segment_crossings_sql() -> str:
    o = lambda px, py, qx, qy, rx, ry: (  # noqa: E731
        f"(({qx} - {px}) * ({ry} - {py}) - ({qy} - {py}) * ({rx} - {px}))"
    )
    o1 = o("a.x1", "a.y1", "a.x2", "a.y2", "b.x1", "b.y1")
    o2 = o("a.x1", "a.y1", "a.x2", "a.y2", "b.x2", "b.y2")
    o3 = o("b.x1", "b.y1", "b.x2", "b.y2", "a.x1", "a.y1")
    o4 = o("b.x1", "b.y1", "b.x2", "b.y2", "a.x2", "a.y2")
    return f"""
        WITH s AS (
            SELECT event_id AS id, event_id % 2 AS par,
                   (event_id * 104729) % 36000 - 18000 AS x1,
                   (user_id * 7919 + event_id * 131) % 17000 - 8500 AS y1,
                   ((event_id * 104729) % 36000 - 18000)
                     + (event_id * 271) % 200 - 100 AS x2,
                   ((user_id * 7919 + event_id * 131) % 17000 - 8500)
                     + (event_id * 331) % 200 - 100 AS y2
            FROM events WHERE event_id < {SEG_N})
        SELECT a.id AS a_id, b.id AS b_id
        FROM (SELECT * FROM s WHERE par = 0) a,
             (SELECT * FROM s WHERE par = 1) b
        WHERE ((({o1}) > 0 AND ({o2}) < 0) OR (({o1}) < 0 AND ({o2}) > 0))
          AND ((({o3}) > 0 AND ({o4}) < 0) OR (({o3}) < 0 AND ({o4}) > 0))
    """


def q_int8_quant(spark, sf):
    """Worst-case int8 scalar-quantization reconstruction error per
    embedding (per-dim affine codebook) — the ship/no-ship check for
    a 4x-smaller ANN index; MAX is a selection, so exact
    (operators/similarity.int8_quantize_error)."""
    from skyway_spark.operators.similarity import int8_quantize_error

    (emb,) = _tables(spark, sf, "embeddings")
    return int8_quantize_error(emb)


def _int8_quant_sql() -> str:
    return """
        WITH ex AS (
            SELECT vec_id, i AS dim, embedding[i]::DOUBLE AS v
            FROM embeddings, unnest(range(1, len(embedding) + 1)) t(i)),
        st AS (SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY 1),
        j AS (
            SELECT vec_id, v, mn, mx, (mx - mn) / 255.0 AS sc
            FROM ex JOIN st USING (dim)),
        e AS (
            SELECT vec_id,
                   CASE WHEN mx = mn THEN 0.0 ELSE
                       abs(v - (mn + LEAST(255.0, GREATEST(0.0,
                           round((v - mn) / sc))) * sc))
                   END AS err
            FROM j)
        SELECT vec_id, MAX(err) AS max_abs_err FROM e GROUP BY 1
    """


COCITE_MIN = 2


def q_cocitation(spark, sf):
    """Co-citation host similarity (hosts linked by the SAME pages):
    per-page distinct host sets, one src_url-keyed self-join, exact
    pair counts (operators/weblinks.cocitation)."""
    from skyway_spark.operators.weblinks import cocitation, extract_links

    links = extract_links(_linked_pages(spark))
    return cocitation(links, min_count=COCITE_MIN)


def _cocitation_sql() -> str:
    return f"""
        WITH l AS ({_linked_links_sql(LINKED_PAGES_N)}),
        pp AS (SELECT DISTINCT src_url, dst_host FROM l)
        SELECT a.dst_host AS host_a, b.dst_host AS host_b,
               COUNT(*)::BIGINT AS n_pages
        FROM pp a JOIN pp b
          ON a.src_url = b.src_url AND a.dst_host < b.dst_host
        GROUP BY 1, 2 HAVING COUNT(*) >= {COCITE_MIN}
    """


def q_rolling_wau(spark, sf):
    """Rolling 7-day distinct active users per observed day —
    scatter-to-window-end explode over the (user, day) DISTINCT
    activity table, never a DISTINCT-over-range window
    (operators/timeseries.rolling_distinct_active)."""
    from skyway_spark.operators.timeseries import rolling_distinct_active

    (ev,) = _tables(spark, sf, "events")
    act = ev.select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
    )
    return rolling_distinct_active(act, entity="user_id", day="day", window=7)


def _rolling_wau_sql() -> str:
    return """
        WITH act AS (
            SELECT DISTINCT user_id AS e,
                   epoch_us(ts) // 86400000000 AS d
            FROM events),
        days AS (SELECT DISTINCT d AS day FROM act),
        sc AS (SELECT e, d + i AS day FROM act, unnest(range(0, 7)) t(i))
        SELECT day, COUNT(DISTINCT e)::BIGINT AS n_active
        FROM sc JOIN days USING (day) GROUP BY 1
    """


def _fuzzy_sides(spark, sf):
    (docs,) = _tables(spark, sf, "documents")
    key = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ")
    base = docs.select(F.col("doc_id").alias("id"), key.alias("key"))
    # try_mod: an empty key gives a null position, as DuckDB's `% 0`
    # does, not a REMAINDER_BY_ZERO abort
    pos = F.try_mod(F.col("id"), F.length("key")) + 1
    mut = F.concat(
        F.substring(F.col("key"), F.lit(1), pos - 1),
        F.lit("#"),
        F.substring(F.col("key"), pos + 1, F.length("key")),
    )
    b = base.select(
        "id", F.when(F.col("id") % 3 == 0, mut).otherwise(F.col("key")).alias("key")
    )
    return base, b


def q_fuzzy_join(spark, sf):
    """Record linkage at edit distance <= 1 via deletion-neighborhood
    blocking: candidates from an exact equi-join on generated
    variants (never a theta join), verified with exact levenshtein
    (operators/dedup.fuzzy_join_lev1). Side B carries a deterministic
    single-char corruption on every third key."""
    from skyway_spark.operators.dedup import fuzzy_join_lev1

    a, b = _fuzzy_sides(spark, sf)
    return fuzzy_join_lev1(a, b)


def _fuzzy_join_sql() -> str:
    var = (
        "list_distinct([{k}] || list_transform(range(1, length({k}) + 1),"
        " i -> substr({k}, 1, (i - 1)::INT) || substr({k}, (i + 1)::INT)))"
    )
    return f"""
        WITH base AS (
            SELECT doc_id AS id,
                   array_to_string((string_split(text, ' '))[1:3], ' ') AS key
            FROM documents),
        bmut AS (
            SELECT id,
                   CASE WHEN id % 3 = 0 THEN
                       substr(key, 1, ((id % length(key)) + 1 - 1)::INT)
                       || '#'
                       || substr(key, ((id % length(key)) + 1 + 1)::INT)
                   ELSE key END AS key
            FROM base),
        av AS (SELECT id AS a_id, key AS a_key,
                      unnest({var.format(k="key")}) AS v FROM base),
        bv AS (SELECT id AS b_id, key AS b_key,
                      unnest({var.format(k="key")}) AS v FROM bmut),
        cand AS (
            SELECT DISTINCT a_id, a_key, b_id, b_key
            FROM av JOIN bv USING (v))
        SELECT a_id, b_id, levenshtein(a_key, b_key)::INT AS dist
        FROM cand WHERE levenshtein(a_key, b_key) <= 1
    """


BIB_MIN = 3


def q_bib_coupling(spark, sf):
    """Bibliographic-coupling host pairs — hosts linking to the same
    targets (operators/weblinks.bibliographic_coupling), the out-link
    dual of q_cocitation."""
    from skyway_spark.operators.weblinks import bibliographic_coupling, extract_links

    links = extract_links(_linked_pages(spark))
    return bibliographic_coupling(links, min_count=BIB_MIN)


def _bib_coupling_sql() -> str:
    return f"""
        WITH l AS ({_linked_links_sql(LINKED_PAGES_N)}),
        e AS (SELECT DISTINCT src_host, dst_host FROM l)
        SELECT a.src_host AS host_a, b.src_host AS host_b,
               COUNT(*)::BIGINT AS n_shared
        FROM e a JOIN e b
          ON a.dst_host = b.dst_host AND a.src_host < b.src_host
        GROUP BY 1, 2 HAVING COUNT(*) >= {BIB_MIN}
    """


def q_reciprocity(spark, sf):
    """Per-host link reciprocity (share of out-neighbors that link
    back — the link-farm signal; operators/weblinks.link_reciprocity)."""
    from skyway_spark.operators.weblinks import extract_links, link_reciprocity

    return link_reciprocity(extract_links(_linked_pages(spark)))


def _reciprocity_sql() -> str:
    return f"""
        WITH l AS ({_linked_links_sql(LINKED_PAGES_N)}),
        e AS (SELECT DISTINCT src_host, dst_host FROM l
              WHERE src_host <> dst_host),
        m AS (SELECT a.src_host, a.dst_host FROM e a
              WHERE EXISTS (SELECT 1 FROM e b
                            WHERE b.src_host = a.dst_host
                              AND b.dst_host = a.src_host)),
        od AS (SELECT src_host AS host, COUNT(*)::BIGINT AS n_out
               FROM e GROUP BY 1),
        md AS (SELECT src_host AS host, COUNT(*)::BIGINT AS n_mutual
               FROM m GROUP BY 1)
        SELECT od.host, od.n_out,
               COALESCE(md.n_mutual, 0)::BIGINT AS n_mutual,
               COALESCE(md.n_mutual, 0)::DOUBLE / od.n_out::DOUBLE
                   AS reciprocity
        FROM od LEFT JOIN md ON od.host = md.host
    """


def q_heading_octants(spark, sf):
    """Integer compass-octant heading histogram per user track
    (operators/trajectory.heading_octants) — Bresenham-style octant
    reduction on integer deltas, no atan2, engine-exact."""
    from skyway_spark.operators.trajectory import heading_octants

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        "user_id",
        "ts",
        "event_id",
        ((F.col("event_id") * 104729) % 36000).alias("x"),
        ((F.col("event_id") * 7919) % 17000).alias("y"),
    )
    return heading_octants(pts, order_cols=("ts", "event_id"))


def _heading_octants_sql() -> str:
    return """
        WITH pts AS (
            SELECT user_id AS entity, ts, event_id,
                   (event_id * 104729) % 36000 AS x,
                   (event_id * 7919) % 17000 AS y
            FROM events),
        mv AS (
            SELECT entity,
                   x - lag(x) OVER w AS dx, y - lag(y) OVER w AS dy
            FROM pts WINDOW w AS (PARTITION BY entity ORDER BY ts, event_id)),
        nz AS (SELECT * FROM mv
               WHERE dx IS NOT NULL AND (dx <> 0 OR dy <> 0)),
        f1 AS (SELECT entity,
                      CASE WHEN dy < 0 THEN -dx ELSE dx END AS x1,
                      CASE WHEN dy < 0 THEN -dy ELSE dy END AS y1,
                      CASE WHEN dy < 0 THEN 4 ELSE 0 END AS o1
               FROM nz),
        f2 AS (SELECT entity,
                      CASE WHEN x1 < 0 THEN y1 ELSE x1 END AS x2,
                      CASE WHEN x1 < 0 THEN -x1 ELSE y1 END AS y2,
                      o1 + CASE WHEN x1 < 0 THEN 2 ELSE 0 END AS o2
               FROM f1),
        oc AS (SELECT entity,
                      (o2 + CASE WHEN x2 < y2 THEN 1 ELSE 0 END)::INT AS octant
               FROM f2)
        SELECT entity, octant,
               (['E','NE','N','NW','W','SW','S','SE'])[octant + 1] AS heading,
               COUNT(*)::BIGINT AS n_moves
        FROM oc GROUP BY 1, 2
    """


IV_UNIT_US = 300_000_000  # 5-minute interval length quantum


def q_interval_union(spark, sf):
    """Per-user union length of overlapping activity intervals
    (operators/timeseries.interval_union): each event opens an
    interval of 1-7 five-minute units; covered time merges overlaps
    exactly (integer sweep via running-max window)."""
    from skyway_spark.operators.timeseries import interval_union

    (ev,) = _tables(spark, sf, "events")
    s = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = ev.select(
        "user_id",
        "event_id",
        s.alias("s"),
        (s + ((F.col("event_id") % 7) + 1) * IV_UNIT_US).alias("e"),
    )
    return interval_union(iv, key="user_id", id_col="event_id")


def _interval_union_sql() -> str:
    return f"""
        WITH iv AS (
            SELECT user_id, event_id, epoch_us(ts) AS s,
                   epoch_us(ts) + ((event_id % 7) + 1) * {IV_UNIT_US} AS e
            FROM events),
        fl AS (
            SELECT user_id, s, e,
                   CASE WHEN s > max(e) OVER (PARTITION BY user_id
                            ORDER BY s, e, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
                        THEN 1 ELSE 0 END AS new_island,
                   event_id
            FROM iv),
        isl AS (
            SELECT user_id, s, e,
                   SUM(new_island) OVER (PARTITION BY user_id
                       ORDER BY s, e, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS island
            FROM fl),
        g AS (
            SELECT user_id, island, COUNT(*) AS n_iv,
                   MIN(s) AS is_, MAX(e) AS ie
            FROM isl GROUP BY 1, 2)
        SELECT user_id,
               (SUM(n_iv))::BIGINT AS n_intervals,
               COUNT(*)::BIGINT AS n_islands,
               (SUM(ie - is_))::BIGINT AS covered
        FROM g GROUP BY 1
    """


AHASH_N = 500
AHASH_BASE = 350
AHASH_R = 3


def _ahash_media(spark):
    """Media fixture with planted visual near-dups: payload is the html
    of page (i % AHASH_BASE); rows i >= AHASH_BASE append one '!' byte,
    so each (i, i-AHASH_BASE) pair is a 1-byte mutation — the aHash
    near-dup target — while unrelated pages stay far in Hamming space."""
    pages = generate_pages(spark, AHASH_N, partitions=8)
    idx = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    base = pages.select((idx % AHASH_BASE).alias("bk"), F.col("html").alias("bh")).where(
        idx < AHASH_BASE
    )
    ids = pages.select(idx.alias("media_id"), (idx % AHASH_BASE).alias("bk"))
    return ids.join(base, "bk").select(
        "media_id",
        F.when(
            F.col("media_id") >= AHASH_BASE,
            F.concat(F.col("bh").cast("string"), F.lit("!")).cast("binary"),
        )
        .otherwise(F.col("bh"))
        .alias("payload"),
    )


def q_ahash(spark, sf):
    """64-bit integer average-hash per media payload through the real
    mapInPandas plumbing (operators/multimodal.ahash64) — bucket-fold
    decode, strict integer mean threshold, engine-exact."""
    from skyway_spark.operators.multimodal import ahash64

    return ahash64(_ahash_media(spark))


def _ahash_hash_sql() -> str:
    """Hash derivation shared by the ahash oracles: page prose rebuilt
    from the mention arithmetic, mutated payloads for i >= AHASH_BASE,
    64 bucket sums, strict integer mean threshold, HUGEINT bit pack
    wrapped to signed int64."""
    return f"""
        m AS ({_page_mentions_sql(AHASH_BASE)}),
        prose AS (
            SELECT t.i,
                   'Page ' || t.i || ' tells a story about travel and places.' ||
                   COALESCE(string_agg(m.mention, '' ORDER BY m.j), '') ||
                   ' The end.' AS p
            FROM range(0, {AHASH_BASE}) t(i) LEFT JOIN m ON m.i = t.i
            GROUP BY t.i),
        payload AS (
            SELECT t.i AS media_id,
                   '<html><body>' || b.p || '</body></html>' ||
                   CASE WHEN t.i >= {AHASH_BASE} THEN '!' ELSE '' END AS h
            FROM range(0, {AHASH_N}) t(i)
            JOIN prose b ON b.i = t.i % {AHASH_BASE}),
        sums AS (
            SELECT media_id, (pp - 1) % 64 AS k,
                   (SUM(ascii(substr(h, pp::INT, 1))) % 256)::BIGINT AS px
            FROM payload, unnest(range(1, strlen(h) + 1)) AS u(pp)
            GROUP BY 1, 2),
        tot AS (SELECT media_id, (SUM(px))::BIGINT AS total FROM sums GROUP BY 1),
        packed AS (
            SELECT s.media_id,
                   SUM(CASE WHEN 64 * s.px > t.total
                            THEN (1::HUGEINT << s.k::INT) ELSE 0::HUGEINT END)
                       AS hu
            FROM sums s JOIN tot t USING (media_id) GROUP BY 1),
        hashes AS (
            SELECT media_id,
                   (hu - CASE WHEN hu >= (1::HUGEINT << 63)
                              THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END)::BIGINT
                       AS ahash
            FROM packed)
    """


def _ahash_sql() -> str:
    return f"WITH {_ahash_hash_sql()} SELECT media_id, ahash FROM hashes"


def q_ahash_pairs(spark, sf):
    """Visual near-duplicate pairs at Hamming <= AHASH_R over aHash via
    the pigeonhole band join (operators/multimodal.hamming_near_dup_pairs)
    — never all-pairs; the oracle brute-forces the same contract."""
    from skyway_spark.operators.multimodal import ahash64, hamming_near_dup_pairs

    return hamming_near_dup_pairs(ahash64(_ahash_media(spark)), max_hamming=AHASH_R)


def _ahash_pairs_sql() -> str:
    return f"""
        WITH {_ahash_hash_sql()}
        SELECT a.media_id AS id_a, b.media_id AS id_b,
               bit_count(xor(a.ahash, b.ahash))::INT AS hamming
        FROM hashes a JOIN hashes b ON a.media_id < b.media_id
        WHERE bit_count(xor(a.ahash, b.ahash)) <= {AHASH_R}
    """


WARC_N = 300
WARC_PER_FILE = 25
WARC_REQ_EVERY = 3


def q_warc_parse(spark, sf):
    """WARC container round-trip through the real parser: pages are
    serialized into WARC/1.0 file blobs by the Column-expression writer
    (sources/warc.pages_to_warc — request+response records, spec header
    block, Content-Length delimiting) and re-parsed by the byte-level
    mapInPandas reader. The oracle rebuilds every header field AND the
    html body from the page arithmetic, so a single off-by-one in
    Content-Length accounting or header serialization fails the gate;
    html equality per url is the input_hint's byte-identity invariant."""
    from skyway_spark.sources.warc import pages_to_warc, read_warc

    pages = generate_pages(spark, WARC_N, partitions=8)
    return read_warc(pages_to_warc(pages, WARC_PER_FILE, WARC_REQ_EVERY))


def q_warc_stats(spark, sf):
    """Per-WARC-file record census over the parsed stream: counts by
    record type plus payload byte totals — the shape of a crawl-archive
    inventory job (one agg shuffle over header-only columns; html bytes
    never shuffle)."""
    from skyway_spark.sources.warc import pages_to_warc, read_warc

    pages = generate_pages(spark, WARC_N, partitions=8)
    recs = read_warc(pages_to_warc(pages, WARC_PER_FILE, WARC_REQ_EVERY))
    return recs.groupBy("file_id").agg(
        F.count("*").cast("long").alias("n_records"),
        F.sum(F.when(F.col("warc_type") == "response", 1).otherwise(0))
        .cast("long")
        .alias("n_responses"),
        F.sum("content_length").alias("payload_bytes"),
        F.min("warc_date").alias("first_date"),
        F.max("warc_date").alias("last_date"),
    )


def _warc_parsed_sql() -> str:
    """CTE `warc` mirroring q_warc_parse's output: rebuilds the exact
    record stream (request rows for ids divisible by WARC_REQ_EVERY,
    then the response) with header fields and HTTP payload lengths
    computed from the same page arithmetic the writer serialized."""
    crlf = "chr(13) || chr(10)"
    return f"""
        m AS ({_page_mentions_sql(WARC_N)}),
        prose AS (
            SELECT t.i,
                   'Page ' || t.i || ' tells a story about travel and places.' ||
                   COALESCE(string_agg(m.mention, '' ORDER BY m.j), '') ||
                   ' The end.' AS p
            FROM range(0, {WARC_N}) t(i) LEFT JOIN m ON m.i = t.i
            GROUP BY t.i),
        page AS (
            SELECT i,
                   'https://example.org/p/' || i AS url,
                   TIMESTAMP '2024-01-01' + to_seconds(i) AS ts,
                   '<html><body>' || p || '</body></html>' AS html
            FROM prose),
        recs AS (
            SELECT i, (i // {WARC_PER_FILE})::BIGINT AS file_id, 1 AS ord,
                   'response' AS warc_type,
                   'urn:skyway:response:' || url AS record_id,
                   url, ts AS warc_date,
                   strlen('HTTP/1.1 200 OK' || {crlf} ||
                          'Content-Type: text/html' || {crlf} || {crlf} || html)
                       AS content_length,
                   200::INT AS http_status, html
            FROM page
            UNION ALL
            SELECT i, (i // {WARC_PER_FILE})::BIGINT, 0, 'request',
                   'urn:skyway:request:' || url, url, ts,
                   strlen('GET /p/' || i || ' HTTP/1.1' || {crlf} ||
                          'Host: example.org' || {crlf} || {crlf}),
                   NULL::INT, NULL::VARCHAR
            FROM page WHERE i % {WARC_REQ_EVERY} = 0),
        warc AS (
            SELECT file_id,
                   (ROW_NUMBER() OVER (PARTITION BY file_id ORDER BY i, ord)
                       - 1)::INT AS rec_no,
                   warc_type, record_id, url, warc_date, content_length,
                   http_status, html
            FROM recs)
    """


def _warc_parse_sql() -> str:
    return f"WITH {_warc_parsed_sql()} SELECT * FROM warc"


def _warc_stats_sql() -> str:
    return f"""
        WITH {_warc_parsed_sql()}
        SELECT file_id, COUNT(*)::BIGINT AS n_records,
               (SUM(CASE WHEN warc_type = 'response' THEN 1 ELSE 0 END))::BIGINT
                   AS n_responses,
               (SUM(content_length))::BIGINT AS payload_bytes,
               MIN(warc_date) AS first_date, MAX(warc_date) AS last_date
        FROM warc GROUP BY file_id
    """


LCSS_EPS_X, LCSS_EPS_Y, LCSS_MAX_PTS = 3000, 6000, 8


def q_lcss_tracks(spark, sf):
    """Noise-robust trajectory similarity: LCSS between each user's
    consecutive daily tracks (first 8 points, integer grid coords,
    eps-box match) — Vlachos et al. DP inside one applyInPandas over
    equi-joined track pairs (operators/trajectory.lcss_tracks); the
    oracle unrolls the same DP diagonal-by-diagonal in SQL."""
    from skyway_spark.operators.trajectory import lcss_tracks

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
        ((F.col("user_id") * 7919 + F.col("event_id") * 131) % 17000).alias("x"),
        ((F.col("event_id") * 104729) % 36000).alias("y"),
        "ts",
        "event_id",
    )
    return lcss_tracks(
        pts,
        eps_x=LCSS_EPS_X,
        eps_y=LCSS_EPS_Y,
        entity="user_id",
        track="day",
        order_cols=("ts", "event_id"),
        max_pts=LCSS_MAX_PTS,
    )


def _lcss_sql() -> str:
    """Diagonal-unrolled LCSS DP (house pattern: Python-generated CTE
    chain, like _bellman_sql): cells on anti-diagonal d = i + j depend
    only on diagonals d-1 (up, left) and d-2 (diag), so 2*max_pts - 1
    CTEs cover every track pair; empty d0/d1 seed the boundary."""
    K = LCSS_MAX_PTS
    sql = f"""
        WITH p AS (
            SELECT user_id AS e,
                   epoch_us(ts) // 86400000000 AS k,
                   (user_id * 7919 + event_id * 131) % 17000 AS x,
                   (event_id * 104729) % 36000 AS y,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, epoch_us(ts) // 86400000000
                       ORDER BY ts, event_id) AS rn
            FROM events),
        q AS (SELECT * FROM p WHERE rn <= {K}),
        b AS (SELECT e, k - 1 AS k, rn AS j, x AS bx, y AS by FROM q),
        mt AS MATERIALIZED (
            -- materialized: every diagonal CTE references mt; inlining
            -- would re-scan the events parquet 2*K-1 times (file-handle
            -- exhaustion, and a 15x scan blowup)
            SELECT a.e, a.k, a.rn AS i, b.j,
                   (abs(a.x - b.bx) <= {LCSS_EPS_X}
                    AND abs(a.y - b.by) <= {LCSS_EPS_Y}) AS mm
            FROM q a JOIN b ON a.e = b.e AND a.k = b.k),
        na AS (SELECT e, k, MAX(i) AS n FROM mt GROUP BY 1, 2),
        nb AS (SELECT e, k, MAX(j) AS m FROM mt GROUP BY 1, 2),
        d0 AS (SELECT NULL::BIGINT AS e, NULL::BIGINT AS k,
                      NULL::BIGINT AS i, NULL::BIGINT AS j, NULL::BIGINT AS v
               WHERE false),
        d1 AS (SELECT * FROM d0)"""
    for d in range(2, 2 * K + 1):
        sql += f""",
        d{d} AS MATERIALIZED (
            -- materialized like mt: each diagonal is referenced twice by
            -- d+1 and once by d+2; inlining would expand ~2^d subtrees
            SELECT m.e, m.k, m.i, m.j,
                   GREATEST(COALESCE(u.v, 0), COALESCE(l.v, 0),
                            CASE WHEN m.mm THEN COALESCE(g.v, 0) + 1
                                 ELSE 0 END)::BIGINT AS v
            FROM mt m
            LEFT JOIN d{d - 1} u
              ON u.e = m.e AND u.k = m.k AND u.i = m.i - 1 AND u.j = m.j
            LEFT JOIN d{d - 1} l
              ON l.e = m.e AND l.k = m.k AND l.i = m.i AND l.j = m.j - 1
            LEFT JOIN d{d - 2} g
              ON g.e = m.e AND g.k = m.k AND g.i = m.i - 1 AND g.j = m.j - 1
            WHERE m.i + m.j = {d})"""
    allc = " UNION ALL ".join(f"SELECT * FROM d{d}" for d in range(2, 2 * K + 1))
    return sql + f""",
        allc AS ({allc})
        SELECT na.e AS user_id, na.k AS day, na.n::INT AS n_a, nb.m::INT AS n_b,
               c.v AS lcss
        FROM na JOIN nb ON na.e = nb.e AND na.k = nb.k
        JOIN allc c ON c.e = na.e AND c.k = na.k AND c.i = na.n AND c.j = nb.m
    """


def q_frechet(spark, sf):
    """Discrete Fréchet distance (Eiter-Mannila max-min DP, integer
    Chebyshev pointwise metric) between each user's consecutive daily
    tracks — the orderED-extreme companion to q_lcss_tracks (count)
    and q_track_hausdorff (orderless extreme); batch-vectorized
    mapInPandas DP over equi-joined track pairs
    (operators/trajectory.frechet_tracks); the oracle unrolls the same
    DP diagonal-by-diagonal in SQL."""
    from skyway_spark.operators.trajectory import frechet_tracks

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias("day"),
        ((F.col("user_id") * 7919 + F.col("event_id") * 131) % 17000).alias("x"),
        ((F.col("event_id") * 104729) % 36000).alias("y"),
        "ts",
        "event_id",
    )
    return frechet_tracks(
        pts,
        entity="user_id",
        track="day",
        order_cols=("ts", "event_id"),
        max_pts=LCSS_MAX_PTS,
    )


def _frechet_sql() -> str:
    """Diagonal-unrolled Fréchet DP (same CTE-chain shape as
    _lcss_sql): F[i][j] = max(d_ij, min(up, left, diag)) with BIG as
    the +inf border and F[0][0] = 0 reached only from cell (1,1)."""
    K = LCSS_MAX_PTS
    BIG = 1 << 60
    sql = f"""
        WITH p AS (
            SELECT user_id AS e,
                   epoch_us(ts) // 86400000000 AS k,
                   (user_id * 7919 + event_id * 131) % 17000 AS x,
                   (event_id * 104729) % 36000 AS y,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, epoch_us(ts) // 86400000000
                       ORDER BY ts, event_id) AS rn
            FROM events),
        q AS (SELECT * FROM p WHERE rn <= {K}),
        b AS (SELECT e, k - 1 AS k, rn AS j, x AS bx, y AS by FROM q),
        mt AS MATERIALIZED (
            -- materialized for the same reason as _lcss_sql's mt: every
            -- diagonal CTE references it
            SELECT a.e, a.k, a.rn AS i, b.j,
                   GREATEST(abs(a.x - b.bx), abs(a.y - b.by))::BIGINT AS d
            FROM q a JOIN b ON a.e = b.e AND a.k = b.k),
        na AS (SELECT e, k, MAX(i) AS n FROM mt GROUP BY 1, 2),
        nb AS (SELECT e, k, MAX(j) AS m FROM mt GROUP BY 1, 2),
        d0 AS (SELECT NULL::BIGINT AS e, NULL::BIGINT AS k,
                      NULL::BIGINT AS i, NULL::BIGINT AS j, NULL::BIGINT AS v
               WHERE false),
        d1 AS (SELECT * FROM d0)"""
    for d in range(2, 2 * K + 1):
        sql += f""",
        d{d} AS MATERIALIZED (
            SELECT m.e, m.k, m.i, m.j,
                   GREATEST(m.d, LEAST(
                       COALESCE(u.v, {BIG}),
                       COALESCE(l.v, {BIG}),
                       CASE WHEN m.i = 1 AND m.j = 1 THEN 0
                            ELSE COALESCE(g.v, {BIG}) END))::BIGINT AS v
            FROM mt m
            LEFT JOIN d{d - 1} u
              ON u.e = m.e AND u.k = m.k AND u.i = m.i - 1 AND u.j = m.j
            LEFT JOIN d{d - 1} l
              ON l.e = m.e AND l.k = m.k AND l.i = m.i AND l.j = m.j - 1
            LEFT JOIN d{d - 2} g
              ON g.e = m.e AND g.k = m.k AND g.i = m.i - 1 AND g.j = m.j - 1
            WHERE m.i + m.j = {d})"""
    allc = " UNION ALL ".join(f"SELECT * FROM d{d}" for d in range(2, 2 * K + 1))
    return sql + f""",
        allc AS ({allc})
        SELECT na.e AS user_id, na.k AS day, na.n::INT AS n_a, nb.m::INT AS n_b,
               c.v AS frechet
        FROM na JOIN nb ON na.e = nb.e AND na.k = nb.k
        JOIN allc c ON c.e = na.e AND c.k = na.k AND c.i = na.n AND c.j = nb.m
    """


CUSUM_MU, CUSUM_K, CUSUM_H = 5000, 1000, 30000


def q_cusum(spark, sf):
    """Two-sided CUSUM drift alarms per user over the event value
    stream (Page's sequential changepoint test, integer-quantized) —
    the max(0, .) recurrence computed exactly via the prefix-sum /
    running-extremum identity, one keyed window shuffle
    (operators/stats.cusum_changepoints)."""
    from skyway_spark.operators.stats import cusum_changepoints

    (ev,) = _tables(spark, sf, "events")
    return cusum_changepoints(ev, mu_q=CUSUM_MU, k_q=CUSUM_K, h_q=CUSUM_H)


def _cusum_sql() -> str:
    up, dn = CUSUM_MU + CUSUM_K, CUSUM_MU - CUSUM_K
    return f"""
        WITH x AS (
            SELECT user_id AS entity, ts, event_id AS point_id,
                   CAST(floor(value * 100) AS BIGINT) AS v_q
            FROM events),
        p AS (
            SELECT *, (SUM(v_q - {up}) OVER w)::BIGINT AS p_hi,
                      (SUM(v_q - {dn}) OVER w)::BIGINT AS p_lo
            FROM x WINDOW w AS (PARTITION BY entity ORDER BY ts, point_id
                                ROWS UNBOUNDED PRECEDING)),
        s AS (
            SELECT *, (p_hi - LEAST(0, MIN(p_hi) OVER w))::BIGINT AS s_hi,
                      (p_lo - GREATEST(0, MAX(p_lo) OVER w))::BIGINT AS s_lo
            FROM p WINDOW w AS (PARTITION BY entity ORDER BY ts, point_id
                                ROWS UNBOUNDED PRECEDING))
        SELECT entity, ts, point_id, v_q, s_hi, s_lo
        FROM s WHERE s_hi > {CUSUM_H} OR s_lo < -{CUSUM_H}
    """


BPE_MERGES = 4


def q_bpe_tokenize(spark, sf):
    """End-to-end BPE: train BPE_MERGES merges on the documents corpus
    (deterministic (count desc, pair) tie-break), then encode every
    document with them — (doc_id, n_tokens, seg) with seg the readable
    'lo/w/er new/est' segmentation.  The oracle re-runs the identical
    iterative training + encode in SQL CTEs, so a divergence in merge
    CHOICE (not just application) fails the gate
    (operators/textstats.bpe_train/bpe_tokenize)."""
    from skyway_spark.operators.textstats import bpe_tokenize, bpe_train

    (docs,) = _tables(spark, sf, "documents")
    merges = bpe_train(docs, n_merges=BPE_MERGES)
    return bpe_tokenize(docs, merges)


def _bpe_tokenize_sql() -> str:
    wrap = "regexp_replace({0}, '(.)', chr(2) || '\\1' || chr(3), 'g')"
    mrg = (
        "replace({0}, chr(2) || m.x || chr(3) || chr(2) || m.y || chr(3), "
        "chr(2) || m.x || m.y || chr(3))"
    )
    sql = f"""
        WITH toks AS (
            SELECT unnest({_WS_SPLIT}) AS tok
            FROM documents),
        t0 AS MATERIALIZED (SELECT {wrap.format('tok')} AS s FROM toks)"""
    for r in range(1, BPE_MERGES + 1):
        sql += f""",
        p{r} AS (
            SELECT a[i] AS x, a[i + 1] AS y, COUNT(*) AS n
            FROM (SELECT string_split(substr(s, 2, strlen(s) - 2),
                                      chr(3) || chr(2)) AS a
                  FROM t{r - 1} WHERE strlen(s) >= 2),
                 unnest(range(1, len(a))) r(i)
            GROUP BY 1, 2),
        m{r} AS MATERIALIZED (SELECT x, y FROM p{r} ORDER BY n DESC, x, y LIMIT 1),
        t{r} AS MATERIALIZED (SELECT {mrg.format('s')} AS s FROM t{r - 1}, m{r} m)"""
    sql += f""",
        words AS (
            SELECT doc_id, {_WS_SPLIT} AS ws
            FROM documents),
        e0 AS (
            SELECT doc_id, i, {wrap.format('ws[i]')} AS s
            FROM words, unnest(range(1, len(ws) + 1)) r(i))"""
    for r in range(1, BPE_MERGES + 1):
        sql += f""",
        e{r} AS (SELECT doc_id, i, {mrg.format('s')} AS s FROM e{r - 1}, m{r} m)"""
    return sql + f"""
        SELECT doc_id,
               (SUM(strlen(s) - strlen(replace(s, chr(2), ''))))::BIGINT
                   AS n_tokens,
               string_agg(CASE WHEN strlen(s) < 2 THEN ''
                               ELSE replace(substr(s, 2, strlen(s) - 2),
                                            chr(3) || chr(2), '/') END,
                          ' ' ORDER BY i) AS seg
        FROM e{BPE_MERGES}
        GROUP BY doc_id
    """


CDC_W, CDC_D = 8, 64


def q_cdc_chunks(spark, sf):
    """Content-defined chunking over the dup-augmented corpus: rolling
    polynomial hash of the trailing 8 chars, boundary where divisible
    by 64 — boundaries re-sync after edits, so shifted near-copies
    still share most chunks (operators/dedup.cdc_chunks)."""
    from skyway_spark.operators.dedup import cdc_chunks

    return cdc_chunks(_docs_with_dups(spark, sf), window=CDC_W, divisor=CDC_D)


def q_cdc_dedup(spark, sf):
    """Top cross-corpus duplicated CDC chunks — catches the shifted
    near-copies fixed-size chunking misses
    (operators/dedup.cdc_duplicate_chunks)."""
    from skyway_spark.operators.dedup import cdc_duplicate_chunks

    return cdc_duplicate_chunks(
        _docs_with_dups(spark, sf), window=CDC_W, divisor=CDC_D
    )


def _cdc_chunks_ctes() -> str:
    B, M = 257, (1 << 31) - 1
    terms = " + ".join(
        f"ascii(substr(text, (i - {j})::INT, 1))::BIGINT * {pow(B, j, M)}"
        for j in range(CDC_W)
    )
    return f"""
        d2 AS MATERIALIZED ({_DOCS2_SQL}),
        pos AS (
            SELECT doc_id, i
            FROM d2, unnest(range({CDC_W}, length(text) + 1)) r(i)
            WHERE (({terms}) % {M}) % {CDC_D} = 0),
        bounds AS (
            SELECT doc_id, 0 AS b FROM d2
            UNION SELECT doc_id, i FROM pos
            UNION SELECT doc_id, length(text) FROM d2),
        ch AS (
            SELECT doc_id, b AS st,
                   LEAD(b) OVER (PARTITION BY doc_id ORDER BY b) AS nb,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY b) AS idx
            FROM bounds),
        chunks AS (
            SELECT c.doc_id, c.idx::INT AS idx, c.st::INT AS start,
                   (c.nb - c.st)::INT AS chunk_len,
                   substr(d.text, (c.st + 1)::INT, (c.nb - c.st)::INT) AS chunk
            FROM ch c JOIN d2 d USING (doc_id)
            WHERE c.nb IS NOT NULL)
    """


def _cdc_chunks_sql() -> str:
    return f"WITH {_cdc_chunks_ctes()} SELECT * FROM chunks"


def _cdc_dedup_sql() -> str:
    return f"""
        WITH {_cdc_chunks_ctes()}
        SELECT MAX(chunk_len) AS chunk_len, COUNT(*)::BIGINT AS n_copies,
               (COUNT(DISTINCT doc_id))::BIGINT AS n_docs, chunk
        FROM chunks GROUP BY chunk
        HAVING COUNT(*) >= 2
        ORDER BY n_copies DESC, chunk LIMIT 50
    """


def q_media_clusters(spark, sf):
    """Visual near-dup CLUSTERS: aHash band-join pairs at Hamming <=
    AHASH_R fed into the contraction connected-components operator;
    every media row gets a canonical cluster id (min reachable id,
    singletons label themselves) — the survivor-selection input for
    image dedup (operators/multimodal + operators/graph)."""
    from skyway_spark.operators.graph import connected_components
    from skyway_spark.operators.multimodal import ahash64, hamming_near_dup_pairs

    media = _ahash_media(spark)
    pairs = hamming_near_dup_pairs(ahash64(media), max_hamming=AHASH_R)
    cc = connected_components(pairs, src="id_a", dst="id_b")
    return media.select("media_id").join(
        cc, media.media_id == cc.node, "left"
    ).select(
        "media_id",
        F.coalesce(F.col("component"), F.col("media_id")).alias("cluster"),
    )


def _media_clusters_sql() -> str:
    return f"""
        WITH RECURSIVE {_ahash_hash_sql()},
        pr AS (
            SELECT a.media_id AS s, b.media_id AS t
            FROM hashes a JOIN hashes b ON a.media_id < b.media_id
            WHERE bit_count(xor(a.ahash, b.ahash)) <= {AHASH_R}),
        e AS (SELECT s, t FROM pr UNION SELECT t, s FROM pr),
        reach(s, t) AS (
            SELECT s, t FROM e
            UNION
            SELECT r.s, e2.t FROM reach r JOIN e e2 ON r.t = e2.s),
        lab AS (SELECT s AS node, LEAST(s, MIN(t)) AS component
                FROM reach GROUP BY s)
        SELECT h.media_id, COALESCE(l.component, h.media_id) AS cluster
        FROM hashes h LEFT JOIN lab l ON l.node = h.media_id
    """


HEX_SIZE_U = 2_500_000  # 2.5-degree hexes
HEX_HOT = 7  # ~80 hot cells at sf0.01


def _hex_points(spark, sf):
    """Integer-microdegree event points (x=lon_u, y=lat_u) — the same
    deterministic arithmetic as _event_points, kept integer end-to-end
    so hex encode is exact without any double round-trip."""
    (ev,) = _tables(spark, sf, "events")
    return ev.select(
        "event_id",
        (((F.col("event_id") * 104729) % 36000) * 10000 - 180000000).alias("x"),
        (((F.col("user_id") * 7919) % 17000) * 10000 - 85000000).alias("y"),
    )


def q_hex_assign(spark, sf):
    """H3-style hexagonal cell assignment: integer fixed-point axial
    transform + cube rounding (functions/hexgrid.hex_encode), count per
    hex — uniform 6-neighbor cells, engine-exact sqrt(3)-free math."""
    from skyway_spark.functions import hexgrid as hx

    # staged hex assignment (Generate barrier, functions/hexgrid
    # .assign_hex) so the cube-rounding grouping keys stay inside the
    # codegen 64 KB limit when this query is composed (q_hex_disk)
    pts = hx.assign_hex(_hex_points(spark, sf), "x", "y", HEX_SIZE_U, keep=[])
    return (
        pts.select(hx.hex_pack(F.col("q"), F.col("r")).alias("cell"), "q", "r")
        .groupBy("cell", "q", "r")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def q_hex_disk(spark, sf):
    """Hex k-ring rollup: for every hot hex (>= HEX_HOT points), the
    point total over its distance-2 disk (19 cells) — the smoothing /
    neighborhood-density primitive H3 users run; disk cells come from
    the constant 19-offset literal transform (functions/hexgrid
    .hex_disk), joined to the per-cell counts (broadcast-sized hot
    side, map-side expansion, one narrow shuffle)."""
    from skyway_spark.functions import hexgrid as hx

    counts = q_hex_assign(spark, sf)
    hot = counts.where(F.col("n_points") >= HEX_HOT).select(
        F.col("cell").alias("hot_cell"), F.col("n_points").alias("n_points")
    )
    exp = hot.select(
        "hot_cell",
        "n_points",
        F.explode(hx.hex_disk(F.col("hot_cell"), 2)).alias("nb"),
    )
    joined = exp.join(
        counts.select(F.col("cell").alias("nb"), F.col("n_points").alias("nb_n")),
        "nb",
        "left",
    )
    return joined.groupBy("hot_cell", "n_points").agg(
        F.sum(F.coalesce(F.col("nb_n"), F.lit(0))).alias("disk_points"),
        F.count("nb_n").alias("n_occupied"),
    )


def _hex_fd(a: str, b: int) -> str:
    return f"((({a}) - ((({a}) % {b} + {b}) % {b})) // {b})"


def _hex_cells_ctes() -> str:
    """CTE chain `hp -> hc` mirroring hexgrid.hex_qr over the event
    points: FP-scaled axial, cube rounding with the q-first/r-second
    deterministic fix order, packed id."""
    from skyway_spark.functions.hexgrid import FP, HEX_B, SQRT3_FP

    s3 = 3 * HEX_SIZE_U
    half = FP // 2
    return f"""
        hp AS (
            SELECT event_id,
                   ((event_id * 104729) % 36000) * 10000 - 180000000 AS x,
                   ((user_id * 7919) % 17000) * 10000 - 85000000 AS y
            FROM events),
        hq AS (
            SELECT event_id,
                   {_hex_fd(f"x * {SQRT3_FP} - y * {FP}", s3)} AS qs,
                   {_hex_fd(f"2 * {FP} * y", s3)} AS rs
            FROM hp),
        hr AS (
            SELECT *, {_hex_fd(f"qs + {half}", FP)} AS qr,
                      {_hex_fd(f"rs + {half}", FP)} AS rr,
                      {_hex_fd(f"-qs - rs + {half}", FP)} AS sr
            FROM hq),
        hx AS (
            SELECT *, abs(qs - qr * {FP}) AS dq, abs(rs - rr * {FP}) AS dr,
                      abs(-qs - rs - sr * {FP}) AS ds
            FROM hr),
        hc AS (
            SELECT event_id,
                   CASE WHEN qr + rr + sr != 0 AND dq >= dr AND dq >= ds
                        THEN -rr - sr ELSE qr END AS q,
                   CASE WHEN qr + rr + sr != 0
                             AND NOT (dq >= dr AND dq >= ds) AND dr >= ds
                        THEN -qr - sr ELSE rr END AS r
            FROM hx),
        hcell AS (
            SELECT event_id, q, r,
                   (q + {HEX_B}) * {1 << 30} + (r + {HEX_B}) AS cell
            FROM hc),
        hcnt AS (
            SELECT cell, q, r, COUNT(*) AS n_points
            FROM hcell GROUP BY 1, 2, 3)
    """


def _hex_assign_sql() -> str:
    return f"WITH {_hex_cells_ctes()} SELECT cell, q, r, n_points FROM hcnt"


def _hex_disk_sql() -> str:
    from skyway_spark.functions.hexgrid import HEX_B

    return f"""
        WITH {_hex_cells_ctes()},
        hot AS (SELECT cell AS hot_cell, q, r, n_points
                FROM hcnt WHERE n_points >= {HEX_HOT}),
        offs AS (
            SELECT a.dq, b.dr
            FROM range(-2, 3) a(dq), range(-2, 3) b(dr)
            WHERE greatest(abs(a.dq), abs(b.dr), abs(a.dq + b.dr)) <= 2),
        exp AS (
            SELECT h.hot_cell, h.n_points,
                   (h.q + o.dq + {HEX_B}) * {1 << 30}
                       + (h.r + o.dr + {HEX_B}) AS nb
            FROM hot h, offs o)
        SELECT e.hot_cell, e.n_points,
               (SUM(COALESCE(c.n_points, 0)))::BIGINT AS disk_points,
               COUNT(c.n_points) AS n_occupied
        FROM exp e LEFT JOIN hcnt c ON c.cell = e.nb
        GROUP BY 1, 2
    """


RBO_K = 10


def q_rbo_rankings(spark, sf):
    """Exact integer Rank-Biased Overlap between the PageRank and
    HITS-authority orderings of the host graph — do the two link
    metrics agree on the top hosts?  RBO@10 with p=9/10, all-integer
    via the per-item suffix-coefficient closed form
    (operators/retrieval.rank_biased_overlap)."""
    from skyway_spark.operators.retrieval import rank_biased_overlap

    return rank_biased_overlap(
        q_host_rank(spark, sf),
        q_host_hits(spark, sf).select("host", "auth"),
        key="host",
        score_a="pr",
        score_b="auth",
        k=RBO_K,
    )


def _rbo_sql() -> str:
    import math

    k, p_num, p_den = RBO_K, 9, 10
    L = math.lcm(*range(1, k + 1))
    coeff = [
        (p_den - p_num) * p_num ** (d - 1) * p_den ** (k - d) * (L // d)
        for d in range(1, k + 1)
    ]
    suffix = [sum(coeff[d - 1 :]) for d in range(1, k + 1)]
    scale_den = p_den**k * L
    sufvals = ", ".join(f"({d}, {s})" for d, s in enumerate(suffix, 1))
    pr_q = _pagerank_sql(
        graph_ctes=f"""
            l AS ({_linked_links_sql(LINKED_PAGES_N)}),
            e AS (SELECT DISTINCT src_host AS s, dst_host AS t FROM l),
            nodes AS (SELECT s AS node FROM e UNION SELECT t FROM e)""",
        node_alias="host",
    )
    return f"""
        WITH ra AS (
            SELECT host, ROW_NUMBER() OVER (ORDER BY pr DESC, host) AS ra
            FROM ({pr_q})),
        rb AS (
            SELECT host, ROW_NUMBER() OVER (ORDER BY auth DESC, host) AS rb
            FROM ({_hits_sql()})),
        j AS (
            SELECT greatest(ra.ra, rb.rb) AS m
            FROM ra JOIN rb USING (host)
            WHERE ra.ra <= {k} AND rb.rb <= {k})
        SELECT {k}::INT AS k, {scale_den}::BIGINT AS scale_den,
               COUNT(*)::BIGINT AS n_shared,
               COALESCE((SUM(v.s))::BIGINT, 0::BIGINT) AS rbo_num
        FROM j JOIN (VALUES {sufvals}) v(d, s) ON v.d = j.m
    """


SPAN_LEN, SPAN_MOD = 3, 5


def q_span_corrupt(spark, sf):
    """T5-style span corruption over documents: deterministic ~20% of
    3-token blocks masked to <X_k> sentinels, targets carry the masked
    content — the denoising-objective data prep, hash-of-id
    reproducible (operators/textstats.span_corrupt)."""
    from skyway_spark.operators.textstats import span_corrupt

    (docs,) = _tables(spark, sf, "documents")
    return span_corrupt(docs, span_len=SPAN_LEN, mask_mod=SPAN_MOD)


def _span_corrupt_sql() -> str:
    from skyway_spark.operators.textstats import SPAN_P

    L = SPAN_LEN
    return f"""
        WITH w AS (
            SELECT doc_id, {_WS_SPLIT} AS ws
            FROM documents),
        bl AS (
            SELECT doc_id, b,
                   array_to_string(ws[(b * {L} + 1):(b * {L} + {L})], ' ')
                       AS chunk,
                   ((doc_id * 16807 + b * 48271) % {SPAN_P}) % {SPAN_MOD} = 0
                       AS masked
            FROM w, unnest(range(0, (len(ws) + {L} - 1) // {L})) r(b)),
        lab AS (
            SELECT doc_id, b, chunk, masked,
                   SUM(masked::INT) OVER (PARTITION BY doc_id ORDER BY b) AS k
            FROM bl)
        SELECT doc_id,
               (SUM(masked::INT))::BIGINT AS n_masked,
               string_agg(CASE WHEN masked THEN '<X_' || k || '>'
                               ELSE chunk END, ' ' ORDER BY b) AS masked_text,
               COALESCE(string_agg(CASE WHEN masked
                                        THEN '<X_' || k || '> ' || chunk END,
                                   ' ' ORDER BY b), '') AS targets
        FROM lab GROUP BY doc_id
    """


RA_SCALE = 1 << 20


def q_ra_links(spark, sf):
    """Resource-Allocation link prediction on the strong host graph
    (edge weight >= 5 anchors): which unlinked host pairs share the
    most discounted common neighbors — the related-site discovery
    primitive, integer-exact via scale div deg
    (operators/graph.ra_link_prediction)."""
    from skyway_spark.operators import weblinks
    from skyway_spark.operators.graph import ra_link_prediction

    links = weblinks.extract_links(_linked_pages(spark))
    hg = (
        links.groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 5)
        .select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
    )
    return ra_link_prediction(hg, top_n=50, scale=RA_SCALE)


def _ra_links_sql() -> str:
    return f"""
        WITH l AS ({_linked_links_sql(LINKED_PAGES_N)}),
        hg AS (SELECT src_host, dst_host FROM l
               GROUP BY 1, 2 HAVING COUNT(*) >= 5),
        und AS (SELECT DISTINCT least(src_host, dst_host) AS s,
                       greatest(src_host, dst_host) AS t
                FROM hg WHERE src_host != dst_host),
        sym AS (SELECT s, t FROM und UNION ALL SELECT t, s FROM und),
        deg AS (SELECT s AS z, COUNT(*) AS deg FROM sym GROUP BY 1),
        wz AS (SELECT z, ({RA_SCALE} // deg)::BIGINT AS w FROM deg),
        nb AS (SELECT sym.s AS z, sym.t AS n, w
               FROM sym JOIN wz ON wz.z = sym.s),
        wedges AS (
            SELECT x.n AS a, y.n AS b, COUNT(*)::BIGINT AS n_common,
                   (SUM(x.w))::BIGINT AS ra_score
            FROM nb x JOIN nb y ON x.z = y.z AND x.n < y.n
            GROUP BY 1, 2),
        cand AS (
            SELECT w.* FROM wedges w
            LEFT JOIN und u ON u.s = w.a AND u.t = w.b
            WHERE u.s IS NULL)
        SELECT a, b, n_common, ra_score FROM cand
        ORDER BY ra_score DESC, a, b LIMIT 50
    """


def q_hull_diameter(spark, sf):
    """Territory diameter per user: max squared vertex distance over
    the convex hull (hull diameter == point-set diameter) with the
    deterministic witness pair — the roaming-range metric; the pair
    join runs on hull vertices only (operators/geometry.hull_diameter
    over convex_hulls)."""
    from skyway_spark.operators.geometry import hull_diameter

    return hull_diameter(q_user_hulls(spark, sf), entity="user_id")


def _hull_diameter_sql() -> str:
    return f"""
        WITH hv AS ({_user_hulls_sql()}),
        pr AS (
            SELECT a.user_id, a.hx AS ax, a.hy AS ay, b.hx AS bx, b.hy AS by,
                   (a.hx - b.hx) * (a.hx - b.hx)
                 + (a.hy - b.hy) * (a.hy - b.hy) AS d2
            FROM hv a JOIN hv b
              ON a.user_id = b.user_id
             AND (a.hx < b.hx OR (a.hx = b.hx AND a.hy <= b.hy))),
        rk AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id
                ORDER BY d2 DESC, ax, ay, bx, by) AS rn
            FROM pr)
        SELECT user_id, d2, ax, ay, bx, by FROM rk WHERE rn = 1
    """


TBL_N = 400


def _table_pages(spark):
    """Pages with deterministic HTML tables: table 0 has 1+i%3 rows x
    2+i%2 cols of 'v{i}-{r}-{c}' cells; every 4th page adds a second
    1x2 table of 's{i}-{c}' cells.  The oracle rebuilds the cell grid
    from this arithmetic, so it is ground truth BY CONSTRUCTION — the
    extractor must parse its way back to it."""
    df = spark.range(0, TBL_N, 1, 8)
    i = F.col("id")
    rows_n = (i % 3 + 1).cast("int")
    cols_n = (i % 2 + 2).cast("int")
    cell = lambda r, c: F.concat(
        F.lit("<td>v"), i, F.lit("-"), r, F.lit("-"), c, F.lit("</td>")
    )
    t0 = F.concat(
        F.lit("<table>"),
        F.concat_ws(
            "",
            F.transform(
                F.sequence(F.lit(0), rows_n - 1),
                lambda r: F.concat(
                    F.lit("<tr>"),
                    F.concat_ws(
                        "",
                        F.transform(
                            F.sequence(F.lit(0), cols_n - 1), lambda c: cell(r, c)
                        ),
                    ),
                    F.lit("</tr>"),
                ),
            ),
        ),
        F.lit("</table>"),
    )
    t1 = F.concat(
        F.lit('<table class="s"><tr><td>s'), i, F.lit("-0</td><td>s"),
        i, F.lit("-1</td></tr></table>"),
    )
    html = F.concat(
        F.lit("<html><body><h1>T"), i, F.lit("</h1>"), t0,
        F.when(i % 4 == 0, t1).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return df.select(
        F.concat(F.lit("https://t.example/p/"), i).alias("url"),
        html.alias("html"),
    )


def q_web_tables(spark, sf):
    """WDC-style web-table extraction: every <table> cell with its
    (table, row, col) position via the three-level posexplode regex
    descent (operators/weblinks.extract_tables) — checked against the
    construction-side cell grid."""
    from skyway_spark.operators.weblinks import extract_tables

    return extract_tables(_table_pages(spark))


def _web_tables_sql() -> str:
    return f"""
        SELECT 'https://t.example/p/' || i AS url, 0::INT AS table_idx,
               r::INT AS row_idx, c::INT AS col_idx,
               'v' || i || '-' || r || '-' || c AS cell
        FROM range(0, {TBL_N}) t(i),
             unnest(range(0, 1 + i % 3)) a(r),
             unnest(range(0, 2 + i % 2)) b(c)
        UNION ALL
        SELECT 'https://t.example/p/' || i, 1::INT, 0::INT, c::INT,
               's' || i || '-' || c
        FROM range(0, {TBL_N}) t(i), unnest(range(0, 2)) b(c)
        WHERE i % 4 = 0
    """


def q_curve_locality(spark, sf):
    """Layout-key locality comparison — WHY a 100 TB table sorts by
    Hilbert rather than Morton: over the occupied 2^10 grid cells,
    walk each curve in key order and measure the grid jump between
    consecutive cells (total/max/adjacent-share).  Hilbert's jumps are
    provably smaller on the full grid and measurably smaller on this
    sparse one; the two windows run over the DISTINCT-cell aggregate,
    never the corpus."""
    n = 1 << HILBERT_ORDER
    pts = _event_points(spark, sf)
    gx = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit(n - 1).cast("long"),
            F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n))),
        ),
    )
    gy = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit(n - 1).cast("long"),
            F.floor((F.lit(90.0) - F.col("lat")) / F.lit(180.0) * F.lit(float(n))),
        ),
    )
    grid = (
        pts.select(
            gx.alias("gx"),
            gy.alias("gy"),
            cells.hilbert_key(F.col("lat"), F.col("lon"), HILBERT_ORDER).alias(
                "hkey"
            ),
        )
        .groupBy("gx", "gy", "hkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .drop("__n")
    )
    zkey = sum(
        F.shiftleft(F.shiftright("gx", i).bitwiseAND(F.lit(1)), 2 * i)
        + F.shiftleft(F.shiftright("gy", i).bitwiseAND(F.lit(1)), 2 * i + 1)
        for i in range(HILBERT_ORDER)
    )
    grid = grid.select("gx", "gy", "hkey", zkey.cast("long").alias("zkey"))

    from pyspark.sql import Window

    def walk(key: str):
        w = Window.orderBy(key)
        jump = F.abs(F.col("gx") - F.lag("gx").over(w)) + F.abs(
            F.col("gy") - F.lag("gy").over(w)
        )
        steps = grid.select(jump.alias("j")).where(F.col("j").isNotNull())
        return steps.agg(
            F.lit("hilbert" if key == "hkey" else "zorder").alias("curve"),
            F.count(F.lit(1)).alias("n_steps"),
            F.sum("j").alias("total_jump"),
            F.max("j").alias("max_jump"),
            F.sum((F.col("j") == 1).cast("long")).alias("adjacent_steps"),
        )

    return walk("hkey").unionByName(walk("zkey"))


def _curve_locality_sql() -> str:
    zbits = " | ".join(
        f"(((gx >> {i}) & 1) << {2 * i}) | (((gy >> {i}) & 1) << {2 * i + 1})"
        for i in range(HILBERT_ORDER)
    )
    return f"""
        WITH hh AS (SELECT DISTINCT gx, gy, hkey FROM ({_hilbert_sql()})),
        grid AS (SELECT gx, gy, hkey, ({zbits})::BIGINT AS zkey FROM hh),
        hw AS (
            SELECT abs(gx - LAG(gx) OVER (ORDER BY hkey))
                 + abs(gy - LAG(gy) OVER (ORDER BY hkey)) AS j
            FROM grid),
        zw AS (
            SELECT abs(gx - LAG(gx) OVER (ORDER BY zkey))
                 + abs(gy - LAG(gy) OVER (ORDER BY zkey)) AS j
            FROM grid)
        SELECT 'hilbert' AS curve, COUNT(*)::BIGINT AS n_steps,
               (SUM(j))::BIGINT AS total_jump, MAX(j) AS max_jump,
               (SUM(CASE WHEN j = 1 THEN 1 ELSE 0 END))::BIGINT
                   AS adjacent_steps
        FROM hw WHERE j IS NOT NULL
        UNION ALL
        SELECT 'zorder', COUNT(*)::BIGINT, (SUM(j))::BIGINT, MAX(j),
               (SUM(CASE WHEN j = 1 THEN 1 ELSE 0 END))::BIGINT
        FROM zw WHERE j IS NOT NULL
    """


VGRAM_BAND = 3


def q_variogram(spark, sf):
    """Empirical semivariogram of the event value by hex-distance band
    — spatial correlation range, computed from per-cell integer
    moments (never point pairs): the cross-cell pair sum has the exact
    closed form n_b*ssq_a + n_a*ssq_b - 2*s_a*s_b
    (operators/spatialstats.variogram_hex)."""
    from skyway_spark.operators.spatialstats import variogram_hex

    (ev,) = _tables(spark, sf, "events")
    pts = _hex_points(spark, sf).join(
        ev.select("event_id", F.floor(F.col("value") * 100).cast("long").alias("v_q")),
        "event_id",
    )
    return variogram_hex(pts, size_u=HEX_SIZE_U, max_band=VGRAM_BAND)


def _variogram_sql() -> str:
    from skyway_spark.functions.hexgrid import disk_offsets

    offs = ", ".join(
        f"({dq}, {dr}, {(abs(dq) + abs(dr) + abs(dq + dr)) // 2})"
        for dq, dr in disk_offsets(VGRAM_BAND)
        if (dq, dr) != (0, 0)
    )
    return f"""
        WITH {_hex_cells_ctes()},
        pv AS (
            SELECT h.q, h.r, CAST(floor(e.value * 100) AS BIGINT) AS v
            FROM hcell h JOIN events e USING (event_id)),
        cg AS (
            SELECT q, r, COUNT(*)::BIGINT AS n, (SUM(v))::BIGINT AS s,
                   (SUM(v * v))::BIGINT AS ssq
            FROM pv GROUP BY 1, 2),
        d0 AS (
            SELECT 0::INT AS band,
                   (SUM(n * (n - 1) // 2))::BIGINT AS n_pairs,
                   (SUM(n * ssq - s * s))::BIGINT AS ssd
            FROM cg),
        offs AS (SELECT * FROM (VALUES {offs}) o(dq, dr, band)),
        pr AS (
            SELECT o.band::INT AS band, a.n AS n_a, a.s AS s_a, a.ssq AS ssq_a,
                   b.n AS n_b, b.s AS s_b, b.ssq AS ssq_b
            FROM cg a
            JOIN offs o ON true
            JOIN cg b ON b.q = a.q + o.dq AND b.r = a.r + o.dr
            WHERE a.q < b.q OR (a.q = b.q AND a.r < b.r))
        SELECT band, (SUM(n_a * n_b))::BIGINT AS n_pairs,
               (SUM(n_b * ssq_a + n_a * ssq_b - 2 * s_a * s_b))::BIGINT AS ssd
        FROM pr GROUP BY band
        UNION ALL
        SELECT * FROM d0
    """


def q_warc_pipeline(spark, sf):
    """The flagship pipeline fed from WARC ingestion end-to-end: pages
    serialize to WARC blobs, the byte parser recovers the responses,
    the page text is rebuilt from the HTTP body (byte-identical — the
    input_hint invariant), geo-entities extract, and mentions roll up
    per qcell.  Proves a reference user can run the whole engine off
    the crawl-archive container format."""
    from skyway_spark.operators.extract import extract_geo_entities
    from skyway_spark.sources.warc import pages_to_warc, read_warc

    pages = generate_pages(spark, WARC_N, partitions=8)
    recs = read_warc(pages_to_warc(pages, WARC_PER_FILE, WARC_REQ_EVERY))
    rebuilt = recs.where(F.col("warc_type") == "response").select(
        "url",
        F.col("html").substr(F.lit(13), F.length("html") - 26).alias("text"),
        F.lit("und").alias("lang"),
    )
    ents = extract_geo_entities(rebuilt)
    return ents.groupBy(
        cells.cell_encode(F.col("lat"), F.col("lon"), CELL_RES).alias("cell")
    ).agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct("url").alias("n_urls"),
    )


def _warc_pipeline_sql() -> str:
    return f"""
        WITH m AS ({_page_mentions_sql(WARC_N)})
        SELECT {_cell_sql("lat", "lon", CELL_RES)} AS cell,
               COUNT(*) AS n_mentions,
               (COUNT(DISTINCT url))::BIGINT AS n_urls
        FROM m GROUP BY 1
    """


PPJOIN_T = 95  # the fixture vocab is tiny, so token SETS overlap heavily; 95% keeps the result dup-driven (~3k pairs) and gives the prefix filter real selectivity


def q_jaccard_join(spark, sf):
    """EXACT Jaccard >= 95% self-join via prefix filtering (PPJoin) —
    deterministic set-similarity dedup with no false negatives, the
    exact counterpart to q_minhash_lsh; the oracle brute-forces every
    token-sharing pair, so a missed candidate (prefix-theorem bug)
    fails the gate (operators/dedup.jaccard_prefix_join).

    Corpus cap: the fixture's tiny shared vocabulary makes the number
    of TRULY >= 95%-similar pairs grow quadratically with corpus size
    (265k result pairs at sf0.1) — any exact algorithm must emit them
    all, so the contract query caps at the first 1000 base ids (plus
    their derived dups) to keep the result dup-driven; at sf0.01 the
    cap is a no-op (500 docs)."""
    from skyway_spark.operators.dedup import jaccard_prefix_join

    docs = _docs_with_dups(spark, sf).where(F.col("doc_id") % 100000 < 1000)
    return jaccard_prefix_join(docs, threshold_pct=PPJOIN_T)


def _jaccard_join_sql() -> str:
    return f"""
        WITH d2 AS MATERIALIZED ({_DOCS2_SQL}),
        tk AS MATERIALIZED (
            SELECT DISTINCT doc_id AS id,
                   unnest({_WS_SPLIT}) AS tok
            FROM d2 WHERE doc_id % 100000 < 1000),
        sz AS (SELECT id, COUNT(*) AS n FROM tk GROUP BY 1),
        px AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*)::BIGINT AS n_inter
            FROM tk a JOIN tk b ON a.tok = b.tok AND a.id < b.id
            GROUP BY 1, 2),
        j AS (
            SELECT id_a, id_b, n_inter,
                   (sa.n + sb.n - n_inter)::BIGINT AS n_union
            FROM px JOIN sz sa ON sa.id = px.id_a
                    JOIN sz sb ON sb.id = px.id_b)
        SELECT id_a, id_b, n_inter, n_union
        FROM j WHERE n_inter * 100 >= {PPJOIN_T} * n_union
    """


MRL_DIMS, MRL_K = 16, 10


def q_matryoshka_recall(spark, sf):
    """Matryoshka prefix-dimension retrieval quality: per query
    vector, how much of the exact full-64-dim top-10 survives when the
    index keeps only the first 16 dims — integer-quantized dot
    products, deterministic tie-broken ranks
    (operators/similarity.matryoshka_recall)."""
    from skyway_spark.operators.similarity import matryoshka_recall

    (emb,) = _tables(spark, sf, "embeddings")
    return matryoshka_recall(emb, prefix_dims=MRL_DIMS, k=MRL_K)


def _matryoshka_sql() -> str:
    scale = 1 << 20
    return f"""
        WITH q AS (
            SELECT vec_id AS id,
                   list_transform(embedding,
                                  v -> CAST(floor(v::DOUBLE * {scale}) AS BIGINT))
                       AS qv
            FROM embeddings),
        pr AS (
            SELECT a.id AS query_id, b.id AS cand_id,
                   (SELECT (SUM(a.qv[i] * b.qv[i]))::BIGINT
                    FROM unnest(range(1, len(a.qv) + 1)) t(i)) AS d_full,
                   (SELECT (SUM(a.qv[i] * b.qv[i]))::BIGINT
                    FROM unnest(range(1, {MRL_DIMS} + 1)) t(i)) AS d_pre
            FROM q a, q b
            WHERE a.id % 50 = 0 AND b.id % 50 != 0),
        rk AS (
            SELECT query_id, cand_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d_full DESC, cand_id) AS rf,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d_pre DESC, cand_id) AS rp
            FROM pr)
        SELECT query_id,
               (SUM(CASE WHEN rf <= {MRL_K} AND rp <= {MRL_K}
                         THEN 1 ELSE 0 END))::BIGINT AS n_overlap
        FROM rk GROUP BY query_id
    """


def q_pit_join(spark, sf):
    """Point-in-time join of facts against the SCD2 history (the
    feature-store correctness primitive: the version valid AT the
    fact's seq — no leakage, no staleness).  Facts are the odd events,
    the history is q_scd2's; every fact matches at most one version
    because SCD2 intervals partition each key's timeline
    (operators/cdc.pit_join)."""
    from skyway_spark.operators.cdc import changelog_to_scd2, pit_join

    (ev,) = _tables(spark, sf, "events")
    hist = changelog_to_scd2(_cdc_changes(spark, sf), ["doc_id"])
    facts = ev.where(F.col("event_id") % 2 == 1).select(
        "event_id",
        (F.col("user_id") % 600).alias("doc_id"),
        F.col("event_id").alias("at_seq"),
    )
    out = pit_join(facts, hist, ["doc_id"], "at_seq")
    return out.select(
        "event_id", "doc_id", "at_seq", "lang", "source", "n_chars",
        "valid_from", "valid_to",
    )


def _pit_join_sql() -> str:
    return """
        WITH ch AS (
            SELECT (user_id % 600) AS doc_id, event_id AS seq,
                   CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
                   event_type AS lang,
                   'ev-' || (user_id % 7)::VARCHAR AS source,
                   (user_id + event_id)::BIGINT AS n_chars
            FROM events),
        h AS (
            SELECT doc_id, seq, op, lang, source, n_chars,
                   lead(seq) OVER (PARTITION BY doc_id ORDER BY seq) AS valid_to
            FROM ch),
        hist AS (SELECT doc_id, lang, source, n_chars, seq AS valid_from,
                        valid_to
                 FROM h WHERE op = 'U'),
        facts AS (
            SELECT event_id, (user_id % 600) AS doc_id, event_id AS at_seq
            FROM events WHERE event_id % 2 = 1)
        SELECT f.event_id, f.doc_id, f.at_seq, d.lang, d.source, d.n_chars,
               d.valid_from, d.valid_to
        FROM facts f JOIN hist d
          ON d.doc_id = f.doc_id AND f.at_seq >= d.valid_from
         AND (d.valid_to IS NULL OR f.at_seq < d.valid_to)
    """


KANON_K = 8


def q_k_anonymity(spark, sf):
    """k-anonymity publishing census over the documents table's quasi
    identifiers (lang, source, n_chars) with the 2-level
    generalization ladder — every published group has >= 8 members at
    the finest level that reaches 8; smaller remainders suppress
    (operators/pii.k_anonymity_census)."""
    from skyway_spark.operators.pii import k_anonymity_census

    (docs,) = _tables(spark, sf, "documents")
    return k_anonymity_census(docs, k=KANON_K)


def _k_anonymity_sql() -> str:
    k = KANON_K
    return f"""
        WITH base AS (
            SELECT lang AS c1, source AS c2, n_chars // 100 AS b1,
                   COUNT(*) AS n
            FROM documents GROUP BY 1, 2, 3),
        lvl0 AS (SELECT c1, c2, b1 AS bucket, 0::INT AS level, n
                 FROM base WHERE n >= {k}),
        rest1 AS (
            SELECT c1, c2, b1 // 5 AS b2, (SUM(n))::BIGINT AS n
            FROM base WHERE n < {k} GROUP BY 1, 2, 3),
        lvl1 AS (SELECT c1, c2, b2 AS bucket, 1::INT AS level, n
                 FROM rest1 WHERE n >= {k}),
        rest2 AS (
            SELECT c1, c2, (SUM(n))::BIGINT AS n
            FROM rest1 WHERE n < {k} GROUP BY 1, 2),
        lvl2 AS (SELECT c1, c2, NULL::BIGINT AS bucket, 2::INT AS level, n
                 FROM rest2 WHERE n >= {k}),
        lvl3 AS (SELECT c1, c2, NULL::BIGINT AS bucket, 3::INT AS level, n
                 FROM rest2 WHERE n < {k})
        SELECT * FROM lvl0 UNION ALL SELECT * FROM lvl1
        UNION ALL SELECT * FROM lvl2 UNION ALL SELECT * FROM lvl3
    """


PRUNE_Q = 20


def q_prune_stats(spark, sf):
    """Manifest file-skipping effectiveness — the reason a 100 TB
    table lays out by STR tiles: for 20 deterministic query bboxes,
    how many data files (and rows) must be read under the STR spatial
    layout vs round-robin ingestion order.  Pure integer bbox
    intersect over the two 32-file manifests; the STR side prunes to a
    handful of files, the round-robin side reads everything — the
    Iceberg min/max-stats story, measured (operators/partitioner)."""
    from skyway_spark.operators import partitioner

    pts = _event_grid_ints(spark, sf)
    man_str = partitioner.str_tile_stats(
        partitioner.str_pack(pts, sx=8, sy=4, x_col="x", y_col="y", id_col="event_id")
    ).select(
        (F.col("tx") * 4 + F.col("ty")).alias("file_id"),
        "n_points", "x_min", "x_max", "y_min", "y_max",
    )
    man_rr = pts.groupBy((F.col("event_id") % 32).alias("file_id")).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("x").alias("x_min"), F.max("x").alias("x_max"),
        F.min("y").alias("y_min"), F.max("y").alias("y_max"),
    )
    qs = spark.range(PRUNE_Q).select(
        F.col("id").alias("query_id"),
        ((F.col("id") * 7919) % 34200).alias("qx0"),
        (((F.col("id") * 7919) % 34200) + 1800).alias("qx1"),
        ((F.col("id") * 104729) % 16150).alias("qy0"),
        (((F.col("id") * 104729) % 16150) + 850).alias("qy1"),
    )

    def scan(man, pfx):
        hit = qs.join(
            man,
            (F.col("x_min") <= F.col("qx1")) & (F.col("x_max") >= F.col("qx0"))
            & (F.col("y_min") <= F.col("qy1")) & (F.col("y_max") >= F.col("qy0")),
        )
        agg = hit.groupBy("query_id").agg(
            F.count(F.lit(1)).alias(f"{pfx}_files"),
            F.sum("n_points").alias(f"{pfx}_rows"),
        )
        return qs.select("query_id").join(agg, "query_id", "left").select(
            "query_id",
            F.coalesce(F.col(f"{pfx}_files"), F.lit(0)).alias(f"{pfx}_files"),
            F.coalesce(F.col(f"{pfx}_rows"), F.lit(0)).cast("long").alias(f"{pfx}_rows"),
        )

    return scan(man_str, "str").join(scan(man_rr, "rr"), "query_id")


def _prune_stats_sql() -> str:
    # same integer grid as oracle_sql()'s local _GRID_INT_SQL (that one
    # is function-local, so restated here)
    grid = """
            SELECT event_id, (event_id * 104729) % 36000 AS x,
                   (user_id * 7919) % 17000 AS y
            FROM events
    """
    return f"""
        WITH pts AS ({grid}),
        t AS (SELECT *, ntile(8) OVER (ORDER BY x, event_id) - 1 AS tx
              FROM pts),
        u AS (SELECT *, ntile(4) OVER (PARTITION BY tx
                  ORDER BY y, event_id) - 1 AS ty
              FROM t),
        mstr AS (
            SELECT tx * 4 + ty AS file_id, COUNT(*) AS n_points,
                   MIN(x) AS x_min, MAX(x) AS x_max,
                   MIN(y) AS y_min, MAX(y) AS y_max
            FROM u GROUP BY 1),
        mrr AS (
            SELECT event_id % 32 AS file_id, COUNT(*) AS n_points,
                   MIN(x) AS x_min, MAX(x) AS x_max,
                   MIN(y) AS y_min, MAX(y) AS y_max
            FROM pts GROUP BY 1),
        qs AS (
            SELECT i AS query_id,
                   (i * 7919) % 34200 AS qx0, (i * 7919) % 34200 + 1800 AS qx1,
                   (i * 104729) % 16150 AS qy0,
                   (i * 104729) % 16150 + 850 AS qy1
            FROM range(0, {PRUNE_Q}) r(i)),
        hs AS (
            SELECT q.query_id, COUNT(*)::BIGINT AS str_files,
                   (SUM(m.n_points))::BIGINT AS str_rows
            FROM qs q JOIN mstr m
              ON m.x_min <= q.qx1 AND m.x_max >= q.qx0
             AND m.y_min <= q.qy1 AND m.y_max >= q.qy0
            GROUP BY 1),
        hr AS (
            SELECT q.query_id, COUNT(*)::BIGINT AS rr_files,
                   (SUM(m.n_points))::BIGINT AS rr_rows
            FROM qs q JOIN mrr m
              ON m.x_min <= q.qx1 AND m.x_max >= q.qx0
             AND m.y_min <= q.qy1 AND m.y_max >= q.qy0
            GROUP BY 1)
        SELECT q.query_id,
               COALESCE(hs.str_files, 0)::BIGINT AS str_files,
               COALESCE(hs.str_rows, 0)::BIGINT AS str_rows,
               COALESCE(hr.rr_files, 0)::BIGINT AS rr_files,
               COALESCE(hr.rr_rows, 0)::BIGINT AS rr_rows
        FROM qs q LEFT JOIN hs ON hs.query_id = q.query_id
                  LEFT JOIN hr ON hr.query_id = q.query_id
    """


def q_seq_patterns(spark, sf):
    """Length-2 sequential-pattern support (the GSP/PrefixSpan
    primitive): for every ordered event-type pair (a, b), how many
    users have SOME a-event strictly before SOME b-event under the
    (ts, event_id) total order — computed from per-(user, type)
    first/last summaries, so the join fans out over the type alphabet,
    never over events."""
    (ev,) = _tables(spark, sf, "events")
    ut = ev.groupBy(
        F.col("user_id").alias("u"), F.col("event_type").alias("t")
    ).agg(
        F.min(F.struct(F.col("ts").alias("ts"), F.col("event_id").alias("eid"))).alias("first"),
        F.max(F.struct(F.col("ts").alias("ts"), F.col("event_id").alias("eid"))).alias("last"),
    )
    a = ut.select("u", F.col("t").alias("t_a"), F.col("first").alias("fa"))
    b = ut.select("u", F.col("t").alias("t_b"), F.col("last").alias("lb"))
    pairs = a.join(b, "u").where(
        (F.col("t_a") != F.col("t_b")) & (F.col("fa") < F.col("lb"))
    )
    return pairs.groupBy("t_a", "t_b").agg(
        F.countDistinct("u").alias("n_users")
    )


def _seq_patterns_sql() -> str:
    return """
        WITH ut AS (
            SELECT user_id AS u, event_type AS t,
                   MIN(ROW(ts, event_id)) AS first,
                   MAX(ROW(ts, event_id)) AS last
            FROM events GROUP BY 1, 2)
        SELECT a.t AS t_a, b.t AS t_b, (COUNT(DISTINCT a.u))::BIGINT AS n_users
        FROM ut a JOIN ut b ON a.u = b.u AND a.t != b.t AND a.first < b.last
        GROUP BY 1, 2
    """


def q_nearest_centroid(spark, sf):
    """Nearest-centroid classifier trained and evaluated on the
    labeled embeddings: integer-quantized per-label centroids, exact
    integer distances, deterministic argmin — confusion matrix out
    (operators/similarity.nearest_centroid_confusion)."""
    from skyway_spark.operators.similarity import nearest_centroid_confusion

    (emb,) = _tables(spark, sf, "embeddings")
    return nearest_centroid_confusion(emb, scale_bits=10)


def _nearest_centroid_sql() -> str:
    sc = 1 << 10
    return f"""
        WITH q AS (
            SELECT vec_id, label,
                   list_transform(embedding,
                                  v -> CAST(floor(v::DOUBLE * {sc}) AS BIGINT))
                       AS qv
            FROM embeddings),
        ex AS (SELECT label, i AS dim, qv[i] AS v
               FROM q, unnest(range(1, len(qv) + 1)) t(i)),
        ct AS (SELECT label, dim, (SUM(v))::BIGINT AS s, COUNT(*) AS n
               FROM ex GROUP BY 1, 2),
        cen AS (SELECT label AS clab, dim,
                       ((s * {sc}) - (((s * {sc}) % n + n) % n)) // n AS c
                FROM ct),
        d AS (
            SELECT q.vec_id, q.label, cen.clab,
                   (SUM((q.qv[cen.dim] * {sc} - cen.c)
                        * (q.qv[cen.dim] * {sc} - cen.c)))::BIGINT AS dist
            FROM q, cen GROUP BY 1, 2, 3),
        p AS (SELECT vec_id, label, clab AS pred,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY dist, clab) AS rn
              FROM d)
        SELECT label, pred, COUNT(*)::BIGINT AS n
        FROM p WHERE rn = 1 GROUP BY 1, 2
    """


MARKER_ZOOMS = (3, 5, 7)


def q_marker_thinning(spark, sf):
    """Zoom-pyramid marker thinning: one representative point per
    (zoom, slippy tile) — heaviest event by quantized value, id
    tie-break — plus the cluster count, at zooms 3/5/7
    (operators/tiles.marker_thinning)."""
    from skyway_spark.operators.tiles import marker_thinning

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        F.col("event_id").alias("id"),
        F.floor(F.col("value") * 100).cast("long").alias("w"),
        (((F.col("user_id") * 7919) % 17000) / 100.0 - 85.0).alias("lat"),
        ((F.col("event_id") * 104729) % 36000 / 100.0 - 180.0).alias("lon"),
    )
    return marker_thinning(pts, zooms=MARKER_ZOOMS)


def _marker_thinning_sql() -> str:
    parts = []
    for z in MARKER_ZOOMS:
        tx, ty = _tile_xy_sql("lat", "lon", z)
        parts.append(f"""
            SELECT {z}::INT AS zoom, {tx} AS tile_x, {ty} AS tile_y,
                   COUNT(*) AS n_points,
                   (MAX(ROW(w, event_id)))[2] AS rep_id,
                   (MAX(ROW(w, event_id)))[1] AS rep_w
            FROM pv GROUP BY 1, 2, 3""")
    body = " UNION ALL ".join(parts)
    return f"""
        WITH p AS ({_POINTS_SQL}),
        pv AS (
            SELECT p.event_id, p.lat, p.lon,
                   CAST(floor(e.value * 100) AS BIGINT) AS w
            FROM p JOIN events e USING (event_id))
        {body}
    """


POSTING_TOP = 50


def q_posting_sizes(spark, sf):
    """Index-size engineering: per term (top-50 by document frequency,
    term tie-break), the byte cost of its posting list raw (8 B/doc)
    vs delta+LEB128-varint encoded — the compression win that decides
    whether a 100 TB corpus's index fits in memory.  Varint length is
    the exact integer staircase 1 + [d>=2^7] + [d>=2^14] + [d>=2^21]
    + [d>=2^28]; deltas come from one per-term sorted window."""
    from pyspark.sql import Window

    (docs,) = _tables(spark, sf, "documents")
    post = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(strhash.words(F.col("text")))
            ).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.lit(1).alias("__one"))
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    deltas = post.select(
        "term",
        (F.col("doc_id") - F.coalesce(F.lag("doc_id").over(w), F.lit(0))).alias("d"),
    )
    vbytes = (
        F.lit(1)
        + (F.col("d") >= (1 << 7)).cast("int")
        + (F.col("d") >= (1 << 14)).cast("int")
        + (F.col("d") >= (1 << 21)).cast("int")
        + (F.col("d") >= (1 << 28)).cast("int")
    )
    agg = deltas.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        (F.count(F.lit(1)) * 8).alias("raw_bytes"),
        F.sum(vbytes.cast("long")).alias("varint_bytes"),
    )
    return agg.orderBy(F.col("df").desc(), "term").limit(POSTING_TOP)


def _posting_sizes_sql() -> str:
    return f"""
        WITH post AS (
            SELECT DISTINCT
                   unnest({_WS_SPLIT}) AS term,
                   doc_id
            FROM documents),
        d AS (
            SELECT term,
                   doc_id - COALESCE(LAG(doc_id) OVER (PARTITION BY term
                                                       ORDER BY doc_id), 0)
                       AS dlt
            FROM post),
        a AS (
            SELECT term, COUNT(*)::BIGINT AS df,
                   (COUNT(*) * 8)::BIGINT AS raw_bytes,
                   (SUM(1 + (dlt >= 128)::INT + (dlt >= 16384)::INT
                        + (dlt >= 2097152)::INT
                        + (dlt >= 268435456)::INT))::BIGINT AS varint_bytes
            FROM d GROUP BY term)
        SELECT term, df, raw_bytes, varint_bytes
        FROM a ORDER BY df DESC, term LIMIT {POSTING_TOP}
    """


LOS_OBS, LOS_TOP, LOS_TOWER = 3, 12, 50
VOR_SEEDS = 5
BFS_MIN_LINKS, BFS_MAX_HOPS = 3, 6


def q_line_of_sight(spark, sf):
    """Integer viewshed between the hottest event cells: observer =
    top-3 cells, targets = ranks 4-12; terrain is the deterministic
    hash height h(x,y) = (x*7919 + y*104729) % 1000; the DDA sightline
    walk flags blocking cells with the division-free interpolation
    compare (operators/spatialstats.line_of_sight)."""
    from pyspark.sql import Window

    from skyway_spark.operators.spatialstats import line_of_sight

    (ev,) = _tables(spark, sf, "events")
    cells_df = ev.groupBy(
        (((F.col("user_id") * 7919) % 17000) / F.lit(100)).cast("long").alias("cx"),
        (((F.col("event_id") * 104729) % 36000) / F.lit(100)).cast("long").alias("cy"),
    ).agg(F.count(F.lit(1)).alias("n"))
    ranked = cells_df.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("n").desc(), "cx", "cy")
        ),
    ).where(F.col("rk") <= LOS_TOP)
    obs = ranked.where(F.col("rk") <= LOS_OBS).select(
        F.col("cx").alias("ax"), F.col("cy").alias("ay"), F.col("rk").alias("o_rk")
    )
    tgt = ranked.where(F.col("rk") > LOS_OBS).select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"), F.col("rk").alias("t_rk")
    )
    pairs = F.broadcast(obs).crossJoin(tgt)

    def h(x, y):
        return F.pmod(x * 7919 + y * 104729, F.lit(1000))

    return line_of_sight(pairs, h, tower=LOS_TOWER).select(
        "o_rk", "t_rk", "ax", "ay", "bx", "by", "steps", "n_blockers", "visible"
    )


def _line_of_sight_sql() -> str:
    return f"""
        WITH pts AS (
            SELECT ((user_id * 7919) % 17000) // 100 AS cx,
                   ((event_id * 104729) % 36000) // 100 AS cy
            FROM events),
        cg AS (SELECT cx, cy, COUNT(*) AS n FROM pts GROUP BY 1, 2),
        rk AS (SELECT cx, cy,
                      ROW_NUMBER() OVER (ORDER BY n DESC, cx, cy) AS rk
               FROM cg QUALIFY rk <= {LOS_TOP}),
        pr AS (
            SELECT o.rk AS o_rk, t.rk AS t_rk,
                   o.cx AS ax, o.cy AS ay, t.cx AS bx, t.cy AS by,
                   greatest(abs(t.cx - o.cx), abs(t.cy - o.cy)) AS steps,
                   greatest(greatest(abs(t.cx - o.cx), abs(t.cy - o.cy)), 1)
                       AS s1,
                   CASE WHEN t.cx > o.cx THEN 1 WHEN t.cx < o.cx THEN -1
                        ELSE 0 END AS sx,
                   CASE WHEN t.cy > o.cy THEN 1 WHEN t.cy < o.cy THEN -1
                        ELSE 0 END AS sy,
                   ((o.cx * 7919 + o.cy * 104729) % 1000 + 1000) % 1000 AS ha,
                   ((t.cx * 7919 + t.cy * 104729) % 1000 + 1000) % 1000 AS hb
            FROM rk o JOIN rk t ON o.rk <= {LOS_OBS} AND t.rk > {LOS_OBS}),
        walk AS (
            SELECT p.*, k,
                   p.ax + p.sx * ((2 * k * abs(p.bx - p.ax) + p.s1)
                                  // (2 * p.s1)) AS wx,
                   p.ay + p.sy * ((2 * k * abs(p.by - p.ay) + p.s1)
                                  // (2 * p.s1)) AS wy
            FROM pr p, unnest(range(1, greatest(p.steps, 1))) r(k)
            WHERE p.steps >= 2),
        blk AS (
            SELECT o_rk, t_rk,
                   COUNT(*) FILTER (
                       ((wx * 7919 + wy * 104729) % 1000 + 1000) % 1000 * s1
                       > (ha + {LOS_TOWER}) * (s1 - k) + hb * k) AS nb
            FROM walk GROUP BY 1, 2)
        SELECT p.o_rk::INT AS o_rk, p.t_rk::INT AS t_rk,
               p.ax, p.ay, p.bx, p.by, p.steps::INT AS steps,
               COALESCE(b.nb, 0)::INT AS n_blockers,
               COALESCE(b.nb, 0) = 0 AS visible
        FROM pr p LEFT JOIN blk b USING (o_rk, t_rk)
    """


MIX_TARGETS = {"src0": 40, "src1": 25, "src2": 20, "src3": 10, "src4": 5}


def q_data_mixture(spark, sf):
    """Training-mixture planning: given per-source whitespace-token
    inventories and target mixture percentages, the largest total
    budget B such that every source can fill its share (B = min over
    sources of tokens*100/pct, integer floor), each source's quota,
    and its fill rate in basis points — the static data-mixing
    arithmetic, all integer."""
    (docs,) = _tables(spark, sf, "documents")
    tgt = spark.createDataFrame(
        sorted(MIX_TARGETS.items()), "source string, target_pct long"
    )
    inv = docs.groupBy("source").agg(
        F.sum(textstats.whitespace_token_count(F.col("text"))).alias("tokens")
    )
    j = inv.join(F.broadcast(tgt), "source")
    budget = j.agg(
        F.min(F.floor(F.col("tokens") * 100 / F.col("target_pct")).cast("long")).alias("b")
    )
    out = j.crossJoin(F.broadcast(budget)).select(
        "source",
        "tokens",
        "target_pct",
        F.col("b").alias("budget"),
        (F.col("b") * F.col("target_pct") / 100).cast("long").alias("quota"),
        (
            (F.col("b") * F.col("target_pct") / 100).cast("long")
            * 10000
            / F.col("tokens")
        )
        .cast("long")
        .alias("fill_bp"),
    )
    return out


def _data_mixture_sql() -> str:
    vals = ", ".join(f"('{k}', {v})" for k, v in sorted(MIX_TARGETS.items()))
    return f"""
        WITH inv AS (
            SELECT source,
                   (SUM(len({_WS_SPLIT})))::BIGINT
                       AS tokens
            FROM documents GROUP BY 1),
        tgt AS (SELECT * FROM (VALUES {vals}) v(source, target_pct)),
        j AS (SELECT i.source, i.tokens, t.target_pct::BIGINT AS target_pct
              FROM inv i JOIN tgt t USING (source)),
        b AS (SELECT MIN(tokens * 100 // target_pct)::BIGINT AS budget FROM j)
        SELECT j.source, j.tokens, j.target_pct, b.budget,
               (b.budget * j.target_pct // 100)::BIGINT AS quota,
               ((b.budget * j.target_pct // 100) * 10000 // j.tokens)::BIGINT
                   AS fill_bp
        FROM j, b
    """


def q_dead_links(spark, sf):
    """Dead-link rate per destination host under a PARTIAL crawl:
    pages with id % 5 == 0 are uncrawled, so anchors targeting them
    are dead — the crawl-completeness metric (left join on the crawled
    url dimension; counts only shuffle)."""
    from skyway_spark.operators import weblinks

    pages = _linked_pages(spark)
    links = weblinks.extract_links(pages)
    pid = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
    known = (
        pages.where(pid % 5 != 0)
        .select(F.col("url").alias("href"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    marked = links.join(known, "href", "left")
    return marked.groupBy("dst_host").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)).alias("n_dead"),
    )


def _dead_links_sql() -> str:
    from skyway_spark.sources import generate as g

    H = g.LINK_HOSTS
    return f"""
        WITH l AS ({_linked_links_sql(LINKED_PAGES_N)}),
        known AS (
            SELECT 'https://h' || (i % {H}) || '.example/p/' || i AS u
            FROM range(0, {LINKED_PAGES_N}) t(i) WHERE i % 5 != 0)
        SELECT dst_host, COUNT(*)::BIGINT AS n_links,
               (SUM(CASE WHEN k.u IS NULL THEN 1 ELSE 0 END))::BIGINT AS n_dead
        FROM l LEFT JOIN known k ON k.u = l.href
        GROUP BY 1
    """


def q_focal_stats(spark, sf):
    """Raster map-algebra focal statistics (3x3 queen+self window
    sum/max/min/occupancy) over the integer event-cell grid — the
    scatter/gather stencil: cells explode into their 9 window
    memberships, ONE groupBy on the window center, one join back
    (operators/spatialstats.focal_stats)."""
    from skyway_spark.operators import spatialstats

    cells = spatialstats.cell_counts(_event_cells_int(spark, sf).drop("ts"))
    return spatialstats.focal_stats(cells)


def q_voronoi(spark, sf):
    """Discrete Voronoi partition of the event-cell raster around its
    5 hottest cells (nearest-facility assignment): seeds broadcast,
    per-cell argmin is one map-side-combined min(struct(d2, rk))
    groupBy — no window, no sort
    (operators/spatialstats.discrete_voronoi)."""
    from pyspark.sql import Window

    from skyway_spark.operators import spatialstats

    cells = spatialstats.cell_counts(
        _event_cells_int(spark, sf).drop("ts")
    ).localCheckpoint(eager=True)
    seeds = (
        cells.withColumn(
            "seed_rk",
            F.row_number().over(Window.orderBy(F.col("x").desc(), "cx", "cy")),
        )
        .where(F.col("seed_rk") <= VOR_SEEDS)
        .select(F.col("cx").alias("sx"), F.col("cy").alias("sy"), "seed_rk")
    )
    return spatialstats.discrete_voronoi(cells, seeds)


def _voronoi_sql() -> str:
    return f"""
        WITH pts AS (
            SELECT ((user_id * 7919) % 17000) // 100 AS cx,
                   ((event_id * 104729) % 36000) // 100 AS cy
            FROM events),
        cells AS MATERIALIZED (
            SELECT cx, cy, COUNT(*) AS x FROM pts GROUP BY 1, 2),
        seeds AS (
            SELECT * FROM (
                SELECT cx AS sx, cy AS sy,
                       (row_number() OVER (ORDER BY x DESC, cx, cy))::INT
                           AS seed_rk
                FROM cells)
            WHERE seed_rk <= {VOR_SEEDS}),
        j AS (
            SELECT c.cx, c.cy, c.x, s.seed_rk,
                   ((c.cx - s.sx) * (c.cx - s.sx)
                    + (c.cy - s.sy) * (c.cy - s.sy))::BIGINT AS d2
            FROM cells c CROSS JOIN seeds s),
        r AS (SELECT *, row_number() OVER (
                  PARTITION BY cx, cy ORDER BY d2, seed_rk) AS rn
              FROM j)
        SELECT cx, cy, x, seed_rk, d2 FROM r WHERE rn = 1
    """


def q_bfs_hops(spark, sf):
    """BFS shortest-hop distances (bounded to 6 levels) from the
    top-outlinking host over the strong host link graph, with the
    shortest-path fan-in per node — frontier-expansion BFS with
    localCheckpoint lineage truncation (operators/graph.bfs_hops);
    oracle = bounded recursive CTE + MIN(hop)."""
    from pyspark.sql import Window

    from skyway_spark.operators.graph import bfs_hops
    from skyway_spark.operators.weblinks import extract_links, host_graph

    hg = (
        host_graph(extract_links(_linked_pages(spark)))
        .where(F.col("n_links") >= BFS_MIN_LINKS)
        .localCheckpoint(eager=True)
    )
    root = (
        hg.groupBy("src_host")
        .agg(F.sum("n_links").alias("tot"))
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.col("tot").desc(), "src_host")),
        )
        .where(F.col("rk") == 1)
        .select(F.col("src_host").alias("node"))
    )
    return bfs_hops(hg, root, src="src_host", dst="dst_host", max_hops=BFS_MAX_HOPS)


def _bfs_hops_sql() -> str:
    return f"""
        WITH RECURSIVE l AS ({_linked_links_sql(LINKED_PAGES_N)}),
        hg AS MATERIALIZED (
            SELECT src_host, dst_host, COUNT(*) AS n_links FROM l
            GROUP BY 1, 2 HAVING COUNT(*) >= {BFS_MIN_LINKS}),
        root AS (
            SELECT node FROM (
                SELECT src_host AS node,
                       row_number() OVER (
                           ORDER BY (SUM(n_links))::BIGINT DESC, src_host) AS rk
                FROM hg GROUP BY src_host)
            WHERE rk = 1),
        reach(node, hop) AS (
            SELECT node, 0 FROM root
            UNION
            SELECT hg.dst_host, r.hop + 1
            FROM reach r JOIN hg ON hg.src_host = r.node
            WHERE r.hop < {BFS_MAX_HOPS}),
        vis AS MATERIALIZED (
            SELECT node, MIN(hop) AS hop FROM reach GROUP BY 1),
        par AS (
            SELECT v.node, v.hop, COUNT(DISTINCT p.node) AS n_parents
            FROM vis v
            JOIN hg ON hg.dst_host = v.node
            JOIN vis p ON p.node = hg.src_host AND p.hop = v.hop - 1
            GROUP BY 1, 2)
        SELECT v.node, v.hop, (COALESCE(p.n_parents, 0))::BIGINT AS n_parents
        FROM vis v LEFT JOIN par p ON p.node = v.node AND p.hop = v.hop
    """


RESAMPLE_STEP_US = 21_600_000_000  # 6 h
DILATE_THR, DILATE_R = 4, 2
MK_TOP = 20


def q_dilate(spark, sf):
    """Morphological dilation (radius-2 Chebyshev buffer) of the hot
    event cells (count >= 4): scatter/gather stencil over the
    aggregate-sized source set, min-distance + coverage per buffered
    cell (operators/spatialstats.dilate_cells)."""
    from skyway_spark.operators import spatialstats

    cells = spatialstats.cell_counts(_event_cells_int(spark, sf).drop("ts"))
    src = cells.where(F.col("x") >= DILATE_THR).select("cx", "cy")
    return spatialstats.dilate_cells(src, radius=DILATE_R)


def _dilate_sql() -> str:
    return f"""
        WITH pts AS (
            SELECT ((user_id * 7919) % 17000) // 100 AS cx,
                   ((event_id * 104729) % 36000) // 100 AS cy
            FROM events),
        cells AS (SELECT cx, cy, COUNT(*) AS x FROM pts GROUP BY 1, 2),
        src AS (SELECT cx, cy FROM cells WHERE x >= {DILATE_THR}),
        scat AS (
            SELECT s.cx + o.dx AS cx, s.cy + o.dy AS cy,
                   GREATEST(ABS(o.dx), ABS(o.dy))::BIGINT AS d
            FROM src s
            CROSS JOIN (SELECT tx.dx, ty.dy
                        FROM range({-DILATE_R}, {DILATE_R + 1}) tx(dx),
                             range({-DILATE_R}, {DILATE_R + 1}) ty(dy)) o)
        SELECT cx, cy, MIN(d) AS d_cheb, COUNT(*) AS n_sources
        FROM scat GROUP BY 1, 2
    """


LPA_ITERS = 3


def q_label_communities(spark, sf):
    """Functional-region detection: synchronous min-tie
    label-propagation communities (3 rounds) over the mobility
    transition graph — an edge per user's consecutive event-cell
    move (the OD-flow partitioning technique for carving a city into
    regions); rolled up to a (label, n_cells) community census.
    The dense host LINK graph is the wrong substrate (mode-voting
    floods it to one label in 2 rounds — measured); the movement
    graph has per-column structure and stays plural
    (operators/graph.label_propagation); oracle unrolls the 3
    mode-vote rounds in SQL."""
    from pyspark.sql import Window

    from skyway_spark.operators.graph import label_propagation

    (ev,) = _tables(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cx = (((F.col("user_id") * 7919) % 17000) / F.lit(100)).cast("long")
    cy = (((F.col("event_id") * 104729) % 36000) / F.lit(100)).cast("long")
    steps = (
        ev.select(
            "user_id", "ts", "event_id",
            (cx * 1000 + cy).alias("node"),
        )
        .withColumn("nxt", F.lead("node").over(w))
        .where(F.col("nxt").isNotNull() & (F.col("nxt") != F.col("node")))
    )
    lab = label_propagation(
        steps.select(F.col("node").alias("src"), F.col("nxt").alias("dst")),
        iters=LPA_ITERS,
    )
    return lab.groupBy("label").agg(F.count(F.lit(1)).alias("n_cells"))


def _label_communities_sql() -> str:
    sql = """
        WITH pts AS (
            SELECT user_id, ts, event_id,
                   (((user_id * 7919) % 17000) // 100) * 1000
                       + ((event_id * 104729) % 36000) // 100 AS node
            FROM events),
        st AS (
            SELECT node, LEAD(node) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS nxt
            FROM pts),
        e0 AS (SELECT DISTINCT node AS a, nxt AS b FROM st
               WHERE nxt IS NOT NULL AND nxt <> node),
        und AS (SELECT a, b FROM e0
                UNION SELECT b AS a, a AS b FROM e0),
        lab0 AS (SELECT DISTINCT a AS node, a AS label FROM und)"""
    for t in range(1, LPA_ITERS + 1):
        sql += f""",
        v{t} AS (SELECT u.a AS node, p.label, COUNT(*) AS c
                 FROM und u JOIN lab{t - 1} p ON p.node = u.b
                 GROUP BY 1, 2),
        w{t} AS (SELECT node, label FROM (
                     SELECT node, label, ROW_NUMBER() OVER (
                         PARTITION BY node ORDER BY c DESC, label) AS rk
                     FROM v{t})
                 WHERE rk = 1),
        lab{t} AS (SELECT p.node, COALESCE(w.label, p.label) AS label
                   FROM lab{t - 1} p LEFT JOIN w{t} w ON w.node = p.node)"""
    sql += f"""
        SELECT label, COUNT(*) AS n_cells
        FROM lab{LPA_ITERS} GROUP BY label
    """
    return sql


def q_minhash_error(spark, sf):
    """MinHash calibration audit over ground-truth pairs (exact copies
    and first-char near copies, the docs2 construction): 16-perm
    signature estimate vs exact shingle Jaccard, absolute error
    histogrammed in 5-percent-point integer buckets per pair type
    (operators/dedup.minhash_error_histogram)."""
    from skyway_spark.operators.dedup import minhash_error_histogram

    (docs,) = _tables(spark, sf, "documents")
    exact = docs.where(F.col("doc_id") % 7 == 0).select(
        F.lit("exact").alias("pair_type"),
        F.col("text").alias("text_a"),
        F.col("text").alias("text_b"),
    )
    near = docs.where(F.col("doc_id") % 5 == 0).select(
        F.lit("near").alias("pair_type"),
        F.col("text").alias("text_a"),
        F.expr("concat('Z', substring(text, 2))").alias("text_b"),
    )
    return minhash_error_histogram(exact.unionByName(near))


def _minhash_error_sql(bucket_pp: int = 5) -> str:
    sig = lambda g: "[" + ", ".join(
        f"list_min(list_transform({g}, x -> (x * {a} + {b}) % {_PR}))"
        for a, b in dedup.MINHASH_PERMS
    ) + "]"
    P = len(dedup.MINHASH_PERMS)
    return f"""
        WITH pairs AS (
            SELECT 'exact' AS pair_type, text AS text_a, text AS text_b
            FROM documents WHERE doc_id % 7 = 0
            UNION ALL
            SELECT 'near', text, 'Z' || substring(text, 2)
            FROM documents WHERE doc_id % 5 = 0),
        tok AS (
            SELECT pair_type,
                   list_transform(string_split(text_a, ' '),
                                  tok -> {_sql_token_hash('tok')}) AS tha,
                   list_transform(string_split(text_b, ' '),
                                  tok -> {_sql_token_hash('tok')}) AS thb
            FROM pairs),
        g AS (
            SELECT pair_type,
                   {_sql_word_shingles('tha')} AS ga,
                   {_sql_word_shingles('thb')} AS gb
            FROM tok),
        s AS (
            SELECT pair_type, ga, gb,
                   {sig('ga')} AS sa, {sig('gb')} AS sb
            FROM g),
        m AS (
            SELECT pair_type,
                   len(list_filter(range(1, {P} + 1),
                                   k -> sa[k::INT] = sb[k::INT]))::BIGINT AS m,
                   len(list_intersect(ga, gb))::BIGINT AS i,
                   (len(ga) + len(gb) - len(list_intersect(ga, gb)))::BIGINT
                       AS u
            FROM s),
        e AS (
            SELECT pair_type,
                   (abs(m * u - {P} * i) * 100 // ({P} * u))::BIGINT AS e
            FROM m)
        SELECT pair_type, (e // {bucket_pp})::BIGINT AS err_bucket,
               COUNT(*)::BIGINT AS n_pairs, (MAX(e))::BIGINT AS max_err_pp
        FROM e GROUP BY 1, 2
    """


EHS_RES, EHS_DAYS, EHS_THR = 500, 6, 3


def q_emerging_hotspots(spark, sf):
    """Emerging hot-spot classification (the space-time-cube analysis,
    ArcGIS-style, in crisp integer rules): per (res-500 cell, 6-day
    period) counts on a FILLED cell x period grid, hot = count >= 3,
    Mann-Kendall S over each cell's period series, then the
    category ladder — new / persistent / intensifying / diminishing /
    sporadic — for every cell with at least one hot period.  Census
    (category, n_cells, sum_events).  Composes cell_counts-style
    aggregation + the q_mann_kendall pair logic; every rule is an
    integer comparison, so the census is engine-exact."""
    (ev,) = _tables(spark, sf, "events")
    cx = (((F.col("user_id") * 7919) % 17000) / F.lit(EHS_RES)).cast("long")
    cy = (((F.col("event_id") * 104729) % 36000) / F.lit(EHS_RES)).cast("long")
    wk = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").cast(
        "long"
    ) / F.lit(EHS_DAYS)
    pts = ev.select(cx.alias("cx"), cy.alias("cy"), wk.cast("long").alias("w"))
    counts = pts.groupBy("cx", "cy", "w").agg(F.count(F.lit(1)).alias("y"))
    weeks = counts.select("w").distinct()
    wmax = counts.agg(F.max("w").alias("wmax"))
    # fill the grid for cells that are ever hot
    hot_cells = counts.where(F.col("y") >= EHS_THR).select("cx", "cy").distinct()
    grid = (
        hot_cells.crossJoin(F.broadcast(weeks))
        .join(counts, ["cx", "cy", "w"], "left")
        .select("cx", "cy", "w", F.coalesce("y", F.lit(0)).alias("y"))
        .localCheckpoint(eager=True)
    )
    a = grid.select("cx", "cy", F.col("w").alias("wa"), F.col("y").alias("ya"))
    b = grid.select("cx", "cy", F.col("w").alias("wb"), F.col("y").alias("yb"))
    mk = (
        a.join(b, ["cx", "cy"])
        .where(F.col("wa") < F.col("wb"))
        .groupBy("cx", "cy")
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            ).cast("long").alias("s")
        )
    )
    flags = grid.crossJoin(F.broadcast(wmax)).groupBy("cx", "cy").agg(
        F.sum(F.when(F.col("y") >= EHS_THR, 1).otherwise(0))
        .cast("long").alias("n_hot"),
        F.max(
            F.when((F.col("w") == F.col("wmax")) & (F.col("y") >= EHS_THR), 1)
            .otherwise(0)
        ).cast("long").alias("hot_last"),
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
        F.sum("y").cast("long").alias("total"),
    )
    j = flags.join(mk, ["cx", "cy"])
    cat = (
        F.when((F.col("n_hot") == 1) & (F.col("hot_last") == 1), "new")
        .when(
            (F.col("n_hot") * 5 >= F.col("n_weeks") * 4)
            & (F.abs(F.col("s")) <= 2),
            "persistent",
        )
        .when((F.col("s") > 0) & (F.col("hot_last") == 1), "intensifying")
        .when((F.col("s") < 0) & (F.col("hot_last") == 0), "diminishing")
        .otherwise("sporadic")
    )
    return j.select(cat.alias("category"), "total").groupBy("category").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("total").cast("long").alias("sum_events"),
    )


def _emerging_hotspots_sql() -> str:
    return f"""
        WITH pts AS (
            SELECT ((user_id * 7919) % 17000) // {EHS_RES} AS cx,
                   ((event_id * 104729) % 36000) // {EHS_RES} AS cy,
                   (epoch_us(ts) // 86400000000) // {EHS_DAYS} AS w
            FROM events),
        counts AS MATERIALIZED (
            SELECT cx, cy, w, COUNT(*) AS y FROM pts GROUP BY 1, 2, 3),
        weeks AS (SELECT DISTINCT w FROM counts),
        wmax AS (SELECT MAX(w) AS wmax FROM counts),
        hot_cells AS (SELECT DISTINCT cx, cy FROM counts WHERE y >= {EHS_THR}),
        grid AS MATERIALIZED (
            SELECT h.cx, h.cy, weeks.w, COALESCE(c.y, 0) AS y
            FROM hot_cells h CROSS JOIN weeks
            LEFT JOIN counts c
              ON c.cx = h.cx AND c.cy = h.cy AND c.w = weeks.w),
        mk AS (
            SELECT a.cx, a.cy,
                   (SUM(CASE WHEN b.y > a.y THEN 1
                             WHEN b.y < a.y THEN -1 ELSE 0 END))::BIGINT AS s
            FROM grid a JOIN grid b
              ON a.cx = b.cx AND a.cy = b.cy AND a.w < b.w
            GROUP BY 1, 2),
        flags AS (
            SELECT cx, cy,
                   (SUM(CASE WHEN y >= {EHS_THR} THEN 1 ELSE 0
                        END))::BIGINT AS n_hot,
                   (MAX(CASE WHEN w = (SELECT wmax FROM wmax)
                                  AND y >= {EHS_THR} THEN 1 ELSE 0
                        END))::BIGINT AS hot_last,
                   COUNT(*)::BIGINT AS n_weeks,
                   (SUM(y))::BIGINT AS total
            FROM grid GROUP BY 1, 2),
        j AS (
            SELECT f.*, mk.s,
                   CASE WHEN f.n_hot = 1 AND f.hot_last = 1 THEN 'new'
                        WHEN f.n_hot * 5 >= f.n_weeks * 4
                             AND abs(mk.s) <= 2 THEN 'persistent'
                        WHEN mk.s > 0 AND f.hot_last = 1 THEN 'intensifying'
                        WHEN mk.s < 0 AND f.hot_last = 0 THEN 'diminishing'
                        ELSE 'sporadic' END AS category
            FROM flags f JOIN mk ON mk.cx = f.cx AND mk.cy = f.cy)
        SELECT category, COUNT(*)::BIGINT AS n_cells,
               (SUM(total))::BIGINT AS sum_events
        FROM j GROUP BY category
    """


PERC_THR = 4


def q_hot_percolation(spark, sf):
    """Site-percolation census of the hot-cell mask (count >= 4):
    rook-adjacency connected components over hot cells (isolated hot
    cells self-loop so they register as singleton clusters) —
    contiguity structure of the hot mask, the percolation companion
    to q_join_counts; output (n_hot, n_clusters, max_cluster,
    n_singletons) (operators/graph.connected_components over the
    aggregate-sized mask).  Oracle: recursive-CTE reachability."""
    from skyway_spark.operators import spatialstats
    from skyway_spark.operators.graph import connected_components

    cells = spatialstats.cell_counts(_event_cells_int(spark, sf).drop("ts"))
    hot = cells.where(F.col("x") >= PERC_THR).select(
        (F.col("cx") * 1000 + F.col("cy")).alias("v"), "cx", "cy"
    ).localCheckpoint(eager=True)
    b = hot.select(
        F.col("cx").alias("bx"), F.col("cy").alias("by"),
        F.col("v").alias("w"),
    )
    east = hot.join(
        b, (F.col("cx") + 1 == F.col("bx")) & (F.col("cy") == F.col("by"))
    ).select("v", "w")
    north = hot.join(
        b, (F.col("cx") == F.col("bx")) & (F.col("cy") + 1 == F.col("by"))
    ).select("v", "w")
    selfe = hot.select("v", F.col("v").alias("w"))
    cc = connected_components(
        east.unionByName(north).unionByName(selfe), src="v", dst="w"
    )
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.agg(
        F.sum("sz").cast("long").alias("n_hot"),
        F.count(F.lit(1)).alias("n_clusters"),
        F.max("sz").cast("long").alias("max_cluster"),
        F.sum(F.when(F.col("sz") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_singletons"),
    )


def _hot_percolation_sql() -> str:
    return f"""
        WITH RECURSIVE cells AS (
            SELECT cx, cy, cx * 1000 + cy AS v
            FROM (SELECT ((user_id * 7919) % 17000) // 100 AS cx,
                         ((event_id * 104729) % 36000) // 100 AS cy
                  FROM events)
            GROUP BY cx, cy HAVING COUNT(*) >= {PERC_THR}),
        adj AS (
            SELECT a.v AS s, b.v AS t FROM cells a JOIN cells b
              ON (b.cx = a.cx + 1 AND b.cy = a.cy)
              OR (b.cx = a.cx AND b.cy = a.cy + 1)),
        e AS (SELECT s, t FROM adj
              UNION SELECT t, s FROM adj
              UNION SELECT v, v FROM cells),
        reach(s, t) AS (
            SELECT s, t FROM e
            UNION
            SELECT r.s, e2.t FROM reach r JOIN e e2 ON r.t = e2.s),
        lab AS (SELECT s AS node, LEAST(s, MIN(t)) AS component
                FROM reach GROUP BY s),
        sizes AS (SELECT component, COUNT(*) AS sz FROM lab GROUP BY 1)
        SELECT (SUM(sz))::BIGINT AS n_hot,
               COUNT(*)::BIGINT AS n_clusters,
               (MAX(sz))::BIGINT AS max_cluster,
               (SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END))::BIGINT
                   AS n_singletons
        FROM sizes
    """


def q_radius_gyration(spark, sf):
    """Per-user radius of gyration (Gonzalez/Hidalgo/Barabasi, the
    mobility-range classic): rg^2 in cleared-integer form
    n*sum(x^2+y^2) - (sum x)^2 - (sum y)^2 over n^2 — ONE
    map-side-combined groupBy, one double division."""
    (ev,) = _tables(spark, sf, "events")
    x = (F.col("user_id") * 7919 + F.col("event_id") * 131) % 17000
    y = (F.col("event_id") * 104729) % 36000
    pts = ev.select("user_id", x.alias("x"), y.alias("y"))
    mom = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x") + F.col("y") * F.col("y"))
        .cast("long")
        .alias("sq"),
    )
    num = (
        F.col("n") * F.col("sq")
        - F.col("sx") * F.col("sx")
        - F.col("sy") * F.col("sy")
    )
    den = F.col("n") * F.col("n")
    return mom.select(
        "user_id",
        F.col("n").alias("n_points"),
        num.alias("rg2_num"),
        den.alias("rg2_den"),
        (num.cast("double") / den.cast("double")).alias("rg2"),
    )


def _radius_gyration_sql() -> str:
    return """
        WITH pts AS (
            SELECT user_id,
                   (user_id * 7919 + event_id * 131) % 17000 AS x,
                   (event_id * 104729) % 36000 AS y
            FROM events),
        mom AS (
            SELECT user_id, COUNT(*)::BIGINT AS n,
                   (SUM(x))::BIGINT AS sx, (SUM(y))::BIGINT AS sy,
                   (SUM(x * x + y * y))::BIGINT AS sq
            FROM pts GROUP BY user_id)
        SELECT user_id, n AS n_points,
               (n * sq - sx * sx - sy * sy)::BIGINT AS rg2_num,
               (n * n)::BIGINT AS rg2_den,
               (n * sq - sx * sx - sy * sy)::DOUBLE / (n * n)::DOUBLE AS rg2
        FROM mom
    """


def q_jump_sizes(spark, sf):
    """Displacement (jump-size) distribution across consecutive
    per-user moves — the Levy-flight diagnostic: Chebyshev step
    lengths bucketed to power-of-two bands via an exact integer CASE
    ladder (no float log2 boundary risk); histogram
    (bucket, n_jumps, min_d, max_d)."""
    from pyspark.sql import Window

    (ev,) = _tables(spark, sf, "events")
    x = (F.col("user_id") * 7919 + F.col("event_id") * 131) % 17000
    y = (F.col("event_id") * 104729) % 36000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = ev.select("user_id", "ts", "event_id", x.alias("x"), y.alias("y"))
    d = F.greatest(
        F.abs(F.col("x") - F.lag("x").over(w)),
        F.abs(F.col("y") - F.lag("y").over(w)),
    )
    moves = pts.select(d.alias("d")).where(F.col("d").isNotNull())
    bucket = F.when(F.col("d") == 0, F.lit(-1))
    for k in range(16):
        bucket = bucket.when(F.col("d") < (1 << (k + 1)), F.lit(k))
    bucket = bucket.otherwise(F.lit(16)).cast("int")
    return moves.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_jumps"),
        F.min("d").cast("long").alias("min_d"),
        F.max("d").cast("long").alias("max_d"),
    )


def _jump_sizes_sql() -> str:
    ladder = " ".join(
        f"WHEN d < {1 << (k + 1)} THEN {k}" for k in range(16)
    )
    return f"""
        WITH pts AS (
            SELECT user_id, ts, event_id,
                   (user_id * 7919 + event_id * 131) % 17000 AS x,
                   (event_id * 104729) % 36000 AS y
            FROM events),
        mv AS (
            SELECT GREATEST(abs(x - LAG(x) OVER w), abs(y - LAG(y) OVER w))
                       AS d
            FROM pts WINDOW w AS (PARTITION BY user_id
                                  ORDER BY ts, event_id)),
        b AS (
            SELECT d,
                   (CASE WHEN d = 0 THEN -1 {ladder} ELSE 16 END)::INT
                       AS bucket
            FROM mv WHERE d IS NOT NULL)
        SELECT bucket, COUNT(*)::BIGINT AS n_jumps,
               (MIN(d))::BIGINT AS min_d, (MAX(d))::BIGINT AS max_d
        FROM b GROUP BY bucket
    """


def q_incremental_dedup(spark, sf):
    """Incremental (daily-crawl) dedup census: the corpus is the full
    documents table; the NEW batch is a dup-augmented view (exact
    copies, near copies, intra-batch repeats of a near copy, and
    fully-rewritten uniques — the docs2 pattern) so every census class
    is populated — exact-hash semi-joins, intra-batch survivor
    window, LSH band probe + shingle Jaccard verify; only the batch
    drives join sizes (operators/dedup.incremental_dedup_census)."""
    from skyway_spark.operators.dedup import incremental_dedup_census

    (docs,) = _tables(spark, sf, "documents")
    o = docs.select("doc_id", "text")
    near = F.concat(F.lit("Z"), F.expr("substring(text, 2)"))
    batch = (
        o.where(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
        .unionByName(
            o.where(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"), near.alias("text")
            )
        )
        .unionByName(
            o.where(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 300000).alias("doc_id"), near.alias("text")
            )
        )
        .unionByName(
            o.where(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 400000).alias("doc_id"),
                F.upper(F.col("text")).alias("text"),
            )
        )
    )
    return incremental_dedup_census(o, batch)


def _incremental_dedup_sql(bands: int = 4, threshold: float = 0.5) -> str:
    rows_per_band = len(dedup.MINHASH_PERMS) // bands
    sig_elems = ", ".join(
        f"list_min(list_transform(g, x -> (x * {a} + {b}) % {_PR}))"
        for a, b in dedup.MINHASH_PERMS
    )

    def band_cte(src_cte, out):
        exprs = []
        for i in range(bands):
            acc = "0::BIGINT"
            for j in range(i * rows_per_band + 1, (i + 1) * rows_per_band + 1):
                acc = f"(({acc}) * 31 + sig[{j}]) % {_HM}"
            exprs.append(
                f"SELECT doc_id, {i} AS band, {acc} AS bh FROM {src_cte}"
            )
        return f"{out} AS ({' UNION ALL '.join(exprs)})"

    jac = (
        "len(list_intersect(ta.g, tb.g))::DOUBLE / "
        "(len(ta.g) + len(tb.g) - len(list_intersect(ta.g, tb.g)))::DOUBLE"
    )
    return f"""
        WITH corpus AS (SELECT doc_id, text FROM documents),
        batch AS (
            SELECT doc_id + 100000 AS doc_id, text FROM documents
            WHERE doc_id % 7 = 0
            UNION ALL
            SELECT doc_id + 200000, 'Z' || substring(text, 2)
            FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            SELECT doc_id + 300000, 'Z' || substring(text, 2)
            FROM documents WHERE doc_id % 10 = 0
            UNION ALL
            SELECT doc_id + 400000, upper(text)
            FROM documents WHERE doc_id % 11 = 0),
        exact_c AS (
            SELECT b.doc_id FROM batch b
            WHERE EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)),
        rest1 AS (
            SELECT b.doc_id, b.text,
                   ROW_NUMBER() OVER (PARTITION BY b.text
                                      ORDER BY b.doc_id) AS rn
            FROM batch b
            WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = b.text)),
        exact_b AS (SELECT doc_id FROM rest1 WHERE rn > 1),
        surv AS (SELECT doc_id, text FROM rest1 WHERE rn = 1),
        tokS AS (SELECT doc_id, {_SQL_TOKEN_HASHES} AS th FROM surv),
        tS AS (SELECT doc_id, {_SQL_WORD_SHINGLES} AS g FROM tokS),
        sS AS (SELECT doc_id, [{sig_elems}] AS sig FROM tS),
        tokC AS (SELECT doc_id, {_SQL_TOKEN_HASHES} AS th FROM corpus),
        tC AS (SELECT doc_id, {_SQL_WORD_SHINGLES} AS g FROM tokC),
        sC AS (SELECT doc_id, [{sig_elems}] AS sig FROM tC),
        {band_cte('sS', 'bndS')},
        {band_cte('sC', 'bndC')},
        cand AS (
            SELECT DISTINCT s.doc_id, c.doc_id AS cid
            FROM bndS s JOIN bndC c ON s.band = c.band AND s.bh = c.bh),
        ver AS (
            SELECT DISTINCT cand.doc_id
            FROM cand
            JOIN tS ta ON ta.doc_id = cand.doc_id
            JOIN tC tb ON tb.doc_id = cand.cid
            WHERE {jac} >= {threshold}),
        uniq AS (
            SELECT s.doc_id FROM surv s
            WHERE NOT EXISTS (SELECT 1 FROM ver v
                              WHERE v.doc_id = s.doc_id)),
        census AS (
            SELECT 'exact_corpus' AS clazz FROM exact_c
            UNION ALL SELECT 'exact_batch' FROM exact_b
            UNION ALL SELECT 'near_corpus' FROM ver
            UNION ALL SELECT 'unique' FROM uniq)
        SELECT clazz, COUNT(*)::BIGINT AS n_docs
        FROM census GROUP BY clazz
    """


# integer-vertex rings (no closing duplicate) for the validity audit:
# the PIP fixture rings 1e7-quantized, plus a clockwise square and a
# self-intersecting bowtie
VALIDITY_RINGS = [
    # (polygon_id, role, [(x, y), ...])  x = lon*1e7, y = lat*1e7
    (1, "outer", [(-500050000, 100050000), (-100050000, 100050000),
                  (-100050000, 300050000), (-500050000, 300050000)]),
    (1, "hole", [(-400050000, 150050000), (-200050000, 150050000),
                 (-200050000, 250050000), (-400050000, 250050000)]),
    (2, "outer", [(1000050000, -200050000), (1200050000, -400050000),
                  (1400050000, -200050000), (1200050000, 50000)]),
    (3, "outer", [(600050000, 400050000), (900050000, 400050000),
                  (750050000, 550050000)]),
    # clockwise square (negative area)
    (4, "outer", [(0, 0), (0, 100000), (100000, 100000), (100000, 0)]),
    # bowtie: segments 0-1 and 2-3 properly cross once
    (5, "outer", [(0, 0), (100000, 100000), (100000, 0), (0, 100000)]),
]


def q_polygon_validity(spark, sf):
    """Geometry ingestion pre-flight: shoelace signed area, winding
    order, and proper self-intersection count per ring in exact
    integer arithmetic over the quantized validity fixture (includes
    a clockwise square and a bowtie)
    (operators/geometry.polygon_validity)."""
    from skyway_spark.operators.geometry import polygon_validity

    rows = [
        (pid, role, i, x, y)
        for pid, role, ring in VALIDITY_RINGS
        for i, (x, y) in enumerate(ring)
    ]
    verts = spark.createDataFrame(
        rows, "polygon_id long, role string, i int, x long, y long"
    )
    return polygon_validity(verts)


def _polygon_validity_sql() -> str:
    vals = ", ".join(
        # explicit BIGINT: DuckDB types bare VALUES literals INT32 and
        # the recentered shoelace products overflow 32 bits
        f"({pid}, '{role}', {i}, {x}::BIGINT, {y}::BIGINT)"
        for pid, role, ring in VALIDITY_RINGS
        for i, (x, y) in enumerate(ring)
    )
    return f"""
        WITH v(polygon_id, role, i, x, y) AS (VALUES {vals}),
        n AS (SELECT polygon_id, role, COUNT(*) AS n FROM v GROUP BY 1, 2),
        v0 AS (SELECT polygon_id, role, x AS x0, y AS y0 FROM v WHERE i = 0),
        a AS (
            SELECT v.polygon_id, v.role, v.i, n.n,
                   v.x - v0.x0 AS ax, v.y - v0.y0 AS ay
            FROM v JOIN n USING (polygon_id, role)
                   JOIN v0 USING (polygon_id, role)),
        segs AS MATERIALIZED (
            SELECT a.polygon_id, a.role, a.i, a.n,
                   a.ax, a.ay, b.ax AS bx, b.ay AS by
            FROM a JOIN a b
              ON b.polygon_id = a.polygon_id AND b.role = a.role
             AND b.i = (a.i + 1) % a.n),
        ring AS (
            SELECT polygon_id, role, MAX(n)::INT AS n_vertices,
                   (SUM(ax * by - bx * ay))::BIGINT AS area2
            FROM segs GROUP BY 1, 2),
        pr AS (
            SELECT s.polygon_id, s.role,
                   sign((s.bx - s.ax) * (t.ay - s.ay)
                        - (s.by - s.ay) * (t.ax - s.ax)) AS o1,
                   sign((s.bx - s.ax) * (t.by - s.ay)
                        - (s.by - s.ay) * (t.bx - s.ax)) AS o2,
                   sign((t.bx - t.ax) * (s.ay - t.ay)
                        - (t.by - t.ay) * (s.ax - t.ax)) AS o3,
                   sign((t.bx - t.ax) * (s.by - t.ay)
                        - (t.by - t.ay) * (s.bx - t.ax)) AS o4
            FROM segs s JOIN segs t
              ON t.polygon_id = s.polygon_id AND t.role = s.role
             AND s.i < t.i),
        cr AS (
            SELECT polygon_id, role,
                   (SUM(CASE WHEN o1 * o2 = -1 AND o3 * o4 = -1
                             THEN 1 ELSE 0 END))::BIGINT AS n_crossings
            FROM pr GROUP BY 1, 2)
        SELECT ring.polygon_id::BIGINT AS polygon_id, ring.role,
               ring.n_vertices, ring.area2,
               ring.area2 > 0 AS is_ccw, cr.n_crossings
        FROM ring JOIN cr USING (polygon_id, role)
    """


JC_THR = 4


def q_join_counts(spark, sf):
    """Join-count statistics (BB/BW/WW rook joins) for the binary
    hot-cell mask (count >= 4) over the event grid — binary spatial
    autocorrelation next to morans_i/gearys_c; counts exact, expected
    BB one pinned double (operators/spatialstats.join_counts)."""
    from skyway_spark.operators import spatialstats

    cells = spatialstats.cell_counts(_event_cells_int(spark, sf).drop("ts"))
    return spatialstats.join_counts(cells, hot_threshold=JC_THR)


def _join_counts_sql() -> str:
    return f"""
        WITH cells AS (
            SELECT cx, cy, COUNT(*) >= {JC_THR} AS h
            FROM (SELECT ((user_id * 7919) % 17000) // 100 AS cx,
                         ((event_id * 104729) % 36000) // 100 AS cy
                  FROM events)
            GROUP BY cx, cy),
        pairs AS (
            SELECT a.h AS ha, b.h AS hb
            FROM cells a JOIN cells b
              ON a.cx + 1 = b.cx AND a.cy = b.cy
            UNION ALL
            SELECT a.h, b.h
            FROM cells a JOIN cells b
              ON a.cx = b.cx AND a.cy + 1 = b.cy),
        pc AS (
            SELECT COUNT(*)::BIGINT AS w_pairs,
                   (SUM(CASE WHEN ha AND hb THEN 1 ELSE 0 END))::BIGINT AS n_bb,
                   (SUM(CASE WHEN ha <> hb THEN 1 ELSE 0 END))::BIGINT AS n_bw,
                   (SUM(CASE WHEN NOT ha AND NOT hb THEN 1 ELSE 0
                        END))::BIGINT AS n_ww
            FROM pairs),
        tot AS (
            SELECT COUNT(*)::BIGINT AS n_cells,
                   (SUM(CASE WHEN h THEN 1 ELSE 0 END))::BIGINT AS n_hot
            FROM cells)
        SELECT tot.n_cells, tot.n_hot, pc.w_pairs, pc.n_bb, pc.n_bw, pc.n_ww,
               pc.w_pairs::DOUBLE * tot.n_hot::DOUBLE * (tot.n_hot - 1)::DOUBLE
                   / (tot.n_cells::DOUBLE * (tot.n_cells - 1)::DOUBLE)
                   AS expected_bb
        FROM tot, pc
    """


def q_gini_cells(spark, sf):
    """Gini coefficient of event mass across occupied cells — the
    spatial-concentration summary (reads high here: hot-city skew by
    construction); exact integer num/den + one double division
    (operators/spatialstats.gini_concentration)."""
    from skyway_spark.operators import spatialstats

    cells = spatialstats.cell_counts(_event_cells_int(spark, sf).drop("ts"))
    return spatialstats.gini_concentration(cells)


def _gini_sql() -> str:
    return """
        WITH cells AS (
            SELECT cx, cy, COUNT(*) AS x
            FROM (SELECT ((user_id * 7919) % 17000) // 100 AS cx,
                         ((event_id * 104729) % 36000) // 100 AS cy
                  FROM events)
            GROUP BY cx, cy),
        ranked AS (
            SELECT x, ROW_NUMBER() OVER (ORDER BY x, cx, cy) AS i
            FROM cells),
        mom AS (
            SELECT COUNT(*)::BIGINT AS n,
                   (SUM(x))::BIGINT AS total,
                   (SUM((2 * i - 1) * x))::BIGINT AS s2i
            FROM ranked)
        SELECT n AS n_cells, total,
               (s2i - n * total)::BIGINT AS gini_num,
               (n * total)::BIGINT AS gini_den,
               (s2i - n * total)::DOUBLE / (n * total)::DOUBLE AS gini
        FROM mom
    """


KNOX_TAU_US = 3_600_000_000  # 1 hour


def q_knox(spark, sf):
    """Knox space-time interaction statistic over event cells (res
    100, Chebyshev<=1 spatial / 1 h temporal closeness): space-close
    pairs via 9-offset scatter equi-join, time-close pairs via
    tau-bucketing (same-bucket C(m,2) + adjacent-bucket equi-join) —
    NO global time sort (operators/spatialstats.knox_statistic)."""
    from skyway_spark.operators import spatialstats

    (ev,) = _tables(spark, sf, "events")
    e = ev.select(
        "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("t_us"),
        (((F.col("user_id") * 7919) % 17000) / F.lit(100)).cast("long").alias("cx"),
        (((F.col("event_id") * 104729) % 36000) / F.lit(100)).cast("long").alias("cy"),
    )
    return spatialstats.knox_statistic(e, tau_us=KNOX_TAU_US)


def _knox_sql() -> str:
    tau = KNOX_TAU_US
    return f"""
        WITH e AS MATERIALIZED (
            SELECT event_id AS id, epoch_us(ts) AS t,
                   ((user_id * 7919) % 17000) // 100 AS cx,
                   ((event_id * 104729) % 36000) // 100 AS cy
            FROM events),
        bkt AS (SELECT t // {tau} AS b, t FROM e),
        same AS (
            SELECT (SUM(m * (m - 1) // 2))::BIGINT AS p_same
            FROM (SELECT COUNT(*) AS m FROM bkt GROUP BY b)),
        adj AS (
            SELECT (SUM(CASE WHEN q.t2 - bkt.t <= {tau} THEN 1 ELSE 0
                        END))::BIGINT AS p_adj
            FROM bkt JOIN (SELECT b - 1 AS b, t AS t2 FROM bkt) q
              USING (b)),
        sp AS (
            SELECT a.id, a.t, q.tb
            FROM e a
            JOIN (SELECT id AS idb, t AS tb, cx + o.dx AS cx, cy + o.dy AS cy
                  FROM e CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                            (0,1),(1,-1),(1,0),(1,1)) o(dx, dy)
                 ) q
              ON a.cx = q.cx AND a.cy = q.cy AND a.id < q.idb),
        sc AS (
            SELECT COUNT(*)::BIGINT AS n_s,
                   (SUM(CASE WHEN abs(t - tb) <= {tau} THEN 1 ELSE 0
                        END))::BIGINT AS n_st
            FROM sp),
        tot AS (SELECT COUNT(*)::BIGINT AS n FROM e)
        SELECT tot.n AS n_events,
               (tot.n * (tot.n - 1) // 2)::BIGINT AS n_pairs,
               sc.n_s,
               (same.p_same + adj.p_adj)::BIGINT AS n_t,
               sc.n_st,
               sc.n_s::DOUBLE * (same.p_same + adj.p_adj)::DOUBLE
                   / ((tot.n * (tot.n - 1) // 2))::DOUBLE AS expected_st
        FROM tot, same, adj, sc
    """


DISP_QUADRATS = 170 * 360


def q_dispersion(spark, sf):
    """Quadrat-count index of dispersion (VMR) for the event point
    pattern on the full 170x360 res-100 grid (empty quadrats count):
    cleared-integer moments + one double division; VMR >> 1 here by
    construction (hot-city skew)
    (operators/spatialstats.quadrat_dispersion)."""
    from skyway_spark.operators import spatialstats

    return spatialstats.quadrat_dispersion(
        _event_cells_int(spark, sf).drop("ts"), n_quadrats=DISP_QUADRATS
    )


def _dispersion_sql() -> str:
    nq = DISP_QUADRATS
    return f"""
        WITH cells AS (
            SELECT COUNT(*) AS x
            FROM (SELECT ((user_id * 7919) % 17000) // 100 AS cx,
                         ((event_id * 104729) % 36000) // 100 AS cy
                  FROM events)
            GROUP BY cx, cy),
        mom AS (
            SELECT COUNT(*)::BIGINT AS n_occupied,
                   (SUM(x))::BIGINT AS s,
                   (SUM(x * x))::BIGINT AS sum_sq
            FROM cells)
        SELECT {nq}::BIGINT AS n_quadrats,
               s AS n_points,
               n_occupied,
               sum_sq,
               ({nq} * sum_sq - s * s)::BIGINT AS vmr_num,
               (s * ({nq} - 1))::BIGINT AS vmr_den,
               ({nq} * sum_sq - s * s)::DOUBLE
                   / (s * ({nq} - 1))::DOUBLE AS vmr
        FROM mom
    """


RDV_BEFORE, RDV_AFTER = 8, 9


def q_rendezvous(spark, sf):
    """Rendezvous-hash shard placement audit for growing 8 -> 9
    shards over document ids: per-shard before/after populations +
    moved-in counts; only the NEW shard receives movers (pinned by
    tests) — the consistent-placement property that makes re-sharding
    an append (operators/partitioner.rendezvous_shards)."""
    from skyway_spark.operators.partitioner import rendezvous_shards

    (docs,) = _tables(spark, sf, "documents")
    return rendezvous_shards(
        docs.select("doc_id"), n_before=RDV_BEFORE, n_after=RDV_AFTER
    )


def _rendezvous_sql() -> str:
    # DuckDB: argmax via list_max over [hash, -shard] pairs
    # (lexicographic on nested lists, same tie rule as Spark structs)
    # id reduced mod P before the LCG multiply: every intermediate fits
    # int64 for the whole id domain (partitioner.rendezvous_shards doc)
    def _h(s: int) -> str:
        return (
            f"[(((doc_id % 2147483647) * 131 + {s} * 7919) % 2147483647"
            f" * 1103515245 + 12345) % 2147483647, {-s}]"
        )

    hs_b = ", ".join(_h(s) for s in range(RDV_BEFORE))
    hs_a = ", ".join(_h(s) for s in range(RDV_AFTER))
    return f"""
        WITH a AS (
            SELECT (-list_max([{hs_b}])[2])::INT AS s_before,
                   (-list_max([{hs_a}])[2])::INT AS s_after
            FROM documents),
        aft AS (
            SELECT s_after AS shard,
                   COUNT(*)::BIGINT AS n_after_here,
                   (SUM(CASE WHEN s_before = s_after THEN 0 ELSE 1
                        END))::BIGINT AS n_moved_in
            FROM a GROUP BY 1),
        bef AS (
            SELECT s_before AS shard, COUNT(*)::BIGINT AS n_before_here
            FROM a GROUP BY 1)
        SELECT COALESCE(aft.shard, bef.shard) AS shard,
               COALESCE(bef.n_before_here, 0)::BIGINT AS n_before_here,
               COALESCE(aft.n_after_here, 0)::BIGINT AS n_after_here,
               COALESCE(aft.n_moved_in, 0)::BIGINT AS n_moved_in
        FROM aft FULL JOIN bef ON aft.shard = bef.shard
    """


def q_colocation(spark, sf):
    """Spatial colocation mining over event types on the res-100 cell
    grid: participation-index pairs (exact presence/footprint counts,
    one LEAST of two pinned double divisions)
    (operators/spatialstats.colocation_pairs)."""
    from skyway_spark.operators import spatialstats

    (ev,) = _tables(spark, sf, "events")
    pts = ev.select(
        F.col("event_type").alias("t"),
        (((F.col("user_id") * 7919) % 17000) / F.lit(100)).cast("long").alias("cx"),
        (((F.col("event_id") * 104729) % 36000) / F.lit(100)).cast("long").alias("cy"),
    )
    return spatialstats.colocation_pairs(pts)


def _colocation_sql() -> str:
    return """
        WITH pres AS (
            SELECT DISTINCT event_type AS t,
                   ((user_id * 7919) % 17000) // 100 AS cx,
                   ((event_id * 104729) % 36000) // 100 AS cy
            FROM events),
        foot AS (SELECT t, COUNT(*) AS n FROM pres GROUP BY t),
        both_t AS (
            SELECT a.t AS type_a, b.t AS type_b, COUNT(*) AS n_both
            FROM pres a JOIN pres b
              ON a.cx = b.cx AND a.cy = b.cy AND a.t < b.t
            GROUP BY 1, 2)
        SELECT bo.type_a, bo.type_b, bo.n_both, fa.n AS n_a, fb.n AS n_b,
               LEAST(bo.n_both::DOUBLE / fa.n::DOUBLE,
                     bo.n_both::DOUBLE / fb.n::DOUBLE) AS pi
        FROM both_t bo
        JOIN foot fa ON fa.t = bo.type_a
        JOIN foot fb ON fb.t = bo.type_b
    """


SETCOVER_K = 12


def q_set_cover(spark, sf):
    """Coverage-maximizing corpus selection: greedy set cover over the
    (doc, word-bigram) incidence table (bigrams: the unigram vocab is
    covered by one doc on the fixture), k=12 picks with (gain DESC, doc_id)
    ties and early stop at full coverage — the submodular curation
    primitive (operators/sampling.greedy_set_cover); the oracle
    unrolls the same 12 greedy rounds as a CTE chain."""
    from skyway_spark.operators.sampling import greedy_set_cover

    (docs,) = _tables(spark, sf, "documents")
    return greedy_set_cover(docs, k=SETCOVER_K, ngram=2)


def _set_cover_sql() -> str:
    """House pattern (cf. _lcss_sql / _bellman_sql): Python-generated
    round-unrolled CTE chain — greedy is sequential by definition, so
    the oracle replays the same <= k argmax rounds."""
    sql = f"""
        WITH t AS (
            SELECT doc_id AS doc,
                   {_WS_SPLIT} AS toks
            FROM documents
            WHERE len({_WS_SPLIT}) >= 2),
        ui AS (SELECT doc, toks, unnest(range(1, len(toks))) AS i FROM t),
        dt AS MATERIALIZED (
            SELECT DISTINCT doc, toks[i] || ' ' || toks[i + 1] AS term
            FROM ui),
        cov0 AS (SELECT NULL::VARCHAR AS term WHERE false),
        picks0 AS (SELECT NULL::BIGINT AS doc, NULL::INT AS ord,
                          NULL::BIGINT AS c WHERE false)"""
    for i in range(1, SETCOVER_K + 1):
        sql += f""",
        u{i} AS (
            SELECT dt.doc, dt.term FROM dt
            WHERE NOT EXISTS (SELECT 1 FROM cov{i - 1} c
                              WHERE c.term = dt.term)
              AND NOT EXISTS (SELECT 1 FROM picks{i - 1} p
                              WHERE p.doc = dt.doc)),
        p{i} AS MATERIALIZED (
            SELECT doc, COUNT(*)::BIGINT AS c FROM u{i}
            GROUP BY doc ORDER BY c DESC, doc LIMIT 1),
        cov{i} AS MATERIALIZED (
            SELECT term FROM cov{i - 1}
            UNION
            SELECT dt.term FROM dt JOIN p{i} USING (doc)),
        picks{i} AS MATERIALIZED (
            SELECT * FROM picks{i - 1}
            UNION ALL
            SELECT doc, {i} AS ord, c FROM p{i})"""
    sql += f"""
        SELECT ord AS pick_order, doc AS doc_id, c AS new_terms,
               (SUM(c) OVER (ORDER BY ord))::BIGINT AS covered_total
        FROM picks{SETCOVER_K}
    """
    return sql


DRIFT_TOP = 100


def q_term_drift(spark, sf):
    """Vocabulary drift monitor between two halves of the corpus
    (sources src0-src9 vs the rest, English docs only): integer
    cross-multiplied rate-difference skew per term, top-100 by |skew|
    with deterministic ties (operators/textstats.term_drift)."""
    from skyway_spark.operators.textstats import term_drift

    (docs,) = _tables(spark, sf, "documents")
    en = docs.where(F.col("lang") == "en").withColumn(
        "split_a",
        F.col("source").isin([f"src{i}" for i in range(10)]),
    )
    return term_drift(en, top_k=DRIFT_TOP)


def _term_drift_sql() -> str:
    srcs = ", ".join(f"'src{i}'" for i in range(10))
    return f"""
        WITH t AS (
            SELECT source IN ({srcs}) AS a,
                   unnest({_WS_SPLIT}) AS term
            FROM documents
            WHERE lang = 'en' AND length(trim(text)) > 0),
        per AS (
            SELECT term,
                   (SUM(CASE WHEN a THEN 1 ELSE 0 END))::BIGINT AS c1,
                   (SUM(CASE WHEN a THEN 0 ELSE 1 END))::BIGINT AS c2
            FROM t GROUP BY term),
        tot AS (SELECT (SUM(c1))::BIGINT AS n1, (SUM(c2))::BIGINT AS n2
                FROM per)
        SELECT term, c1, c2,
               (tot.n2 * c1 - tot.n1 * c2)::BIGINT AS skew
        FROM per, tot
        ORDER BY abs(tot.n2 * c1 - tot.n1 * c2) DESC, term
        LIMIT {DRIFT_TOP}
    """


BITEXT_BUCKET = 32


def q_bitext_candidates(spark, sf):
    """Bitext-mining blocking: cross-language same-source document
    pairs with close token lengths — equi-join on (source, length
    bucket) with the exact tolerance-derived bucket-range explode,
    never a within-source cross join
    (operators/textstats.bitext_candidates)."""
    from skyway_spark.operators.textstats import bitext_candidates

    (docs,) = _tables(spark, sf, "documents")
    return bitext_candidates(docs, bucket_tokens=BITEXT_BUCKET)


def _bitext_sql() -> str:
    return f"""
        WITH base AS (
            SELECT source, lang, doc_id AS doc,
                   len({_WS_SPLIT})::BIGINT AS l,
                   (len({_WS_SPLIT})
                    // {BITEXT_BUCKET})::BIGINT AS bk
            FROM documents WHERE length(trim(text)) > 0),
        b AS (
            -- exact admissible partner-length bucket range from the
            -- tolerance: na in [ceil(9*l/11), floor(11*l/9)]
            SELECT source, lang AS lang_b, doc AS doc_b, l AS len_b,
                   unnest(generate_series(((9 * l + 10) // 11) // {BITEXT_BUCKET},
                                          ((11 * l) // 9) // {BITEXT_BUCKET})) AS jb
            FROM base)
        SELECT a.source, a.lang AS lang_a, b.lang_b,
               a.doc AS doc_a, b.doc_b, a.l AS len_a, b.len_b
        FROM base a JOIN b ON a.source = b.source AND a.bk = b.jb
        WHERE a.lang < b.lang_b
          AND abs(a.l - b.len_b) * 10 <= a.l + b.len_b
    """


def q_assortativity(spark, sf):
    """Degree assortativity of the host link graph (Newman r in the
    cleared-denominator all-integer form; web graphs read
    disassortative) — single-row moments + one final double division
    (operators/graph.assortativity)."""
    from skyway_spark.operators import weblinks
    from skyway_spark.operators.graph import assortativity

    links = weblinks.extract_links(_linked_pages(spark))
    return assortativity(
        links.select(
            F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
        )
    )


def _assortativity_sql() -> str:
    return f"""
        WITH l AS ({{links}}),
        e0 AS (SELECT DISTINCT src_host AS a, dst_host AS b FROM l
               WHERE src_host <> dst_host),
        und AS (
            SELECT DISTINCT LEAST(a, b) AS a, GREATEST(a, b) AS b FROM e0),
        sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
        deg AS (SELECT a AS node, COUNT(*)::BIGINT AS d FROM sym GROUP BY 1),
        dec AS (
            SELECT da.d AS j, db.d AS k
            FROM und
            JOIN deg da ON da.node = und.a
            JOIN deg db ON db.node = und.b),
        mom AS (
            SELECT COUNT(*)::BIGINT AS m_edges,
                   (SUM(j * k))::BIGINT AS s_jk,
                   (SUM(j + k))::BIGINT AS s_sum,
                   (SUM(j * j + k * k))::BIGINT AS s_sq
            FROM dec)
        SELECT m_edges, s_jk, s_sum, s_sq,
               (4 * m_edges * s_jk - s_sum * s_sum)::BIGINT AS num,
               (2 * m_edges * s_sq - s_sum * s_sum)::BIGINT AS den,
               CASE WHEN 2 * m_edges * s_sq - s_sum * s_sum = 0 THEN NULL
                    ELSE (4 * m_edges * s_jk - s_sum * s_sum)::DOUBLE
                         / (2 * m_edges * s_sq - s_sum * s_sum)::DOUBLE
               END AS assortativity
        FROM mom
    """.format(links=_linked_links_sql(LINKED_PAGES_N))


RAG_W, RAG_S = 24, 16


def q_rag_chunks(spark, sf):
    """RAG-corpus preparation: overlapping token-window chunking of
    every document (width 24, stride 16 -> 8-token overlap), chunk
    text re-joined whitespace-normalized — zero-shuffle, zero-Python
    Column plan (operators/packing.chunk_windows); aggregated to
    per-document chunk counts + a rolling chunk-text hash-free
    checksum (total chars) so the oracle compares full chunk content
    without a corpus-sized result."""
    from skyway_spark.operators.packing import chunk_windows

    (docs,) = _tables(spark, sf, "documents")
    ch = chunk_windows(docs, width=RAG_W, stride=RAG_S)
    return ch.groupBy(F.col("id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.length("chunk_text")).cast("long").alias("total_chars"),
        F.max("start_tok").cast("long").alias("last_start"),
        F.min("n_tokens").cast("long").alias("min_chunk"),
    )


def _rag_chunks_sql() -> str:
    return f"""
        WITH t AS (
            SELECT doc_id,
                   {_WS_SPLIT} AS toks
            FROM documents WHERE length(trim(text)) > 0),
        g AS (
            SELECT doc_id, toks, len(toks) AS n,
                   CASE WHEN len(toks) <= {RAG_W} THEN 1
                        ELSE ((len(toks) - {RAG_W} + {RAG_S} - 1)
                              // {RAG_S} + 1) END AS n_chunks
            FROM t),
        u AS (
            SELECT doc_id, toks, unnest(range(0, n_chunks)) AS i FROM g),
        ch AS (
            SELECT doc_id,
                   i AS chunk_id,
                   i * {RAG_S} + 1 AS start_tok,
                   toks[i * {RAG_S} + 1 : i * {RAG_S} + {RAG_W}] AS c
            FROM u)
        SELECT doc_id,
               COUNT(*) AS n_chunks,
               (SUM(len(c)))::BIGINT AS total_tokens,
               (SUM(length(array_to_string(c, ' '))))::BIGINT AS total_chars,
               (MAX(start_tok))::BIGINT AS last_start,
               (MIN(len(c)))::BIGINT AS min_chunk
        FROM ch GROUP BY doc_id
    """


def q_flow_accum(spark, sf):
    """D8 flow accumulation over the occupied event-cell grid with a
    deterministic synthetic elevation (tilted plane + hash noise):
    steepest-descent flow direction, then upstream contributing-cell
    counts via pointer-doubling closure — log(path length) join
    rounds, not a per-step walk
    (operators/spatialstats.flow_accumulation); the oracle follows the
    same flow forest with a recursive CTE."""
    from skyway_spark.operators import spatialstats

    return spatialstats.flow_accumulation(_flow_cells(spark, sf))


def _flow_accum_sql() -> str:
    return _terrain_sql_prefix() + """,
        rec AS (
            SELECT cx AS ax, cy AS ay, tx AS nx, ty AS ny FROM flow
            UNION ALL
            SELECT r.ax, r.ay, f.tx, f.ty
            FROM rec r JOIN flow f ON f.cx = r.nx AND f.cy = r.ny),
        acc AS (
            SELECT nx AS cx, ny AS cy, COUNT(*) AS acc
            FROM rec GROUP BY 1, 2)
        SELECT e.cx, e.cy, e.elev,
               COALESCE(acc.acc, 0)::BIGINT AS acc,
               (flow.cx IS NULL) AS is_pit
        FROM e
        LEFT JOIN acc ON acc.cx = e.cx AND acc.cy = e.cy
        LEFT JOIN flow ON flow.cx = e.cx AND flow.cy = e.cy
    """


def _flow_cells(spark, sf, res: int = 100):
    """Occupied event cells + the deterministic synthetic elevation
    (tilted plane + hash noise) shared by the terrain operators
    (q_flow_accum / q_watershed at res=100; q_slope_aspect at res=500,
    where the grid is dense enough to have interior cells)."""
    (ev,) = _tables(spark, sf, "events")
    cells = ev.select(
        (((F.col("user_id") * 7919) % 17000) / F.lit(res)).cast("long").alias("cx"),
        (((F.col("event_id") * 104729) % 36000) / F.lit(res)).cast("long").alias("cy"),
    )
    return (
        cells
        .distinct()
        .select(
            "cx",
            "cy",
            (
                3 * F.col("cx")
                + 2 * F.col("cy")
                # quadratic hash: a LINEAR noise term has near-constant
                # central differences (mod-23 residues repeat), which
                # collapses the slope/aspect census to 3 combos
                + (
                    F.col("cx") * F.col("cx") * 31
                    + F.col("cy") * F.col("cy") * 37
                    + F.col("cx") * F.col("cy") * 41
                ) % 97
            ).cast("long").alias("elev"),
        )
    )


def _terrain_sql_prefix(res: int = 100) -> str:
    return f"""
        WITH RECURSIVE pts AS (
            SELECT ((user_id * 7919) % 17000) // {res} AS cx,
                   ((event_id * 104729) % 36000) // {res} AS cy
            FROM events),
        e AS MATERIALIZED (
            SELECT cx, cy,
                   (3 * cx + 2 * cy
                    + (cx * cx * 31 + cy * cy * 37 + cx * cy * 41) % 97)::BIGINT
                       AS elev
            FROM (SELECT DISTINCT cx, cy FROM pts)),
        nb AS (
            SELECT a.cx, a.cy, b.elev AS ne, o.dx, o.dy,
                   b.cx AS tx, b.cy AS ty
            FROM e a
            CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),
                               (1,-1),(1,0),(1,1)) o(dx, dy)
            JOIN e b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
            WHERE b.elev < a.elev),
        flow AS MATERIALIZED (
            SELECT cx, cy, tx, ty FROM (
                SELECT cx, cy, tx, ty, ROW_NUMBER() OVER (
                    PARTITION BY cx, cy ORDER BY ne, dx, dy) AS rk
                FROM nb)
            WHERE rk = 1)"""


def q_watershed(spark, sf):
    """Watershed delineation: basin census over the D8 flow forest —
    every cell drains to the pit its steepest-descent path ends at;
    roots found by pointer JUMPING (path halving, log rounds), the
    dual of q_flow_accum's contributing-area count
    (operators/spatialstats.watershed_basins); the oracle walks the
    flow forest with a recursive CTE and keeps the pit-ending rows."""
    from skyway_spark.operators import spatialstats

    return spatialstats.watershed_basins(_flow_cells(spark, sf))


def _watershed_sql() -> str:
    return _terrain_sql_prefix() + """,
        rec AS (
            SELECT cx, cy, cx AS px, cy AS py FROM e
            UNION ALL
            SELECT r.cx, r.cy, f.tx, f.ty
            FROM rec r JOIN flow f ON f.cx = r.px AND f.cy = r.py),
        roots AS (
            SELECT r.cx, r.cy, r.px, r.py FROM rec r
            WHERE NOT EXISTS (SELECT 1 FROM flow f
                              WHERE f.cx = r.px AND f.cy = r.py)),
        b AS (SELECT px AS basin_x, py AS basin_y, COUNT(*) AS n_cells
              FROM roots GROUP BY 1, 2)
        SELECT b.basin_x, b.basin_y, e.elev AS basin_elev, b.n_cells
        FROM b JOIN e ON e.cx = b.basin_x AND e.cy = b.basin_y
    """


def q_slope_aspect(spark, sf):
    """Slope/aspect terrain classes over interior cells of the same
    synthetic elevation surface: integer central differences, aspect
    = steepest-descent compass octant via the branch-free
    double-reflection reduction (no atan2), slope class = squared
    gradient bucket; (octant, slope_class) census, at the coarser
    res=500 grid where occupancy is dense enough for interior cells
    (operators/spatialstats.slope_aspect)."""
    from skyway_spark.operators import spatialstats

    return spatialstats.slope_aspect(_flow_cells(spark, sf, res=500))


def _slope_aspect_sql() -> str:
    return _terrain_sql_prefix(res=500) + """,
        i AS (SELECT a.cx, a.cy,
                     ee.elev - ww.elev AS dzdx, nn.elev - ss.elev AS dzdy
              FROM e a
              JOIN e ee ON ee.cx = a.cx + 1 AND ee.cy = a.cy
              JOIN e ww ON ww.cx = a.cx - 1 AND ww.cy = a.cy
              JOIN e nn ON nn.cx = a.cx AND nn.cy = a.cy + 1
              JOIN e ss ON ss.cx = a.cx AND ss.cy = a.cy - 1),
        g AS (SELECT dzdx * dzdx + dzdy * dzdy AS g2,
                     -dzdx AS ax, -dzdy AS ay FROM i),
        f1 AS (SELECT g2,
                      CASE WHEN ay < 0 THEN -ax ELSE ax END AS x1,
                      CASE WHEN ay < 0 THEN -ay ELSE ay END AS y1,
                      CASE WHEN ay < 0 THEN 4 ELSE 0 END AS o1 FROM g),
        f2 AS (SELECT g2,
                      CASE WHEN x1 < 0 THEN y1 ELSE x1 END AS x2,
                      CASE WHEN x1 < 0 THEN -x1 ELSE y1 END AS y2,
                      o1 + CASE WHEN x1 < 0 THEN 2 ELSE 0 END AS o2 FROM f1),
        cl AS (SELECT
                   (CASE WHEN g2 = 0 THEN -1
                         ELSE o2 + CASE WHEN x2 < y2 THEN 1 ELSE 0 END
                    END)::INT AS octant,
                   (CASE WHEN g2 = 0 THEN 0
                         WHEN g2 < 25 THEN 1
                         WHEN g2 < 100 THEN 2
                         WHEN g2 < 400 THEN 3
                         ELSE 4 END)::INT AS slope_class,
                   g2
               FROM f2)
        SELECT octant, slope_class, COUNT(*) AS n_cells,
               (SUM(g2))::BIGINT AS sum_g2
        FROM cl GROUP BY 1, 2
    """


def q_mann_kendall(spark, sf):
    """Mann-Kendall S statistic of the daily count series for the 20
    hottest event cells — nonparametric trend detection next to
    cell_trends' OLS slope; day pairs self-join only the
    (cells x days)-sized aggregate (operators/spatialstats.mann_kendall)."""
    from pyspark.sql import Window

    from skyway_spark.operators import spatialstats

    ev = _event_cells_int(spark, sf)
    cells = spatialstats.cell_counts(ev.drop("ts")).localCheckpoint(eager=True)
    top = (
        cells.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.col("x").desc(), "cx", "cy")),
        )
        .where(F.col("rk") <= MK_TOP)
        .select("cx", "cy")
    )
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    daily = (
        ev.join(F.broadcast(top), ["cx", "cy"])
        .groupBy("cx", "cy", day.alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    return spatialstats.mann_kendall(daily)


def _mann_kendall_sql() -> str:
    return f"""
        WITH pts AS (
            SELECT ((user_id * 7919) % 17000) // 100 AS cx,
                   ((event_id * 104729) % 36000) // 100 AS cy,
                   epoch_us(ts) // 86400000000 AS d
            FROM events),
        cells AS MATERIALIZED (
            SELECT cx, cy, COUNT(*) AS x FROM pts GROUP BY 1, 2),
        top AS (
            SELECT cx, cy FROM (
                SELECT cx, cy, row_number() OVER (
                    ORDER BY x DESC, cx, cy) AS rk FROM cells)
            WHERE rk <= {MK_TOP}),
        daily AS MATERIALIZED (
            SELECT p.cx, p.cy, p.d, COUNT(*) AS y
            FROM pts p JOIN top USING (cx, cy)
            GROUP BY 1, 2, 3),
        pairs AS (
            SELECT a.cx, a.cy,
                   CASE WHEN b.y > a.y THEN 1
                        WHEN b.y < a.y THEN -1 ELSE 0 END AS sg,
                   CASE WHEN b.y > a.y THEN 1 ELSE 0 END AS pos,
                   CASE WHEN b.y < a.y THEN 1 ELSE 0 END AS neg
            FROM daily a JOIN daily b
              ON a.cx = b.cx AND a.cy = b.cy AND a.d < b.d),
        per AS (
            SELECT cx, cy, COUNT(*) AS n_pairs,
                   (SUM(pos))::BIGINT AS n_pos,
                   (SUM(neg))::BIGINT AS n_neg,
                   (SUM(sg))::BIGINT AS s
            FROM pairs GROUP BY 1, 2),
        nd AS (SELECT cx, cy, COUNT(*) AS n_days FROM daily GROUP BY 1, 2)
        SELECT nd.cx, nd.cy, nd.n_days, per.n_pairs, per.n_pos,
               per.n_neg, per.s
        FROM nd JOIN per ON nd.cx = per.cx AND nd.cy = per.cy
    """


def q_resample_track(spark, sf):
    """Linear resampling of each user's event track onto a fixed 6-hour
    grid — union + ONE window pass brackets every grid instant with its
    neighboring points; interpolated positions are exact int64 via the
    pmod floor-division identity (operators/trajectory.resample_tracks)."""
    from pyspark.sql import Window

    from skyway_spark.operators.trajectory import resample_tracks

    (ev,) = _tables(spark, sf, "events")
    raw = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        ((F.col("event_id") * 104729) % 36000).alias("x"),
        (((F.col("user_id") + F.col("event_id")) * 7919) % 17000).alias("y"),
    )
    w = Window.partitionBy("user_id", "t").orderBy("event_id")
    pts = (
        raw.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "t", "x", "y")
    )
    return resample_tracks(pts, RESAMPLE_STEP_US)


def _resample_track_sql() -> str:
    S = RESAMPLE_STEP_US
    return f"""
        WITH p0 AS (
            SELECT user_id, epoch_us(ts) AS t,
                   (event_id * 104729) % 36000 AS x,
                   ((user_id + event_id) * 7919) % 17000 AS y,
                   row_number() OVER (
                       PARTITION BY user_id, epoch_us(ts)
                       ORDER BY event_id) AS rn
            FROM events),
        pts AS MATERIALIZED (
            SELECT user_id, t, x, y FROM p0 WHERE rn = 1),
        b AS (SELECT user_id, MIN(t) AS ta, MAX(t) AS tb
              FROM pts GROUP BY 1),
        grid AS (
            SELECT user_id,
                   unnest(range(((ta + {S - 1}) // {S}) * {S}, tb, {S})) AS g
            FROM b WHERE ((ta + {S - 1}) // {S}) * {S} < tb),
        pre AS (
            SELECT * FROM (
                SELECT g.user_id, g.g, p.t, p.x, p.y,
                       row_number() OVER (PARTITION BY g.user_id, g.g
                           ORDER BY p.t DESC) AS rn
                FROM grid g JOIN pts p
                  ON p.user_id = g.user_id AND p.t <= g.g)
            WHERE rn = 1),
        nxt AS (
            SELECT * FROM (
                SELECT g.user_id, g.g, p.t, p.x, p.y,
                       row_number() OVER (PARTITION BY g.user_id, g.g
                           ORDER BY p.t ASC) AS rn
                FROM grid g JOIN pts p
                  ON p.user_id = g.user_id AND p.t > g.g)
            WHERE rn = 1),
        j AS (
            SELECT pr.user_id, pr.g,
                   nx.t - pr.t AS dt,
                   pr.x AS x0, pr.y AS y0,
                   (nx.x - pr.x) * (pr.g - pr.t) AS nxv,
                   (nx.y - pr.y) * (pr.g - pr.t) AS nyv
            FROM pre pr JOIN nxt nx
              ON nx.user_id = pr.user_id AND nx.g = pr.g)
        SELECT user_id, g,
               x0 + ((nxv - (((nxv % dt) + dt) % dt)) // dt) AS xi,
               y0 + ((nyv - (((nyv % dt) + dt) % dt)) // dt) AS yi
        FROM j
    """


def q_concordance(spark, sf):
    """KWIC concordance for the token 'table' over documents: split /
    posexplode / slice / array_join, all JVM Column work in the scan
    stage (operators/textstats.concordance)."""
    from skyway_spark.operators.textstats import concordance

    (docs,) = _tables(spark, sf, "documents")
    return concordance(docs, "table", ctx=2)


def q_rle_raster(spark, sf):
    """Run-length structure of the occupied event-cell raster, row by
    row (n_cells / n_runs / max_run per cy) — gaps-and-islands lag
    trick, one shuffle partitioned by raster row
    (operators/spatialstats.rle_rows)."""
    from skyway_spark.operators import spatialstats

    return spatialstats.rle_rows(_event_cells_int(spark, sf).drop("ts"))


def q_acf(spark, sf):
    """Integer autocorrelation raw moments of the hourly event-count
    series at lags 1..24 — broadcast lag list, ONE self equi-join on
    the shifted hour key over the aggregate-sized series; all sums
    exact int64, normalization deferred
    (operators/timeseries.acf_counts)."""
    from skyway_spark.operators.timeseries import acf_counts

    (ev,) = _tables(spark, sf, "events")
    counts = ev.select(
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000").alias("h")
    ).groupBy("h").agg(F.count(F.lit(1)).alias("x"))
    return acf_counts(counts, max_lag=24)


LAYOUT_FILES = 64  # power of two: hilbert bucket = hkey >> (2*ORDER - 6)
LAYOUT_BBOX = (10.0, 25.0, 60.0, 90.0)  # lat_lo, lat_hi, lon_lo, lon_hi


def q_layout_prune(spark, sf):
    """Space-filling-curve file layout -> manifest pruning, the loop
    closed (VERDICT r3 item 8): route the event points into
    LAYOUT_FILES files under two layouts — hilbert_key RANGE buckets
    (functions/cells.hilbert_key: consecutive keys are grid-adjacent,
    so each file is spatially tight) vs round-robin ingestion order —
    build each file's min/max lat/lon manifest (exactly the per-file
    column stats an Iceberg/Delta writer records), and count the files
    a bbox query must scan under stats pruning.  The hilbert side
    prunes to a handful of files; round-robin reads everything.

    Scale shape: one FILES-sized aggregate per layout (map-side
    combined), then manifest math over 2 x 64 rows — the identical
    computation a table-format planner runs at 100 TB, so the prune
    ratio is measured, not simulated."""
    lat_lo, lat_hi, lon_lo, lon_hi = LAYOUT_BBOX
    pts = _event_points(spark, sf)
    hk = cells.hilbert_key(F.col("lat"), F.col("lon"), HILBERT_ORDER)
    a = pts.select(
        "lat",
        "lon",
        F.shiftright(hk, 2 * HILBERT_ORDER - 6).alias("fh"),
        F.pmod(F.col("event_id"), F.lit(LAYOUT_FILES)).alias("frr"),
    )

    def manifest(bucket_col: str, layout: str):
        return a.groupBy(F.col(bucket_col).alias("file_id")).agg(
            F.min("lat").alias("lat_min"),
            F.max("lat").alias("lat_max"),
            F.min("lon").alias("lon_min"),
            F.max("lon").alias("lon_max"),
            F.count(F.lit(1)).alias("n_rows"),
        ).select(F.lit(layout).alias("layout"), "*")

    man = manifest("fh", "hilbert").unionByName(manifest("frr", "roundrobin"))
    hit = (
        (F.col("lat_min") <= lat_hi)
        & (F.col("lat_max") >= lat_lo)
        & (F.col("lon_min") <= lon_hi)
        & (F.col("lon_max") >= lon_lo)
    )
    return (
        man.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("files_total"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("files_scanned"),
            F.sum(F.when(hit, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
        )
        .orderBy("layout")
    )


def _layout_prune_sql() -> str:
    lat_lo, lat_hi, lon_lo, lon_hi = LAYOUT_BBOX
    div = 1 << (2 * HILBERT_ORDER - 6)
    hit = (
        f"lat_min <= {lat_hi} AND lat_max >= {lat_lo} "
        f"AND lon_min <= {lon_hi} AND lon_max >= {lon_lo}"
    )
    return f"""
        WITH p0 AS ({_POINTS_SQL}),
        hil AS ({_hilbert_sql()}),
        a AS (
            SELECT p.lat, p.lon,
                   h.hkey // {div} AS fh,
                   p.event_id % {LAYOUT_FILES} AS frr
            FROM p0 p JOIN hil h USING (event_id)),
        man AS (
            SELECT 'hilbert' AS layout, fh AS file_id,
                   min(lat) AS lat_min, max(lat) AS lat_max,
                   min(lon) AS lon_min, max(lon) AS lon_max,
                   COUNT(*)::BIGINT AS n_rows
            FROM a GROUP BY fh
            UNION ALL
            SELECT 'roundrobin', frr,
                   min(lat), max(lat), min(lon), max(lon), COUNT(*)::BIGINT
            FROM a GROUP BY frr)
        SELECT layout,
               COUNT(*)::BIGINT AS files_total,
               (SUM(CASE WHEN {hit} THEN 1 ELSE 0 END))::BIGINT AS files_scanned,
               (SUM(CASE WHEN {hit} THEN n_rows ELSE 0 END))::BIGINT AS rows_scanned
        FROM man GROUP BY layout ORDER BY layout
    """


def q_kmv_distinct(spark, sf):
    """KMV bottom-k distinct sketch per event type (k=64) with exact
    distinct-hash count alongside its (k-1)*P/h_(k) estimate — the
    mergeable bottom-k cardinality estimator; floor division kept
    integer on both engines (operators/sketches.kmv_distinct)."""
    from skyway_spark.operators.sketches import kmv_distinct

    (ev,) = _tables(spark, sf, "events")
    return kmv_distinct(ev, "event_type", "user_id", k=64)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry query by name. The order is part of the external
    contract (pinned by tests/test_registry_order.py): add new queries
    at the end."""
    return {
        "q_lm_coverage": q_lm_coverage,
        "q_snapshot_diff": q_snapshot_diff,
        "q_tile_diff": q_tile_diff,
        "q_line_raster": q_line_raster,
        "q_running_anomaly": q_running_anomaly,
        "q_od_matrix": q_od_matrix,
        "q_quality_gate": q_quality_gate,
        "q_fetch_slots": q_fetch_slots,
        "q_lang_confusion": q_lang_confusion,
        "q_host_hits": q_host_hits,
        "q_cell_trends": q_cell_trends,
        "q_tile_bins": q_tile_bins,
        "q_isochrone": q_isochrone,
        "q_polygon_fill": q_polygon_fill,
        "q_str_pack": q_str_pack,
        "q_skyline": q_skyline,
        "q_polygon_centroid": q_polygon_centroid,
        "q_classifier_auc": q_classifier_auc,
        "q_readability": q_readability,
        "q_session_paths": q_session_paths,
        "q_mention_city": q_mention_city,
        "q_host_components": q_host_components,
        "q_simpson_cells": q_simpson_cells,
        "q_clip_rings": q_clip_rings,
        "q_tile_clip": q_tile_clip,
        "q_track_hausdorff": q_track_hausdorff,
        "q_idw": q_idw,
        "q_user_hulls": q_user_hulls,
        "q_segment_crossings": q_segment_crossings,
        "q_cocitation": q_cocitation,
        "q_rolling_wau": q_rolling_wau,
        "q_fuzzy_join": q_fuzzy_join,
        "q_bib_coupling": q_bib_coupling,
        "q_reciprocity": q_reciprocity,
        "q_heading_octants": q_heading_octants,
        "q_interval_union": q_interval_union,
        "q_lcss_tracks": q_lcss_tracks,
        "q_cusum": q_cusum,
        "q_rbo_rankings": q_rbo_rankings,
        "q_span_corrupt": q_span_corrupt,
        "q_ra_links": q_ra_links,
        "q_hull_diameter": q_hull_diameter,
        "q_curve_locality": q_curve_locality,
        "q_pit_join": q_pit_join,
        "q_k_anonymity": q_k_anonymity,
        "q_prune_stats": q_prune_stats,
        "q_seq_patterns": q_seq_patterns,
        "q_nearest_centroid": q_nearest_centroid,
        "q_marker_thinning": q_marker_thinning,
        "q_posting_sizes": q_posting_sizes,
        "q_raster_tiles": q_raster_tiles,
        "q_contamination": q_contamination,
        "q_grid_dbscan": q_grid_dbscan,
        "q_poly_overlap": q_poly_overlap,
        "q_transitions": q_transitions,
        "q_pack_sequences": q_pack_sequences,
        "q_rebalance": q_rebalance,
        "q_triangles": q_triangles,
        "q_heatmap": q_heatmap,
        "q_tile_pyramid": q_tile_pyramid,
        "q_trips": q_trips,
        "q_bloom_contamination": q_bloom_contamination,
        "q_kmeans": q_kmeans,
        "q_ann_ivf_trained": q_ann_ivf_trained,
        "q_curation_pipeline": q_curation_pipeline,
        "q_var_stats": q_var_stats,
        "q_collocations": q_collocations,
        "q_raster_vectorize": q_raster_vectorize,
        "q_bottomk_sample": q_bottomk_sample,
        "q_lev_verify": q_lev_verify,
        "q_chunk_dedup_rewrite": q_chunk_dedup_rewrite,
        "q_pagerank_cells": q_pagerank_cells,
        "q_quantiles": q_quantiles,
        "q_vocab_growth": q_vocab_growth,
        "q_url_blocklist": q_url_blocklist,
        "q_bigram_lm": q_bigram_lm,
        "q_snap_nodes": q_snap_nodes,
        "q_cell_regions": q_cell_regions,
        "q_dup_chunk_by_source": q_dup_chunk_by_source,
        "q_histogram": q_histogram,
        "q_stay_points": q_stay_points,
        "q_hll_users": q_hll_users,
        "q_cms_heavy_hitters": q_cms_heavy_hitters,
        "q_weighted_sample": q_weighted_sample,
        "q_geofence": q_geofence,
        "q_semdedup": q_semdedup,
        "q_hash_classifier": q_hash_classifier,
        "q_dsir_resample": q_dsir_resample,
        "q_bellman_cells": q_bellman_cells,
        "q_winnow": q_winnow,
        "q_hilbert": q_hilbert,
        "q_cdc_merge": q_cdc_merge,
        "q_group_sample": q_group_sample,
        "q_outliers": q_outliers,
        "q_covisit": q_covisit,
        "q_scd2": q_scd2,
        "q_bpe_pairs": q_bpe_pairs,
        "q_winnow_decontam": q_winnow_decontam,
        "q_pages_pipeline": q_pages_pipeline,
        "q_minhash": q_minhash,
        "q_minhash_lsh": q_minhash_lsh,
        "q_dedup_clusters": q_dedup_clusters,
        "q_dedup_exact": q_dedup_exact,
        "q_simhash_pairs": q_simhash_pairs,
        "q_boilerplate": q_boilerplate,
        "q_url_host_stats": q_url_host_stats,
        "q_bm25": q_bm25,
        "q_knn": q_knn,
        "q_top_ngrams": q_top_ngrams,
        "q_dedup_keep": q_dedup_keep,
        "q_rep_quality": q_rep_quality,
        "q_simhash_clusters": q_simhash_clusters,
        "q_token_stats": q_token_stats,
        "q_pip": q_pip,
        "q_pip_agg": q_pip_agg,
        "q_extract_entities": q_extract_entities,
        "q_cell_assign": q_cell_assign,
        "q_window_range": q_window_range,
        "q_gap_fill": q_gap_fill,
        "q_json_props": q_json_props,
        "q_events_sessions": q_events_sessions,
        "q_vector_tiles": q_vector_tiles,
        "q_tile_assign": q_tile_assign,
        "q_range_join": q_range_join,
        "q_cell_rollup": q_cell_rollup,
        "q_cell_users": q_cell_users,
        "q_bbox_cover": q_bbox_cover,
        "q_rank_funcs": q_rank_funcs,
        "q_polygon_area": q_polygon_area,
        "q_quadkey": q_quadkey,
        "q_zorder": q_zorder,
        "q_zorder_range": q_zorder_range,
        "q_compact_cells": q_compact_cells,
        "q_tfidf_topterms": q_tfidf_topterms,
        "q_inverted_index": q_inverted_index,
        "q_term_search": q_term_search,
        "q_phrase_search": q_phrase_search,
        "q_hash_split": q_hash_split,
        "q_stratified_sample": q_stratified_sample,
        "q_salted_join": q_salted_join,
        "q_osmfilter": q_osmfilter,
        "q_cel": q_cel,
        "q_extract_mentions": q_extract_mentions,
        "q_pipeline_exact": q_pipeline_exact,
        "q_opl_lines": q_opl_lines,
        "q_json_lines": q_json_lines,
        "q_xml_lines": q_xml_lines,
        "q_audio_windows": q_audio_windows,
        "q_pbf_roundtrip": q_pbf_roundtrip,
        "q_media_features": q_media_features,
        "q_simplify_ways": q_simplify_ways,
        "q_cel_macros": q_cel_macros,
        "q_geohash": q_geohash,
        "q_ewma": q_ewma,
        "q_pii_redact": q_pii_redact,
        "q01_pricing_summary": q01_pricing_summary,
        "q03_top_orders": q03_top_orders,
        "q05_region_volume": q05_region_volume,
        "q06_discount_revenue": q06_discount_revenue,
        "q_cust_no_orders": q_cust_no_orders,
        "q_late_orders_semi": q_late_orders_semi,
        "q_cust_order_left": q_cust_order_left,
        "q_orders_rollup": q_orders_rollup,
        "q_orders_cube": q_orders_cube,
        "q_grouping_sets": q_grouping_sets,
        "q_scalar_subquery": q_scalar_subquery,
        "q_percentiles": q_percentiles,
        "q_running_window": q_running_window,
        "q_pivot": q_pivot,
        "q_funnel": q_funnel,
        "q_sliding_window": q_sliding_window,
        "q_overlap_join": q_overlap_join,
        "q_retention": q_retention,
        "q_asof_join": q_asof_join,
        "q_string_funcs": q_string_funcs,
        "q_datetime_funcs": q_datetime_funcs,
        "q_null_funcs": q_null_funcs,
        "q_array_map_funcs": q_array_map_funcs,
        "q_tag_freq": q_tag_freq,
        "q_lateral_view": q_lateral_view,
        "q_nation_setops": q_nation_setops,
        "q_events_hourly": q_events_hourly,
        "q_dedup_ngram": q_dedup_ngram,
        "q_simhash": q_simhash,
        "q_quality": q_quality,
        "q_lang_id": q_lang_id,
        "q_embed_topk": q_embed_topk,
        "q_ann_topk": q_ann_topk,
        "q_ann_ivf": q_ann_ivf,
        "q_frame_sample": q_frame_sample,
        "q_way_lengths": q_way_lengths,
        "q_relation_rollup": q_relation_rollup,
        "q_embed_neardup": q_embed_neardup,
        "q_link_graph": q_link_graph,
        "q_anchor_terms": q_anchor_terms,
        "q_dom_stats": q_dom_stats,
        "q_host_rank": q_host_rank,
        "q_morans_i": q_morans_i,
        "q_containment_pairs": q_containment_pairs,
        "q_adaptive_tiles": q_adaptive_tiles,
        "q_crawl_frontier": q_crawl_frontier,
        "q_map_match": q_map_match,
        "q_hot_spots": q_hot_spots,
        "q_pq_codes": q_pq_codes,
        "q_pq_topk": q_pq_topk,
        "q_dedup_best": q_dedup_best,
        "q_dedup_eval": q_dedup_eval,
        "q_gearys_c": q_gearys_c,
        "q_robots_rules": q_robots_rules,
        "q_nn_graph": q_nn_graph,
        "q_url_templates": q_url_templates,
        "q_redirects": q_redirects,
        "q_ripley_k": q_ripley_k,
        "q_crawl_budget": q_crawl_budget,
        "q_kcore": q_kcore,
        "q_int8_quant": q_int8_quant,
        "q_ahash": q_ahash,
        "q_ahash_pairs": q_ahash_pairs,
        "q_warc_parse": q_warc_parse,
        "q_warc_stats": q_warc_stats,
        "q_bpe_tokenize": q_bpe_tokenize,
        "q_cdc_chunks": q_cdc_chunks,
        "q_cdc_dedup": q_cdc_dedup,
        "q_media_clusters": q_media_clusters,
        "q_hex_assign": q_hex_assign,
        "q_hex_disk": q_hex_disk,
        "q_web_tables": q_web_tables,
        "q_variogram": q_variogram,
        "q_warc_pipeline": q_warc_pipeline,
        "q_jaccard_join": q_jaccard_join,
        "q_matryoshka_recall": q_matryoshka_recall,
        "q_line_of_sight": q_line_of_sight,
        "q_data_mixture": q_data_mixture,
        "q_dead_links": q_dead_links,
        "q_focal_stats": q_focal_stats,
        "q_voronoi": q_voronoi,
        "q_bfs_hops": q_bfs_hops,
        "q_concordance": q_concordance,
        "q_rle_raster": q_rle_raster,
        "q_acf": q_acf,
        "q_kmv_distinct": q_kmv_distinct,
        "q_resample_track": q_resample_track,
        "q_dilate": q_dilate,
        "q_mann_kendall": q_mann_kendall,
        "q_frechet": q_frechet,
        "q_flow_accum": q_flow_accum,
        "q_rag_chunks": q_rag_chunks,
        "q_label_communities": q_label_communities,
        "q_watershed": q_watershed,
        "q_slope_aspect": q_slope_aspect,
        "q_colocation": q_colocation,
        "q_set_cover": q_set_cover,
        "q_knox": q_knox,
        "q_dispersion": q_dispersion,
        "q_rendezvous": q_rendezvous,
        "q_incremental_dedup": q_incremental_dedup,
        "q_emerging_hotspots": q_emerging_hotspots,
        "q_minhash_error": q_minhash_error,
        "q_hot_percolation": q_hot_percolation,
        "q_radius_gyration": q_radius_gyration,
        "q_jump_sizes": q_jump_sizes,
        "q_polygon_validity": q_polygon_validity,
        "q_join_counts": q_join_counts,
        "q_gini_cells": q_gini_cells,
        "q_term_drift": q_term_drift,
        "q_bitext_candidates": q_bitext_candidates,
        "q_assortativity": q_assortativity,
        "q_layout_prune": q_layout_prune,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB) — built to match the Spark semantics bit-for-bit
# ---------------------------------------------------------------------------

_HM = dedup.HASH_MOD
_FM = dedup.FP_MOD
_FX = dedup.FP_MULT
_PR = dedup.PRIME


def _sql_token_hash(tok_expr: str) -> str:
    """fold (acc*31 + ord(char)) % 2^44 over the chars of tok_expr."""
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(1, len({tok_expr}) + 1), "
        f"i -> ord(substring({tok_expr}, i::INT, 1))::BIGINT)), "
        f"(a, b) -> (a * 31 + b) % {_HM})"
    )


def _sql_gram3_hash(i: str = "i") -> str:
    """3-char gram hash at 1-based offset i of text (expanded fold)."""
    c = lambda o: f"ord(substring(text, ({i}+{o})::INT, 1))::BIGINT"  # noqa: E731
    return f"((({c(0)} * 31 + {c(1)}) * 31 + {c(2)}) % {_HM})"


# dedup.ngram_hashes: a text shorter than 3 code points is one gram, the
# fold of the code points it has (no zero padding)
_SQL_GRAMS = (
    f"CASE WHEN len(text) < 3 THEN [{_sql_token_hash('text')}] "
    f"ELSE list_distinct(list_transform(range(1, len(text) - 1), "
    f"i -> {_sql_gram3_hash()})) END"
)

_SQL_TOKEN_HASHES = (
    "list_transform(string_split(text, ' '), tok -> " + _sql_token_hash("tok") + ")"
)


def _sql_occurrences(padded: str, needle: str) -> str:
    esc = needle.replace("'", "''")
    return (
        f"(len({padded}) - len(replace({padded}, '{esc}', ''))) / {len(needle)}"
    )


def _sql_lang_scores() -> dict[str, str]:
    out = {}
    for lang, markers in textstats.LANG_MARKERS.items():
        out[lang] = " + ".join(_sql_occurrences("p", m) for m in markers)
    return out


# dup-augmented views (mirror _docs_with_dups / _emb_with_dups exactly)
_DOCS2_SQL = """
        SELECT doc_id, text, lang, source, n_chars FROM documents
        UNION ALL
        SELECT doc_id + 100000, text, lang, source, n_chars
        FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 200000, 'Z' || substring(text, 2), lang, source, n_chars
        FROM documents WHERE doc_id % 5 = 0
"""

_EMB2_SQL = """
        SELECT vec_id, embedding, label FROM embeddings
        UNION ALL
        SELECT vec_id + 100000, embedding, label
        FROM embeddings WHERE vec_id % 9 = 0
"""


def _simhash_votes(bits: int = 32) -> str:
    terms = []
    for b in range(bits):
        terms.append(
            f"(CASE WHEN 2 * list_sum(list_transform(th, h -> (h >> {b}) & 1)) "
            f"> ntok THEN 1::BIGINT ELSE 0::BIGINT END << {b})"
        )
    return " + ".join(terms)


def _simhash_sql(bits: int = 32) -> str:
    return f"""
        WITH t AS (
            SELECT doc_id,
                   {_SQL_TOKEN_HASHES} AS th,
                   len(string_split(text, ' '))::BIGINT AS ntok
            FROM documents
        )
        SELECT doc_id, ({_simhash_votes(bits)}) AS simhash32 FROM t
    """


def _sql_word_shingles(tok: str = "th") -> str:
    """Distinct 3-gram shingle-hash list over token-hash array column
    ``tok`` — parameterized on the column name (a blind str.replace on
    the generated SQL silently corrupts it if the template ever gains
    another 'th' substring, e.g. `length()`)."""
    return (
        f"list_distinct(list_transform(range(1, greatest(len({tok}) - 2, 1) + 1), "
        f"i -> (({tok}[i::INT] * 31 + coalesce({tok}[(i+1)::INT], 0)) % {_HM} * 31 "
        f"+ coalesce({tok}[(i+2)::INT], 0)) % {_HM}))"
    )


_SQL_WORD_SHINGLES = _sql_word_shingles()


def _simhash_pairs_sql(bits: int = 44, bands: int = 4, max_hamming: int = 1) -> str:
    """Pairs sharing >=1 simhash band, verified hamming <= max_hamming
    — over the dup-augmented docs2 view."""
    width = bits // bands
    mask = (1 << width) - 1
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, sh, {i} AS band, (sh >> {i * width}) & {mask} AS bh FROM s"
        for i in range(bands)
    )
    return f"""
        WITH docs2 AS ({_DOCS2_SQL}),
        t AS (
            SELECT doc_id,
                   {_SQL_TOKEN_HASHES} AS th,
                   len(string_split(text, ' '))::BIGINT AS ntok
            FROM docs2
        ),
        s AS (SELECT doc_id, ({_simhash_votes(bits)}) AS sh FROM t),
        bnd AS ({band_selects})
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.sh, b.sh))::INT AS hamming
        FROM bnd a JOIN bnd b ON a.band = b.band AND a.bh = b.bh
                              AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
    """


def _minhash_lsh_sql(bands: int = 4, threshold: float = 0.8) -> str:
    """LSH banding over the full 16-perm signature (per-step mod fold
    of each band, same arithmetic as dedup.minhash_lsh_pairs), word
    shingles, then exact shingle Jaccard verification — over docs2."""
    rows_per_band = len(dedup.MINHASH_PERMS) // bands
    sig_elems = ", ".join(
        f"list_min(list_transform(g, x -> (x * {a} + {b}) % {_PR}))"
        for a, b in dedup.MINHASH_PERMS
    )
    band_exprs = []
    for i in range(bands):
        acc = "0::BIGINT"
        for j in range(i * rows_per_band + 1, (i + 1) * rows_per_band + 1):
            acc = f"(({acc}) * 31 + sig[{j}]) % {_HM}"
        band_exprs.append(f"SELECT doc_id, {i} AS band, {acc} AS bh FROM s")
    jac = (
        "len(list_intersect(ta.g, tb.g))::DOUBLE / "
        "(len(ta.g) + len(tb.g) - len(list_intersect(ta.g, tb.g)))::DOUBLE"
    )
    return f"""
        WITH docs2 AS ({_DOCS2_SQL}),
        tok AS (SELECT doc_id, {_SQL_TOKEN_HASHES} AS th FROM docs2),
        t AS (SELECT doc_id, {_SQL_WORD_SHINGLES} AS g FROM tok),
        s AS (SELECT doc_id, [{sig_elems}] AS sig FROM t),
        bnd AS ({" UNION ALL ".join(band_exprs)}),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bnd a JOIN bnd b ON a.band = b.band AND a.bh = b.bh
                                  AND a.doc_id < b.doc_id)
        SELECT c.id_a, c.id_b, round({jac}, 6) AS jaccard
        FROM cand c
        JOIN t ta ON ta.doc_id = c.id_a
        JOIN t tb ON tb.doc_id = c.id_b
        WHERE {jac} >= {threshold}
    """


def _minhash_sql() -> str:
    cols = []
    for j in (0, 7, 15):
        a, b = dedup.MINHASH_PERMS[j]
        cols.append(f"list_min(list_transform(g, x -> (x * {a} + {b}) % {_PR})) AS mh_{j}")
    return f"""
        WITH t AS (SELECT doc_id, {_SQL_GRAMS} AS g FROM documents)
        SELECT doc_id, {', '.join(cols)} FROM t
    """


def _cell_sql(lat: str, lon: str, res: int) -> str:
    nx, ny = 1 << (res + 1), 1 << res
    x = f"greatest(0, least({nx - 1}, floor((({lon}) + 180.0) / 360.0 * {float(nx)})::BIGINT))"
    y = f"greatest(0, least({ny - 1}, floor((90.0 - ({lat})) / 180.0 * {float(ny)})::BIGINT))"
    return f"(({res}::BIGINT << 58) | ({x} << 29) | {y})"


def _parent_sql(cell: str, res: int) -> str:
    """SQL mirror of cells.cell_parent({cell} at res) -> res-1."""
    m = (1 << 29) - 1
    return (
        f"(({res - 1}::BIGINT << 58) | (((({cell} >> 29) & {m}) >> 1) << 29)"
        f" | (({cell} & {m}) >> 1))"
    )


def _grid_graph_sql() -> str:
    """Shared dense-cell symmetric 8-neighbor graph CTEs (pts/dense/
    xy/e/nodes) — the substrate for the pagerank and Bellman-Ford
    oracles; same dense cells as the q_grid_dbscan oracle."""
    return f"""
            pts AS ({_POINTS_SQL}),
            dense AS (
                SELECT {_cell_sql('lat', 'lon', GRID_RES)} AS cell,
                       COUNT(*) AS n_points
                FROM pts GROUP BY 1 HAVING COUNT(*) >= {GRID_MIN_PTS}),
            xy AS (
                SELECT cell, (cell >> 29) & {(1 << 29) - 1} AS x,
                       cell & {(1 << 29) - 1} AS y
                FROM dense),
            e AS (
                SELECT a.cell AS s, b.cell AS t
                FROM xy a JOIN xy b
                  ON a.cell <> b.cell
                 AND abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1),
            nodes AS (SELECT s AS node FROM e UNION SELECT t FROM e)"""


def _bellman_sql(iters: int = 3, src_pred: str | None = None) -> str:
    """SQL mirror of operators/graph.bellman_ford over the dense-cell
    grid graph: source predicate defaults to the lowest cell id
    (``src_pred`` generalizes it — the isochrone oracle passes a
    top-k-dense-cells membership test), edge weight 1 + ((s + t) % 7),
    INF = 2^62 sentinel, per-round
    d_t+1(v) = least(d_t(v), min over in-edges (d_t(u) + w)).
    MIN stays BIGINT in DuckDB (no HUGEINT trap — that's SUM)."""
    inf = 1 << 62
    src_pred = src_pred or "node = (SELECT MIN(node) FROM nodes)"
    sql = f"""
            WITH {_grid_graph_sql()},
            d0 AS (
                SELECT node,
                       CASE WHEN {src_pred}
                            THEN 0::BIGINT ELSE {inf}::BIGINT END AS dist
                FROM nodes)"""
    for i in range(1, iters + 1):
        sql += f""",
            x{i} AS (
                SELECT e.t AS node,
                       MIN(d.dist + (1 + ((e.s + e.t) % 7)))::BIGINT AS cand
                FROM d{i - 1} d JOIN e ON e.s = d.node
                WHERE d.dist < {inf}
                GROUP BY 1),
            d{i} AS (
                SELECT v.node,
                       least(v.dist, COALESCE(x.cand, {inf}))::BIGINT AS dist
                FROM d{i - 1} v LEFT JOIN x{i} x USING (node))"""
    return sql + f"""
            SELECT node AS cell, dist FROM d{iters} WHERE dist < {inf}
        """


def _pagerank_sql(
    iters: int = 3,
    mass: int = 10**12,
    damp_pct: int = 85,
    graph_ctes: str | None = None,
    node_alias: str = "cell",
) -> str:
    """SQL mirror of operators/graph.pagerank_int over the dense-cell
    symmetric 8-neighbor graph (same dense/xy/e CTEs as the
    q_grid_dbscan oracle, but keeping BOTH edge directions):
    r_0 = mass div n over the nodes appearing in edges, then
    r_t+1(v) = (100-d)*(mass div n) div 100
               + d * sum_{u->v}(r_t(u) div deg(u)) div 100,
    every step int64 floor division of non-negative values (DuckDB //
    truncation == floor here), SUMs cast back to BIGINT to avoid the
    HUGEINT hash trap."""
    graph = (graph_ctes if graph_ctes is not None else _grid_graph_sql()) + f""",
            deg AS (SELECT s AS node, COUNT(*) AS deg FROM e GROUP BY 1),
            params AS (
                SELECT ({mass} // COUNT(*))::BIGINT AS r0v,
                       (({100 - damp_pct} * ({mass} // COUNT(*))) // 100)::BIGINT
                           AS base
                FROM nodes),
            r0 AS (SELECT node, (SELECT r0v FROM params) AS rank FROM nodes)"""
    steps = ""
    for i in range(1, iters + 1):
        steps += f""",
            f{i} AS (
                SELECT e.t AS node, (SUM(r.rank // d.deg))::BIGINT AS inflow
                FROM r{i - 1} r JOIN deg d USING (node) JOIN e ON e.s = r.node
                GROUP BY 1),
            r{i} AS (
                SELECT v.node,
                       ((SELECT base FROM params)
                        + ({damp_pct} * COALESCE(f.inflow, 0)) // 100)::BIGINT
                           AS rank
                FROM nodes v LEFT JOIN f{i} f USING (node))"""
    return f"""
            WITH {graph}{steps}
            SELECT node AS {node_alias}, rank AS pr FROM r{iters}
        """


def _pip_pairs_sql() -> str:
    """Ray-cast PIP pairs (event_id, polygon_id) — independent
    closed-form oracle over the literal polygon edges."""
    return f"""
            WITH pts AS ({_POINTS_SQL}),
            edges(polygon_id, role, y1, x1, y2, x2) AS (VALUES {_pip_edges_values()}),
            ring_hits AS (
                SELECT p.event_id, e.polygon_id, e.role,
                       SUM(CASE WHEN ((e.y1 > p.lat) != (e.y2 > p.lat))
                                 AND p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1
                                THEN 1 ELSE 0 END) % 2 = 1 AS inside
                FROM pts p CROSS JOIN edges e
                GROUP BY p.event_id, e.polygon_id, e.role)
            SELECT event_id, polygon_id
            FROM ring_hits
            GROUP BY event_id, polygon_id
            HAVING bool_or(role = 'outer' AND inside)
               AND NOT bool_or(role = 'hole' AND inside)
        """


def _tile_xy_sql(lat: str, lon: str, z: int) -> tuple[str, str]:
    n = 1 << z
    latc = f"greatest(-85.05112878, least(85.05112878, {lat}))"
    tx = f"greatest(0, least({n - 1}, floor((({lon}) + 180.0) / 360.0 * {float(n)})::BIGINT))"
    # asinh(t) == ln(t + sqrt(t*t + 1)) — DuckDB has no asinh builtin
    asinh = f"ln(tan(radians({latc})) + sqrt(tan(radians({latc})) * tan(radians({latc})) + 1.0))"
    ty = (
        f"greatest(0, least({n - 1}, "
        f"floor((1.0 - {asinh} / pi()) / 2.0 * {float(n)})::BIGINT))"
    )
    return tx, ty


def _pip_edges_values() -> str:
    rows = []
    for pid, rings in PIP_POLYGONS.items():
        for role, ring in rings:
            for (y1, x1), (y2, x2) in zip(ring[:-1], ring[1:]):
                rows.append(f"({pid}, '{role}', {y1!r}, {x1!r}, {y2!r}, {x2!r})")
    return ", ".join(rows)


def _haversine_sql(plat: str, plon: str, qlat: str, qlon: str) -> str:
    """Same op order as functions/geo.py haversine_km."""
    dlat = f"radians(({qlat}) - ({plat})) / 2.0"
    dlon = f"radians(({qlon}) - ({plon})) / 2.0"
    a = (
        f"sin({dlat}) * sin({dlat}) + "
        f"cos(radians({plat})) * cos(radians({qlat})) * sin({dlon}) * sin({dlon})"
    )
    return f"12742.0176 * asin(sqrt({a}))"


_ELEMENTS_SQL = """
    SELECT CASE WHEN p_partkey % 3 = 0 THEN 'node'
                WHEN p_partkey % 3 = 1 THEN 'way'
                ELSE 'relation' END AS type,
           p_partkey AS id, p_brand AS brand, p_type AS ptype, p_size
    FROM part
"""


def _ann_topk_sql(k: int = 10, n_planes: int = 12, bands: int = 3) -> str:
    """Exact oracle for the LSH ANN path: same hyperplane literals,
    same left-fold dot products, same band buckets, same re-rank."""
    import numpy as np

    planes = similarity._hyperplanes(len(QUERY_VEC), n_planes, seed=42)
    width = n_planes // bands
    mask = (1 << width) - 1
    qsig = 0
    for i, plane in enumerate(planes):
        if float(np.dot(plane, np.asarray(QUERY_VEC, dtype=float))) > 0:
            qsig |= 1 << i

    def dot_lit(vec: list[float]) -> str:
        lit = "[" + ", ".join(repr(float(x)) for x in vec) + "]::DOUBLE[]"
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {len(vec) + 1}), "
            f"i -> embedding[i::INT]::DOUBLE * ({lit})[i::INT])), (a, b) -> a + b)"
        )

    sig_terms = " + ".join(
        f"((CASE WHEN {dot_lit(planes[i].tolist())} > 0 THEN 1::BIGINT ELSE 0::BIGINT END) << {i})"
        for i in range(n_planes)
    )
    band_conds = " OR ".join(
        f"((sig >> {b * width}) & {mask}) = {(qsig >> (b * width)) & mask}"
        for b in range(bands)
    )
    norm = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, "
        "x -> x::DOUBLE * x::DOUBLE)), (a, b) -> a + b))"
    )
    return f"""
        WITH s AS (
            SELECT vec_id, embedding, ({sig_terms}) AS sig FROM embeddings),
        cand AS (SELECT vec_id, embedding FROM s WHERE {band_conds}),
        scored AS (
            SELECT vec_id,
                   round({dot_lit(QUERY_VEC)} / ({norm} * {_QNORM!r}), 6) AS cos_sim
            FROM cand)
        SELECT vec_id, cos_sim,
               (row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC))::INT AS rank
        FROM scored
        QUALIFY rank <= {k}
    """


def _centideg_sql(v: str) -> str:
    """Signed centidegrees -> '[-]D.DD' string -> DOUBLE (mirrors
    _fmt_centideg + the extraction parse, bit-for-bit)."""
    return (
        f"CAST(CASE WHEN {v} < 0 THEN '-' ELSE '' END || "
        f"((abs({v}) // 100))::VARCHAR || '.' || "
        f"lpad((abs({v}) % 100)::VARCHAR, 2, '0') AS DOUBLE)"
    )


_PORTABLE_MENTIONS_SQL = f"""
            SELECT doc_id, j,
                   {_centideg_sql("(doc_id * 37 + j * 791) % 17000 - 8500")} AS lat,
                   {_centideg_sql("(doc_id * 7919 + j * 613) % 36000 - 18000")} AS lon,
                   (['cafe', 'bench', 'station', 'museum', 'park'])[((doc_id + j) % 5 + 1)::INT] AS amenity
            FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS j)
            WHERE doc_id % 3 > j
"""


def _ph_sql(i: str, salt: int) -> str:
    """SQL mirror of generate._ph: product of two distinct affine
    forms mod the Mersenne prime, integer hash in [0, PAGE_PRIME)."""
    from skyway_spark.sources import generate as g

    P = g.PAGE_PRIME
    f1 = f"((({i}) % {P}) * {g._PH_A1} + {(salt * g._PH_B1) % P + 1}) % {P}"
    f2 = f"((({i}) % {P}) * {g._PH_A2} + {(salt * g._PH_B2) % P + 3}) % {P}"
    return f"(({f1}) * ({f2})) % {P}"


def _page_mentions_sql(n_rows: int) -> str:
    """SQL mirror of generate_pages' mention stream for row ids
    [0, n_rows): one row per emitted @geo mention with its portable
    ordinal j, parsed lat/lon doubles, amenity kind and url."""
    from skyway_spark.sources import generate as g

    P = g.PAGE_PRIME
    cities_lat = "[" + ", ".join(str(c[0]) for c in g.HOT_CITIES_U) + "]"
    cities_lon = "[" + ", ".join(str(c[1]) for c in g.HOT_CITIES_U) + "]"
    kinds = "['cafe', 'bench', 'station', 'museum', 'park']"

    def mds(u: str) -> str:
        # signed integer microdegrees -> '[-]D.DDDDDD' string
        # (mirrors generate._fmt_microdeg)
        return (
            f"CASE WHEN ({u}) < 0 THEN '-' ELSE '' END || "
            f"((abs({u}) // 1000000))::VARCHAR || '.' || "
            f"lpad((abs({u}) % 1000000)::VARCHAR, 6, '0')"
        )

    def md(u: str) -> str:
        # ... -> DOUBLE (mirrors the extraction parse)
        return f"CAST({mds(u)} AS DOUBLE)"

    # salts depend on j, so the hash terms are spelled with j inline
    def phj(base: str) -> str:
        salt = f"(({base} + j)::BIGINT)"  # INT32 * the B constants overflows
        f1 = f"((i % {P}) * {g._PH_A1} + ({salt} * {g._PH_B1}) % {P} + 1) % {P}"
        f2 = f"((i % {P}) * {g._PH_A2} + ({salt} * {g._PH_B2}) % {P} + 3) % {P}"
        return f"(({f1}) * ({f2})) % {P}"

    hot = f"({phj('10')}) < {(P * 4) // 5}"
    city = f"(({phj('20')}) % 5 + 1)::INT"
    dlat = f"(({phj('30')}) % 200001 - 100000)"
    dlon = f"(({phj('40')}) % 200001 - 100000)"
    lat_u = (
        f"CASE WHEN {hot} THEN ({cities_lat})[{city}] + {dlat}"
        f" ELSE ({phj('50')}) % 170000001 - 85000000 END"
    )
    lon_u = (
        f"CASE WHEN {hot} THEN ({cities_lon})[{city}] + {dlon}"
        f" ELSE ({phj('60')}) % 360000001 - 180000000 END"
    )
    kind = f"({kinds})[(({phj('70')}) % 5 + 1)::INT]"
    n_mentions = f"({_ph_sql('i', 1)}) % 6"
    return f"""
            SELECT i, j,
                   {md(lat_u)} AS lat,
                   {md(lon_u)} AS lon,
                   {kind} AS amenity,
                   'place-' || i || '-' || j AS name,
                   'https://example.org/p/' || i AS url,
                   ' @geo(' || {mds(lat_u)} || ',' || {mds(lon_u)} ||
                   ';name=place-' || i || '-' || j || ';amenity=' ||
                   {kind} || ')' AS mention
            FROM range(0, {n_rows}) t(i)
            CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS j)
            WHERE ({n_mentions}) > j
"""


def _linked_links_sql(n_rows: int) -> str:
    """SQL mirror of generate_linked_pages' anchor stream for row ids
    [0, n_rows): one row per emitted ``<a href>`` tag with its ordinal
    j, source/target hosts and urls, and anchor text — derived from
    the generation arithmetic, independent of Spark's regexp path."""
    from skyway_spark.sources import generate as g

    P = g.PAGE_PRIME
    H = g.LINK_HOSTS
    words = "['" + "', '".join(g._LINK_WORDS) + "']"

    def phj(base: str) -> str:
        salt = f"(({base} + j)::BIGINT)"
        f1 = f"((i % {P}) * {g._PH_A1} + ({salt} * {g._PH_B1}) % {P} + 1) % {P}"
        f2 = f"((i % {P}) * {g._PH_A2} + ({salt} * {g._PH_B2}) % {P} + 3) % {P}"
        return f"(({f1}) * ({f2})) % {P}"

    nl = f"({_ph_sql('i', 81)}) % 4"
    t = f"(({phj('90')}) % {n_rows})"
    w = f"({words})[(({phj('97')}) % {len(g._LINK_WORDS)} + 1)::INT]"
    return f"""
            SELECT i, j,
                   'https://h' || (i % {H}) || '.example/p/' || i AS src_url,
                   'h' || (i % {H}) || '.example' AS src_host,
                   'https://h' || ({t} % {H}) || '.example/p/' || {t} AS href,
                   'h' || ({t} % {H}) || '.example' AS dst_host,
                   {w} || ' place ' || {t} AS anchor
            FROM range(0, {n_rows}) s(i)
            CROSS JOIN (SELECT unnest([0, 1, 2]) AS j)
            WHERE ({nl}) > j
"""


def _adaptive_tiles_sql() -> str:
    """SQL mirror of operators/tiles.adaptive_tiles over the event
    points: aggregate once at max_z, integer rollups to base_z, then
    keep tiles within the budget and descend through overflowing
    parents."""
    bz, mz, t = ADAPTIVE_BASE_Z, ADAPTIVE_MAX_Z, ADAPTIVE_T
    tx, ty = _tile_xy_sql("lat", "lon", mz)
    ctes = [
        f"pts AS ({_POINTS_SQL})",
        f"t{mz} AS (SELECT {tx} AS x, {ty} AS y, COUNT(*) AS n FROM pts GROUP BY 1, 2)",
    ]
    for z in range(mz - 1, bz - 1, -1):
        ctes.append(
            f"t{z} AS (SELECT x // 2 AS x, y // 2 AS y, (SUM(n))::BIGINT AS n "
            f"FROM t{z + 1} GROUP BY 1, 2)"
        )
    parts = [f"SELECT {bz} AS z, x, y, n FROM t{bz} WHERE n <= {t}"]
    ctes.append(f"ov{bz} AS (SELECT x, y FROM t{bz} WHERE n > {t})")
    for z in range(bz + 1, mz + 1):
        ctes.append(
            f"l{z} AS (SELECT t{z}.x, t{z}.y, t{z}.n FROM t{z} "
            f"JOIN ov{z - 1} o ON t{z}.x // 2 = o.x AND t{z}.y // 2 = o.y)"
        )
        if z == mz:
            parts.append(f"SELECT {z} AS z, x, y, n FROM l{z}")
        else:
            parts.append(f"SELECT {z} AS z, x, y, n FROM l{z} WHERE n <= {t}")
            ctes.append(f"ov{z} AS (SELECT x, y FROM l{z} WHERE n > {t})")
    return (
        "WITH " + ",\n            ".join(ctes)
        + "\n            SELECT z::INT AS z, x, y, n AS n_points FROM ("
        + " UNION ALL ".join(parts) + ") leaves"
    )


def _gen_polygon_edges_values() -> str:
    """Edge table literals for the generated polygon fixture (shared
    pure-Python rows; string-cast doubles — bare VALUES literals are
    DECIMAL-truncated)."""
    from skyway_spark.sources.generate import polygon_rows

    rows = []
    for pid, _name, ring, role in polygon_rows():
        for (y1, x1), (y2, x2) in zip(ring[:-1], ring[1:]):
            rows.append(
                f"({pid}, '{role}', '{y1!r}'::DOUBLE, '{x1!r}'::DOUBLE,"
                f" '{y2!r}'::DOUBLE, '{x2!r}'::DOUBLE)"
            )
    return ", ".join(rows)


def _pages_pipeline_sql(n_rows: int = 2000) -> str:
    tx8, ty8 = _tile_xy_sql("k.lat", "k.lon", 8)
    return f"""
        WITH pts AS ({_page_mentions_sql(n_rows)}),
        kept AS (SELECT * FROM pts WHERE amenity <> 'bench'),
        edges(polygon_id, role, y1, x1, y2, x2) AS (
            VALUES {_gen_polygon_edges_values()}),
        ring_hits AS (
            SELECT k.i, k.j, e.polygon_id, e.role,
                   SUM(CASE WHEN ((e.y1 > k.lat) != (e.y2 > k.lat))
                             AND k.lon < (e.x2 - e.x1) * (k.lat - e.y1) / (e.y2 - e.y1) + e.x1
                            THEN 1 ELSE 0 END) % 2 = 1 AS inside
            FROM kept k CROSS JOIN edges e
            GROUP BY k.i, k.j, e.polygon_id, e.role),
        pip AS (
            SELECT i, j, polygon_id
            FROM ring_hits
            GROUP BY i, j, polygon_id
            HAVING bool_or(role = 'outer' AND inside)
               AND NOT bool_or(role = 'hole' AND inside))
        SELECT p.polygon_id, {tx8} AS tile_x, {ty8} AS tile_y,
               COUNT(*) AS n_points
        FROM pip p JOIN kept k USING (i, j)
        GROUP BY 1, 2, 3
    """


def _geohash_oracle_sql(p: int = 4) -> str:
    """Mirror of cells.geohash over the event points: quantize,
    interleave lon-first MSB-down, base32 per 5 bits."""
    nbits = 5 * p
    lonb = (nbits + 1) // 2
    latb = nbits // 2
    lonq = (
        f"greatest(0, least({(1 << lonb) - 1}, "
        f"floor((lon + 180.0) / 360.0 * {float(1 << lonb)})::BIGINT))"
    )
    latq = (
        f"greatest(0, least({(1 << latb) - 1}, "
        f"floor((lat + 90.0) / 180.0 * {float(1 << latb)})::BIGINT))"
    )
    lon_off = nbits - 2 * lonb + 1  # lon owns the MSB (cells.geohash)
    lat_off = nbits - 2 * latb
    z = " | ".join(
        [f"(((lonq >> {i}) & 1) << {2 * i + lon_off})" for i in range(lonb)]
        + [f"(((latq >> {i}) & 1) << {2 * i + lat_off})" for i in range(latb)]
    )
    chars = " || ".join(
        f"substr('{cells.GEOHASH_BASE32}', ((z >> {nbits - 5 * (j + 1)}) & 31)::INT + 1, 1)"
        for j in range(p)
    )
    return f"""
        WITH pts AS ({_POINTS_SQL}),
        q AS (SELECT {lonq} AS lonq, {latq} AS latq FROM pts),
        zt AS (SELECT ({z}) AS z FROM q)
        SELECT {chars} AS gh, COUNT(*) AS n_points FROM zt GROUP BY 1
    """


def _pipeline_exact_sql() -> str:
    tx8, ty8 = _tile_xy_sql("k.lat", "k.lon", 8)
    return f"""
        WITH pts AS ({_PORTABLE_MENTIONS_SQL}),
        kept AS (SELECT * FROM pts WHERE amenity <> 'bench'),
        edges(polygon_id, role, y1, x1, y2, x2) AS (VALUES {_pip_edges_values()}),
        ring_hits AS (
            SELECT k.doc_id, k.j, e.polygon_id, e.role,
                   SUM(CASE WHEN ((e.y1 > k.lat) != (e.y2 > k.lat))
                             AND k.lon < (e.x2 - e.x1) * (k.lat - e.y1) / (e.y2 - e.y1) + e.x1
                            THEN 1 ELSE 0 END) % 2 = 1 AS inside
            FROM kept k CROSS JOIN edges e
            GROUP BY k.doc_id, k.j, e.polygon_id, e.role),
        pip AS (
            SELECT doc_id, j, polygon_id
            FROM ring_hits
            GROUP BY doc_id, j, polygon_id
            HAVING bool_or(role = 'outer' AND inside)
               AND NOT bool_or(role = 'hole' AND inside))
        SELECT p.polygon_id, {tx8} AS tile_x, {ty8} AS tile_y,
               COUNT(*) AS n_points
        FROM pip p JOIN kept k USING (doc_id, j)
        GROUP BY 1, 2, 3
    """


def _ivf_topk_sql(k: int = 10, n_centroids: int = 8, nprobe: int = 2, seed: int = 7) -> str:
    """Exact oracle for the IVF ANN path: same centroid literals, same
    left-fold dots, same first-occurrence argmin, same probe lists."""
    import numpy as np

    cents = similarity.ivf_centroids(len(QUERY_VEC), n_centroids, seed)
    q = np.asarray(QUERY_VEC, dtype=float)
    qdists = np.einsum("ij,ij->i", cents, cents) - 2.0 * cents @ q
    probe = [int(i) + 1 for i in np.argsort(qdists, kind="stable")[:nprobe]]

    def dot_lit(vec: list[float]) -> str:
        lit = "[" + ", ".join(repr(float(x)) for x in vec) + "]::DOUBLE[]"
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {len(vec) + 1}), "
            f"i -> embedding[i::INT]::DOUBLE * ({lit})[i::INT])), (a, b) -> a + b)"
        )

    dist_exprs = ", ".join(
        f"({float(np.dot(c, c))!r} - 2.0 * {dot_lit(c.tolist())})" for c in cents
    )
    norm = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, "
        "x -> x::DOUBLE * x::DOUBLE)), (a, b) -> a + b))"
    )
    return f"""
        WITH d AS (
            SELECT vec_id, embedding, [{dist_exprs}]::DOUBLE[] AS dl FROM embeddings),
        a AS (SELECT vec_id, embedding, list_position(dl, list_min(dl)) AS lst FROM d),
        cand AS (SELECT vec_id, embedding FROM a
                 WHERE lst IN ({", ".join(map(str, probe))})),
        scored AS (
            SELECT vec_id,
                   round({dot_lit(QUERY_VEC)} / ({norm} * {_QNORM!r}), 6) AS cos_sim
            FROM cand)
        SELECT vec_id, cos_sim,
               (row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC))::INT AS rank
        FROM scored
        QUALIFY rank <= {k}
    """


def _pbf_roundtrip_sql() -> str:
    """Expected PBF read-back rows as a DuckDB VALUES table, re-derived
    in pure Python from the shared fixture: coords go through the same
    nanodegree quantization the format imposes (granularity 100,
    src/readers/pbf semantics: value = 1e-9 * 100 * (round(x*1e9)//100))
    and tags are serialized independently of the Spark-side expression."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    def dec(x: float) -> float:
        return 1e-9 * (100 * (int(round(x * 1e9)) // 100))

    rows = []
    for e in _pbf_fixture_elements():
        tags_ser = "\x1e".join(
            f"{k}\x1f{v}" for k, v in sorted(e["tags"].items())
        )
        # string-cast literals: bare float literals in VALUES default to
        # DECIMAL and silently drop low-order double digits
        lat = f"'{dec(e['lat'])!r}'::DOUBLE" if e["type"] == "node" else "NULL"
        lon = f"'{dec(e['lon'])!r}'::DOUBLE" if e["type"] == "node" else "NULL"
        rows.append(
            f"({q(e['type'])}, {e['id']}, {lat}, {lon}, {q(tags_ser)})"
        )
    values = ",\n                   ".join(rows)
    return f"""
            SELECT v.type, v.id::BIGINT AS id, v.lat::DOUBLE AS lat,
                   v.lon::DOUBLE AS lon, v.tags_ser
            FROM (VALUES {values})
                 AS v(type, id, lat, lon, tags_ser)
        """


def _way_lengths_sql() -> str:
    lat = lambda x: f"(({x}) % 170) - 85.0"  # noqa: E731
    lon = lambda x: f"(({x}) * 11 % 360) - 180.0"  # noqa: E731
    h = lambda a, b: _haversine_sql(lat(a), lon(a), lat(b), lon(b))  # noqa: E731
    return f"""
        WITH mxt AS (SELECT max(p_partkey) AS mx FROM part),
        w AS (SELECT p_partkey AS way_id,
                     p_partkey AS r1,
                     p_partkey * 7 % mx + 1 AS r2,
                     p_partkey * 13 % mx + 1 AS r3,
                     p_partkey * 3 % mx + 1 AS r4
              FROM part, mxt WHERE p_partkey % 5 = 0)
        SELECT way_id, 4 AS n_points,
               round(0.0 + {h("r1", "r2")} + {h("r2", "r3")} + {h("r3", "r4")}, 6) AS length_km
        FROM w
    """


def _relation_rollup_sql() -> str:
    lat = lambda x: f"(({x}) % 170) - 85.0"  # noqa: E731
    lon = lambda x: f"(({x}) * 11 % 360) - 180.0"  # noqa: E731
    h = lambda a, b: _haversine_sql(lat(a), lon(a), lat(b), lon(b))  # noqa: E731

    def rl(w: str) -> str:
        r1 = f"({w})"
        r2 = f"(({w}) * 7 % mx + 1)"
        r3 = f"(({w}) * 13 % mx + 1)"
        r4 = f"(({w}) * 3 % mx + 1)"
        return f"round(0.0 + {h(r1, r2)} + {h(r2, r3)} + {h(r3, r4)}, 6)"

    return f"""
        WITH mxt AS (SELECT max(p_partkey) AS mx FROM part),
        rel AS (SELECT p_partkey AS rel_id, mx,
                       (p_partkey * 3 % mx) - (p_partkey * 3 % mx) % 5 AS w1,
                       (p_partkey * 7 % mx) - (p_partkey * 7 % mx) % 5 AS w2
                FROM part, mxt WHERE p_partkey % 7 = 3)
        SELECT rel_id, 2 AS n_ways, 1 AS n_outer, 8::BIGINT AS total_points,
               round(0.0 + {rl("w1")} + {rl("w2")}, 6) AS perimeter_km
        FROM rel
    """


def _trips_sql() -> str:
    """Window-SQL mirror of operators/trajectory.segment_trips with the
    identical pinned haversine op order and integer path quantization."""
    hav = _haversine_sql("plat", "plon", "lat", "lon")
    brk = (
        f"plat IS NULL OR {hav} > {TRIP_JUMP_KM!r} OR gap > {TRIP_GAP_US}"
    )
    return f"""
        WITH p AS (
            SELECT user_id, event_id, ts,
                   ((user_id * 7919) % 17000) / 100.0 - 85.0 AS lat,
                   ((event_id * 104729) % 36000) / 100.0 - 180.0 AS lon
            FROM events),
        l AS (
            SELECT user_id AS entity, event_id AS pid, ts, lat, lon,
                   lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
            FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        f AS (
            SELECT entity, pid, ts,
                   CASE WHEN {brk} THEN 1 ELSE 0 END AS brk,
                   CASE WHEN {brk} THEN 0
                        ELSE floor({hav} * 100000.0)::BIGINT END AS step_cm
            FROM l),
        g AS (
            SELECT entity, pid, step_cm,
                   (SUM(brk) OVER (PARTITION BY entity ORDER BY ts, pid
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ))::BIGINT AS seg_id
            FROM f)
        SELECT entity, seg_id, COUNT(*)::BIGINT AS n_points,
               MIN(pid) AS first_id, MAX(pid) AS last_id,
               (SUM(step_cm))::BIGINT AS path_cm
        FROM g GROUP BY 1, 2
    """


def _bloom_sql(n: int | None = None, k: int | None = None, m: int | None = None) -> str:
    """Bit-exact SQL reconstruction of operators/bloom.py: same char-fold
    gram hash, same double-hashing LCGs, same 62-bit word packing."""
    n, k, m = n or BLOOM_N, k or BLOOM_K, m or BLOOM_M
    g = _sql_token_hash("gram")
    h1 = "((g % 2147483647) * 1103515245 + 12345) % 2147483647"
    h2 = "((g % 2147483647) * 69069 + 1) % 2147483647"
    return f"""
        WITH t AS (
            SELECT doc_id, {_WS_SPLIT} AS toks
            FROM documents),
        base AS (
            SELECT doc_id, greatest(len(toks) - {n - 1}, 0)::INT AS nw, toks
            FROM t),
        w AS (
            SELECT doc_id, i, array_to_string(toks[i:i+{n - 1}], ' ') AS gram
            FROM base, unnest(range(1, nw + 1)) AS u(i)
            WHERE nw > 0),
        wg AS (SELECT doc_id, i, {g} AS g FROM w),
        bpos AS (
            SELECT DISTINCT (h1 + j * h2) % {m} AS p
            FROM (SELECT {h1} AS h1, {h2} AS h2
                  FROM wg WHERE doc_id % 97 = 0),
                 unnest(range(0, {k})) AS tj(j)),
        bm AS (
            SELECT p // 62 AS wi, bit_or(1::BIGINT << ((p % 62)::INT)) AS bits
            FROM bpos GROUP BY 1),
        probe AS (
            SELECT doc_id, i,
                   bool_and((COALESCE(bm.bits, 0) >> ((q.p % 62)::INT)) & 1 = 1) AS hit
            FROM (SELECT doc_id, i, (h1 + j * h2) % {m} AS p
                  FROM (SELECT doc_id, i, {h1} AS h1, {h2} AS h2 FROM wg),
                       unnest(range(0, {k})) AS tj(j)) q
            LEFT JOIN bm ON bm.wi = q.p // 62
            GROUP BY doc_id, i),
        agg AS (
            SELECT doc_id,
                   (SUM(CASE WHEN hit THEN 1 ELSE 0 END))::INT AS n_flagged
            FROM probe GROUP BY 1)
        SELECT b.doc_id, b.nw AS n_windows,
               COALESCE(a.n_flagged, 0) AS n_flagged,
               COALESCE(a.n_flagged, 0) > 0 AS contaminated
        FROM base b LEFT JOIN agg a USING (doc_id)
    """


def _curation_sql() -> str:
    """CTE chain mirroring q_curation_pipeline stage for stage."""
    case_t = " ".join(
        f"WHEN '{k}' THEN {v!r}::DOUBLE" for k, v in sorted(REBALANCE_TARGETS.items())
    )
    return f"""
        WITH gated AS (
            SELECT doc_id, lang, text FROM documents
            WHERE len({_WS_SPLIT})
                  >= {CURATION_MIN_TOKENS}),
        surv AS (
            SELECT doc_id, lang, text FROM gated
            QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
        c AS (
            SELECT lang, COUNT(*)::DOUBLE AS n, CASE lang {case_t} END AS t
            FROM surv GROUP BY lang),
        c2 AS (SELECT * FROM c WHERE t IS NOT NULL),
        s AS (SELECT MIN(n / t) AS scale FROM c2),
        th AS (
            SELECT lang,
                   CASE WHEN n / t = scale THEN 1000000
                        ELSE floor((t * scale) / n * 1000000)::BIGINT
                   END AS cut
            FROM c2 CROSS JOIN s),
        reb AS (
            SELECT d.doc_id, d.text FROM surv d JOIN th USING (lang)
            WHERE (((d.doc_id % 2147483647) * 1103515245 + 12345)
                   % 2147483647) % 1000000 < th.cut),
        t AS (
            SELECT doc_id,
                   len({_WS_SPLIT})::BIGINT AS n_tokens
            FROM reb),
        sp AS (
            SELECT doc_id, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0)::BIGINT AS start_offset
            FROM t)
        SELECT doc_id, n_tokens, start_offset,
               (start_offset // {PACK_SEQ_LEN})::BIGINT AS seq_id,
               (start_offset % {PACK_SEQ_LEN})::BIGINT AS seq_offset
        FROM sp
    """


def _kmeans_dist_sql(v: str, c: str, dim: int = 64) -> str:
    d = f"({v}.q[i::INT] - {c}.q[i::INT])"
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> {d} * {d}), (x, y) -> x + y)"
    )


def _kmeans_cte_prefix(
    k: int, iters: int, dim: int = 64, scale_bits: int = 20,
    vec_expr: str = "embedding",
) -> tuple[str, str]:
    """Shared unrolled-Lloyd CTE chain: quantize, deterministic init,
    per-iteration assign / integer sums / floor-div update with
    empty-cluster carry-over. Returns (sql_prefix, final_centroid_cte).
    ``vec_expr`` lets the PQ oracle train on embedding sub-slices."""
    dist = lambda v, c: _kmeans_dist_sql(v, c, dim)  # noqa: E731
    sql = f"""
        WITH quant AS (
            SELECT vec_id,
                   list_transform({vec_expr},
                       x -> floor(x::DOUBLE * {float(1 << scale_bits)})::BIGINT) AS q
            FROM embeddings),
        c0 AS (
            SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cid, q
            FROM (SELECT vec_id, q FROM quant ORDER BY vec_id LIMIT {k})),
    """
    prev = "c0"
    for it in range(1, iters + 1):
        a, s, c = f"a{it}", f"s{it}", f"c{it}"
        sql += f"""
        {a} AS (
            SELECT vec_id, q, cid FROM (
                SELECT v.vec_id, v.q, c.cid,
                       row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {dist('v', 'c')}, c.cid) AS rn
                FROM quant v CROSS JOIN {prev} c) WHERE rn = 1),
        {s} AS (
            SELECT a.cid, i AS d, SUM(a.q[i::INT]) AS sm, COUNT(*) AS cnt
            FROM {a} a, unnest(range(1, {dim + 1})) AS u(i)
            GROUP BY 1, 2),
        {c} AS (
            SELECT cid, list(fd ORDER BY d) AS q FROM (
                SELECT cid, d,
                       ((sm - (((sm % cnt) + cnt) % cnt)) // cnt)::BIGINT AS fd
                FROM {s}) GROUP BY cid
            UNION ALL
            SELECT cid, q FROM {prev}
            WHERE cid NOT IN (SELECT DISTINCT cid FROM {a})),
        """
        prev = c
    return sql, prev


def _kmeans_sql(
    k: int | None = None, iters: int | None = None, dim: int = 64, scale_bits: int = 20,
    vec_expr: str = "embedding",
) -> str:
    """Unrolled-CTE mirror of operators/kmeans.kmeans_fit_assign: the
    same quantization, integer distances, argmin tie-break, floor-div
    centroid update and empty-cluster carry-over, iteration by
    iteration."""
    k, iters = k or KMEANS_K, iters or KMEANS_ITERS
    prefix, prev = _kmeans_cte_prefix(k, iters, dim, scale_bits, vec_expr)
    dist = _kmeans_dist_sql("v", "c", dim)
    return prefix + f"""
        fin AS (
            SELECT v.vec_id, c.cid,
                   ({dist})::BIGINT AS dist,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY {dist}, c.cid) AS rn
            FROM quant v CROSS JOIN {prev} c)
        SELECT vec_id, cid AS cluster, dist FROM fin WHERE rn = 1
    """


def _hilbert_sql(order: int | None = None) -> str:
    """functions/cells.hilbert_key mirror: same grid projection, the
    xy->d walk unrolled one CTE per level (state columns x/y/d carry
    between CTEs, so no expression duplication — the SQL analogue of
    the Spark side's struct fold)."""
    order = order or HILBERT_ORDER
    n = 1 << order
    sql = f"""
        WITH pts AS ({_POINTS_SQL}),
        g AS (
            SELECT event_id,
                   greatest(0, least({n - 1},
                       floor((lon + 180.0::DOUBLE) / 360.0::DOUBLE
                             * {float(n)})))::BIGINT AS gx,
                   greatest(0, least({n - 1},
                       floor((90.0::DOUBLE - lat) / 180.0::DOUBLE
                             * {float(n)})))::BIGINT AS gy
            FROM pts),
        h0 AS (SELECT event_id, gx, gy, gx AS x, gy AS y, 0::BIGINT AS d
               FROM g)"""
    step = 0
    for lvl in range(order - 1, -1, -1):
        s = 1 << lvl
        prev, step = f"h{step}", step + 1
        sql += f""",
        h{step} AS (
            SELECT event_id, gx, gy,
                   CASE WHEN (y & {s}) != 0 THEN x
                        WHEN (x & {s}) != 0 THEN {s - 1} - y
                        ELSE y END AS x,
                   CASE WHEN (y & {s}) != 0 THEN y
                        WHEN (x & {s}) != 0 THEN {s - 1} - x
                        ELSE x END AS y,
                   (d + {s}::BIGINT * {s} * xor(
                        3 * (CASE WHEN (x & {s}) != 0 THEN 1 ELSE 0 END),
                        (CASE WHEN (y & {s}) != 0 THEN 1 ELSE 0 END)
                    ))::BIGINT AS d
            FROM {prev})"""
    return sql + f"""
        SELECT event_id, gx, gy, d AS hkey FROM h{step}
    """


def _winnow_cte(k: int, w: int) -> str:
    """Shared winnowing CTE prefix ending in
    f(doc_id, nk, nw, fps) — used by the q_winnow summary oracle and
    the q_winnow_decontam join oracle."""
    fold = (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(0, {k}), "
        f"o -> ord(substring(t, (i + o)::INT, 1))::BIGINT)), "
        f"(a, b) -> (a * 31 + b) % {_HM})"
    )
    return f"""
        WITH lo AS (SELECT doc_id, lower(text) AS t FROM documents),
        b AS (
            SELECT doc_id, t, greatest(len(t) - {k - 1}, 0)::INT AS nk
            FROM lo),
        h AS (
            SELECT doc_id, nk,
                   CASE WHEN nk >= 1
                        THEN list_transform(range(1, nk + 1), i -> {fold})
                        ELSE []::BIGINT[] END AS hashes
            FROM b),
        sel AS (
            SELECT doc_id, nk,
                   greatest(len(hashes) - {w - 1}, 0)::INT AS nw, hashes
            FROM h),
        f AS (
            SELECT doc_id, nk, nw,
                   CASE WHEN nw >= 1
                        THEN list_sort(list_distinct(list_transform(
                                 range(1, nw + 1),
                                 j -> list_min(hashes[j:j+{w - 1}]))))
                        ELSE []::BIGINT[] END AS fps
            FROM sel)
    """


def _winnow_sql(k: int | None = None, w: int | None = None) -> str:
    """operators/dedup.winnow_fingerprints mirror: same char-fold
    k-gram hashes over lower(text), same window minima, same sorted
    distinct set and fold checksum."""
    k, w = k or WINNOW_K, w or WINNOW_W
    return _winnow_cte(k, w) + f"""
        SELECT doc_id, nk AS n_kgrams, nw AS n_windows,
               len(fps)::INT AS n_fps,
               list_reduce(list_prepend(0::BIGINT, fps),
                           (a, b) -> (a * 31 + b) % {_HM}) AS fp_chk
        FROM f
    """


def _winnow_decontam_sql(
    k: int | None = None, w: int | None = None, share_pct: int = 60
) -> str:
    """operators/dedup.winnow_decontaminate mirror over the doc_id %
    50 == 0 benchmark split: coverage-normalized integer flag."""
    k, w = k or WINNOW_K, w or WINNOW_W
    return _winnow_cte(k, w) + f"""
        , fp AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        counts AS (
            SELECT doc_id, COUNT(*) AS n_fps FROM fp
            WHERE doc_id % 50 != 0 GROUP BY 1),
        hits AS (
            SELECT c.doc_id,
                   COUNT(DISTINCT c.fp) AS n_shared_fps,
                   COUNT(DISTINCT b.doc_id) AS n_bench_docs
            FROM fp c JOIN fp b ON c.fp = b.fp
            WHERE b.doc_id % 50 = 0 AND c.doc_id % 50 != 0
            GROUP BY c.doc_id)
        SELECT n.doc_id, n.n_fps,
               COALESCE(h.n_shared_fps, 0) AS n_shared_fps,
               COALESCE(h.n_bench_docs, 0) AS n_bench_docs,
               COALESCE(h.n_shared_fps, 0) * 100
                   >= n.n_fps * {share_pct} AS flagged
        FROM counts n LEFT JOIN hits h USING (doc_id)
    """


def _hash_classifier_cte(n: int = 2) -> str:
    """Shared CTE chain mirroring textstats.hash_feature_score: per-
    token fold hashes, gram hash = pairwise combine (h1*GRAM_MULT + h2
    mod 2^44), LCG weight in [-1000, 1000], int64 sum."""
    from skyway_spark.operators.textstats import GRAM_MULT

    th = _sql_token_hash("tok")
    return f"""
        WITH t AS (
            SELECT doc_id, {_WS_SPLIT} AS toks
            FROM documents),
        base AS (
            SELECT doc_id, greatest(len(toks) - {n - 1}, 0)::INT AS ng,
                   list_transform(toks, tok -> {th}) AS th
            FROM t),
        wg AS (
            SELECT doc_id,
                   list_reduce(list_prepend(th[i::INT], th[i+1:i+{n - 1}]),
                               (a, b) -> (a * {GRAM_MULT} + b) % {_HM}) AS g
            FROM base, unnest(range(1, ng + 1)) AS u(i)
            WHERE ng > 0),
        s AS (
            SELECT doc_id,
                   (SUM((((g % {_PR}) * 1103515245 + 12345) % {_PR})
                        % 2001 - 1000))::BIGINT AS score
            FROM wg GROUP BY 1),
        scored AS (
            SELECT b.doc_id, b.ng AS n_grams,
                   COALESCE(s.score, 0)::BIGINT AS score
            FROM base b LEFT JOIN s USING (doc_id))
    """


def _hash_classifier_sql(n: int = 2) -> str:
    return _hash_classifier_cte(n) + """
        SELECT doc_id, n_grams, score, score > 0 AS quality FROM scored
    """


def _dsir_sql(n: int = 2, k: int = 100) -> str:
    """q_dsir_resample mirror: classifier score -> weight
    greatest(score,0)+1 -> priority = lcg(id) // weight, bottom-k."""
    return _hash_classifier_cte(n) + f"""
        SELECT doc_id, score, priority,
               (row_number() OVER (ORDER BY priority, doc_id))::INT
                   AS sample_rank
        FROM (
            SELECT doc_id, score,
                   (((doc_id % {_PR}) * 1103515245 + 12345) % {_PR})
                       // (greatest(score, 0) + 1) AS priority
            FROM scored)
        ORDER BY priority, doc_id
        LIMIT {k}
    """


def _semdedup_sql(
    tau: int | None = None,
    k: int | None = None,
    iters: int | None = None,
    dim: int = 64,
    scale_bits: int = 20,
) -> str:
    """operators/similarity.semantic_dedup mirror: same Lloyd chain,
    same within-cluster lower-id near-neighbor drop rule."""
    tau = tau or SEMDEDUP_TAU
    k, iters = k or KMEANS_K, iters or KMEANS_ITERS
    prefix, prev = _kmeans_cte_prefix(k, iters, dim, scale_bits)
    dist = _kmeans_dist_sql("v", "c", dim)
    pd = f"(x.q[i::INT] - y.q[i::INT])"
    pair_dist = (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> {pd} * {pd}), (a, b) -> a + b)"
    )
    return prefix + f"""
        fin AS (
            SELECT vec_id, q, cid FROM (
                SELECT v.vec_id, v.q, c.cid,
                       row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {dist}, c.cid) AS rn
                FROM quant v CROSS JOIN {prev} c) WHERE rn = 1),
        drops AS (
            SELECT DISTINCT x.vec_id
            FROM fin x JOIN fin y
              ON x.cid = y.cid AND x.vec_id > y.vec_id
            WHERE {pair_dist} <= {int(tau)})
        SELECT f.vec_id, f.cid AS cluster, (d.vec_id IS NULL) AS keep
        FROM fin f LEFT JOIN drops d ON f.vec_id = d.vec_id
    """


def _ivf_trained_sql(
    k: int | None = None,
    iters: int | None = None,
    nprobe: int = 2,
    topk: int = 10,
    dim: int = 64,
    scale_bits: int = 20,
) -> str:
    """Trained-IVF probe mirror: same Lloyd chain, then select the
    query's nprobe nearest lists and exactly re-rank their members by
    integer squared distance to the quantized query literal."""
    import math

    k, iters = k or KMEANS_K, iters or KMEANS_ITERS
    prefix, prev = _kmeans_cte_prefix(k, iters, dim, scale_bits)
    qq = [math.floor(float(x) * (1 << scale_bits)) for x in QUERY_VEC]
    ql = "[" + ", ".join(str(v) for v in qq) + "]::BIGINT[]"

    def qdist(v: str) -> str:
        d = f"({v}.q[i::INT] - ql.q[i::INT])"
        return (
            f"list_reduce(list_transform(range(1, {dim + 1}), "
            f"i -> {d} * {d}), (x, y) -> x + y)"
        )

    return prefix + f"""
        ql AS (SELECT {ql} AS q),
        assign AS (
            SELECT vec_id, q, cid FROM (
                SELECT v.vec_id, v.q, c.cid,
                       row_number() OVER (PARTITION BY v.vec_id
                           ORDER BY {_kmeans_dist_sql('v', 'c', dim)}, c.cid) AS rn
                FROM quant v CROSS JOIN {prev} c) WHERE rn = 1),
        probe AS (
            SELECT cid FROM (
                SELECT c.cid,
                       row_number() OVER (
                           ORDER BY {_kmeans_dist_sql('ql', 'c', dim)}, c.cid) AS rn
                FROM {prev} c CROSS JOIN ql) WHERE rn <= {nprobe})
        SELECT a.vec_id, a.cid AS cluster,
               ({qdist('a')})::BIGINT AS qdist
        FROM assign a CROSS JOIN ql
        WHERE a.cid IN (SELECT cid FROM probe)
        ORDER BY qdist, a.vec_id
        LIMIT {topk}
    """


def oracle_sql() -> dict[str, str]:
    langs = _sql_lang_scores()
    gmax = f"greatest({langs['en']}, {langs['de']}, {langs['fr']}, {langs['es']})"
    tx10, ty10 = _tile_xy_sql("lat", "lon", TILE_Z)
    q_emb_elem = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        "i -> embedding[i::INT]::DOUBLE * (qv[i::INT]))), (a, b) -> a + b)"
    )
    qv_lit = "[" + ", ".join(repr(float(x)) for x in QUERY_VEC) + "]"
    norm = (
        "sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, "
        "x -> x::DOUBLE * x::DOUBLE)), (a, b) -> a + b))"
    )
    pair_dot = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, 65), "
        "i -> a.embedding[i::INT]::DOUBLE * b.embedding[i::INT]::DOUBLE)), "
        "(x, y) -> x + y)"
    )
    pair_norm = lambda side: (  # noqa: E731
        f"sqrt(list_reduce(list_prepend(0.0, list_transform({side}.embedding, "
        f"x -> x::DOUBLE * x::DOUBLE)), (x, y) -> x + y))"
    )

    out = {
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(l_quantity::DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
                   CAST(SUM(l_extendedprice::DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2)) AS DOUBLE) AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1999-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q03_top_orders": """
            SELECT o_orderkey, o_orderdate, o_orderpriority,
                   CAST(SUM(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2)) AS DOUBLE) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15'
              AND l_shipdate > TIMESTAMP '1998-03-15'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "q05_region_volume": """
            SELECT n_name,
                   CAST(SUM(l_extendedprice::DECIMAL(18,2) * (1 - l_discount)::DECIMAL(18,2)) AS DOUBLE) AS revenue
            FROM region
            JOIN nation ON n_regionkey = r_regionkey
            JOIN customer ON c_nationkey = n_nationkey
            JOIN orders ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name
        """,
        "q06_discount_revenue": """
            SELECT CAST(SUM(l_extendedprice::DECIMAL(18,2) * l_discount::DECIMAL(18,2)) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1996-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "q_orders_cube": """
            SELECT o_orderstatus, o_orderpriority,
                   COUNT(*) AS n_orders,
                   CAST(SUM(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS sum_total
            FROM orders
            GROUP BY CUBE(o_orderstatus, o_orderpriority)
        """,
        "q_grouping_sets": """
            SELECT o_orderstatus, o_orderpriority,
                   COUNT(*) AS n_orders,
                   CAST(SUM(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS sum_total
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        "q_scalar_subquery": """
            SELECT c_mktsegment, COUNT(*) AS n_customers
            FROM customer
            WHERE (SELECT MAX(o_totalprice) FROM orders
                   WHERE o_custkey = c_custkey) > 350000
            GROUP BY c_mktsegment
        """,
        "q_percentiles": """
            SELECT l_returnflag,
                   quantile_cont(l_quantity, 0.25) AS p25,
                   quantile_cont(l_quantity, 0.5) AS p50,
                   quantile_cont(l_quantity, 0.75) AS p75,
                   MIN(l_quantity) AS min_qty,
                   MAX(l_quantity) AS max_qty
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "q_gap_fill": """
            WITH agg AS (
                SELECT user_id % 100 AS k, date_trunc('hour', ts) AS hour,
                       COUNT(*) AS n_events,
                       (SUM(floor(value * 100)::BIGINT))::BIGINT AS cents
                FROM events GROUP BY 1, 2),
            spans AS (
                SELECT k, MIN(hour) AS h0, MAX(hour) AS h1 FROM agg GROUP BY 1),
            grid AS (
                SELECT k, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
                FROM spans)
            SELECT g.k, g.hour,
                   COALESCE(a.n_events, 0) AS n_events,
                   LAST_VALUE(a.cents IGNORE NULLS) OVER (
                       PARTITION BY g.k ORDER BY g.hour
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS ffill_cents
            FROM grid g LEFT JOIN agg a ON g.k = a.k AND g.hour = a.hour
        """,
        "q_asof_join": """
            WITH l AS (
                SELECT o_custkey % 50 AS k, o_orderdate AS ts, o_orderkey
                FROM orders),
            r AS (
                SELECT user_id % 50 AS k, ts, MAX(event_id) AS ref_event
                FROM events GROUP BY 1, 2)
            SELECT l.o_orderkey, l.k, r.ref_event
            FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.ts >= r.ts
        """,
        "q_overlap_join": """
            WITH iv AS (
                SELECT l_orderkey, l_linenumber, l_shipdate AS s,
                       l_shipdate + (CAST(l_quantity AS INT) % 10 + 1)
                           * INTERVAL 1 DAY AS e
                FROM lineitem)
            SELECT a.l_orderkey, a.l_linenumber AS ln_a, b.l_linenumber AS ln_b
            FROM iv a JOIN iv b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_linenumber < b.l_linenumber
              AND a.s <= b.e AND b.s <= a.e
        """,
        "q_sliding_window": """
            WITH e AS (
                SELECT event_type,
                       time_bucket(INTERVAL 15 MINUTE, ts)
                         - unnest([0, 1, 2, 3]) * INTERVAL 15 MINUTE AS window_start,
                       ts
                FROM events)
            SELECT window_start, event_type, COUNT(*) AS n_events
            FROM e
            WHERE ts >= window_start
              AND ts < window_start + INTERVAL 1 HOUR
            GROUP BY 1, 2
        """,
        "q_funnel": """
            WITH b AS (
                SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
            a AS (
                SELECT user_id,
                       MIN(us) FILTER (event_type = 'view') AS view_us,
                       list(us) FILTER (event_type = 'click') AS clicks
                FROM b GROUP BY 1)
            SELECT user_id,
                   view_us IS NOT NULL AS viewed,
                   list_min(list_filter(clicks, c -> c >= view_us)) AS click_us,
                   (view_us IS NOT NULL AND
                    (list_min(list_filter(clicks, c -> c >= view_us)) - view_us
                     <= 3600000000)) AS converted_1h
            FROM a
        """,
        "q_retention": """
            WITH f AS (
                SELECT user_id, MIN(date_trunc('day', ts)) AS cohort_day
                FROM events GROUP BY 1),
            a AS (
                SELECT DISTINCT user_id, date_trunc('day', ts) AS act_day
                FROM events)
            SELECT f.cohort_day::TIMESTAMP AS cohort_day,
                   date_diff('day', f.cohort_day, a.act_day)::INT AS day_offset,
                   COUNT(DISTINCT a.user_id) AS n_users
            FROM a JOIN f USING (user_id)
            GROUP BY 1, 2
        """,
        "q_pivot": """
            SELECT o_orderstatus,
                   COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS "1-URGENT",
                   COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS "2-HIGH",
                   COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
                   COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
                   COUNT(*) FILTER (o_orderpriority = '5-LOW') AS "5-LOW"
            FROM orders GROUP BY 1
        """,
        "q_window_range": """
            SELECT event_id, user_id,
                   (SUM(floor(value * 100)::BIGINT) OVER w)::BIGINT AS trail_cents,
                   COUNT(*) OVER w AS trail_n
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        """,
        "q_running_window": """
            SELECT o_orderkey, o_custkey,
                   CAST(SUM(o_totalprice::DECIMAL(18,2)) OVER
                        (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total,
                   (row_number() OVER w)::INT AS order_seq,
                   lag(o_orderkey) OVER w AS prev_orderkey,
                   (rank() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC))::INT AS price_rank,
                   (ntile(4) OVER w)::INT AS quartile
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        "q_string_funcs": """
            SELECT p_partkey,
                   upper(substring(p_name, 1, 8)) AS name8,
                   length(p_name)::INT AS name_len,
                   replace(p_brand, 'Brand#', 'B') AS brand_short,
                   concat_ws('|', p_brand, p_type) AS brand_type,
                   (p_name LIKE '%gre%') AS has_gre,
                   string_split(p_type, ' ')[1] AS type_head,
                   strpos(p_name, 'a')::INT AS first_a,
                   lpad(p_partkey::VARCHAR, 10, '0') AS key_pad
            FROM part
        """,
        "q_datetime_funcs": """
            SELECT o_orderkey,
                   year(o_orderdate)::INT AS y,
                   quarter(o_orderdate)::INT AS qtr,
                   month(o_orderdate)::INT AS m,
                   dayofmonth(o_orderdate)::INT AS dom,
                   (dayofweek(o_orderdate) + 1)::INT AS dow,
                   date_diff('day', o_orderdate::DATE, DATE '1998-01-01')::INT AS days_before_98,
                   strftime(o_orderdate, '%Y-%m') AS ym,
                   strftime(last_day(o_orderdate::DATE), '%Y-%m-%d') AS month_end,
                   date_trunc('month', o_orderdate)::TIMESTAMP AS month_start
            FROM orders
            WHERE o_orderkey % 7 = 0
        """,
        "q_json_props": """
            SELECT event_type,
                   CAST(props->>'k' AS BIGINT) % 10 AS k_mod,
                   COUNT(*) AS n_events,
                   (SUM(CAST(props->>'k' AS BIGINT)))::BIGINT AS sum_k,
                   MAX(CAST(props->>'k' AS BIGINT)) AS max_k
            FROM events
            GROUP BY 1, 2
        """,
        "q_lateral_view": """
            SELECT p_partkey AS id, (u.pos - 1)::INT AS pos, u.node_ref
            FROM part,
                 LATERAL (SELECT unnest([p_partkey, p_partkey + 1]) AS node_ref,
                                 generate_subscripts([p_partkey, p_partkey + 1], 1) AS pos) u
            WHERE p_partkey % 3 = 1
        """,
        "q_null_funcs": """
            SELECT o_orderkey,
                   nullif(o_orderstatus, 'P') AS status_np,
                   COALESCE(nullif(o_orderstatus, 'P'), 'PENDING') AS status_filled,
                   CASE WHEN nullif(o_orderstatus, 'P') IS NOT NULL
                        THEN 'known' ELSE 'pending' END AS nvl2_class,
                   greatest(o_custkey % 97, o_orderkey % 89) AS g,
                   least(o_custkey % 97, o_orderkey % 89) AS l,
                   CASE WHEN o_totalprice > 100000.0 THEN 'big'
                        WHEN o_totalprice > 10000.0 THEN 'mid'
                        ELSE 'small' END AS price_band
            FROM orders
        """,
        "q_tag_freq": """
            SELECT 'brand' AS tag_key, COUNT(*) AS n_elements,
                   COUNT(DISTINCT p_brand) AS n_values FROM part
            UNION ALL
            SELECT 'ptype', COUNT(*), COUNT(DISTINCT p_type) FROM part
            UNION ALL
            SELECT 'big', COUNT(*), 1 FROM part WHERE p_size > 40
        """,
        "q_array_map_funcs": """
            SELECT p_partkey AS id,
                   2 AS n_nodes,
                   2 * p_partkey + 1 AS node_sum,
                   4 * p_partkey + 2 AS double_sum,
                   p_partkey + 1 AS last_node,
                   CASE WHEN p_size > 40 THEN 'big,brand,ptype'
                        ELSE 'brand,ptype' END AS tag_keys,
                   CASE WHEN p_size > 40 THEN 3 ELSE 2 END AS n_tags
            FROM part
            WHERE p_partkey % 3 = 1
        """,
        "q_cust_no_orders": """
            SELECT c_mktsegment, COUNT(*) AS n_customers
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 400000)
            GROUP BY c_mktsegment
        """,
        "q_late_orders_semi": """
            SELECT o_orderpriority, COUNT(*) AS n_orders
            FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_returnflag = 'R')
            GROUP BY o_orderpriority
        """,
        "q_cust_order_left": """
            SELECT c_nationkey,
                   COUNT(DISTINCT c_custkey) AS n_customers,
                   COUNT(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON o_custkey = c_custkey
            GROUP BY c_nationkey
        """,
        "q_orders_rollup": """
            SELECT o_orderstatus, o_orderpriority,
                   COUNT(*) AS n_orders,
                   CAST(SUM(o_totalprice::DECIMAL(18,2)) AS DOUBLE) AS sum_total
            FROM orders
            GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        """,
        "q_nation_setops": """
            SELECT nationkey, 'both' AS src FROM (
                SELECT DISTINCT c_nationkey AS nationkey FROM customer
                INTERSECT
                SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
            UNION ALL
            SELECT nationkey, 'customer_only' AS src FROM (
                SELECT DISTINCT c_nationkey AS nationkey FROM customer
                EXCEPT
                SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        """,
        "q_events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   COUNT(*) AS n_events,
                   CAST(SUM(value::DECIMAL(18,2)) AS DOUBLE) / COUNT(*) AS avg_value
            FROM events
            GROUP BY 1, 2
        """,
        "q_events_sessions": """
            WITH g AS (
                SELECT user_id,
                       epoch_us(ts) - lag(epoch_us(ts)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id) AS gap
                FROM events)
            SELECT user_id,
                   (SUM(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END))::BIGINT AS n_sessions,
                   COUNT(*) AS n_events
            FROM g GROUP BY user_id
        """,
        "q_dedup_exact": f"""
            WITH docs2 AS ({_DOCS2_SQL})
            SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
            FROM docs2 GROUP BY text HAVING COUNT(*) > 1
        """,
        "q_dedup_ngram": f"""
            WITH docs2 AS ({_DOCS2_SQL}),
            g AS (SELECT doc_id, n_chars, {_SQL_GRAMS} AS grams FROM docs2)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                         (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))::DOUBLE, 6) AS jaccard
            FROM g a JOIN g b ON a.n_chars = b.n_chars AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
                  (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))::DOUBLE >= 0.8
        """,
        "q_minhash": _minhash_sql(),
        "q_minhash_lsh": _minhash_lsh_sql(),
        "q_dedup_keep": f"""
            WITH docs2 AS ({_DOCS2_SQL})
            SELECT doc_id, length(text)::INT AS text_len
            FROM docs2
            QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
        """,
        "q_dedup_clusters": f"""
            WITH RECURSIVE
            p AS ({_minhash_lsh_sql()}),
            e AS (SELECT id_a AS s, id_b AS t FROM p
                  UNION SELECT id_b, id_a FROM p),
            reach(s, t) AS (
                SELECT s, t FROM e
                UNION
                SELECT r.s, e2.t FROM reach r JOIN e e2 ON r.t = e2.s
            )
            SELECT s AS node, LEAST(s, MIN(t))::BIGINT AS component
            FROM reach GROUP BY s
        """,
        "q_simhash": _simhash_sql(),
        "q_simhash_pairs": _simhash_pairs_sql(),
        "q_simhash_clusters": f"""
            WITH docs2 AS ({_DOCS2_SQL}),
            t AS (
                SELECT doc_id,
                       {_SQL_TOKEN_HASHES} AS th,
                       len(string_split(text, ' '))::BIGINT AS ntok
                FROM docs2
            ),
            s AS (SELECT doc_id, ({_simhash_votes(44)}) AS simhash44 FROM t)
            SELECT simhash44, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
            FROM s GROUP BY simhash44 HAVING COUNT(*) > 1
        """,
        "q_token_stats": f"""
            SELECT doc_id,
                   len({_WS_SPLIT})::INT AS ws_tokens,
                   len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9{_JAVA_WS}]'))::INT AS bpe_tokens,
                   len(text)::INT AS n_chars_actual,
                   CASE WHEN text IS NOT NULL THEN
                   list_reduce(list_prepend(0::BIGINT,
                       list_transform({_WS_SPLIT},
                                      tok -> {_sql_token_hash('tok')})),
                       (a, h) -> (a * {_FX} + h) % {_FM}) END AS fingerprint
            FROM documents
        """,
        "q_quality": f"""
            WITH t AS (
                SELECT doc_id,
                       len(regexp_replace(text, '[a-zA-Z0-9{_JAVA_WS}]', '', 'g'))::DOUBLE / len(text)::DOUBLE AS pr,
                       (' ' || text || ' ') AS p,
                       len({_WS_SPLIT})::DOUBLE AS ntok
                FROM documents)
            SELECT doc_id,
                   round(pr, 6) AS punct_ratio,
                   round(({_sql_occurrences('p', ' the ')} + {_sql_occurrences('p', ' and ')} + {_sql_occurrences('p', ' of ')}) / ntok, 6) AS stopword_ratio,
                   round(least(ntok / 20.0, 1.0) * (1.0 - least(pr * 2.0, 1.0)) *
                         (0.5 + least(({_sql_occurrences('p', ' the ')} + {_sql_occurrences('p', ' and ')} + {_sql_occurrences('p', ' of ')}) / ntok * 5.0, 1.0) / 2), 6) AS quality
            FROM t
        """,
        "q_lang_confusion": f"""
            WITH t AS (SELECT doc_id, lang, (' ' || text || ' ') AS p
                       FROM documents),
            det AS (
                SELECT lang AS lang_declared,
                       CASE WHEN {gmax} <= 0 THEN 'und'
                            WHEN ({langs['en']}) = {gmax} THEN 'en'
                            WHEN ({langs['de']}) = {gmax} THEN 'de'
                            WHEN ({langs['fr']}) = {gmax} THEN 'fr'
                            ELSE 'es' END AS lang_detected
                FROM t)
            SELECT lang_declared, lang_detected, COUNT(*) AS n_docs
            FROM det GROUP BY 1, 2
        """,
        "q_lang_id": f"""
            WITH t AS (SELECT doc_id, (' ' || text || ' ') AS p FROM documents)
            SELECT doc_id,
                   CASE WHEN {gmax} <= 0 THEN 'und'
                        WHEN ({langs['en']}) = {gmax} THEN 'en'
                        WHEN ({langs['de']}) = {gmax} THEN 'de'
                        WHEN ({langs['fr']}) = {gmax} THEN 'fr'
                        ELSE 'es' END AS lang_pred
            FROM t
        """,
        "q_embed_topk": f"""
            WITH q AS (SELECT {qv_lit}::DOUBLE[] AS qv),
            s AS (
                SELECT vec_id,
                       round({q_emb_elem} / ({norm} * {_QNORM!r}), 6) AS cos_sim
                FROM embeddings, q)
            SELECT vec_id, cos_sim,
                   (row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC))::INT AS rank
            FROM s
            QUALIFY rank <= 10
        """,
        "q_embed_neardup": f"""
            WITH emb2 AS ({_EMB2_SQL})
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round({pair_dot} / ({pair_norm('a')} * {pair_norm('b')}), 6) AS cos_sim
            FROM emb2 a JOIN emb2 b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round({pair_dot} / ({pair_norm('a')} * {pair_norm('b')}), 6) >= 0.95
        """,
        "q_ann_topk": _ann_topk_sql(),
        "q_ann_ivf": _ivf_topk_sql(),
        "q_extract_mentions": """
            WITH m AS (
                SELECT doc_id, j
                FROM documents CROSS JOIN (SELECT unnest([0, 1]) AS j)
                WHERE doc_id % 3 > j),
            f AS (
                SELECT doc_id, j,
                       (doc_id * 37 + j * 791) % 17000 - 8500 AS vlat,
                       (doc_id * 7919 + j * 613) % 36000 - 18000 AS vlon
                FROM m)
            SELECT 'doc://' || doc_id AS url,
                   CAST(CASE WHEN vlat < 0 THEN '-' ELSE '' END ||
                        ((abs(vlat) // 100))::VARCHAR || '.' ||
                        lpad((abs(vlat) % 100)::VARCHAR, 2, '0') AS DOUBLE) AS lat,
                   CAST(CASE WHEN vlon < 0 THEN '-' ELSE '' END ||
                        ((abs(vlon) // 100))::VARCHAR || '.' ||
                        lpad((abs(vlon) % 100)::VARCHAR, 2, '0') AS DOUBLE) AS lon,
                   'place-' || doc_id || '-' || j AS name,
                   (['cafe', 'bench', 'station', 'museum', 'park'])[((doc_id + j) % 5 + 1)::INT] AS amenity
            FROM f
        """,
        "q_pipeline_exact": _pipeline_exact_sql(),
        "q_extract_entities": f"""
            WITH m AS ({_page_mentions_sql(2000)})
            SELECT url, j::INT AS pos, lat, lon, amenity FROM m
        """,
        "q_pages_pipeline": _pages_pipeline_sql(2000),
        "q_way_lengths": _way_lengths_sql(),
        "q_relation_rollup": _relation_rollup_sql(),
        "q_pbf_roundtrip": _pbf_roundtrip_sql(),
        # Visvalingam mirror: iterative argmin-(area, original-index)
        # interior-vertex removal as a recursive CTE over point lists;
        # chk pins the kept-vertex SET via an ordered left-fold (same
        # IEEE add sequence as the Spark side). Verified equal to
        # simplify_polyline_py on all 500 ways at sf0.01.
        "q_simplify_ways": f"""
            WITH RECURSIVE pts0 AS ({_POINTS_SQL}),
            w0 AS (
                SELECT event_id % 500 AS way_id,
                       list(struct_pack(lat := lat, lon := lon)
                            ORDER BY event_id) AS pts
                FROM pts0 GROUP BY 1
            ),
            rec AS (
                SELECT way_id, pts, generate_series(1, len(pts)) AS alive
                FROM w0
                UNION ALL
                SELECT way_id, pts,
                       list_filter(alive, (x, i) -> i != (
                           list_sort(list_transform(
                               generate_series(2, len(alive) - 1), j ->
                               struct_pack(
                                   a := abs(
                                       (pts[alive[j]].lon - pts[alive[j-1]].lon)
                                         * (pts[alive[j+1]].lat - pts[alive[j-1]].lat)
                                     - (pts[alive[j+1]].lon - pts[alive[j-1]].lon)
                                         * (pts[alive[j]].lat - pts[alive[j-1]].lat)
                                   ) / 2.0,
                                   idx := alive[j],
                                   pos := j)))[1].pos
                       )) AS alive
                FROM rec WHERE len(alive) > 6
            )
            SELECT way_id, len(pts)::INT AS n_in, len(alive)::INT AS n_out,
                   list_reduce(
                       list_prepend(0.0, list_transform(
                           alive, i -> pts[i].lat * 3.0 + pts[i].lon)),
                       (a, b) -> a + b) AS chk
            FROM rec WHERE len(alive) = least(len(pts), 6)
        """,
        "q_opl_lines": """
            WITH t AS (
                SELECT p_partkey AS id, p_partkey % 3 AS m,
                       CASE WHEN p_size > 40 THEN 'big=yes,' ELSE '' END ||
                       'brand=' || p_brand || ',ptype=' || p_type AS tags
                FROM part)
            SELECT CASE
                WHEN m = 0 THEN 'n' || id || ' T' || tags ||
                     ' x' || ((id % 360) - 180)::VARCHAR || '.0' ||
                     ' y' || ((id % 170) - 85)::VARCHAR || '.0'
                WHEN m = 1 THEN 'w' || id || ' T' || tags ||
                     ' Nn' || id || ',n' || (id + 1)
                ELSE 'r' || id || ' T' || tags || ' Mn' || id || '@outer'
                END AS value
            FROM t
        """,
        "q_json_lines": """
            WITH t AS (
                SELECT p_partkey AS id, p_partkey % 3 AS m,
                       CASE WHEN p_size > 40 THEN '"big":"yes",' ELSE '' END ||
                       '"brand":"' || p_brand || '","ptype":"' || p_type || '"' AS tags
                FROM part)
            SELECT '{"type":' || CASE
                WHEN m = 0 THEN '"node","lat":' || ((id % 170) - 85)::VARCHAR || '.0' ||
                     ',"lon":' || ((id % 360) - 180)::VARCHAR || '.0'
                WHEN m = 1 THEN '"way","nodes":[' || id || ',' || (id + 1) || ']'
                ELSE '"relation","members":[{"ref":' || id ||
                     ',"type":"node","role":"outer"}]'
                END || ',"id":' || id || ',"tags":{' || tags || '}}' AS value
            FROM t
        """,
        "q_xml_lines": """
            WITH t AS (
                SELECT p_partkey AS id, p_partkey % 3 AS m,
                       CASE WHEN p_size > 40 THEN '<tag k="big" v="yes"/>' ELSE '' END ||
                       '<tag k="brand" v="' || p_brand || '"/><tag k="ptype" v="' ||
                       p_type || '"/>' AS tags
                FROM part)
            SELECT CASE
                WHEN m = 0 THEN '<node lat="' || ((id % 170) - 85)::VARCHAR ||
                     '.0" lon="' || ((id % 360) - 180)::VARCHAR || '.0" id="' || id ||
                     '" visible="true">' || tags || '</node>'
                WHEN m = 1 THEN '<way id="' || id || '" visible="true"><nd ref="' ||
                     id || '"/><nd ref="' || (id + 1) || '"/>' || tags || '</way>'
                ELSE '<relation id="' || id ||
                     '" visible="true"><member type="node" ref="' || id ||
                     '" role="outer"/>' || tags || '</relation>'
                END AS value
            FROM t
        """,
        "q_audio_windows": """
            WITH d AS (
                SELECT doc_id, text, length(text) AS n FROM documents
                WHERE length(text) >= 64),
            w AS (
                SELECT doc_id, text,
                       unnest(range(0, (n - 64) // 32 + 1)) AS win_idx
                FROM d),
            s AS (
                SELECT doc_id, win_idx,
                       unicode(substring(text, (win_idx * 32 + j + 1)::INT, 1)) AS v
                FROM w, (SELECT unnest(range(0, 64)) AS j))
            SELECT doc_id AS media_id, win_idx::BIGINT AS win_idx,
                   (win_idx * 32)::BIGINT AS start,
                   SUM(v)::BIGINT AS energy, MAX(v)::INT AS peak
            FROM s GROUP BY 1, 2, 3
        """,
        "q_frame_sample": """
            SELECT doc_id AS media_id,
                   (ts / 1000)::INT AS frame_idx,
                   ts AS frame_ts,
                   substring(text, (ts / 40 + 1)::INT, 16) AS chunk
            FROM (SELECT doc_id, text,
                         unnest(range(0, n_chars * 40, 1000)) AS ts
                  FROM documents)
        """,
        "q_vector_tiles": (
            lambda tx5, ty5: f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT {tx5} AS tile_x, {ty5} AS tile_y,
                   COUNT(*) AS n_points,
                   least(COUNT(*), 3)::INT AS n_features,
                   MIN(event_id) AS first_id
            FROM pts GROUP BY 1, 2
        """
        )(*_tile_xy_sql("lat", "lon", 5)),
        "q_raster_tiles": (
            lambda tx5, ty5, sx9, sy9: f"""
            WITH pts AS ({_POINTS_SQL}),
            px AS (
                SELECT {tx5} AS tile_x, {ty5} AS tile_y,
                       ({sx9}) - ({tx5}) * 16 AS px,
                       ({sy9}) - ({ty5}) * 16 AS py,
                       COUNT(*) AS cnt
                FROM pts GROUP BY 1, 2, 3, 4)
            SELECT tile_x, tile_y, (SUM(cnt))::BIGINT AS n_points,
                   COUNT(*)::INT AS n_pixels, MAX(cnt) AS max_pixel
            FROM px GROUP BY 1, 2
        """
        )(*_tile_xy_sql("lat", "lon", 5), *_tile_xy_sql("lat", "lon", 9)),
        "q_cell_assign": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT {_cell_sql('lat', 'lon', CELL_RES)} AS cell, COUNT(*) AS n_points
            FROM pts GROUP BY 1
        """,
        "q_tile_assign": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT {tx10} AS tile_x, {ty10} AS tile_y, COUNT(*) AS n_points
            FROM pts GROUP BY 1, 2
        """,
        "q_pip": _pip_pairs_sql(),
        "q_pip_agg": f"""
            WITH hits AS ({_pip_pairs_sql()})
            SELECT polygon_id, COUNT(*) AS n_points,
                   MIN(event_id) AS min_event, MAX(event_id) AS max_event
            FROM hits GROUP BY 1
        """,
        "q_polygon_area": (
            lambda vals: f"""
            WITH v(pid, role, i, lat, lon) AS (VALUES {vals}),
            r AS (
                SELECT pid, role,
                       list(lat::DOUBLE ORDER BY i) AS lats,
                       list(lon::DOUBLE ORDER BY i) AS lons
                FROM v GROUP BY 1, 2)
            SELECT pid::BIGINT AS polygon_id, role AS ring_role,
                   abs(list_reduce(
                       list_prepend(0.0::DOUBLE,
                           list_transform(range(1, len(lats)),
                               j -> lons[j] * lats[j + 1] - lons[j + 1] * lats[j])),
                       (a, b) -> a + b)) / 2.0 AS area_deg2,
                   (len(lats) - 1)::INT AS n_edges
            FROM r
        """
        )(
            ", ".join(
                f"({pid}, '{role}', {i}, {a!r}, {b!r})"
                for pid, rings in PIP_POLYGONS.items()
                for role, ring in rings
                for i, (a, b) in enumerate(ring)
            )
        ),
        "q_zorder": f"""
            WITH pts AS ({_POINTS_SQL}),
            g AS (
                SELECT event_id,
                       greatest(0, least(65535, floor((lon + 180.0) / 360.0 * 65536.0)::BIGINT)) AS x,
                       greatest(0, least(32767, floor((90.0 - lat) / 180.0 * 32768.0)::BIGINT)) AS y
                FROM pts)
            SELECT event_id,
                   ({" | ".join(f"(((x >> {i}) & 1) << {2 * i}) | (((y >> {i}) & 1) << {2 * i + 1})" for i in range(16))}) AS zkey
            FROM g
        """,
        "q_zorder_range": f"""
            WITH pts AS ({_POINTS_SQL}),
            a AS (SELECT lat, lon FROM pts ORDER BY event_id LIMIT 1),
            t AS (SELECT greatest(0, least(31, floor((lon + 180.0) / 360.0 * 32.0)::BIGINT)) AS ax,
                         greatest(0, least(15, floor((90.0 - lat) / 180.0 * 16.0)::BIGINT)) AS ay
                  FROM a)
            SELECT event_id FROM pts, t
            WHERE greatest(0, least(31, floor((pts.lon + 180.0) / 360.0 * 32.0)::BIGINT)) = t.ax
              AND greatest(0, least(15, floor((90.0 - pts.lat) / 180.0 * 16.0)::BIGINT)) = t.ay
        """,
        "q_quadkey": (
            lambda tx7, ty7: f"""
            WITH pts AS ({_POINTS_SQL}),
            t AS (SELECT {tx7} AS x, {ty7} AS y FROM pts)
            SELECT {" || ".join(f"(((x >> {7 - 1 - i}) & 1) + 2 * ((y >> {7 - 1 - i}) & 1))::VARCHAR" for i in range(7))} AS qk,
                   COUNT(*) AS n_points
            FROM t GROUP BY 1
        """
        )(*_tile_xy_sql("lat", "lon", 7)),
        "q_compact_cells": f"""
            WITH pts AS ({_POINTS_SQL}),
            c6 AS (SELECT DISTINCT {_cell_sql('lat', 'lon', CELL_RES)} AS cell FROM pts),
            l1 AS (SELECT {_parent_sql('cell', CELL_RES)} AS p, COUNT(*) AS n,
                          list(cell) AS kids
                   FROM c6 GROUP BY 1),
            p5 AS (SELECT p AS cell FROM l1 WHERE n = 4),
            k6 AS (SELECT unnest(kids) AS cell FROM l1 WHERE n < 4),
            l2 AS (SELECT {_parent_sql('cell', CELL_RES - 1)} AS p, COUNT(*) AS n,
                          list(cell) AS kids
                   FROM p5 GROUP BY 1),
            p4 AS (SELECT p AS cell FROM l2 WHERE n = 4),
            k5 AS (SELECT unnest(kids) AS cell FROM l2 WHERE n < 4)
            SELECT cell, {CELL_RES}::INT AS res FROM k6
            UNION ALL SELECT cell, {CELL_RES - 1}::INT FROM k5
            UNION ALL SELECT cell, {CELL_RES - 2}::INT FROM p4
        """,
        "q_bbox_cover": """
            SELECT ((6::BIGINT << 58) | (x << 29) | y) AS cell
            FROM (SELECT unnest(range(38, 53)) AS x) a,
                 (SELECT unnest(range(22, 28)) AS y) b
        """,
        "q_rank_funcs": """
            SELECT l_orderkey, l_linenumber, l_returnflag,
                   (dense_rank() OVER w)::INT AS drank,
                   percent_rank() OVER w AS prank,
                   cume_dist() OVER w AS cdist
            FROM lineitem
            WINDOW w AS (PARTITION BY l_returnflag
                         ORDER BY l_quantity, l_orderkey, l_linenumber)
        """,
        "q_cell_users": f"""
            WITH pts AS (
                SELECT user_id,
                       ((user_id * 7919) % 17000) / 100.0 - 85.0  AS lat,
                       ((event_id * 104729) % 36000) / 100.0 - 180.0 AS lon
                FROM events)
            SELECT {_cell_sql('lat', 'lon', CELL_RES)} AS cell,
                   COUNT(DISTINCT user_id) AS n_users,
                   COUNT(*) AS n_points
            FROM pts GROUP BY 1
        """,
        "q_hash_split": """
            WITH b AS (
                SELECT lang,
                       (((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647) % 1000000 AS bkt
                FROM documents)
            SELECT lang,
                   CASE WHEN bkt < 100000 THEN 'test'
                        WHEN bkt < 900000 THEN 'train'
                        ELSE 'val' END AS split,
                   COUNT(*) AS n_docs
            FROM b GROUP BY 1, 2
        """,
        "q_stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE (((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647) % 1000000 <
                  CASE WHEN lang = 'de' THEN 1000000
                       WHEN lang = 'en' THEN 500000
                       ELSE 100000 END
        """,
        "q_phrase_search": f"""
            WITH p AS (
                SELECT doc_id,
                       generate_subscripts({_WS_SPLIT}, 1) - 1 AS pos,
                       unnest({_WS_SPLIT}) AS term
                FROM documents)
            SELECT a.doc_id, COUNT(*) AS n_matches
            FROM p a JOIN p b
              ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
            WHERE a.term = 'the' AND b.term = 'table'
            GROUP BY 1
        """,
        "q_inverted_index": f"""
            WITH t AS (
                SELECT DISTINCT doc_id,
                       unnest({_WS_SPLIT}) AS term
                FROM documents)
            SELECT term, COUNT(*) AS df,
                   array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
            FROM t GROUP BY 1
            HAVING COUNT(*) <= 16 * (
                SELECT MIN(cnt) FROM (
                    SELECT COUNT(*) AS cnt FROM t GROUP BY term) m)
        """,
        "q_term_search": f"""
            WITH t AS (
                SELECT DISTINCT doc_id,
                       unnest({_WS_SPLIT}) AS term
                FROM documents)
            SELECT d.doc_id, d.lang FROM documents d
            WHERE d.doc_id IN (SELECT doc_id FROM t WHERE term = 'spark')
              AND d.doc_id IN (SELECT doc_id FROM t WHERE term = 'join')
              AND d.doc_id NOT IN (SELECT doc_id FROM t WHERE term = 'slow')
        """,
        "q_tfidf_topterms": f"""
            WITH t AS (
                SELECT doc_id,
                       unnest({_WS_SPLIT}) AS term
                FROM documents),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
            d AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
            SELECT doc_id, term, tf, df, rank FROM (
                SELECT tf.doc_id, tf.term, tf.tf, d.df,
                       (row_number() OVER (
                           PARTITION BY tf.doc_id
                           ORDER BY tf.tf DESC, d.df ASC, tf.term ASC
                       ))::INT AS rank
                FROM tf JOIN d USING (term))
            WHERE rank <= 3
        """,
        "q_top_ngrams": f"""
            WITH toks AS (
                SELECT {_WS_SPLIT} AS t FROM documents),
            g AS (
                SELECT array_to_string(t[i:i+1], ' ') AS ngram
                FROM toks, LATERAL (SELECT unnest(range(1, len(t))) AS i) u)
            SELECT ngram, COUNT(*) AS n_occurrences
            FROM g GROUP BY 1
            ORDER BY n_occurrences DESC, ngram
            LIMIT 50
        """,
        "q_range_join": f"""
            WITH pts AS ({_POINTS_SQL}),
            q(site_id, qlat, qlon) AS (VALUES {", ".join(f"({i}, {a!r}, {b!r})" for i, a, b in KNN_QUERIES)})
            SELECT q.site_id::BIGINT AS site_id, p.event_id
            FROM pts p CROSS JOIN q
            WHERE {_haversine_sql('p.lat', 'p.lon', 'q.qlat', 'q.qlon')} <= {RANGE_RADIUS!r}
        """,
        "q_cell_rollup": f"""
            WITH pts AS ({_POINTS_SQL}),
            fine AS (
                SELECT {_cell_sql('lat', 'lon', CELL_RES)} AS cell, COUNT(*) AS n
                FROM pts GROUP BY 1)
            SELECT ({ROLLUP_RES}::BIGINT << 58)
                   | ((((cell >> 29) & {(1 << 29) - 1}) >> {CELL_RES - ROLLUP_RES}) << 29)
                   | ((cell & {(1 << 29) - 1}) >> {CELL_RES - ROLLUP_RES}) AS parent_cell,
                   SUM(n)::BIGINT AS n_points,
                   COUNT(*) AS n_child_cells,
                   MAX(n) AS max_child
            FROM fine GROUP BY 1
        """,
        "q_knn": f"""
            WITH pts AS ({_POINTS_SQL}),
            q(query_id, qlat, qlon) AS (VALUES {", ".join(f"({i}, {a!r}, {b!r})" for i, a, b in KNN_QUERIES)}),
            d AS (
                SELECT q.query_id, p.event_id,
                       {_haversine_sql('p.lat', 'p.lon', 'q.qlat', 'q.qlon')} AS dist
                FROM pts p CROSS JOIN q)
            SELECT query_id::BIGINT AS query_id, event_id,
                   (row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, event_id ASC))::INT AS rank
            FROM d
            WHERE dist <= {KNN_RADIUS!r}
            QUALIFY rank <= {KNN_K}
        """,
        "q_salted_join": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT {_cell_sql('lat', 'lon', CELL_RES)} AS cell, COUNT(*) AS n_points
            FROM pts GROUP BY 1
        """,
        "q_osmfilter": f"""
            WITH e AS ({_ELEMENTS_SQL})
            SELECT type, id,
                   CASE WHEN type IN ('node', 'way') AND p_size > 40
                        THEN 'large' END AS class,
                   CASE WHEN type IN ('node', 'way') AND p_size > 40
                        THEN ptype END AS kind,
                   CASE WHEN type IN ('node', 'way') AND p_size > 40
                        THEN NULL ELSE brand END AS brand,
                   CASE WHEN p_size > 40 THEN 3 ELSE 2 END AS n_tags
            FROM e
            WHERE (type IN ('node', 'way') AND p_size > 40)
               OR brand != 'Brand#13'
        """,
        "q_cel": f"""
            WITH e AS ({_ELEMENTS_SQL})
            SELECT type, id FROM e
            WHERE (p_size > 40 AND id % 2 = 0) OR type = 'relation'
        """,
        "q_geohash": _geohash_oracle_sql(4),
        # fake-decoder mirror: per-position ascii sums mod 256 over the
        # reconstructed html, float32 division (verified exact for all
        # 256 inputs), ordered fold checksum over the 8 features
        "q_media_features": f"""
            WITH m AS ({_page_mentions_sql(500)}),
            prose AS (
                SELECT t.i,
                       'Page ' || t.i || ' tells a story about travel and places.' ||
                       COALESCE(string_agg(m.mention, '' ORDER BY m.j), '') ||
                       ' The end.' AS p
                FROM range(0, 500) t(i) LEFT JOIN m ON m.i = t.i
                GROUP BY t.i),
            html AS (SELECT i, '<html><body>' || p || '</body></html>' AS h
                     FROM prose),
            sums AS (
                SELECT i, (pp - 1) % 8 AS k,
                       SUM(ascii(substr(h, pp::INT, 1))) AS sm
                FROM html, unnest(range(1, strlen(h) + 1)) AS u(pp)
                GROUP BY 1, 2),
            feat AS (SELECT i, k, ((sm % 256)::FLOAT / 255.0::FLOAT) AS f
                     FROM sums),
            chk AS (
                SELECT i, list_reduce(
                           list_prepend(0.0, list(f::DOUBLE ORDER BY k)),
                           (a, b) -> a + b) AS chk
                FROM feat GROUP BY i)
            SELECT h.i AS media_id, strlen(h.h)::BIGINT AS n_bytes, c.chk
            FROM html h JOIN chk c USING (i)
        """,
        "q_rep_quality": f"""
            WITH t AS (
                SELECT doc_id, {_WS_SPLIT} AS toks
                FROM documents),
            base AS (
                SELECT doc_id, len(toks)::INT AS n_tokens,
                       len(list_distinct(toks))::INT AS n_distinct, toks
                FROM t),
            bi AS (
                SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bigram
                FROM base, unnest(range(1, len(toks))) AS u(i)),
            cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bi GROUP BY 1, 2),
            mx AS (SELECT doc_id, MAX(c) AS max_bigram FROM cnt GROUP BY 1)
            SELECT b.doc_id, b.n_tokens,
                   (b.n_tokens - b.n_distinct)::DOUBLE / b.n_tokens::DOUBLE
                       AS dup_token_frac,
                   COALESCE(m.max_bigram::DOUBLE * 2.0 / b.n_tokens::DOUBLE,
                            0.0) AS top_bigram_frac
            FROM base b LEFT JOIN mx m USING (doc_id)
        """,
        # chunk identity: the STRING itself (Spark uses xxhash64 —
        # independent derivations, equal counts absent a collision)
        "q_boilerplate": f"""
            WITH t AS (
                SELECT doc_id, {_WS_SPLIT} AS toks
                FROM documents),
            base AS (SELECT doc_id, (len(toks) // 8)::INT AS nc, toks FROM t),
            ch AS (
                SELECT doc_id,
                       array_to_string(toks[i*8+1:i*8+8], ' ') AS chunk
                FROM base, unnest(range(0, nc)) AS u(i)
                WHERE nc > 0),
            hot AS (SELECT chunk FROM ch GROUP BY 1 HAVING COUNT(*) >= 3),
            agg AS (
                SELECT doc_id, COUNT(*) AS n_windows,
                       (SUM(CASE WHEN chunk IN (SELECT chunk FROM hot)
                                 THEN 1 ELSE 0 END))::BIGINT AS n_boiler
                FROM ch GROUP BY 1)
            SELECT b.doc_id,
                   COALESCE(a.n_windows, 0) AS n_windows,
                   COALESCE(a.n_boiler, 0) AS n_boiler
            FROM base b LEFT JOIN agg a USING (doc_id)
        """,
        "q_ewma": """
            SELECT user_id, COUNT(*) AS n_events,
                   list_reduce(list(value ORDER BY ts, event_id),
                               (a, b) -> (a + b) / 2.0) AS ewma
            FROM events GROUP BY user_id
        """,
        # closed-form expected canonical urls (independent of the
        # operator's regex pipeline): tracking params dropped, survivors
        # sorted ('b=2' < 'id=...'), ports/www/fragments/trailing slash
        # gone, scheme+host lowercased with path case preserved
        "q_url_host_stats": """
            WITH v1 AS (
                SELECT doc_id,
                       'http://site' || (doc_id % 7) || '.com/Path/' || doc_id ||
                       CASE WHEN doc_id % 4 = 0 THEN '?id=' || doc_id
                            WHEN doc_id % 4 IN (1, 2) THEN '?b=2&id=' || doc_id
                            ELSE '' END AS canon
                FROM documents),
            v2 AS (
                SELECT doc_id,
                       'http://site' || (doc_id % 7) || '.com/Path/' || doc_id ||
                       '?b=2&id=' || doc_id AS canon
                FROM documents WHERE doc_id % 2 = 0),
            allu AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
            SELECT 'site' || (doc_id % 7) || '.com' AS host,
                   COUNT(*) AS n_docs,
                   COUNT(DISTINCT canon) AS n_canonical,
                   MIN(canon) AS first_url
            FROM allu GROUP BY 1
        """,
        # log-free BM25 mirror: identical expression SHAPE (association
        # and operand order) so every IEEE op rounds identically
        "q_bm25": f"""
            WITH dls AS (
                SELECT doc_id,
                       len({_WS_SPLIT}) AS dl
                FROM documents),
            stats AS (
                SELECT COUNT(*)::DOUBLE AS n_docs,
                       SUM(dl)::DOUBLE / COUNT(*)::DOUBLE AS avgdl
                FROM dls),
            tf AS (
                SELECT t.doc_id, t.term, d.dl, COUNT(*)::DOUBLE AS tf
                FROM (SELECT doc_id,
                             unnest({_WS_SPLIT}) AS term
                      FROM documents) t
                JOIN dls d USING (doc_id)
                WHERE t.term IN ('data', 'join', 'window')
                GROUP BY 1, 2, 3),
            dfreq AS (SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY 1),
            s AS (
                SELECT tf.doc_id, tf.term,
                       ((st.n_docs - f.df + 0.5) / (f.df + 0.5))
                     * ((tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / st.avgdl))) AS s
                FROM tf JOIN dfreq f USING (term) CROSS JOIN stats st),
            agg AS (
                SELECT doc_id,
                       COALESCE(MAX(CASE WHEN term = 'data' THEN s END), 0.0)
                     + COALESCE(MAX(CASE WHEN term = 'join' THEN s END), 0.0)
                     + COALESCE(MAX(CASE WHEN term = 'window' THEN s END), 0.0) AS score
                FROM s GROUP BY 1)
            SELECT doc_id, score,
                   (row_number() OVER (ORDER BY score DESC, doc_id))::INT AS rank
            FROM agg
            QUALIFY rank <= 20
        """,
        # CEL_MACROS_PROGRAM desugared: the 'big' tag exists iff
        # p_size > 40; only the ptype tag value can contain 'ECONOMY';
        # [1,2,3].map(x, x*id).exists(v, v%4==0) holds iff id is even
        "q_cel_macros": f"""
            WITH e AS ({_ELEMENTS_SQL})
            SELECT type, id FROM e
            WHERE (CASE WHEN p_size > 40
                        THEN ptype LIKE '%ECONOMY%'
                        ELSE id % 7 = 0 END)
              AND id % 2 = 0
        """,
        # closed-form expected redaction: the oracle never runs a
        # regex — it rebuilds the exact post-redaction string from the
        # same doc_id arithmetic that injected the PII spans
        "q_pii_redact": """
            SELECT doc_id,
                   (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_emails,
                   (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_phones,
                   (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_ips,
                   text
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' Contact [EMAIL] soon.' ELSE '' END
                   || CASE WHEN doc_id % 4 = 0
                           THEN ' Call [PHONE] today.' ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' Host [IP] online.' ELSE '' END AS redacted
            FROM documents
        """,
        # window identity: the STRING itself (Spark uses xxhash64 —
        # independent derivations, equal counts absent a collision)
        "q_contamination": f"""
            WITH t AS (
                SELECT doc_id, {_WS_SPLIT} AS toks
                FROM documents),
            base AS (
                SELECT doc_id, greatest(len(toks) - 7, 0)::INT AS nw, toks
                FROM t),
            w AS (
                SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS win
                FROM base, unnest(range(1, nw + 1)) AS u(i)
                WHERE nw > 0),
            bw AS (SELECT DISTINCT win FROM w WHERE doc_id % 97 = 0),
            agg AS (
                SELECT doc_id, COUNT(*) AS n_windows,
                       (SUM(CASE WHEN win IN (SELECT win FROM bw)
                                 THEN 1 ELSE 0 END))::BIGINT AS n_contaminated
                FROM w GROUP BY 1)
            SELECT b.doc_id,
                   COALESCE(a.n_windows, 0) AS n_windows,
                   COALESCE(a.n_contaminated, 0) AS n_contaminated,
                   COALESCE(a.n_contaminated, 0) > 0 AS contaminated
            FROM base b LEFT JOIN agg a USING (doc_id)
        """,
        # independent CC: recursive-CTE transitive closure + MIN label
        # (Spark side runs edge contraction — different algorithm)
        "q_grid_dbscan": f"""
            WITH RECURSIVE pts AS ({_POINTS_SQL}),
            dense AS (
                SELECT {_cell_sql('lat', 'lon', GRID_RES)} AS cell,
                       COUNT(*) AS n_points
                FROM pts GROUP BY 1 HAVING COUNT(*) >= {GRID_MIN_PTS}),
            xy AS (
                SELECT cell, (cell >> 29) & {(1 << 29) - 1} AS x,
                       cell & {(1 << 29) - 1} AS y
                FROM dense),
            e AS (
                SELECT a.cell AS s, b.cell AS t
                FROM xy a JOIN xy b
                  ON a.cell <> b.cell
                 AND abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1),
            reach(s, t) AS (
                SELECT cell, cell FROM dense
                UNION
                SELECT r.s, e.t FROM reach r JOIN e ON e.s = r.t),
            comp AS (SELECT s AS cell, MIN(t) AS cluster_id FROM reach GROUP BY 1)
            SELECT d.cell, c.cluster_id, d.n_points
            FROM dense d JOIN comp c USING (cell)
        """,
        # the O(n^2) interval join the cell-bucketed Spark plan must
        # reproduce pair-for-pair (dyadic coords -> bit-exact areas)
        "q_poly_overlap": """
            WITH r AS (
                SELECT p_partkey AS rect_id,
                       ((p_partkey * 13) % 60) - 30 + 0.25 AS lat0,
                       ((p_partkey * 29) % 120) - 60 + 0.25 AS lon0,
                       ((p_partkey * 13) % 60) - 30 + 0.25 + 2.0
                           + (p_partkey % 5) AS lat1,
                       ((p_partkey * 29) % 120) - 60 + 0.25 + 3.0
                           + (p_partkey % 7) AS lon1
                FROM part)
            SELECT a.rect_id AS id_a, b.rect_id AS id_b,
                   least(a.lat1, b.lat1) - greatest(a.lat0, b.lat0) AS dlat,
                   least(a.lon1, b.lon1) - greatest(a.lon0, b.lon0) AS dlon,
                   (least(a.lat1, b.lat1) - greatest(a.lat0, b.lat0))
                 * (least(a.lon1, b.lon1) - greatest(a.lon0, b.lon0))
                       AS overlap_area
            FROM r a JOIN r b
              ON a.rect_id < b.rect_id
             AND a.lat0 < b.lat1 AND b.lat0 < a.lat1
             AND a.lon0 < b.lon1 AND b.lon0 < a.lon1
        """,
        "q_transitions": """
            WITH s AS (
                SELECT event_type,
                       lag(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS prev
                FROM events)
            SELECT prev AS prev_type, event_type AS next_type,
                   COUNT(*) AS n,
                   COUNT(*)::DOUBLE
                       / (SUM(COUNT(*)) OVER (PARTITION BY prev))::DOUBLE AS p
            FROM s WHERE prev IS NOT NULL
            GROUP BY 1, 2
        """,
        # naive single-window scan — the O(1)-task plan the distributed
        # two-level prefix sum (operators/packing.py) must reproduce
        "q_pack_sequences": f"""
            WITH t AS (
                SELECT doc_id,
                       len({_WS_SPLIT})::BIGINT AS n_tokens
                FROM documents),
            s AS (
                SELECT doc_id, n_tokens,
                       COALESCE(SUM(n_tokens) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0)::BIGINT AS start_offset
                FROM t)
            SELECT doc_id, n_tokens, start_offset,
                   (start_offset // {PACK_SEQ_LEN})::BIGINT AS seq_id,
                   (start_offset % {PACK_SEQ_LEN})::BIGINT AS seq_offset
            FROM s
        """,
        # threshold arithmetic op-order-identical to rebalance_sources:
        # scale = min(n/t); cut = floor((t*scale)/n * BUCKETS), pinned
        # to BUCKETS for the scarcest (argmin) stratum
        "q_rebalance": f"""
            WITH c AS (
                SELECT lang, COUNT(*)::DOUBLE AS n,
                       CASE lang {' '.join(
                           f"WHEN '{k}' THEN {v!r}::DOUBLE"
                           for k, v in sorted(REBALANCE_TARGETS.items()))}
                       END AS t
                FROM documents GROUP BY lang),
            c2 AS (SELECT * FROM c WHERE t IS NOT NULL),
            s AS (SELECT MIN(n / t) AS scale FROM c2),
            th AS (
                SELECT lang,
                   CASE WHEN n / t = scale THEN 1000000
                        ELSE floor((t * scale) / n * 1000000)::BIGINT
                   END AS cut
                FROM c2 CROSS JOIN s)
            SELECT d.doc_id, d.lang
            FROM documents d JOIN th USING (lang)
            WHERE (((d.doc_id % 2147483647) * 1103515245 + 12345)
                   % 2147483647) % 1000000 < th.cut
        """,
        # same oriented-wedge closure, expressed as flat self-joins
        "q_triangles": """
            WITH e0 AS (
                SELECT o_custkey AS s,
                       o_custkey + 1 + o_orderkey % 8 AS d
                FROM orders),
            e AS (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                FROM e0 WHERE s <> d),
            nodes AS (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e),
            deg AS (SELECT n, COUNT(*) AS dg FROM nodes GROUP BY n)
            SELECT (SELECT COUNT(*) FROM deg)::BIGINT AS n_nodes,
                   (SELECT COUNT(*) FROM e)::BIGINT AS n_edges,
                   (SELECT MAX(dg) FROM deg)::BIGINT AS max_degree,
                   (SELECT COUNT(*)
                    FROM e e1
                    JOIN e e2 ON e2.a = e1.b
                    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)::BIGINT
                       AS n_triangles
        """,
        # separable [1,2,1]/4 blur unrolled as two explode+re-agg
        # passes; dyadic weights make the double sums order-exact
        "q_heatmap": f"""
            WITH pts AS ({_POINTS_SQL}),
            c AS (
                SELECT {_cell_sql('lat', 'lon', GRID_RES)} AS cell,
                       COUNT(*)::DOUBLE AS v
                FROM pts GROUP BY 1),
            xy AS (
                SELECT (cell >> 29) & {(1 << 29) - 1} AS x,
                       cell & {(1 << 29) - 1} AS y, v
                FROM c),
            taps(o, w) AS (VALUES (-1, 0.25::DOUBLE), (0, 0.5::DOUBLE),
                                  (1, 0.25::DOUBLE)),
            bx AS (
                SELECT xx AS x, y, SUM(c) AS v FROM (
                    SELECT x + o AS xx, y, v * w AS c
                    FROM xy CROSS JOIN taps)
                WHERE xx >= 0 AND xx < {1 << (GRID_RES + 1)}
                GROUP BY 1, 2),
            by2 AS (
                SELECT x, yy AS y, SUM(c) AS v FROM (
                    SELECT x, y + o AS yy, v * w AS c
                    FROM bx CROSS JOIN taps)
                WHERE yy >= 0 AND yy < {1 << GRID_RES}
                GROUP BY 1, 2)
            SELECT (({GRID_RES}::BIGINT << 58) | (x << 29) | y) AS cell,
                   v AS density
            FROM by2
        """,
        # every level re-encoded straight from lat/lon — proves the
        # Spark side's shifted-ancestor derivation (see tile_pyramid)
        "q_tile_pyramid": f"""
            WITH pts AS ({_POINTS_SQL}),
            lv AS ({' UNION ALL '.join(
                f"SELECT {_cell_sql('lat', 'lon', PYRAMID_RES - i)} AS cell FROM pts"
                for i in range(PYRAMID_LEVELS))})
            SELECT cell, COUNT(*)::BIGINT AS n_points FROM lv GROUP BY 1
        """,
        "q_trips": _trips_sql(),
        "q_bloom_contamination": _bloom_sql(),
        "q_kmeans": _kmeans_sql(),
        "q_ann_ivf_trained": _ivf_trained_sql(),
        "q_semdedup": _semdedup_sql(),
        "q_hash_classifier": _hash_classifier_sql(),
        "q_dsir_resample": _dsir_sql(),
        "q_bellman_cells": _bellman_sql(),
        "q_winnow": _winnow_sql(),
        "q_hilbert": _hilbert_sql(),
        "q_group_sample": f"""
            SELECT doc_id, lang, priority, sample_rank FROM (
                SELECT doc_id, lang,
                       (((doc_id % {_PR}) * 1103515245 + 12345) % {_PR})
                           AS priority,
                       (row_number() OVER (PARTITION BY lang
                           ORDER BY (((doc_id % {_PR}) * 1103515245 + 12345)
                                     % {_PR}), doc_id))::INT AS sample_rank
                FROM documents)
            WHERE sample_rank <= 20
        """,
        "q_outliers": """
            WITH r AS (
                SELECT source AS grp, doc_id AS id, n_chars::BIGINT AS v,
                       row_number() OVER (PARTITION BY source
                           ORDER BY n_chars, doc_id) AS rn,
                       COUNT(*) OVER (PARTITION BY source) AS n
                FROM documents),
            med AS (SELECT grp, v AS med FROM r WHERE rn = (n + 1) // 2),
            dev AS (
                SELECT r.grp, r.id, r.v, m.med, abs(r.v - m.med) AS ad
                FROM r JOIN med m USING (grp)),
            r2 AS (
                SELECT *, row_number() OVER (PARTITION BY grp
                              ORDER BY ad, id) AS rn2,
                       COUNT(*) OVER (PARTITION BY grp) AS n2
                FROM dev),
            mad AS (SELECT grp, ad AS mad FROM r2 WHERE rn2 = (n2 + 1) // 2)
            SELECT d.grp, d.id, d.v, d.med, a.mad,
                   (d.ad * 1349 > 7000 * a.mad) AS is_outlier
            FROM dev d JOIN mad a USING (grp)
        """,
        "q_covisit": """
            WITH ei AS (
                SELECT DISTINCT user_id AS e, event_type AS i FROM events)
            SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_entities
            FROM ei a JOIN ei b ON a.e = b.e AND a.i < b.i
            GROUP BY 1, 2
            HAVING COUNT(*) >= 2
        """,
        "q_scd2": """
            WITH ch AS (
                SELECT (user_id % 600) AS doc_id, event_id AS seq,
                       CASE WHEN event_type = 'error' THEN 'D'
                            ELSE 'U' END AS op,
                       event_type AS lang,
                       'ev-' || (user_id % 7)::VARCHAR AS source,
                       (user_id + event_id)::BIGINT AS n_chars
                FROM events),
            h AS (
                SELECT doc_id, seq, op, lang, source, n_chars,
                       lead(seq) OVER (PARTITION BY doc_id
                                       ORDER BY seq) AS valid_to
                FROM ch)
            SELECT doc_id, lang, source, n_chars,
                   seq AS valid_from, valid_to,
                   valid_to IS NULL AS is_current
            FROM h WHERE op = 'U'
        """,
        "q_winnow_decontam": _winnow_decontam_sql(),
        "q_bpe_pairs": f"""
            WITH toks AS (
                SELECT unnest({_WS_SPLIT}) AS tok
                FROM documents),
            p AS (
                SELECT substring(tok, i::INT, 2) AS pair
                FROM toks, unnest(range(1, len(tok))) AS u(i)
                WHERE len(tok) > 1)
            SELECT pair, COUNT(*) AS n FROM p
            GROUP BY 1 ORDER BY n DESC, pair LIMIT 20
        """,
        "q_cdc_merge": """
            WITH ch AS (
                SELECT (user_id % 600) AS doc_id, event_id AS seq,
                       CASE WHEN event_type = 'error' THEN 'D'
                            ELSE 'U' END AS op,
                       event_type AS lang,
                       'ev-' || (user_id % 7)::VARCHAR AS source,
                       (user_id + event_id)::BIGINT AS n_chars
                FROM events),
            latest AS (
                SELECT * FROM ch
                QUALIFY row_number() OVER (PARTITION BY doc_id
                    ORDER BY seq DESC, op DESC) = 1)
            SELECT d.doc_id, d.lang, d.source, d.n_chars
            FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM latest l
                              WHERE l.doc_id = d.doc_id)
            UNION ALL
            SELECT doc_id, lang, source, n_chars
            FROM latest WHERE op = 'U'
        """,
        "q_curation_pipeline": _curation_sql(),
        "q_bottomk_sample": """
            SELECT doc_id, lang,
                   row_number() OVER (
                       ORDER BY (((doc_id % 2147483647) * 1103515245 + 12345)
                                 % 2147483647) % 1000000 ASC, doc_id ASC
                   )::INT AS sample_rank
            FROM documents
            ORDER BY sample_rank LIMIT 100
        """,
        # independent derivation: islands grouped by (y, x - rn) here,
        # adjacency re-proved by the x1-x0+1 == n_cells law in the agg
        "q_raster_vectorize": f"""
            WITH pts AS ({_POINTS_SQL}),
            hot AS (
                SELECT greatest(0, least({(1 << (VECT_RES + 1)) - 1},
                           floor(((lon + 180.0) / 360.0)
                                 * {float(1 << (VECT_RES + 1))})::BIGINT)) AS x,
                       greatest(0, least({(1 << VECT_RES) - 1},
                           floor(((90.0 - lat) / 180.0)
                                 * {float(1 << VECT_RES)})::BIGINT)) AS y,
                       COUNT(*) AS cnt
                FROM pts GROUP BY 1, 2
                HAVING COUNT(*) >= {VECT_MIN}),
            runs AS (
                SELECT y, x, cnt,
                       x - row_number() OVER (PARTITION BY y ORDER BY x) AS isl
                FROM hot)
            SELECT y, MIN(x) AS x0, MAX(x) AS x1,
                   COUNT(*)::BIGINT AS n_cells,
                   (SUM(cnt))::BIGINT AS total_count
            FROM runs GROUP BY y, isl
        """,
        # moments in int64, mean/var via the identical pinned double chain
        "q_var_stats": f"""
            WITH t AS (
                SELECT lang AS grp,
                       len({_WS_SPLIT})::BIGINT AS x
                FROM documents),
            g AS (
                SELECT grp, COUNT(*) AS n, (SUM(x))::BIGINT AS sum_x,
                       (SUM(x * x))::BIGINT AS sum_x2
                FROM t GROUP BY 1)
            SELECT grp, n, sum_x, sum_x2,
                   floor(sum_x::DOUBLE / n::DOUBLE * 1000.0)::BIGINT AS mean_milli,
                   floor((sum_x2::DOUBLE / n::DOUBLE
                          - (sum_x::DOUBLE / n::DOUBLE)
                            * (sum_x::DOUBLE / n::DOUBLE))
                         * 1000000.0)::BIGINT AS var_micro
            FROM g
        """,
        # lift chain mirrored operation-for-operation (no log anywhere)
        "q_collocations": f"""
            WITH toks AS (
                SELECT {_WS_SPLIT} AS t
                FROM documents),
            bi0 AS (
                SELECT t[i] AS x, t[i + 1] AS y
                FROM toks, unnest(range(1, len(t))) AS u(i)
                WHERE len(t) >= 2),
            bi AS (
                SELECT x, y, COUNT(*) AS c_xy FROM bi0
                GROUP BY 1, 2 HAVING COUNT(*) >= 3),
            uni AS (
                SELECT w, COUNT(*) AS c
                FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
            nu AS (SELECT (SUM(c))::BIGINT AS n_uni FROM uni),
            nb AS (SELECT COUNT(*)::BIGINT AS n_bi FROM bi0)
            SELECT bi.x || ' ' || bi.y AS gram, bi.c_xy,
                   floor(bi.c_xy::DOUBLE / cx.c::DOUBLE * n_uni::DOUBLE
                         / cy.c::DOUBLE * n_uni::DOUBLE / n_bi::DOUBLE
                         * 1000000.0)::BIGINT AS lift_micro
            FROM bi
            JOIN uni cx ON cx.w = bi.x
            JOIN uni cy ON cy.w = bi.y
            CROSS JOIN nu CROSS JOIN nb
            ORDER BY lift_micro DESC, gram ASC
            LIMIT 50
        """,
        # ---- round 3 ----------------------------------------------------
        # LSH pair SQL reused verbatim; DuckDB's levenshtein() is an
        # independent implementation of the same standard metric
        "q_lev_verify": f"""
            WITH docs2 AS ({_DOCS2_SQL}),
            p AS ({_minhash_lsh_sql()})
            SELECT p.id_a, p.id_b,
                   levenshtein(a.text, b.text)::INT AS lev,
                   length(a.text)::INT AS len_a,
                   length(b.text)::INT AS len_b,
                   levenshtein(a.text, b.text) * 100
                       <= 1 * greatest(length(a.text), length(b.text))
                       AS verified
            FROM p JOIN docs2 a ON a.doc_id = p.id_a
                   JOIN docs2 b ON b.doc_id = p.id_b
        """,
        # hot chunks re-derived by chunk TEXT (independent of xxhash64);
        # rebuilt text via ordered string_agg + sub-window tail
        "q_chunk_dedup_rewrite": f"""
            WITH docs2 AS ({_DOCS2_SQL}),
            t AS (SELECT doc_id,
                         {_WS_SPLIT} AS tk
                  FROM docs2),
            c AS (SELECT doc_id, i,
                         array_to_string(tk[(i*8+1):(i*8+8)], ' ') AS chunk
                  FROM t, unnest(range(0, len(tk) // 8)) AS u(i)),
            hot AS (SELECT chunk FROM c GROUP BY 1 HAVING COUNT(*) >= 2),
            k AS (SELECT doc_id, i, chunk,
                         chunk IN (SELECT chunk FROM hot) AS dropped
                  FROM c),
            agg AS (SELECT doc_id,
                           COUNT(*)::INT AS n_chunks,
                           (SUM(CASE WHEN dropped THEN 1 ELSE 0 END))::INT
                               AS n_dropped,
                           list(chunk ORDER BY i)
                               FILTER (WHERE NOT dropped) AS kept
                    FROM k GROUP BY doc_id)
            SELECT t.doc_id,
                   COALESCE(a.n_chunks, 0)::INT AS n_chunks,
                   COALESCE(a.n_dropped, 0)::INT AS n_dropped,
                   COALESCE(array_to_string(
                       list_concat(COALESCE(a.kept, []::VARCHAR[]),
                                   tk[(len(tk) // 8 * 8 + 1):]),
                       ' '), '') AS cleaned_text
            FROM t LEFT JOIN agg a USING (doc_id)
        """,
        "q_pagerank_cells": _pagerank_sql(),
        "q_quantiles": """
            WITH ranked AS (
                SELECT source AS grp, n_chars AS v,
                       row_number() OVER (
                           PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
                       COUNT(*) OVER (PARTITION BY source) AS n
                FROM documents),
            px(p) AS (VALUES (50), (90), (99))
            SELECT grp, p, n, v AS value
            FROM ranked CROSS JOIN px
            WHERE rn = (n * p + 99) // 100
        """,
        "q_vocab_growth": f"""
            WITH t AS (
                SELECT doc_id,
                       unnest({_WS_SPLIT}) AS term
                FROM documents),
            fd AS (SELECT term, MIN(doc_id) AS fd FROM t GROUP BY 1),
            mx AS (SELECT MAX(doc_id) AS mx FROM documents),
            cps AS (SELECT i::INT AS i, ((mx * i) // 10)::BIGINT AS cp
                    FROM mx, unnest(range(1, 11)) AS u(i)),
            v AS (SELECT i, cp, COUNT(*) AS vocab
                  FROM fd, cps WHERE fd.fd <= cps.cp GROUP BY 1, 2),
            nd AS (SELECT i, cp, COUNT(*) AS n_docs
                   FROM documents, cps WHERE doc_id <= cp GROUP BY 1, 2)
            SELECT nd.i, nd.cp, nd.n_docs,
                   COALESCE(v.vocab, 0)::BIGINT AS vocab
            FROM nd LEFT JOIN v USING (i, cp)
        """,
        # hosts derived CLOSED-FORM (site<k>.com), blocked k excluded —
        # independent of operators/urls.py entirely
        "q_url_blocklist": """
            SELECT 'site' || (doc_id % 7)::VARCHAR || '.com' AS host,
                   COUNT(*) AS n_kept
            FROM documents
            WHERE doc_id % 7 NOT IN (1, 4)
            GROUP BY 1
        """,
        "q_bigram_lm": f"""
            WITH toks AS (
                SELECT doc_id,
                       {_WS_SPLIT} AS tk
                FROM documents),
            b AS (SELECT doc_id, tk[i] AS a, tk[i] || ' ' || tk[i+1] AS g
                  FROM toks, unnest(range(1, len(tk))) AS u(i)),
            c2 AS (SELECT g, COUNT(*) AS c2 FROM b GROUP BY 1),
            c1 AS (SELECT a, COUNT(*) AS c1 FROM b GROUP BY 1),
            q AS (SELECT b.doc_id, (1048576 * c2.c2) // c1.c1 AS qv
                  FROM b JOIN c2 USING (g) JOIN c1 USING (a))
            SELECT doc_id, COUNT(*) AS n_bigrams,
                   ((SUM(qv))::BIGINT // COUNT(*)) AS lm_q
            FROM q GROUP BY 1
        """,
        "q_snap_nodes": f"""
            WITH p AS (
                SELECT event_id,
                       (user_id * 7919) % 17000 - 8500 AS lat_c,
                       (event_id * 104729) % 36000 - 18000 AS lon_c
                FROM events),
            pc AS (
                SELECT event_id, lat_c, lon_c,
                       greatest(0, least(31, floor((lon_c / 100.0 + 180.0)
                           / 360.0 * 32.0)::BIGINT)) AS x,
                       greatest(0, least(15, floor((90.0 - lat_c / 100.0)
                           / 180.0 * 16.0)::BIGINT)) AS y
                FROM p),
            n AS (
                SELECT p_partkey AS node_id,
                       ((p_partkey % 170) - 85) * 100 AS lat_c,
                       ((p_partkey % 360) - 180) * 100 AS lon_c
                FROM part WHERE p_partkey % 3 = 0),
            nc AS (
                SELECT node_id, lat_c, lon_c,
                       greatest(0, least(31, floor((lon_c / 100.0 + 180.0)
                           / 360.0 * 32.0)::BIGINT)) AS x,
                       greatest(0, least(15, floor((90.0 - lat_c / 100.0)
                           / 180.0 * 16.0)::BIGINT)) AS y
                FROM n),
            cand AS (
                SELECT pc.event_id, nc.node_id,
                       (pc.lat_c - nc.lat_c) * (pc.lat_c - nc.lat_c)
                     + (pc.lon_c - nc.lon_c) * (pc.lon_c - nc.lon_c) AS d2
                FROM pc JOIN nc
                  ON least((pc.x - nc.x + 32) % 32,
                           (nc.x - pc.x + 32) % 32) <= 1
                 AND abs(pc.y - nc.y) <= 1)
            SELECT event_id, node_id, d2
            FROM cand
            QUALIFY row_number() OVER (
                PARTITION BY event_id ORDER BY d2, node_id) = 1
        """,
        "q_cell_regions": f"""
            WITH RECURSIVE pts AS ({_POINTS_SQL}),
            dense AS (
                SELECT {_cell_sql('lat', 'lon', GRID_RES)} AS cell,
                       COUNT(*) AS n_points
                FROM pts GROUP BY 1 HAVING COUNT(*) >= {GRID_MIN_PTS}),
            xy AS (
                SELECT cell, (cell >> 29) & {(1 << 29) - 1} AS x,
                       cell & {(1 << 29) - 1} AS y
                FROM dense),
            e AS (
                SELECT a.cell AS s, b.cell AS t
                FROM xy a JOIN xy b
                  ON a.cell <> b.cell
                 AND abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1),
            reach(s, t) AS (
                SELECT cell, cell FROM dense
                UNION
                SELECT r.s, e.t FROM reach r JOIN e ON e.s = r.t),
            comp AS (SELECT s AS cell, MIN(t) AS cluster_id FROM reach GROUP BY 1)
            SELECT c.cluster_id, COUNT(*) AS n_cells,
                   (SUM(d.n_points))::BIGINT AS total_points,
                   MIN(d.cell) AS min_cell
            FROM dense d JOIN comp c USING (cell)
            GROUP BY 1
        """,
        "q_dup_chunk_by_source": f"""
            WITH docs2 AS ({_DOCS2_SQL}),
            t AS (SELECT doc_id, source,
                         {_WS_SPLIT} AS tk
                  FROM docs2),
            c AS (SELECT doc_id,
                         array_to_string(tk[(i*8+1):(i*8+8)], ' ') AS chunk
                  FROM t, unnest(range(0, len(tk) // 8)) AS u(i)),
            hot AS (SELECT chunk FROM c GROUP BY 1 HAVING COUNT(*) >= 2),
            perdoc AS (
                SELECT t.doc_id, t.source,
                       COUNT(c.chunk) AS n_windows,
                       COALESCE((SUM(CASE WHEN c.chunk IN
                           (SELECT chunk FROM hot) THEN 1 ELSE 0 END))::BIGINT,
                           0) AS n_boiler
                FROM t LEFT JOIN c ON c.doc_id = t.doc_id
                GROUP BY 1, 2)
            SELECT source, COUNT(*) AS n_docs,
                   (SUM(CASE WHEN n_boiler > 0 THEN 1 ELSE 0 END))::BIGINT
                       AS n_docs_flagged,
                   (SUM(n_windows))::BIGINT AS tot_windows,
                   (SUM(n_boiler))::BIGINT AS tot_boiler
            FROM perdoc GROUP BY 1
        """,
        "q_histogram": """
            WITH c AS (SELECT n_chars // 64 AS bin, COUNT(*) AS n
                       FROM documents GROUP BY 1),
            t AS (SELECT (SUM(n))::BIGINT AS tot FROM c)
            SELECT bin, bin * 64 AS lo, n, (1000000 * n) // tot AS ppm
            FROM c, t
        """,
        "q_stay_points": f"""
            WITH pts AS (
                SELECT event_id, user_id, ts,
                       ((user_id * 7919) % 17000) / 100.0 - 85.0 AS lat,
                       ((event_id * 104729) % 36000) / 100.0 - 180.0 AS lon
                FROM events),
            c AS (SELECT user_id AS entity, ts, event_id AS pid,
                         {_cell_sql('lat', 'lon', GRID_RES)} AS cell
                  FROM pts),
            f AS (SELECT entity, ts, pid, cell,
                         CASE WHEN lag(cell) OVER (
                                  PARTITION BY entity ORDER BY ts, pid)
                              IS DISTINCT FROM cell
                              THEN 1 ELSE 0 END AS brk
                  FROM c),
            g AS (SELECT entity, pid, cell,
                         (SUM(brk) OVER (
                             PARTITION BY entity ORDER BY ts, pid
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW))::BIGINT AS stay_seq
                  FROM f)
            SELECT entity, stay_seq, cell, COUNT(*) AS n_points,
                   MIN(pid) AS first_id, MAX(pid) AS last_id
            FROM g GROUP BY 1, 2, 3
            HAVING COUNT(*) >= 2
        """,
        # HLL: registers and estimate rebuilt with the same LCG /
        # trailing-zero / 2^20-scaled-harmonic integer arithmetic
        "q_hll_users": """
            WITH h AS (
                SELECT event_type AS grp,
                       ((user_id % 2147483647) * 1103515245 + 12345)
                           % 2147483647 AS h1,
                       ((user_id % 2147483647) * 69069 + 1)
                           % 2147483647 AS h2
                FROM events),
            r AS (SELECT grp, h1 % 64 AS bucket,
                         CASE WHEN h2 = 0 THEN 31
                              ELSE bit_count((h2 & (-h2)) - 1) + 1
                         END AS rho
                  FROM h),
            reg AS (SELECT grp, bucket, MAX(rho) AS rho
                    FROM r GROUP BY 1, 2),
            agg AS (SELECT grp, COUNT(*)::BIGINT AS n_buckets,
                           (SUM(1048576::BIGINT >> rho))::BIGINT AS ps
                    FROM reg GROUP BY 1)
            SELECT grp, n_buckets,
                   (64 - n_buckets) AS n_zero,
                   (ps + (64 - n_buckets) * 1048576) AS inv_sum,
                   (709::BIGINT * 64 * 64 * 1048576)
                       // (1000 * (ps + (64 - n_buckets) * 1048576)) AS est
            FROM agg
        """,
        # CMS: the exact 4x1024 counter array rebuilt in SQL, then the
        # same min-over-rows point query for the exact top-20 terms
        "q_cms_heavy_hitters": f"""
            WITH tk AS (
                SELECT unnest({_WS_SPLIT}) AS term
                FROM documents),
            tk2 AS (SELECT term FROM tk WHERE len(term) > 0),
            g AS (SELECT term,
                         {_sql_token_hash('term')} % 2147483647 AS h
                  FROM tk2),
            rows(row, a, b) AS (VALUES (0, 1103515245, 12345),
                                       (1, 69069, 1),
                                       (2, 1664525, 1013904223),
                                       (3, 22695477, 1)),
            sketch AS (
                SELECT row, ((h * a + b) % 2147483647) % 1024 AS bucket,
                       COUNT(*)::BIGINT AS n
                FROM g CROSS JOIN rows GROUP BY 1, 2),
            exact AS (
                SELECT term, COUNT(*)::BIGINT AS true_n,
                       {_sql_token_hash('term')} % 2147483647 AS h
                FROM tk2 GROUP BY term
                ORDER BY true_n DESC, term ASC LIMIT 20),
            probes AS (
                SELECT e.term, r.row,
                       ((e.h * r.a + r.b) % 2147483647) % 1024 AS bucket
                FROM exact e CROSS JOIN rows r),
            est AS (SELECT p.term, MIN(s.n) AS cms_n
                    FROM probes p JOIN sketch s USING (row, bucket)
                    GROUP BY 1)
            SELECT e.term, e.true_n, est.cms_n
            FROM exact e JOIN est USING (term)
        """,
        "q_weighted_sample": """
            WITH w AS (
                SELECT doc_id, n_chars,
                       (((doc_id % 2147483647) * 1103515245 + 12345)
                           % 2147483647) // (n_chars::BIGINT) AS priority
                FROM documents WHERE n_chars > 0),
            s AS (SELECT doc_id, n_chars, priority,
                         (row_number() OVER (ORDER BY priority, doc_id))::INT
                             AS sample_rank
                  FROM w)
            SELECT doc_id, n_chars, priority, sample_rank
            FROM s WHERE sample_rank <= 200
        """,
        # geofence: the q_pip ray-cast oracle extended with min-region
        # per point and a per-user LAG transition pass
        "q_geofence": f"""
            WITH pts AS (
                SELECT event_id, user_id, ts,
                       ((user_id * 7919) % 17000) / 100.0 - 85.0 AS lat,
                       ((event_id * 104729) % 36000) / 100.0 - 180.0 AS lon
                FROM events),
            edges(polygon_id, role, y1, x1, y2, x2)
                AS (VALUES {_pip_edges_values()}),
            ring_hits AS (
                SELECT p.event_id, e.polygon_id, e.role,
                       SUM(CASE WHEN ((e.y1 > p.lat) != (e.y2 > p.lat))
                                 AND p.lon < (e.x2 - e.x1) * (p.lat - e.y1)
                                     / (e.y2 - e.y1) + e.x1
                                THEN 1 ELSE 0 END) % 2 = 1 AS inside
                FROM pts p CROSS JOIN edges e
                GROUP BY p.event_id, e.polygon_id, e.role),
            pairs AS (
                SELECT event_id, polygon_id
                FROM ring_hits GROUP BY event_id, polygon_id
                HAVING bool_or(role = 'outer' AND inside)
                   AND NOT bool_or(role = 'hole' AND inside)),
            reg AS (
                SELECT p.user_id, p.ts, p.event_id,
                       COALESCE(MIN(q.polygon_id), -1)::BIGINT AS region
                FROM pts p LEFT JOIN pairs q USING (event_id)
                GROUP BY 1, 2, 3),
            lagd AS (
                SELECT user_id AS entity, ts, event_id AS point_id, region,
                       COALESCE(lag(region) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id),
                           -1)::BIGINT AS from_region
                FROM reg)
            SELECT entity, ts, point_id, from_region,
                   region AS to_region,
                   CASE WHEN region = -1 THEN 'exit'
                        WHEN from_region = -1 THEN 'enter'
                        ELSE 'switch' END AS kind
            FROM lagd WHERE from_region != region
        """,
        "q_link_graph": f"""
            WITH l AS ({_linked_links_sql(LINKED_PAGES_N)})
            SELECT src_host, dst_host, COUNT(*) AS n_links,
                   COUNT(DISTINCT src_url) AS n_pages
            FROM l GROUP BY 1, 2
        """,
        "q_anchor_terms": f"""
            WITH l AS ({_linked_links_sql(LINKED_PAGES_N)}),
            words AS (
                SELECT dst_host, unnest(string_split(anchor, ' ')) AS term
                FROM l),
            c AS (
                SELECT dst_host, term, COUNT(*) AS n
                FROM words WHERE term != '' GROUP BY 1, 2),
            r AS (
                SELECT dst_host, term, n,
                       (row_number() OVER (
                           PARTITION BY dst_host
                           ORDER BY n DESC, term ASC))::INT AS rk
                FROM c)
            SELECT dst_host, term, n, rk FROM r WHERE rk <= 2
        """,
        "q_dom_stats": f"""
            WITH base AS (
                SELECT i,
                       'h' || (i % 40) || '.example' AS src_host,
                       length('Page ' || i || ' of h' || (i % 40)
                              || '.example.') AS tchars,
                       ({_ph_sql('i', 81)}) % 4 AS nl
                FROM range(0, {LINKED_PAGES_N}) s(i)),
            l AS ({_linked_links_sql(LINKED_PAGES_N)}),
            tag_len AS (
                SELECT i, (SUM(length('<a href="' || href || '">'
                               || anchor || '</a>')))::BIGINT AS tl
                FROM l GROUP BY 1),
            per_page AS (
                SELECT b.src_host, b.nl, b.tchars,
                       33 + b.tchars + COALESCE(t.tl, 0) AS hbytes
                FROM base b LEFT JOIN tag_len t USING (i))
            SELECT src_host, COUNT(*) AS n_pages,
                   (SUM(3 + nl))::BIGINT AS n_tags,
                   (SUM(nl))::BIGINT AS n_links,
                   (SUM(hbytes))::BIGINT AS html_bytes,
                   (SUM(tchars))::BIGINT AS text_chars
            FROM per_page GROUP BY 1
        """,
        "q_morans_i": """
            WITH pts AS (
                SELECT ((user_id * 7919) % 17000) // 100 AS cx,
                       ((event_id * 104729) % 36000) // 100 AS cy
                FROM events),
            cells AS (SELECT cx, cy, COUNT(*) AS x FROM pts GROUP BY 1, 2),
            tot AS (SELECT COUNT(*) AS n, (SUM(x))::BIGINT AS s FROM cells),
            z AS (SELECT cx, cy,
                         (SELECT n FROM tot) * x - (SELECT s FROM tot) AS z
                  FROM cells),
            half AS (
                SELECT COUNT(*) AS hp,
                       COALESCE((SUM(a.z * b.z))::BIGINT, 0) AS hnum
                FROM z a JOIN z b
                  ON (a.cx + 1 = b.cx AND a.cy = b.cy)
                  OR (a.cx = b.cx AND a.cy + 1 = b.cy)),
            den AS (SELECT (SELECT n FROM tot) AS n_cells,
                           (SUM(z * z))::BIGINT AS den_z
                    FROM z)
            SELECT n_cells, hp * 2 AS w_pairs, hnum * 2 AS num_z, den_z,
                   (n_cells::DOUBLE * (hnum * 2)::DOUBLE)
                       / ((hp * 2)::DOUBLE * den_z::DOUBLE) AS morans_i
            FROM den CROSS JOIN half
        """,
        "q_containment_pairs": f"""
            WITH th AS (SELECT doc_id, {_SQL_TOKEN_HASHES} AS h FROM documents),
            sh AS (SELECT doc_id, list_distinct(list_transform(
                       range(1, greatest(len(h) - 2, 1) + 1),
                       i -> ((h[i] * 31 + coalesce(h[i+1], 0)) % {_HM} * 31
                             + coalesce(h[i+2], 0)) % {_HM})) AS g
                   FROM th),
            e AS (SELECT doc_id AS id, unnest(g) AS gram FROM sh),
            sizes AS (SELECT id, COUNT(*) AS sz FROM e GROUP BY 1),
            dfc AS (SELECT gram FROM e GROUP BY gram HAVING COUNT(*) <= 64),
            k AS (SELECT e.id, e.gram FROM e JOIN dfc USING (gram)),
            inter AS (
                SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
                FROM k a JOIN k b USING (gram)
                WHERE a.id < b.id GROUP BY 1, 2)
            SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b
            FROM inter
            JOIN sizes sa ON sa.id = inter.id_a
            JOIN sizes sb ON sb.id = inter.id_b
            WHERE inter * 100 >= 80 * least(sa.sz, sb.sz)
        """,
        "q_lm_coverage": f"""
            WITH toks AS (
                SELECT doc_id,
                       {_WS_SPLIT} AS tk
                FROM documents),
            tb AS (SELECT doc_id, tk[i] AS a, tk[i] || ' ' || tk[i+1] AS g
                   FROM toks, unnest(range(1, len(tk))) AS u(i)),
            trainb AS (SELECT * FROM tb WHERE doc_id % 5 != 0),
            c2 AS (SELECT g, COUNT(*) AS c2 FROM trainb GROUP BY 1),
            c1 AS (SELECT a, COUNT(*) AS c1 FROM trainb GROUP BY 1),
            model AS (SELECT c2.g, (1048576 * c2.c2) // c1.c1 AS q
                      FROM c2 JOIN c1 ON string_split(c2.g, ' ')[1] = c1.a),
            s AS (SELECT doc_id, q
                  FROM (SELECT doc_id, g FROM tb WHERE doc_id % 5 = 0) cand
                  LEFT JOIN model USING (g))
            SELECT doc_id, COUNT(*) AS n_bigrams,
                   (SUM(CASE WHEN q IS NULL THEN 1 ELSE 0 END))::BIGINT AS n_oov,
                   ((SUM(COALESCE(q, 0)))::BIGINT // COUNT(*)) AS lm_q
            FROM s GROUP BY 1
        """,
        "q_snapshot_diff": """
            WITH o94 AS (
                SELECT o_custkey, COUNT(*) AS n_orders,
                       MAX(o_orderdate) AS last_date
                FROM orders
                WHERE o_orderdate >= '1994-01-01' AND o_orderdate < '1995-01-01'
                GROUP BY 1),
            o95 AS (
                SELECT o_custkey, COUNT(*) AS n_orders,
                       MAX(o_orderdate) AS last_date
                FROM orders
                WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'
                GROUP BY 1),
            j AS (
                SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
                       a.n_orders AS old_n_orders, a.last_date AS old_last_date,
                       b.n_orders AS new_n_orders, b.last_date AS new_last_date,
                       a.o_custkey IS NOT NULL AS in_old,
                       b.o_custkey IS NOT NULL AS in_new
                FROM o94 a FULL OUTER JOIN o95 b ON a.o_custkey = b.o_custkey)
            SELECT o_custkey, old_n_orders, old_last_date,
                   new_n_orders, new_last_date, op
            FROM (SELECT *,
                         CASE WHEN NOT in_old THEN 'I'
                              WHEN NOT in_new THEN 'D'
                              WHEN old_n_orders IS DISTINCT FROM new_n_orders
                                OR old_last_date IS DISTINCT FROM new_last_date
                              THEN 'U' END AS op
                  FROM j) t
            WHERE op IS NOT NULL
        """,
        "q_adaptive_tiles": _adaptive_tiles_sql(),
        "q_pq_codes": _pq_sql(),
        "q_pq_topk": _pq_topk_sql(),
        "q_running_anomaly": """
            WITH v AS (
                SELECT user_id, ts, event_id,
                       floor(value * 100)::BIGINT AS v_q
                FROM events),
            w AS (
                SELECT user_id, ts, event_id, v_q,
                       COUNT(v_q) OVER pw AS n,
                       COALESCE((SUM(v_q) OVER pw)::BIGINT, 0) AS s,
                       COALESCE((SUM(v_q * v_q) OVER pw)::BIGINT, 0) AS ssq
                FROM v
                WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING))
            SELECT user_id AS entity, ts, event_id AS point_id, v_q,
                   n AS n_prior
            FROM w
            WHERE n >= 5
              AND (v_q * n - s) * (v_q * n - s) > 9 * (n * ssq - s * s)
        """,
        "q_line_raster": """
            WITH n AS (
                SELECT p_partkey AS node_id, p_partkey // 30 AS way_id,
                       (p_partkey % 170) - 85 AS gy,
                       (p_partkey % 360) - 180 AS gx
                FROM part WHERE p_partkey % 3 = 0),
            s AS (
                SELECT gy, gx,
                       lead(gy) OVER (PARTITION BY way_id ORDER BY node_id) AS gy2,
                       lead(gx) OVER (PARTITION BY way_id ORDER BY node_id) AS gx2
                FROM n),
            r AS (
                SELECT gx AS ax, gy AS ay,
                       abs(gx2 - gx) AS adx, abs(gy2 - gy) AS ady,
                       greatest(abs(gx2 - gx), abs(gy2 - gy)) AS steps,
                       greatest(greatest(abs(gx2 - gx), abs(gy2 - gy)), 1) AS s1,
                       sign(gx2 - gx)::BIGINT AS sx,
                       sign(gy2 - gy)::BIGINT AS sy
                FROM s WHERE gy2 IS NOT NULL),
            w AS (
                SELECT ax + sx * ((2 * k * adx + s1) // (2 * s1)) AS x,
                       ay + sy * ((2 * k * ady + s1) // (2 * s1)) AS y
                FROM r, unnest(range(0, steps + 1)) u(k))
            SELECT x, y, COUNT(*) AS n_segs FROM w GROUP BY 1, 2
        """,
        "q_cell_trends": """
            WITH pts AS (
                SELECT ts,
                       ((user_id * 7919) % 17000) // 100 AS cx,
                       ((event_id * 104729) % 36000) // 100 AS cy
                FROM events),
            hourly AS (
                SELECT cx, cy, epoch_us(ts) // 3600000000 AS h,
                       COUNT(*) AS y
                FROM pts GROUP BY 1, 2, 3),
            per AS (
                SELECT cx, cy, COUNT(*) AS n_hours,
                       (SUM(h))::BIGINT AS sx, (SUM(y))::BIGINT AS sy,
                       (SUM(h * y))::BIGINT AS sxy,
                       (SUM(h * h))::BIGINT AS sxx
                FROM hourly GROUP BY 1, 2)
            SELECT cx, cy, n_hours,
                   n_hours * sxy - sx * sy AS slope_num,
                   n_hours * sxx - sx * sx AS slope_den,
                   n_hours * sxy - sx * sy > 0 AS rising
            FROM per WHERE n_hours >= 2
        """,
        "q_hot_spots": """
            WITH pts AS (
                SELECT ((user_id * 7919) % 17000) // 100 AS cx,
                       ((event_id * 104729) % 36000) // 100 AS cy
                FROM events),
            cells AS (SELECT cx, cy, COUNT(*) AS x FROM pts GROUP BY 1, 2),
            tot AS (SELECT COUNT(*) AS n, (SUM(x))::BIGINT AS s FROM cells),
            nb AS (
                SELECT a.cx, a.cy, (SUM(b.x))::BIGINT AS nb_sum,
                       COUNT(*) AS n_nb
                FROM cells a
                JOIN (VALUES (0, 0), (1, 0), (-1, 0), (0, 1), (0, -1)) o(dx, dy)
                  ON TRUE
                JOIN cells b ON a.cx + o.dx = b.cx AND a.cy + o.dy = b.cy
                GROUP BY 1, 2)
            SELECT c.cx, c.cy, c.x, nb.nb_sum, nb.n_nb,
                   nb.nb_sum * (SELECT n FROM tot)
                       > nb.n_nb * (SELECT s FROM tot) AS hot
            FROM cells c JOIN nb USING (cx, cy)
        """,
        "q_tile_diff": """
            WITH pts AS (
                SELECT ts,
                       ((user_id * 7919) % 17000) // 100 AS cx,
                       ((event_id * 104729) % 36000) // 100 AS cy
                FROM events),
            b AS (SELECT cx, cy, COUNT(*) AS x FROM pts
                  WHERE ts < '2024-01-15' GROUP BY 1, 2),
            a AS (SELECT cx, cy, COUNT(*) AS x FROM pts
                  WHERE ts >= '2024-01-15' GROUP BY 1, 2),
            j AS (
                SELECT COALESCE(b.cx, a.cx) AS cx, COALESCE(b.cy, a.cy) AS cy,
                       b.x AS old_x, a.x AS new_x,
                       b.cx IS NOT NULL AS in_old, a.cx IS NOT NULL AS in_new
                FROM b FULL OUTER JOIN a ON b.cx = a.cx AND b.cy = a.cy)
            SELECT cx, cy, old_x, new_x, op
            FROM (SELECT *,
                         CASE WHEN NOT in_old THEN 'I'
                              WHEN NOT in_new THEN 'D'
                              WHEN old_x IS DISTINCT FROM new_x THEN 'U'
                         END AS op
                  FROM j) t
            WHERE op IS NOT NULL
        """,
        "q_map_match": """
            WITH p AS (
                SELECT event_id,
                       (user_id * 7919) % 17000 - 8500 AS py,
                       (event_id * 104729) % 36000 - 18000 AS px
                FROM events),
            pc AS (
                SELECT event_id, py, px,
                       greatest(0, least(31, floor((px / 100.0 + 180.0)
                           / 360.0 * 32.0)::BIGINT)) AS x,
                       greatest(0, least(15, floor((90.0 - py / 100.0)
                           / 180.0 * 16.0)::BIGINT)) AS y
                FROM p),
            n AS (
                SELECT p_partkey AS node_id, p_partkey // 30 AS way_id,
                       ((p_partkey % 170) - 85) * 100 AS yy,
                       ((p_partkey % 360) - 180) * 100 AS xx
                FROM part WHERE p_partkey % 3 = 0),
            s AS (
                SELECT node_id AS seg_id, way_id, yy AS ay, xx AS ax,
                       lead(yy) OVER (PARTITION BY way_id ORDER BY node_id) AS y2,
                       lead(xx) OVER (PARTITION BY way_id ORDER BY node_id) AS x2
                FROM n),
            s2 AS (
                SELECT seg_id, way_id, ay, ax, y2, x2,
                       greatest(0, least(31, floor((ax / 100.0 + 180.0)
                           / 360.0 * 32.0)::BIGINT)) AS cax,
                       greatest(0, least(15, floor((90.0 - ay / 100.0)
                           / 180.0 * 16.0)::BIGINT)) AS cay,
                       greatest(0, least(31, floor((x2 / 100.0 + 180.0)
                           / 360.0 * 32.0)::BIGINT)) AS cbx,
                       greatest(0, least(15, floor((90.0 - y2 / 100.0)
                           / 180.0 * 16.0)::BIGINT)) AS cby
                FROM s WHERE y2 IS NOT NULL),
            cand AS (
                SELECT pc.event_id, s2.seg_id, s2.way_id,
                       (pc.py - s2.ay) * (s2.y2 - s2.ay)
                     + (pc.px - s2.ax) * (s2.x2 - s2.ax) AS dot,
                       (s2.y2 - s2.ay) * (s2.y2 - s2.ay)
                     + (s2.x2 - s2.ax) * (s2.x2 - s2.ax) AS den0,
                       (pc.py - s2.ay) * (pc.py - s2.ay)
                     + (pc.px - s2.ax) * (pc.px - s2.ax) AS ap2,
                       (pc.py - s2.y2) * (pc.py - s2.y2)
                     + (pc.px - s2.x2) * (pc.px - s2.x2) AS bp2
                FROM pc JOIN s2
                  ON (least((pc.x - s2.cax + 32) % 32,
                            (s2.cax - pc.x + 32) % 32) <= 1
                      AND abs(pc.y - s2.cay) <= 1)
                  OR (least((pc.x - s2.cbx + 32) % 32,
                            (s2.cbx - pc.x + 32) % 32) <= 1
                      AND abs(pc.y - s2.cby) <= 1)),
            scored AS (
                SELECT event_id, seg_id, way_id,
                       CASE WHEN dot <= 0 THEN ap2
                            WHEN dot >= den0 THEN bp2
                            ELSE ap2 * den0 - dot * dot END AS num,
                       CASE WHEN dot <= 0 OR dot >= den0
                            THEN 1::BIGINT ELSE den0 END AS den
                FROM cand),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY event_id
                    ORDER BY num::DOUBLE / den::DOUBLE, num, den, seg_id) AS rk
                FROM scored)
            SELECT event_id, seg_id, way_id, num AS d2_num, den AS d2_den
            FROM r WHERE rk = 1
        """,
        "q_crawl_frontier": f"""
            WITH l AS ({_linked_links_sql(LINKED_PAGES_N)})
            SELECT href, COUNT(DISTINCT src_host) AS n_hosts,
                   COUNT(*) AS n_refs
            FROM l
            WHERE i % 3 != 0
              AND CAST(regexp_extract(href, '/p/(\\d+)$', 1) AS BIGINT) % 3 = 0
            GROUP BY href
            ORDER BY n_hosts DESC, n_refs DESC, href ASC
            LIMIT 50
        """,
        "q_host_hits": _hits_sql(),
        "q_host_rank": _pagerank_sql(
            graph_ctes=f"""
            l AS ({_linked_links_sql(LINKED_PAGES_N)}),
            e AS (SELECT DISTINCT src_host AS s, dst_host AS t FROM l),
            nodes AS (SELECT s AS node FROM e UNION SELECT t FROM e)""",
            node_alias="host",
        ),
    }
    out["q_quality_gate"] = f"""
            WITH toks AS (
                SELECT doc_id,
                       {_WS_SPLIT} AS tk
                FROM documents),
            b AS (SELECT doc_id, tk[i] AS a, tk[i] || ' ' || tk[i+1] AS g
                  FROM toks, unnest(range(1, len(tk))) AS u(i)),
            c2 AS (SELECT g, COUNT(*) AS c2 FROM b GROUP BY 1),
            c1 AS (SELECT a, COUNT(*) AS c1 FROM b GROUP BY 1),
            q AS (SELECT b.doc_id, (1048576 * c2.c2) // c1.c1 AS qv
                  FROM b JOIN c2 USING (g) JOIN c1 USING (a)),
            lm AS (SELECT doc_id, ((SUM(qv))::BIGINT // COUNT(*)) AS lm_q
                   FROM q GROUP BY 1),
            j AS (SELECT lm.doc_id, d.lang, lm.lm_q
                  FROM lm JOIN documents d USING (doc_id)),
            r AS (SELECT doc_id, lang, lm_q,
                         (row_number() OVER (PARTITION BY lang
                             ORDER BY lm_q DESC, doc_id))::INT AS rk,
                         COUNT(*) OVER (PARTITION BY lang) AS n_lang
                  FROM j)
            SELECT doc_id, lang, lm_q, rk, n_lang
            FROM r WHERE rk * 2 <= n_lang + 1
        """
    out["q_fetch_slots"] = (
        """
            WITH fr AS ("""
        + out["q_crawl_frontier"]
        + """),
            r AS (SELECT href,
                         regexp_extract(href, '^https?://([^/]+)[/$]?', 1) AS host,
                         n_hosts, n_refs
                  FROM fr)
            SELECT href, host,
                   (row_number() OVER (PARTITION BY host
                       ORDER BY n_hosts DESC, n_refs DESC, href))::INT AS rk,
                   (((row_number() OVER (PARTITION BY host
                       ORDER BY n_hosts DESC, n_refs DESC, href)) - 1) // 2)::INT
                       AS slot
            FROM r
        """
    )
    out["q_isochrone"] = _bellman_sql(
        3,
        src_pred=(
            f"node IN (SELECT cell FROM (SELECT cell FROM dense "
            f"ORDER BY n_points DESC, cell LIMIT {ISO_SOURCES}) sx)"
        ),
    )
    out["q_polygon_fill"] = _polygon_fill_sql()
    out["q_dedup_eval"] = f"""
            WITH d2 AS ({_DOCS2_SQL}),
            th AS (SELECT doc_id, {_SQL_TOKEN_HASHES} AS h FROM d2),
            shl AS (SELECT doc_id, list_distinct(list_transform(
                        range(1, greatest(len(h) - 2, 1) + 1),
                        i -> ((h[i] * 31 + coalesce(h[i+1], 0)) % {_HM} * 31
                              + coalesce(h[i+2], 0)) % {_HM})) AS g
                    FROM th),
            e AS (SELECT doc_id AS id, unnest(g) AS gram FROM shl),
            sizes AS (SELECT id, COUNT(*) AS sz FROM e GROUP BY 1),
            pr AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
                   FROM e a JOIN e b USING (gram)
                   WHERE a.id < b.id GROUP BY 1, 2),
            truth AS (
                SELECT id_a, id_b
                FROM pr
                JOIN sizes sa ON sa.id = pr.id_a
                JOIN sizes sb ON sb.id = pr.id_b
                WHERE inter * 5 >= 4 * (sa.sz + sb.sz - inter)),
            dfc AS (SELECT gram FROM e GROUP BY gram HAVING COUNT(*) <= 64),
            k AS (SELECT e.id, e.gram FROM e JOIN dfc USING (gram)),
            cinter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
                       FROM k a JOIN k b USING (gram)
                       WHERE a.id < b.id GROUP BY 1, 2),
            ct AS (
                SELECT id_a, id_b FROM cinter
                JOIN sizes sa ON sa.id = cinter.id_a
                JOIN sizes sb ON sb.id = cinter.id_b
                WHERE inter * 100 >= 80 * least(sa.sz, sb.sz)),
            u AS (
                SELECT 'minhash_lsh' AS method, id_a, id_b
                FROM ({_minhash_lsh_sql()}) m
                UNION ALL
                SELECT 'simhash', id_a, id_b FROM ({_simhash_pairs_sql()}) s
                UNION ALL
                SELECT 'containment', id_a, id_b FROM ct),
            j AS (SELECT u.method, t.id_a IS NOT NULL AS hit
                  FROM u LEFT JOIN truth t USING (id_a, id_b))
            SELECT method, COUNT(*) AS n_pairs,
                   (SUM(CASE WHEN hit THEN 1 ELSE 0 END))::BIGINT AS n_true,
                   (SELECT COUNT(*) FROM truth) AS n_truth
            FROM j GROUP BY 1
        """
    out["q_tile_bins"] = (
        """
            WITH t AS ("""
        + out["q_adaptive_tiles"]
        + f""")
            SELECT z, x, y, n_points,
                   COALESCE((SUM(n_points) OVER (
                       ORDER BY n_points, z, x, y
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING))::BIGINT, 0) AS running_start,
                   (COALESCE((SUM(n_points) OVER (
                       ORDER BY n_points, z, x, y
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING))::BIGINT, 0)
                       // {TILE_BIN_CAP})::BIGINT AS bin
            FROM t
        """
    )
    out["q_dedup_best"] = (
        f"""
            WITH d2 AS ({_DOCS2_SQL}),
            j AS (SELECT cc.node, cc.component, d2.n_chars
                  FROM ("""
        + out["q_dedup_clusters"]
        + """) cc JOIN d2 ON d2.doc_id = cc.node),
            r AS (SELECT *,
                         row_number() OVER (PARTITION BY component
                             ORDER BY n_chars DESC, node) AS rk,
                         COUNT(*) OVER (PARTITION BY component) AS n_members
                  FROM j)
            SELECT component, node AS keep_id, n_chars AS keep_chars,
                   n_members
            FROM r WHERE rk = 1
        """
    )
    out["q_od_matrix"] = (
        "SELECT from_region, to_region, kind, COUNT(*) AS n_moves, "
        "COUNT(DISTINCT entity) AS n_entities FROM ("
        + out["q_geofence"]
        + ") gf GROUP BY 1, 2, 3"
    )
    _GRID_INT_SQL = """
            SELECT event_id, (event_id * 104729) % 36000 AS x,
                   (user_id * 7919) % 17000 AS y
            FROM events
    """
    out["q_str_pack"] = f"""
            WITH pts AS ({_GRID_INT_SQL}),
            t AS (SELECT *, ntile(8) OVER (ORDER BY x, event_id) - 1 AS tx
                  FROM pts),
            u AS (SELECT *, ntile(4) OVER (PARTITION BY tx
                      ORDER BY y, event_id) - 1 AS ty
                  FROM t)
            SELECT tx, ty, COUNT(*) AS n_points,
                   MIN(x) AS x_min, MAX(x) AS x_max,
                   MIN(y) AS y_min, MAX(y) AS y_max
            FROM u GROUP BY 1, 2
        """
    out["q_gearys_c"] = """
            WITH pts AS (
                SELECT ((user_id * 7919) % 17000) // 100 AS cx,
                       ((event_id * 104729) % 36000) // 100 AS cy
                FROM events),
            cells AS (SELECT cx, cy, COUNT(*) AS x FROM pts GROUP BY 1, 2),
            tot AS (SELECT COUNT(*) AS n, (SUM(x))::BIGINT AS s FROM cells),
            z AS (SELECT cx, cy,
                         (SELECT n FROM tot) * x - (SELECT s FROM tot) AS z
                  FROM cells),
            half AS (
                SELECT COUNT(*) AS hp,
                       COALESCE((SUM((a.z - b.z) * (a.z - b.z)))::BIGINT, 0) AS hd2
                FROM z a JOIN z b
                  ON (a.cx + 1 = b.cx AND a.cy = b.cy)
                  OR (a.cx = b.cx AND a.cy + 1 = b.cy)),
            den AS (SELECT (SELECT n FROM tot) AS n_cells,
                           (SUM(z * z))::BIGINT AS den_z
                    FROM z)
            SELECT n_cells, hp * 2 AS w_pairs, hd2 * 2 AS num_c, den_z,
                   ((n_cells - 1)::DOUBLE * (hd2 * 2)::DOUBLE)
                       / (((hp * 2) * 2)::DOUBLE * den_z::DOUBLE) AS gearys_c
            FROM den CROSS JOIN half
        """
    out["q_skyline"] = f"""
            WITH pts AS ({_GRID_INT_SQL}),
            colmin AS (SELECT x, MIN(y) AS y FROM pts GROUP BY 1),
            r AS (SELECT x, y,
                         MIN(y) OVER (ORDER BY x ROWS BETWEEN
                             UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
                  FROM colmin)
            SELECT x, y FROM r WHERE prev IS NULL OR y < prev
        """
    _cent_vals = ", ".join(
        f"({pid}, '{role}', {i}, {a!r}, {b!r})"
        for pid, rings in PIP_POLYGONS.items()
        for role, ring in rings
        for i, (a, b) in enumerate(ring)
    )
    _cross = "lons[j] * lats[j+1] - lons[j+1] * lats[j]"
    out["q_polygon_centroid"] = f"""
            WITH v(pid, role, i, lat, lon) AS (VALUES {_cent_vals}),
            r AS (
                SELECT pid, role,
                       list(lat::DOUBLE ORDER BY i) AS lats,
                       list(lon::DOUBLE ORDER BY i) AS lons
                FROM v GROUP BY 1, 2),
            s AS (SELECT pid, role,
                         list_reduce(list_prepend(0.0::DOUBLE,
                             list_transform(range(1, len(lats)),
                                 j -> {_cross})),
                             (a, b) -> a + b) AS a2,
                         list_reduce(list_prepend(0.0::DOUBLE,
                             list_transform(range(1, len(lats)),
                                 j -> (lons[j] + lons[j+1]) * ({_cross}))),
                             (a, b) -> a + b) AS cxn,
                         list_reduce(list_prepend(0.0::DOUBLE,
                             list_transform(range(1, len(lats)),
                                 j -> (lats[j] + lats[j+1]) * ({_cross}))),
                             (a, b) -> a + b) AS cyn
                  FROM r)
            SELECT pid::BIGINT AS polygon_id, role AS ring_role, a2 AS area2,
                   cxn / (3.0::DOUBLE * a2) AS centroid_lon,
                   cyn / (3.0::DOUBLE * a2) AS centroid_lat
            FROM s
        """
    out["q_classifier_auc"] = f"""
            WITH hc AS ({_hash_classifier_sql()}),
            sc AS (SELECT hc.score, d.lang = 'en' AS label
                   FROM hc JOIN documents d USING (doc_id)),
            per AS (SELECT score,
                           (SUM(CASE WHEN label THEN 1 ELSE 0 END))::BIGINT AS p,
                           (SUM(CASE WHEN label THEN 0 ELSE 1 END))::BIGINT AS q
                    FROM sc GROUP BY 1),
            c AS (SELECT p, q,
                         COALESCE((SUM(q) OVER (ORDER BY score ROWS BETWEEN
                             UNBOUNDED PRECEDING AND 1 PRECEDING))::BIGINT,
                             0) AS nb
                  FROM per),
            a AS (SELECT (SUM(p))::BIGINT AS n_pos, (SUM(q))::BIGINT AS n_neg,
                         (SUM(p * (2 * nb + q)))::BIGINT AS auc_num
                  FROM c)
            SELECT n_pos, n_neg, auc_num,
                   auc_num::DOUBLE / ((2 * n_pos * n_neg)::DOUBLE) AS auc
            FROM a
        """
    _robots_vals = ", ".join(
        f"('{h}', '{p}', {'TRUE' if a else 'FALSE'})" for h, p, a in ROBOTS_RULES
    )
    out["q_robots_rules"] = f"""
            WITH u AS (
                SELECT 'https://h' || (i % 40) || '.example/p/' || i AS url,
                       'h' || (i % 40) || '.example' AS host,
                       '/p/' || i AS path
                FROM range(0, {LINKED_PAGES_N}) s(i)),
            r(host, prefix, allow) AS (VALUES {_robots_vals}),
            m AS (SELECT u.url, u.host, u.path, r.prefix, r.allow
                  FROM u JOIN r ON u.host = r.host
                  WHERE r.prefix = '' OR starts_with(u.path, r.prefix)),
            w AS (SELECT *, row_number() OVER (PARTITION BY url
                      ORDER BY len(prefix) DESC, allow DESC) AS rn
                  FROM m)
            SELECT url, host, path, allow AS allowed,
                   (len(prefix))::INT AS rule_len
            FROM w WHERE rn = 1
        """
    out["q_readability"] = f"""
            WITH b AS (
                SELECT doc_id,
                       (len({_WS_SPLIT}))::BIGINT
                           AS n_words,
                       greatest(
                           ((len(text) - len(replace(text, '.', '')))
                            + (len(text) - len(replace(text, '!', '')))
                            + (len(text) - len(replace(text, '?', ''))))::BIGINT,
                           ((len({_WS_SPLIT})
                             + 24) // 25)::BIGINT) AS n_sents,
                       (len(regexp_extract_all(lower(text), '[aeiou]+')))::BIGINT
                           AS n_vowel_runs
                FROM documents)
            SELECT doc_id, n_words, n_sents, n_vowel_runs,
                   39 * n_words * n_words + 1180 * n_vowel_runs * n_sents
                       - 1559 * n_words * n_sents AS fk_num,
                   n_words * n_sents AS fk_den,
                   (39 * n_words * n_words + 1180 * n_vowel_runs * n_sents
                       - 1559 * n_words * n_sents)
                       <= 1200 * (n_words * n_sents) AS readable
            FROM b WHERE n_words >= 1 AND n_sents >= 1
        """
    out["q_nn_graph"] = f"""
            WITH pts AS ({_GRID_INT_SQL}),
            probe AS (
                SELECT event_id AS id, x, y,
                       (x // 256) + dx AS ncx, (y // 256) + dy AS ncy
                FROM pts, (SELECT unnest([-1, 0, 1]) AS dx) a,
                     (SELECT unnest([-1, 0, 1]) AS dy) b),
            cand AS (SELECT event_id AS nn_id, x AS nx, y AS ny,
                            x // 256 AS ncx, y // 256 AS ncy
                     FROM pts),
            j AS (SELECT p.id, p.x, p.y, c.nn_id,
                         (p.x - c.nx) * (p.x - c.nx)
                             + (p.y - c.ny) * (p.y - c.ny) AS d2
                  FROM probe p JOIN cand c USING (ncx, ncy)
                  WHERE c.nn_id != p.id),
            r AS (SELECT *, row_number() OVER (PARTITION BY id
                      ORDER BY d2, nn_id) AS rn
                  FROM j)
            SELECT id, x, y, nn_id, d2 FROM r WHERE rn = 1
        """
    from skyway_spark.sources.generate import HOT_CITIES as _HC

    _city_vals = ", ".join(
        f"({i}, {la!r}::DOUBLE, {lo!r}::DOUBLE)" for i, (la, lo) in enumerate(_HC)
    )
    out["q_mention_city"] = f"""
            WITH em AS ({out["q_extract_mentions"]}),
            c(site, clat, clon) AS (VALUES {_city_vals}),
            d AS (SELECT em.name, em.amenity, c.site,
                         (em.lat - c.clat) * (em.lat - c.clat)
                             + (em.lon - c.clon) * (em.lon - c.clon) AS d2
                  FROM em CROSS JOIN c),
            r AS (SELECT *, row_number() OVER (PARTITION BY name
                      ORDER BY d2, site) AS rn
                  FROM d)
            SELECT site, amenity, COUNT(*) AS n_mentions
            FROM r WHERE rn = 1 GROUP BY 1, 2
        """
    out["q_clip_rings"] = _clip_rings_sql()
    out["q_tile_clip"] = _tile_clip_sql()
    out["q_redirects"] = _redirects_sql()
    out["q_ripley_k"] = _ripley_sql()
    out["q_track_hausdorff"] = _hausdorff_sql()
    out["q_idw"] = _idw_sql()
    out["q_crawl_budget"] = _crawl_budget_sql()
    out["q_user_hulls"] = _user_hulls_sql()
    out["q_kcore"] = _kcore_sql()
    out["q_segment_crossings"] = _segment_crossings_sql()
    out["q_int8_quant"] = _int8_quant_sql()
    out["q_cocitation"] = _cocitation_sql()
    out["q_rolling_wau"] = _rolling_wau_sql()
    out["q_fuzzy_join"] = _fuzzy_join_sql()
    out["q_bib_coupling"] = _bib_coupling_sql()
    out["q_reciprocity"] = _reciprocity_sql()
    out["q_heading_octants"] = _heading_octants_sql()
    out["q_interval_union"] = _interval_union_sql()
    out["q_ahash"] = _ahash_sql()
    out["q_ahash_pairs"] = _ahash_pairs_sql()
    out["q_warc_parse"] = _warc_parse_sql()
    out["q_warc_stats"] = _warc_stats_sql()
    out["q_lcss_tracks"] = _lcss_sql()
    out["q_cusum"] = _cusum_sql()
    out["q_bpe_tokenize"] = _bpe_tokenize_sql()
    out["q_cdc_chunks"] = _cdc_chunks_sql()
    out["q_cdc_dedup"] = _cdc_dedup_sql()
    out["q_media_clusters"] = _media_clusters_sql()
    out["q_hex_assign"] = _hex_assign_sql()
    out["q_hex_disk"] = _hex_disk_sql()
    out["q_rbo_rankings"] = _rbo_sql()
    out["q_span_corrupt"] = _span_corrupt_sql()
    out["q_ra_links"] = _ra_links_sql()
    out["q_hull_diameter"] = _hull_diameter_sql()
    out["q_web_tables"] = _web_tables_sql()
    out["q_curve_locality"] = _curve_locality_sql()
    out["q_variogram"] = _variogram_sql()
    out["q_warc_pipeline"] = _warc_pipeline_sql()
    out["q_jaccard_join"] = _jaccard_join_sql()
    out["q_matryoshka_recall"] = _matryoshka_sql()
    out["q_pit_join"] = _pit_join_sql()
    out["q_k_anonymity"] = _k_anonymity_sql()
    out["q_prune_stats"] = _prune_stats_sql()
    out["q_seq_patterns"] = _seq_patterns_sql()
    out["q_nearest_centroid"] = _nearest_centroid_sql()
    out["q_marker_thinning"] = _marker_thinning_sql()
    out["q_posting_sizes"] = _posting_sizes_sql()
    out["q_line_of_sight"] = _line_of_sight_sql()
    out["q_data_mixture"] = _data_mixture_sql()
    out["q_layout_prune"] = _layout_prune_sql()
    out["q_dead_links"] = _dead_links_sql()
    out["q_focal_stats"] = """
            WITH pts AS (
                SELECT ((user_id * 7919) % 17000) // 100 AS cx,
                       ((event_id * 104729) % 36000) // 100 AS cy
                FROM events),
            cells AS MATERIALIZED (
                SELECT cx, cy, COUNT(*) AS x FROM pts GROUP BY 1, 2),
            foc AS (
                SELECT a.cx + o.dx AS tx, a.cy + o.dy AS ty,
                       (SUM(a.x))::BIGINT AS f_sum, MAX(a.x) AS f_max,
                       MIN(a.x) AS f_min, COUNT(*) AS f_n
                FROM cells a
                JOIN (VALUES (-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 0),
                             (0, 1), (1, -1), (1, 0), (1, 1)) o(dx, dy)
                  ON TRUE
                GROUP BY 1, 2)
            SELECT c.cx, c.cy, c.x, f.f_sum, f.f_max, f.f_min, f.f_n
            FROM cells c JOIN foc f ON c.cx = f.tx AND c.cy = f.ty
        """
    out["q_voronoi"] = _voronoi_sql()
    out["q_bfs_hops"] = _bfs_hops_sql()
    out["q_resample_track"] = _resample_track_sql()
    out["q_dilate"] = _dilate_sql()
    out["q_mann_kendall"] = _mann_kendall_sql()
    out["q_frechet"] = _frechet_sql()
    out["q_flow_accum"] = _flow_accum_sql()
    out["q_rag_chunks"] = _rag_chunks_sql()
    out["q_label_communities"] = _label_communities_sql()
    out["q_watershed"] = _watershed_sql()
    out["q_slope_aspect"] = _slope_aspect_sql()
    out["q_colocation"] = _colocation_sql()
    out["q_set_cover"] = _set_cover_sql()
    out["q_knox"] = _knox_sql()
    out["q_dispersion"] = _dispersion_sql()
    out["q_rendezvous"] = _rendezvous_sql()
    out["q_incremental_dedup"] = _incremental_dedup_sql()
    out["q_emerging_hotspots"] = _emerging_hotspots_sql()
    out["q_minhash_error"] = _minhash_error_sql()
    out["q_hot_percolation"] = _hot_percolation_sql()
    out["q_radius_gyration"] = _radius_gyration_sql()
    out["q_jump_sizes"] = _jump_sizes_sql()
    out["q_polygon_validity"] = _polygon_validity_sql()
    out["q_join_counts"] = _join_counts_sql()
    out["q_gini_cells"] = _gini_sql()
    out["q_term_drift"] = _term_drift_sql()
    out["q_bitext_candidates"] = _bitext_sql()
    out["q_assortativity"] = _assortativity_sql()
    out["q_concordance"] = """
            WITH toks AS (
                SELECT doc_id AS id, string_split(text, ' ') AS t
                FROM documents),
            hits AS (
                SELECT id, t,
                       unnest(range(1, len(t) + 1)) AS pos,
                       unnest(t) AS tok
                FROM toks)
            SELECT id, pos,
                   COALESCE(array_to_string(
                       t[GREATEST(1, pos - 2):pos - 1], ' '), '') AS left_ctx,
                   COALESCE(array_to_string(
                       t[pos + 1:LEAST(len(t), pos + 2)], ' '), '') AS right_ctx
            FROM hits WHERE tok = 'table'
        """
    out["q_rle_raster"] = """
            WITH pts AS (
                SELECT ((user_id * 7919) % 17000) // 100 AS cx,
                       ((event_id * 104729) % 36000) // 100 AS cy
                FROM events),
            cells AS (SELECT DISTINCT cx, cy FROM pts),
            m AS (
                SELECT cx, cy,
                       CASE WHEN lag(cx) OVER w IS NULL
                                 OR cx - lag(cx) OVER w != 1
                            THEN 1 ELSE 0 END AS is_start
                FROM cells
                WINDOW w AS (PARTITION BY cy ORDER BY cx)),
            r AS (
                SELECT cy,
                       SUM(is_start) OVER (PARTITION BY cy ORDER BY cx
                           ROWS UNBOUNDED PRECEDING) AS run_id
                FROM m),
            pr AS (SELECT cy, run_id, COUNT(*) AS run_len
                   FROM r GROUP BY 1, 2)
            SELECT cy, (SUM(run_len))::BIGINT AS n_cells,
                   COUNT(*) AS n_runs, MAX(run_len) AS max_run
            FROM pr GROUP BY 1
        """
    out["q_acf"] = """
            WITH e AS (
                SELECT epoch_us(ts) // 3600000000 AS h FROM events),
            c AS MATERIALIZED (
                SELECT h, COUNT(*) AS x FROM e GROUP BY 1),
            l AS (SELECT unnest(range(1, 25)) AS lag),
            j AS (
                SELECT l.lag, a.x AS xa, b.x AS xb
                FROM l JOIN c a ON TRUE
                JOIN c b ON b.h = a.h + l.lag)
            SELECT lag, COUNT(*) AS n_pairs,
                   (SUM(xa * xb))::BIGINT AS sum_xy,
                   (SUM(xa))::BIGINT AS sum_x,
                   (SUM(xb))::BIGINT AS sum_y,
                   (SUM(xa * xa))::BIGINT AS sum_xx,
                   (SUM(xb * xb))::BIGINT AS sum_yy
            FROM j GROUP BY 1
        """
    out["q_kmv_distinct"] = """
            WITH dh AS (
                SELECT event_type AS g,
                       (user_id * 1103515245 + 12345) % 2147483647 AS h
                FROM events GROUP BY 1, 2),
            r AS (SELECT g, h,
                         row_number() OVER (PARTITION BY g ORDER BY h) AS rn
                  FROM dh),
            a AS (SELECT g, COUNT(*) AS n_hashes,
                         MAX(CASE WHEN rn = 64 THEN h END) AS kth_min
                  FROM r GROUP BY 1)
            SELECT g AS event_type, n_hashes, kth_min,
                   CASE WHEN kth_min IS NOT NULL
                        THEN ((63::BIGINT) * 2147483647) // kth_min
                        ELSE n_hashes END AS kmv_est
            FROM a
        """
    out["q_host_components"] = f"""
            WITH RECURSIVE l AS ({_linked_links_sql(LINKED_PAGES_N)}),
            hg AS (SELECT src_host, dst_host FROM l
                   GROUP BY 1, 2 HAVING COUNT(*) >= 5),
            e AS (SELECT src_host AS s, dst_host AS t FROM hg
                  UNION SELECT dst_host, src_host FROM hg),
            reach(s, t) AS (
                SELECT s, t FROM e
                UNION
                SELECT r.s, e2.t FROM reach r JOIN e e2 ON r.t = e2.s
            )
            SELECT s AS node, LEAST(s, MIN(t)) AS component
            FROM reach GROUP BY s
        """
    out["q_url_templates"] = """
            WITH u AS (
                SELECT 'https://site' || (doc_id % 7) || '.com/items/' || doc_id
                       || CASE WHEN doc_id % 3 = 0
                               THEN '/reviews/' || (doc_id % 10) ELSE '' END
                       || CASE WHEN doc_id % 4 = 0
                               THEN '?page=' || (doc_id % 5) ELSE '' END AS url,
                       doc_id
                FROM documents),
            t AS (SELECT 'site' || (doc_id % 7) || '.com' AS host,
                         CASE WHEN doc_id % 3 = 0
                              THEN '/items/{d}/reviews/{d}'
                              ELSE '/items/{d}' END AS template,
                         url
                  FROM u)
            SELECT host, template, COUNT(*) AS n_urls,
                   COUNT(DISTINCT url) AS n_distinct_urls
            FROM t GROUP BY 1, 2
        """
    out["q_simpson_cells"] = """
            WITH pts AS (
                SELECT user_id,
                       ((user_id * 7919) % 17000) // 100 AS cx,
                       ((event_id * 104729) % 36000) // 100 AS cy
                FROM events),
            per AS (SELECT cx, cy, user_id, COUNT(*) AS n
                    FROM pts GROUP BY 1, 2, 3),
            roll AS (SELECT cx, cy, (SUM(n))::BIGINT AS n_events,
                            COUNT(*) AS n_entities,
                            (SUM(n * n))::BIGINT AS sum_sq
                     FROM per GROUP BY 1, 2)
            SELECT cx, cy, n_events, n_entities, sum_sq,
                   n_events * n_events - sum_sq AS div_num,
                   n_events * n_events AS div_den
            FROM roll
        """
    out["q_session_paths"] = """
            WITH e AS (
                SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS rn
                FROM events),
            p AS (SELECT user_id,
                         string_agg(event_type, '>' ORDER BY rn) AS path,
                         COUNT(*) AS path_len
                  FROM e WHERE rn <= 4 GROUP BY 1)
            SELECT path, path_len, COUNT(*) AS n_users
            FROM p GROUP BY 1, 2
        """
    return out
