"""Physical-plan assertions: the properties that make the engine
scale are pinned as tests, not just prose — filter pushdown into the
parquet scan, broadcast (not shuffle) joins in the spatial hot path,
and a narrow flagship pipeline with exactly one shuffle (the final
kilobyte-scale rollup). SURVEY §4.2 / §7.3.4 evidence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from skyway_spark.functions.filter import apply_cel, compile_osmfilter
from skyway_spark.operators import tiles
from skyway_spark.operators.extract import extract_geo_entities
from skyway_spark.operators.pip import point_in_polygon
from skyway_spark.sources.generate import (
    generate_elements,
    generate_pages,
    generate_polygons,
)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def elements_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "elements.parquet")
    generate_elements(spark).write.mode("overwrite").parquet(p)
    return p


def test_osmfilter_type_predicate_pushed_to_scan(spark, elements_parquet):
    """TYPE node -> col('type').isin(...) must reach the parquet scan
    as a pushed filter (partition-pruning-grade at 100 TB)."""
    els = spark.read.parquet(elements_parquet)
    prog = 'OSMFilter v0.2.0\n\nTYPE node\n\tCOMMIT\nDROP\n'
    out = compile_osmfilter(prog).apply(els)
    plan = _executed_plan(out)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    assert any("type" in ln for ln in pushed), pushed[0]


def test_cel_filter_no_shuffle_and_column_pruning(spark, elements_parquet):
    """A CEL filter + projection is a single narrow stage and reads
    only the needed columns from parquet."""
    els = spark.read.parquet(elements_parquet)
    out = apply_cel(els, 'type == "node"').select("id", "lat")
    plan = _executed_plan(out)
    assert "Exchange" not in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan
    # pruned scan: nodes/members/tags must not be read for id/lat
    assert "members" not in read_schema[0]
    assert "nodes" not in read_schema[0]


def test_pip_broadcast_path_is_shuffle_free(spark):
    """Broadcast PIP: cell join uses BroadcastHashJoin; the only
    exchange in the plan is the broadcast itself (no shuffle of the
    point side)."""
    pts = extract_geo_entities(generate_pages(spark, 500, partitions=4)).select(
        "id", "lat", "lon"
    )
    hits = point_in_polygon(pts, generate_polygons(spark), res=6)
    plan = _executed_plan(hits)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    for ln in plan.splitlines():
        if "Exchange" in ln and "Broadcast" not in ln:
            raise AssertionError(f"unexpected shuffle in broadcast PIP: {ln}")


def test_flagship_single_shuffle(spark):
    """scan -> extract -> filter -> PIP -> tile rollup: exactly one
    non-broadcast exchange (the final groupBy) in the whole plan."""
    pages = generate_pages(spark, 500, partitions=4)
    ents = extract_geo_entities(pages)
    kept = apply_cel(ents, 'tags["amenity"] != "bench"')
    hits = point_in_polygon(
        kept.select("id", "lat", "lon"), generate_polygons(spark), res=6
    )
    rolled = (
        tiles.assign_tiles(hits, 10)
        .groupBy("polygon_id", "tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = _executed_plan(rolled)
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln and "Reused" not in ln
    ]
    assert len(shuffles) == 1, shuffles


def test_pip_jvm_refine_has_no_python_eval(spark):
    """The PIP refine stays JVM-side: no BatchEvalPython /
    ArrowEvalPython node in the plan (input_hint: no per-row Python;
    hot path: no Python at all)."""
    pts = extract_geo_entities(generate_pages(spark, 200, partitions=2)).select(
        "id", "lat", "lon"
    )
    hits = point_in_polygon(pts, generate_polygons(spark), res=6)
    plan = _executed_plan(hits)
    assert "EvalPython" not in plan, plan


def test_q06_filters_pushed_and_single_pass(spark):
    """TPC-H Q6 shape: every predicate reaches the parquet scan as a
    pushed filter; the whole query is scan -> partial agg -> single
    exchange -> final agg."""
    import __spark_entry__ as e

    df = e.q06_discount_revenue(spark, "/root/testdata/sf0.001")
    plan = _executed_plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed[0], pushed[0]
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln and "Reused" not in ln
    ]
    assert len(shuffles) == 1, shuffles


def test_frame_sample_no_shuffle_no_python(spark):
    """Frame-grid expansion is a JVM explode: narrow, Python-free."""
    import __spark_entry__ as e

    df = e.q_frame_sample(spark, "/root/testdata/sf0.001")
    plan = _executed_plan(df)
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "Generate explode" in plan or "Generate" in plan, plan


def test_ann_ivf_narrow_until_topk(spark):
    """IVF: centroid assignment + probe filter are narrow Column math,
    and Catalyst rewrites the rank<=k window into a distributed
    TakeOrderedAndProject (per-partition partial top-k, no shuffle at
    all); no Python anywhere."""
    import __spark_entry__ as e

    df = e.q_ann_ivf(spark, "/root/testdata/sf0.001")
    plan = _executed_plan(df)
    assert "EvalPython" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    shuffles = [
        ln
        for ln in plan.splitlines()
        if "Exchange" in ln and "Broadcast" not in ln and "Reused" not in ln
    ]
    assert len(shuffles) == 0, shuffles


def test_range_join_broadcast_no_shuffle(spark):
    """The distance-band join must broadcast the (small) site side and
    never shuffle or sort-merge the point side."""
    from skyway_spark.operators.rangejoin import range_join

    pts = spark.range(1000).select(
        F.col("id"),
        ((F.col("id") * 37) % 170 - 85.0).alias("lat"),
        ((F.col("id") * 73) % 360 - 180.0).alias("lon"),
    )
    sites = spark.createDataFrame(
        [(0, 10.0, 10.0), (1, -20.0, 50.0)], "site_id long, lat double, lon double"
    )
    plan = _executed_plan(range_join(pts, sites, 300.0))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_asof_join_single_shuffle(spark):
    """As-of join = exactly one hash-partitioning exchange (the window
    by key) over the unioned sides — no range-join explosion, no
    per-key collect."""
    from skyway_spark.operators.asof import asof_join

    left = spark.range(100).select(
        F.col("id").alias("lid"), (F.col("id") % 5).alias("k"), (F.col("id") * 3).alias("ts")
    )
    right = spark.range(50).select(
        (F.col("id") % 5).alias("k"), (F.col("id") * 7).alias("ts"), F.col("id").alias("val")
    )
    plan = _executed_plan(asof_join(left, right, key="k", value_cols=["val"]))
    n_exch = sum(
        1
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "Reused" not in ln
    )
    assert n_exch == 1, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_bucketed_join_no_shuffle(spark, tmp_path_factory):
    """Two tables bucketed+sorted on the join key join with ZERO
    exchanges — the co-located join layout for repeated big-big joins
    (e.g. points⋈points on cell across many queries). Auto-broadcast
    is disabled so the bucketed SortMergeJoin path itself is proven."""
    import uuid

    a = spark.range(20000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("va"))
    b = spark.range(20000).select(F.col("id").alias("k"), (F.col("id") * 7).alias("vb"))
    ta, tb = f"ta_{uuid.uuid4().hex[:8]}", f"tb_{uuid.uuid4().hex[:8]}"
    a.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable(ta)
    b.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable(tb)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table(ta).join(spark.table(tb), "k")
        plan = _executed_plan(j)
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
        assert j.count() == 20000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_zorder_layout_range_pushdown(spark, tmp_path_factory):
    """A zkey-sorted parquet layout answers a bbox query through ONE
    pushed key-range predicate — the filter must reach the scan
    (PushedFilters), enabling row-group/file skipping via parquet
    min/max stats on the sorted key."""
    from skyway_spark.functions import cells as C

    d = str(tmp_path_factory.mktemp("zlay") / "pts")
    pts = spark.range(20000).select(
        F.col("id"),
        ((F.col("id") * 37) % 170 - 85.0).alias("lat"),
        ((F.col("id") * 73) % 360 - 180.0).alias("lon"),
    )
    pts.withColumn(
        "zkey", C.zorder_key(F.col("lat"), F.col("lon"), 16)
    ).repartitionByRange(8, "zkey").sortWithinPartitions("zkey").write.parquet(d)
    lo, hi = 1 << 22, 40 << 22
    q = spark.read.parquet(d).where((F.col("zkey") >= lo) & (F.col("zkey") < hi))
    plan = _executed_plan(q)
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln or "PushedFilters" in ln)
    assert "PushedFilters" in plan and "zkey" in plan.split("PushedFilters", 1)[1][:200], scan
    assert q.count() > 0


def test_minhash_lsh_shuffles_ids_not_grams(spark):
    """The LSH banding exchange must carry only (band, hash, id) —
    never the gram arrays (the heavy payload); grams re-attach via
    broadcast joins after candidate generation."""
    from skyway_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta "), F.col("id").cast("string")).alias("text"),
    )
    plan = _executed_plan(minhash_lsh_pairs(docs, threshold=0.5, unit="word"))
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "__grams" not in ln and "__ga" not in ln and "__gb" not in ln, ln
    assert "BroadcastHashJoin" in plan


def test_tile_layout_partition_pruning(spark, tmp_path_factory):
    """Serving layout: tile rollups written partitionBy(tile_z) must
    answer a single-zoom query reading ONLY that zoom's directory —
    PartitionFilters in the scan, other zoom levels never touched."""
    d = str(tmp_path_factory.mktemp("tiles") / "tiles")
    pts = spark.range(2000).select(
        F.col("id"),
        ((F.col("id") * 37) % 170 - 85.0).alias("lat"),
        ((F.col("id") * 73) % 360 - 180.0).alias("lon"),
    )
    from skyway_spark.functions import cells as C

    rows = []
    for z in (4, 6, 8):
        tx, ty = C.tile_xy(F.col("lat"), F.col("lon"), z)
        rows.append(
            pts.groupBy(tx.alias("tile_x"), ty.alias("tile_y"))
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("tile_z", F.lit(z))
        )
    rows[0].unionByName(rows[1]).unionByName(rows[2]).write.partitionBy(
        "tile_z"
    ).parquet(d)

    q = spark.read.parquet(d).where(F.col("tile_z") == 6)
    plan = _executed_plan(q)
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "PartitionFilters" in scan and "tile_z" in scan, scan
    # the query must not read the z=4/z=8 files: pushed partition
    # count visible via the files actually listed for the scan
    import glob

    assert glob.glob(f"{d}/tile_z=6/*.parquet")
    n6 = q.count()
    assert n6 == rows[1].count()


def test_pages_scan_prunes_html(spark, tmp_path_factory):
    """The pages scan must never read the html binary column (the
    bulk of a 100 TB pages table) when the pipeline only needs
    url/text — column pruning reaches the parquet FileScan."""
    d = str(tmp_path_factory.mktemp("prune") / "pages")
    generate_pages(spark, 200, partitions=2).write.parquet(d)
    pages = spark.read.parquet(d)
    ents = extract_geo_entities(pages).select("id", "lat", "lon")
    plan = _executed_plan(ents)
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans, plan
    assert "html" not in scans[0], scans[0]
    assert "warc_ts" not in scans[0], scans[0]


# ------------------- round-2 batch-2 operator plans -------------------


def test_bloom_probe_is_shuffle_free_scan(spark):
    """The Bloom probe must ride the corpus scan: the bitmap is a
    broadcast variable and the probe one Arrow-batched mapInPandas —
    no join, no shuffle, no per-row Python UDF (the 100 TB-side
    plan)."""
    from skyway_spark.operators.bloom import bloom_contamination

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i")], "doc_id long, text string"
    )
    out = bloom_contamination(docs, [0] * 16, n=8, k=4, m_bits=62 * 16)
    plan = _executed_plan(out)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_codes_is_shuffle_free_scan(spark):
    """Training runs (and collects) inside pq_codes; the encoding it
    returns rides the corpus scan — no join, no shuffle."""
    from skyway_spark.operators.kmeans import pq_codes

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5) for d in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    plan = _executed_plan(pq_codes(emb, m=4, k=4, iters=1, dim=8))
    assert "Exchange" not in plan


def test_tile_pyramid_single_scan_two_shuffles(spark, elements_parquet):
    """Pyramid cost: one point scan, one fine-res agg shuffle, one
    cell-level re-agg shuffle — levels multiply the CELL table only."""
    from skyway_spark.operators.tiles import tile_pyramid

    pts = spark.read.parquet(elements_parquet).where(
        F.col("lat").isNotNull()
    ).select("lat", "lon")
    plan = _executed_plan(tile_pyramid(pts, finest_res=6, levels=4))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") <= 2, plan


def test_segment_trips_one_window_stage(spark):
    """Both trajectory windows share one (entity, ts, id) sort — a
    single window exchange plus the final per-segment rollup."""
    from skyway_spark.operators.trajectory import segment_trips

    df = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:00", 0.0, 0.0)],
        "user_id long, event_id long, ts string, lat double, lon double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    plan = _executed_plan(segment_trips(df, jump_km=10.0, gap_us=10**9))
    assert plan.count("Exchange") <= 2, plan
    assert "BatchEvalPython" not in plan


def test_pack_sequences_block_branch_shuffles_partials_only(spark):
    """The two-level prefix sum: the corpus rides exactly ONE hash
    exchange (the per-block window); the block-totals branch map-side
    combines before its shuffle and the offsets re-attach by broadcast
    — pinned by exchange census."""
    from skyway_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    plan = _executed_plan(pack_sequences(docs, seq_len=4, block_size=8))
    assert plan.count("BroadcastExchange") == 1, plan
    # remaining exchanges: corpus window hash, block-partials hash,
    # single-partition block window — never a second corpus-wide one
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 3
    assert "HashAggregate" in plan  # partial agg (map-side combine) present


def test_hash_classifier_zero_exchanges(spark, tmp_path_factory):
    """The quality-scorer pass is a pure map: no Exchange anywhere,
    and the parquet scan reads only (id, text)."""
    from skyway_spark.operators.textstats import hash_feature_score

    p = str(tmp_path_factory.mktemp("plans_cls") / "docs.parquet")
    spark.createDataFrame(
        [(i, f"tok{i} alpha beta", "en", "s", 10) for i in range(50)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(p)
    out = hash_feature_score(spark.read.parquet(p))
    plan = _executed_plan(out)
    assert "Exchange" not in plan, plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "lang" not in read_schema[0], read_schema


def test_winnow_zero_exchanges(spark, tmp_path_factory):
    """Winnowing fingerprints: staged projections all fuse into the
    one scan stage — no Exchange."""
    from skyway_spark.operators.dedup import winnow_fingerprints

    p = str(tmp_path_factory.mktemp("plans_win") / "docs.parquet")
    spark.createDataFrame(
        [(i, "some web text content here") for i in range(20)],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(p)
    out = winnow_fingerprints(spark.read.parquet(p))
    assert "Exchange" not in _executed_plan(out)


def test_cdc_merge_snapshot_never_shuffles(spark, tmp_path_factory):
    """apply_changelog: the changelog pays one key-window shuffle; the
    snapshot side joins via BROADCAST anti-join (AQE) — no shuffle of
    the big table's payload."""
    from skyway_spark.operators.cdc import apply_changelog

    base = tmp_path_factory.mktemp("plans_cdc")
    snap_p, ch_p = str(base / "snap.parquet"), str(base / "ch.parquet")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(5000)], "k long, v string"
    ).write.mode("overwrite").parquet(snap_p)
    spark.createDataFrame(
        [(i, i, "U", "nv") for i in range(0, 50)],
        "k long, seq long, op string, v string",
    ).write.mode("overwrite").parquet(ch_p)
    out = apply_changelog(spark.read.parquet(snap_p), spark.read.parquet(ch_p), ["k"])
    plan = _executed_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    # the ONLY non-broadcast exchange is the changelog key-window
    # (computed once thanks to the localCheckpoint pin); the snapshot
    # relation never shuffles
    shuffles = [ln for ln in plan.splitlines()
                if "Exchange" in ln and "Broadcast" not in ln]
    assert len(shuffles) <= 1, shuffles
