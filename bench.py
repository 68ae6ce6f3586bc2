"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the host's
CPU count) and prints the full record as one JSON line:
    {"metric": "...", "value": N, "unit": "...", "queries": {...}, "sf": ...,
     "nproc": ..., "loadavg": [1m, 5m, 15m], "plan_build_s": ..., ...}
then a headline-only JSON line last (see the end of ``main``).

The headline metric is the north-rule one: docs/sec through the
spatial-join + tile-assignment pipeline (pages -> extract -> filter ->
PIP -> tiles), measured end-to-end including the synthetic-page scan.
Per-query wall seconds for the operator suite ride along in "queries":
each query is written to Spark's ``noop`` sink, so every output column
is computed (a ``count()`` lets Spark prune the columns it does not
need, and with them whole operators), and its row count comes from an
``Observation`` on that same write. "plan_build_s" is the wall time of
building the flagship plan (the eager polygon collect and PIP plan
compile), apart from its runs.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from skyway_spark.functions.filter import apply_cel  # noqa: E402
from skyway_spark.operators import tiles  # noqa: E402
from skyway_spark.operators.extract import extract_geo_entities  # noqa: E402
from skyway_spark.operators.pip import point_in_polygon  # noqa: E402
from skyway_spark.plans.session import get_spark  # noqa: E402
from skyway_spark.sources.generate import generate_pages, generate_polygons  # noqa: E402

# Registry entries left out of the timed operator suite, which is
# every other query of queries() in registry order: converter
# byte-goldens and plan-pinned physical checks (layout pruning,
# pushdown audits), whose cost is dominated by driver-side
# serialization or subprocess orchestration, not operator throughput,
# so a wall-clock row would measure the harness. The emitted JSON
# carries this list under "suite_excluded" so the suite count is never
# mistaken for registry coverage (VERDICT r4 item 5); main() fails
# before timing anything when a name here is not in the registry.
SUITE_EXCLUDED = [
    "q_array_map_funcs",
    "q_bbox_cover",
    "q_bib_coupling",
    "q_cocitation",
    "q_cust_order_left",
    "q_datetime_funcs",
    "q_dedup_ngram",
    "q_embed_neardup",
    "q_extract_entities",
    "q_extract_mentions",
    "q_frame_sample",
    "q_fuzzy_join",
    "q_grouping_sets",
    "q_heading_octants",
    "q_interval_union",
    "q_lang_id",
    "q_lateral_view",
    "q_layout_prune",
    "q_media_features",
    "q_nation_setops",
    "q_null_funcs",
    "q_opl_lines",
    "q_orders_cube",
    "q_orders_rollup",
    "q_pages_pipeline",
    "q_pbf_roundtrip",
    "q_percentiles",
    "q_polygon_area",
    "q_quality",
    "q_rank_funcs",
    "q_reciprocity",
    "q_relation_rollup",
    "q_rolling_wau",
    "q_scalar_subquery",
    "q_simhash_pairs",
    "q_stratified_sample",
    "q_string_funcs",
    "q_vector_tiles",
    "q_way_lengths",
    "q_zorder_range",
]

PAGES_N = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "4000000"))


def flagship_plan(spark, pages):
    """pages -> extract -> CEL filter -> PIP -> tile rollup. Plan is
    built once (polygon collect + covering-cell compile are
    deploy-time, not per-batch); each execution re-runs scan->result."""
    ents = extract_geo_entities(pages)
    kept = apply_cel(ents, 'tags["amenity"] != "bench"')
    polys = generate_polygons(spark)
    hits = point_in_polygon(kept.select("id", "lat", "lon"), polys, res=6)
    return tiles.assign_tiles(hits, 10).groupBy(
        "polygon_id", "tile_x", "tile_y"
    ).agg(F.count(F.lit(1)).alias("n"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    # host context before Spark adds its own load: numbers only compare
    # on the same host under similar contention
    host = {"nproc": os.cpu_count(), "loadavg": [round(x, 2) for x in os.getloadavg()]}
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    qs = entrymod.queries()
    unknown = sorted(set(SUITE_EXCLUDED) - set(qs))
    assert not unknown, f"SUITE_EXCLUDED names not in the registry: {unknown}"
    spark = get_spark(
        "skyway-bench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            # the synthetic pages land as 4*cpus small files; disable
            # open-cost bin-packing so the scan keeps one split per
            # file (a 100 TB scan has >> cores splits naturally)
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": "0",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm up the JVM, parquet footers, and the Python worker pool so
    # per-query timings reflect steady state, not process cold-start
    for t in ("lineitem", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    entrymod.q_pip(spark, sf_dir).count()
    # spin up the Python worker pool (one per core) so the first
    # mapInPandas query measures compute, not worker fork+import
    spark.range(cpus * 4).repartition(cpus).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # ---- flagship FIRST, on a pristine JVM heap -------------------
    # The headline number degrades ~25% when measured after the 60+
    # query suite (accumulated broadcast/codegen/GC state); a real
    # deployment runs this pipeline in its own job, so measure it the
    # same way — pristine session. Pages materialize to parquet once
    # (input cost is not the pipeline's cost — a real deployment scans
    # Iceberg), on tmpfs when available: a freshly-written /tmp corpus
    # competes with its own disk writeback during the timed reads,
    # which made identical runs spread 3.8-8.2 s on this host.
    import shutil
    import tempfile

    base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None
    pages_dir = tempfile.mkdtemp(prefix="bench_pages_", dir=base) + "/pages"
    generate_pages(spark, PAGES_N, partitions=4 * cpus).write.mode("overwrite").parquet(
        pages_dir
    )
    # Scan-split granularity: at the session default (8 MB splits over
    # 4*cpus files) the 4M-page scan is 128 splits = only 4 task waves
    # at 32 cores, so one straggler task idles 31 cores for a whole
    # wave tail — measured A/B (BENCH/BASELINE.md wave-quantization
    # note): 1 MB splits -> ~640 splits / 20 waves, best wall 2.335 s
    # vs 2.749 s under 8 MB in the same window. A 100 TB scan has
    # millions of splits, so the finer setting is the realistic shape;
    # scoped to the flagship only (runtime conf, restored after).
    prev_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
        pages = spark.read.parquet(pages_dir)
        t0 = time.monotonic()
        rolled = flagship_plan(spark, pages)
        plan_build_s = time.monotonic() - t0
        rolled.count()  # warm-up 1: codegen, parquet footers
        rolled.count()  # warm-up 2: page cache fully hot
        walls = []
        for _ in range(7):
            t0 = time.monotonic()
            rolled.count()
            walls.append(time.monotonic() - t0)
    finally:
        # restore the SAVED value (not a hard-coded 8 MB) even if the
        # flagship block raises, so 1 MB splits never leak into the
        # operator-suite timings below (ADVICE r4)
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev_split)
        shutil.rmtree(os.path.dirname(pages_dir), ignore_errors=True)
    flagship_sec = min(walls)  # capability statistic (noisy shared host)
    docs_per_sec = PAGES_N / flagship_sec

    # ---- per-query operator suite ---------------------------------
    timings: dict[str, float] = {}
    # SPARK_GRAFT_BENCH_ONLY=flagship skips the operator suite — used
    # for quiet-window flagship re-measurement (the suite takes ~10 min
    # and would pollute its own window)
    suite = (
        []
        if os.environ.get("SPARK_GRAFT_BENCH_ONLY") == "flagship"
        else [q for q in qs if q not in SUITE_EXCLUDED]
    )
    for name in suite:
        q_walls = []
        for _ in range(2):  # min-of-2: codegen/JIT cold-start and
            obs = Observation()  # neighbor noise land on run 1
            t0 = time.monotonic()
            df = qs[name](spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("rows"))
            df.write.format("noop").mode("overwrite").save()
            q_walls.append(time.monotonic() - t0)
        n = obs.get["rows"]
        timings[name] = round(min(q_walls), 3)
        if n == 0 and name not in ("q_dedup_exact",):
            print(f"warning: {name} returned 0 rows", file=sys.stderr)
    timings["flagship_pages_pipeline"] = round(flagship_sec, 3)

    print(
        json.dumps(
            {
                "metric": "spatial_join_tile_assignment_docs_per_sec",
                "value": round(docs_per_sec, 1),
                "unit": "docs/sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                **host,
                "flagship_pages": PAGES_N,
                "flagship_walls": [round(w, 3) for w in walls],
                "plan_build_s": round(plan_build_s, 3),
                "suite_excluded": {
                    "rule": (
                        "registry entries not timed here: converter "
                        "byte-goldens and plan-pinned physical checks, "
                        "whose wall is harness- not operator-dominated; "
                        "all remain correctness-gated in the sf0.01 sweep "
                        "(BENCH/QUERIES_*.json)"
                    ),
                    "count": len(SUITE_EXCLUDED),
                    "queries": SUITE_EXCLUDED,
                },
            }
        )
    )
    # The full per-query dict above outgrew the driver's tail-capture
    # window in round 2 (BENCH_r02.json "parsed": null — the line's head,
    # metric/value, was clipped).  Emit a short headline-only JSON line
    # LAST so the driver always parses the flagship number; the full dict
    # stays one line up for humans and BENCH/BASELINE.md.
    walls_sorted = sorted(walls)
    print(
        json.dumps(
            {
                "metric": "spatial_join_tile_assignment_docs_per_sec",
                "value": round(docs_per_sec, 1),
                "unit": "docs/sec",
                "queries": {"flagship_pages_pipeline": round(flagship_sec, 3)},
                "sf": sf,
                "cpus": cpus,
                **host,
                "flagship_pages": PAGES_N,
                "flagship_wall_best": round(flagship_sec, 3),
                "flagship_wall_median": round(walls_sorted[len(walls_sorted) // 2], 3),
                "plan_build_s": round(plan_build_s, 3),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
