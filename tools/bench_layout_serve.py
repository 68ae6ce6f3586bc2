"""Flagship SERVING-path layout benchmark (VERDICT r4 stretch item 8):
close the loop from the q_layout_prune 32x file-prune microbenchmark to
the actual pipeline.

Build the flagship hit table (pages -> extract -> CEL -> PIP -> tile
assignment), checkpoint it once under the hilbert(lat, lon) clustered
layout with per-file tile_x/tile_y stats, then serve the product query
— "give me the tiles in a city window" — two ways on the SAME data:

  full   : scan every bucket file, filter tile bbox
  pruned : plan the scan from the JSON manifest stats (read_pruned),
           read only intersecting bucket dirs, filter tile bbox

and report files scanned, rows, and min-of-5 walls for both.  Result
rows are asserted identical before any timing is trusted.

Usage: python tools/bench_layout_serve.py [pages_n] [out.json]
Runs on local[$SPARK_GRAFT_CPUS] (default: the host's CPU count).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from skyway_spark.functions import cells  # noqa: E402
from skyway_spark.functions.filter import apply_cel  # noqa: E402
from skyway_spark.operators import tiles  # noqa: E402
from skyway_spark.operators.extract import extract_geo_entities  # noqa: E402
from skyway_spark.operators.pip import point_in_polygon  # noqa: E402
from skyway_spark.plans.checkpoint import CheckpointManager  # noqa: E402
from skyway_spark.plans.session import get_spark  # noqa: E402
from skyway_spark.sources.generate import generate_pages, generate_polygons  # noqa: E402


def main() -> None:
    pages_n = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    out_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH/LAYOUT_SERVE_r05.json"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = get_spark("layout-serve", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="layout_serve_")
    try:
        pages = generate_pages(spark, pages_n, partitions=128)
        ents = extract_geo_entities(pages)
        kept = apply_cel(ents, 'tags["amenity"] != "bench"')
        hits = point_in_polygon(
            kept.select("id", "lat", "lon"), generate_polygons(spark), res=6
        )
        serving = tiles.assign_tiles(hits, 10)

        order = entry.HILBERT_ORDER
        mgr = CheckpointManager(tmp)
        layout = {
            "key": cells.hilbert_key(F.col("lat"), F.col("lon"), order),
            "buckets": entry.LAYOUT_FILES,
            "key_max": 1 << (2 * order),
            "stats": ["tile_x", "tile_y"],
        }
        t0 = time.monotonic()
        table = mgr.stage(spark, "serving", "fp1", lambda: serving, layout_by=layout)
        build_s = time.monotonic() - t0
        n_rows = table.count()

        # the product query: 3x3 tile window around NYC (hot city) at z=10
        ctx, cty = (
            spark.range(1)
            .select(*cells.tile_xy(F.lit(40.7128), F.lit(-74.0060), 10))
            .collect()[0]
        )
        cond = (
            (F.col("tile_x") >= ctx - 1) & (F.col("tile_x") <= ctx + 1)
            & (F.col("tile_y") >= cty - 1) & (F.col("tile_y") <= cty + 1)
        )
        pruned_df, scanned, total = mgr.read_pruned(
            spark, "serving", {"tile_x": (ctx - 1, ctx + 1), "tile_y": (cty - 1, cty + 1)}
        )
        full_q = table.where(cond)
        pruned_q = pruned_df.where(cond)

        n_full = full_q.count()
        n_pruned = pruned_q.count()
        assert n_full == n_pruned, (n_full, n_pruned)

        def walls(df, reps=5):
            ws = []
            df.count()  # warm
            for _ in range(reps):
                t = time.monotonic()
                df.count()
                ws.append(round(time.monotonic() - t, 4))
            return ws

        w_full = walls(full_q)
        w_pruned = walls(pruned_q)
        report = {
            "what": "flagship serving path: tile-bbox query over the "
            "checkpointed hilbert-clustered hit table (NYC 3x3 window, z=10)",
            "pages": pages_n,
            "serving_rows": n_rows,
            "result_rows": n_full,
            "files_total": total,
            "files_scanned": len(scanned),
            "prune_ratio": round(total / max(1, len(scanned)), 2),
            "stage_build_sec": round(build_s, 2),
            "walls_full_scan": sorted(w_full),
            "walls_pruned_scan": sorted(w_pruned),
            "speedup_best_walls": round(min(w_full) / min(w_pruned), 2),
        }
        print(json.dumps(report))
        with open(out_path, "w", encoding="utf-8") as f:
            json.dump(report, f, indent=1)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
