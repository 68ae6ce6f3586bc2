"""spark-submit entry point: the full north-rule pipeline.

    spark-submit --py-files skyway_spark.zip jobs/run_pipeline.py \
        --pages 1000000 --out /tmp/skyway_out [--checkpoints /tmp/ckpt]

pages -> extract geo entities -> OSMFilter+CEL filter chain ->
broadcast PIP join -> raster tiles -> OPL convert. Every stage
checkpoints through CheckpointManager, so a killed run resumes from
the last completed stage with identical output and a changed input
recomputes every stage after it; per-stage rows (from the parquet
footers, no extra Spark job) and wall times print as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from skyway_spark.functions.filter import apply_filters  # noqa: E402
from skyway_spark.operators import tiles  # noqa: E402
from skyway_spark.operators.extract import extract_geo_entities, pages_to_elements  # noqa: E402
from skyway_spark.operators.pip import point_in_polygon  # noqa: E402
from skyway_spark.plans.checkpoint import CheckpointManager  # noqa: E402
from skyway_spark.plans.session import get_spark  # noqa: E402
from skyway_spark.sources import opl as oplio  # noqa: E402
from skyway_spark.sources._rowutil import canonical_order  # noqa: E402
from skyway_spark.sources.generate import generate_pages, generate_polygons  # noqa: E402

FILTERS = [
    # keep named amenities, normalize a tag, drop benches
    (
        "OSMFilter v0.2.0\n"
        "\n"
        'EQUALS "amenity" "bench"\n'
        "\tDROP\n"
        'RENAME "name" "label"\n'
        "COMMIT\n"
    ),
    'has(tags.label) && type == "node"',
]

PIP_RES = 6
TILE_Z = 10
OPL_ROWS = 10_000


def opl_sample(pages: DataFrame) -> DataFrame:
    """OPL lines of the pages' first OPL_ROWS elements in canonical
    (type, id) order: a top-k, so the sample does not depend on how
    the pages are partitioned, and the writer UDFs see only those
    rows."""
    return oplio.serialize_opl(canonical_order(pages_to_elements(pages)).limit(OPL_ROWS))


def run(pages_n: int, out: str, ckpt_root: str, cpus: int | None = None) -> dict:
    spark = get_spark("skyway-pipeline", cpus=cpus)
    cm = CheckpointManager(ckpt_root)

    pages = cm.stage(
        spark, "pages", {"pages": pages_n}, lambda: generate_pages(spark, pages_n)
    )
    # the page text is stored once, by the pages stage: later stages
    # carry its url instead
    entities = cm.stage(
        spark, "extract", None, lambda: extract_geo_entities(pages).drop("text")
    )
    filtered = cm.stage(
        spark,
        "filter",
        FILTERS,
        lambda: apply_filters(
            entities.select("url", F.lit("node").alias("type"), "id", "lat", "lon", "tags"),
            FILTERS,
        ),
    )
    hits = cm.stage(
        spark,
        "pip",
        {"res": PIP_RES},
        lambda: point_in_polygon(
            filtered.select("url", "id", "lat", "lon"), generate_polygons(spark), res=PIP_RES
        ),
    )
    tile_stats = cm.stage(
        spark,
        "tiles",
        {"z": TILE_Z},
        lambda: tiles.raster_tiles(hits, TILE_Z).select(
            "tile_z", "tile_x", "tile_y", "n_points", F.size("pixels").alias("n_pixels")
        ),
    )

    cm.stage(spark, "opl", {"rows": OPL_ROWS, "order": "canonical"}, lambda: opl_sample(pages))

    tile_stats.write.mode("overwrite").parquet(out + "/tiles")
    stages = cm.metrics()
    rows = {s["stage"]: s["rows"] for s in stages}
    return {"pages": pages_n, "entities": rows["extract"], "pip_hits": rows["pip"],
            "stages": stages}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100_000)
    ap.add_argument("--out", default="/tmp/skyway_out")
    ap.add_argument("--checkpoints", default="/tmp/skyway_ckpt")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    metrics = run(args.pages, args.out, args.checkpoints, args.cpus)
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
