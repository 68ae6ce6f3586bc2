"""Distance-band (radius / "range") spatial join via cell-cover.

The within-distance companion of kNN (`operators/knn.py`): return
EVERY (site, point) pair with haversine distance <= radius_km — not
just the top-k. No counterpart exists in the reference (it has no
joins at all; see SURVEY.md §2.4, verified over /root/reference/src);
this is a north-rule spatial operator.

Scale shape (identical to kNN's candidate stage, shared code):
  * sites explode to their covering cell ring at a resolution chosen
    so one ring covers the radius (latitude-adaptive in x),
  * points carry exactly ONE int64 cell each (and ring cells are
    array_distinct), so each qualifying pair is produced exactly once
    — no post-join dedup shuffle,
  * the join is an int64 equi-join against the broadcast site side
    (shuffle-free) — never a cross join,
  * exact haversine refines candidates to the true distance band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from skyway_spark.operators.knn import radius_candidates


def range_join(
    points: DataFrame,
    sites: DataFrame,
    radius_km: float,
    point_id: str = "id",
    site_id: str = "site_id",
) -> DataFrame:
    """All (site_id, point_id, dist_km) pairs within ``radius_km``.

    points needs (point_id, lat, lon); sites needs (site_id, lat,
    lon). dist_km is exact haversine.
    """
    cand = radius_candidates(
        points,
        sites,
        radius_km,
        point_id=point_id,
        query_id=site_id,
    )
    return cand.where(F.col("dist_km") <= radius_km).select(
        F.col(site_id),
        F.col("__pid").alias(point_id),
        F.col("dist_km"),
    )
