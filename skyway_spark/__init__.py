"""skyway_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch reimplementation (NOT a port) of the capabilities of
MapRVA/skyway (reference at /root/reference), rebuilt Spark-first:

- the OSM element data model (``skyway_spark.schema``) as one flat
  DataFrame schema (reference: src/elements.rs:23-41),
- the OSMFilter / CEL filter languages compiled to Catalyst ``Column``
  expressions (reference: src/filter/), never interpreted row-at-a-time,
- byte-exact OPL / OSM-JSON / Overpass-JSON / XML converters
  (reference: src/writers/, src/readers/),
- plus the north-rule spatial engine the reference does not have:
  a hierarchical grid cell index, point-in-polygon, kNN, raster/vector
  tiles, hot-cell salting, checkpoint/resume — all over an
  Iceberg-style pages table of Common-Crawl-like web documents.

Everything is built on the public PySpark DataFrame API; the only
Python that touches row data runs inside vectorized Arrow pandas UDFs.
"""

import sys

if sys.version_info < (3, 13):
    # every Python worker imports this package when it unpickles a
    # package UDF; see _zipcache for the per-task cost this removes
    from skyway_spark import _zipcache

    _zipcache.install()

__version__ = "0.1.0"
