"""Spark 4 Python DataSource for WARC files on disk:
``spark.read.format("warc")``.

    from skyway_spark.sources.datasource import register_datasources
    register_datasources(spark)
    df = spark.read.format("warc").load("/data/*.warc")

One partition per file (a crawl arrives as many files; each task
streams one). Records are split by the same Content-Length parser that
``sources/warc.read_warc`` uses, and Spark's DataSource machinery
handles the Arrow transfer.

The OSM formats have no DataSource here: each has exactly one reader,
dispatched by ``sources/convert.read_elements`` (``read_opl``,
``read_json``, ``read_xml``, ``read_pbf``).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql import types as T


def _expand_paths(path: str) -> list[str]:
    """Glob or directory -> sorted FILE list (subdirectories and
    _/.-prefixed entries skipped; deterministic partition order)."""
    if os.path.isdir(path):
        hits = [
            os.path.join(path, f) for f in os.listdir(path)
            if not f.startswith(("_", "."))
        ]
    else:
        hits = glob.glob(path) or [path]
    return sorted(h for h in hits if os.path.isfile(h)) or sorted(hits)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class WarcDataSource(DataSource):
    """``spark.read.format('warc')`` — Common-Crawl-style WARC files,
    one partition per file, Content-Length-delimited records (parser
    shared with sources/warc.read_warc). ``path`` is the file column
    here (no synthetic file_id for disk reads)."""

    @classmethod
    def name(cls):
        return "warc"

    def schema(self):
        from skyway_spark.sources.warc import WARC_SCHEMA

        # every field nullable: the Python DataSource ENFORCES declared
        # nullability on returned rows (unlike Column projections)
        return T.StructType(
            [T.StructField("path", T.StringType())]
            + [
                T.StructField(f.name, f.dataType, True)
                for f in WARC_SCHEMA.fields
                if f.name != "file_id"
            ]
        )

    def reader(self, schema):
        return _WarcReader(self.options)


class _WarcReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("warc source needs a path: .load('/data/*.warc')")

    def partitions(self):
        return [_FilePartition(p) for p in _expand_paths(self.path)]

    def read(self, partition):
        from skyway_spark.sources.warc import parse_warc_bytes

        with open(partition.path, "rb") as f:
            data = f.read()
        for tup in parse_warc_bytes(data):
            yield (partition.path,) + tup


def register_datasources(spark) -> None:
    """Idempotent registration of the ``warc`` format on a session."""
    spark.dataSource.register(WarcDataSource)
