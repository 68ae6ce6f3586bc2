"""Checkpoint / resume (north_rule: "resumable from checkpoint with
per-partition lineage + metrics") on plain parquet plus one JSON
manifest per stage.

Semantics:
- ``stage(spark, name, params, fn)`` returns the stage's DataFrame,
  recomputing ONLY if there is no valid manifest for its fingerprint,
  which the manager derives itself: sha256 over the name, ``params``
  and every earlier stage's fingerprint, so any upstream change
  invalidates every later stage, in any process;
- each stage keeps one data directory, ``<root>/<name>/data``, and a
  recompute replaces it;
- the manifest is removed before the data is written and written again
  after it, so a write that fails or is killed, or a lost data file,
  leaves a recomputable — never a wrongly-trusted — stage;
- per-partition lineage (rows per written file) comes from the parquet
  footers the write produced, and the data is read back with the schema
  it was written with, so neither costs a Spark job.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST_NAME = "_MANIFEST.json"


def stage_fingerprint(name: str, params, upstream: list) -> str:
    """sha256 of ``[name, params, upstream]`` as JSON (``upstream``: sorted
    ``(stage, fingerprint)`` pairs); unsalted, so equal in every process."""
    blob = json.dumps([name, params, upstream], sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()


def _read_footers(data_dir: str) -> dict[str, int]:
    """Rows per written data file (path relative to ``data_dir``), from
    the parquet footers, read on the driver."""
    return {
        str(p.relative_to(data_dir)): pq.read_metadata(p).num_rows
        for p in sorted(Path(data_dir).glob("part-*.parquet"))
    }


def _read(spark: SparkSession, data_dir: str, schema: StructType) -> DataFrame:
    """A stage's rows read with the schema they were written with, so
    Spark runs no schema-inference job."""
    return spark.read.schema(schema).parquet(data_dir)


def _load_manifest(manifest_path: str) -> dict | None:
    try:
        with open(manifest_path, encoding="utf-8") as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


@dataclass
class StageResult:
    name: str
    fingerprint: str
    partition_rows: dict[str, int]
    wall_ms: int
    resumed: bool


@dataclass
class CheckpointManager:
    root: str
    results: list = field(default_factory=list)

    def _paths(self, name: str) -> tuple[str, str]:
        d = os.path.join(self.root, name)
        return os.path.join(d, "data"), os.path.join(d, MANIFEST_NAME)

    def stage(self, spark: SparkSession, name: str, params, fn) -> DataFrame:
        """Return the stage DataFrame, resuming from the checkpoint
        when the manifest matches the stage's fingerprint and every data
        file it lists still exists. ``params`` is any JSON-serialisable
        value holding the stage's own inputs; the manager adds the
        fingerprints of the other stages it produced before. Otherwise
        ``fn()`` is written over the stage's data directory.

        The manifest's ``partition_rows`` ({file path in the data
        directory: rows}, one entry per write task) comes from the
        parquet footers; ``metrics()`` reports their sum and the
        non-empty file count."""
        data_dir, manifest_path = self._paths(name)
        upstream = sorted({r.name: r.fingerprint for r in self.results if r.name != name}.items())
        fingerprint = stage_fingerprint(name, params, upstream)
        m = _load_manifest(manifest_path)
        if (
            m
            and m.get("fingerprint") == fingerprint
            and all(os.path.exists(os.path.join(data_dir, f)) for f in m["partition_rows"])
        ):
            self.results.append(StageResult(name, fingerprint, m["partition_rows"], 0, True))
            return _read(spark, data_dir, StructType.fromJson(m["schema"]))

        t0 = time.monotonic()
        # unclaim the stage before its data directory is overwritten
        with contextlib.suppress(FileNotFoundError):
            os.remove(manifest_path)
        df = fn()
        df.write.mode("overwrite").parquet(data_dir)
        out = _read(spark, data_dir, df.schema)
        partition_rows = _read_footers(data_dir)
        row_count = sum(partition_rows.values())
        wall_ms = int((time.monotonic() - t0) * 1000)
        manifest = {
            "stage": name,
            "fingerprint": fingerprint,
            "data_dir": data_dir,
            "row_count": row_count,
            "partition_rows": partition_rows,
            "wall_ms": wall_ms,
            "schema": out.schema.jsonValue(),
        }
        # manifest last: a crash before this line leaves the stage
        # unclaimed and it simply recomputes on resume
        tmp = manifest_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        os.replace(tmp, manifest_path)
        self.results.append(StageResult(name, fingerprint, partition_rows, wall_ms, False))
        return out

    def metrics(self) -> list[dict]:
        return [
            {
                "stage": r.name,
                "rows": sum(r.partition_rows.values()),
                "partitions": sum(1 for n in r.partition_rows.values() if n),
                "wall_ms": r.wall_ms,
                "resumed": r.resumed,
            }
            for r in self.results
        ]
