"""SparkSession factory with scale-oriented defaults, and
``local_frame``, the one way driver-side rows become a DataFrame.

Single place where engine-wide configs live so tests, bench and
spark-submit jobs all run with identical semantics. Designed for a
multi-executor cluster; in this sandbox it runs on local[N].
"""

from __future__ import annotations

import functools
import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

# Defaults chosen for the 100 TB design point, scaled down by the
# caller for local runs:
#  - AQE on: runtime coalescing of shuffle partitions + skew-join
#    splitting is the backstop behind our explicit hot-cell salting.
#  - Arrow on + large batches: every Python-side op crosses on Arrow
#    batches — pandas UDFs / mapInPandas, and ``arrow_udf`` /
#    ``mapInArrow`` for the text hashes, CEL, PBF and k-means; batch
#    size amortizes the transfer.
#  - shuffle.partitions: callers override per cluster size; the value
#    here targets local[32] on sf0.1.
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    # Throughput-oriented GC: this engine is a batch pipeline
    # (allocation-heavy string/row churn, no latency SLO); ParallelGC
    # measurably beats G1 here both in wall time and in multi-core
    # scaling (GC work itself parallelizes with the task threads).
    "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
    "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
}


def spread(df):
    """Rebalance a parallelism-starved scan before expression-heavy
    narrow stages.

    At the 100 TB design point a scan yields thousands of splits and
    this is a no-op. Dev/bench inputs are often a single small parquet
    file (1-3 row groups -> 1-3 tasks), which strands the other N-29
    cores through every downstream narrow stage; one cheap round-robin
    shuffle of the (small) input fixes that. Only fires when the scan
    has fewer partitions than the session's parallelism."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# DDL text -> StructType, parsed once per process: a parse is a JVM round
# trip, and callers pass the same constants on every plan build
_parse_ddl = functools.lru_cache(maxsize=256)(DataType.fromDDL)


def local_frame(
    spark: SparkSession, data: list | pa.Table, schema: StructType | str
) -> DataFrame:
    """The one way this package turns driver-side data into a DataFrame.

    ``data`` is a list of row tuples (or a ``pyarrow.Table``) and
    ``schema`` a ``StructType`` or DDL string. Rows are converted column
    by column into a ``pyarrow.Table`` typed by ``to_arrow_schema``, so
    Spark plans the frame as a ``LocalRelation`` with exactly
    ``schema``, nullability included. A plain ``createDataFrame`` of a
    row list instead ships pickled rows as a ``LogicalRDD``: each
    ``collect()`` of it runs a Spark job, and every execution unpickles
    the rows again in the JVM.

    Checking stays strict: a value of the wrong type or out of range
    raises while its column is built, and a null in a non-nullable
    position (a column, a list element, a map value, a struct field)
    raises ``ValueError`` when ``createDataFrame`` casts the table to
    its schema. One exception: Arrow truncates a float given for an
    integer column, so a caller taking integers from outside input
    checks them first (as the JSON reader does)."""
    if isinstance(schema, str):
        schema = _parse_ddl(schema)
    if not isinstance(data, pa.Table):
        arrow_schema = to_arrow_schema(schema)
        columns = list(zip(*data, strict=True)) or [()] * len(arrow_schema)
        data = pa.Table.from_arrays(
            [
                pa.array(col, type=field.type)
                for col, field in zip(columns, arrow_schema, strict=True)
            ],
            schema=arrow_schema,
        )
    return spark.createDataFrame(data, schema)


def get_spark(
    app_name: str = "skyway_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus=None`` respects an existing session / spark-submit master
    (or ``local[$SPARK_GRAFT_CPUS]`` when that is set); an explicit
    value forces ``local[cpus]``.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    builder = SparkSession.builder.appName(app_name)
    if cpus is not None:
        builder = builder.master(f"local[{cpus}]")
    conf = dict(_BASE_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = cpus if cpus else 32
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
