"""Helpers shared by the element writers.

``canonical_order`` is the one element order every writer emits, and
``write_enveloped`` the distributed directory layout of
``convert.write_elements`` (header, parts, footer side files); the CLI
writes one file or stdout instead (``convert.write_document``).

The rest serve the struct-input scalar pandas UDFs of the JSON and XML
writers. A struct column arrives in a pandas UDF as a pd.DataFrame;
nullable int/bool fields surface as float NaN / object None. These
helpers normalize each record to plain-Python values so serializers
can rely on None for missing and int for integral fields.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from skyway_spark.schema import ELEMENTS_SCHEMA


def canonical_order(df: DataFrame) -> DataFrame:
    """Elements sorted nodes, then ways, then relations, each by id."""
    rank = F.when(F.col("type") == "node", 0).when(F.col("type") == "way", 1).otherwise(2)
    return df.orderBy(rank, F.col("id"))


def write_enveloped(values: DataFrame, path: str, ext: str, header: str, footer: str) -> None:
    """Distributed text write of the single-column ``values`` plus two
    tiny side files the driver writes (metadata only, O(1) size):
    ``_header.<ext>`` and ``_footer.<ext>``, each only when not empty."""
    values.write.mode("overwrite").text(path)
    sc = values.sparkSession.sparkContext
    hadoop_path = sc._jvm.org.apache.hadoop.fs.Path
    fs = hadoop_path(path).getFileSystem(sc._jsc.hadoopConfiguration())
    for name, text in (("_header", header), ("_footer", footer)):
        if text:
            out = fs.create(hadoop_path(f"{path}/{name}.{ext}"), True)
            out.write(bytearray(text.encode()))
            out.close()


def element_struct() -> Column:
    """The elements row as one struct column. A nullable bigint field
    (``changeset``) goes in as its decimal string: pandas stores an
    int64 column that holds a null as float64, which rounds values
    above 2**53 (the serializers' ``int()`` reads either form)."""
    return F.struct(
        *[
            F.col(f.name).cast("string").alias(f.name)
            if f.nullable and isinstance(f.dataType, LongType)
            else F.col(f.name)
            for f in ELEMENTS_SCHEMA.fields
        ]
    )


# every writer fails a node with this, after "node <id>: ": the
# reference's Node has ``lat: f64, lon: f64``, so there is nothing to write
BAD_XY = "lat or lon is null or NaN"


def node_xy(e: dict) -> tuple[str, str]:
    """(lat, lon) of a node as shortest round-trip reprs (``inf`` stays
    ``inf``); a null or NaN coordinate raises ValueError."""
    lat, lon = clean_value(e["lat"]), clean_value(e["lon"])
    if lat is None or lon is None:
        raise ValueError(f"node {e['id']}: {BAD_XY}")
    return repr(float(lat)), repr(float(lon))


def clean_value(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def records(pdf: pd.DataFrame) -> list[dict]:
    return [{k: clean_value(v) for k, v in rec.items()} for rec in pdf.to_dict("records")]


def seq(v) -> list:
    """None/NaN -> []; numpy arrays -> list (truthiness-safe)."""
    v = clean_value(v)
    if v is None:
        return []
    return list(v)
