"""The DuckDB oracles split a text into tokens exactly as Spark's
``split(trim(text), '\\s+')`` does, also on the characters where the two
engines' regex classes differ: Java's ``\\s`` holds ``\\x0B`` and RE2's
does not, and neither holds U+00A0."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

import __spark_entry__ as entry

TEXT_SQL = "chr(9) || 'a' || chr(11) || 'b ' || chr(160) || 'c' || chr(10)"
WANT = ["", "a", "b", "\xa0c", ""]


def test_oracle_whitespace_split_matches_spark(spark):
    with duckdb.connect() as con:
        sql = f"SELECT {entry._WS_SPLIT} FROM (SELECT {TEXT_SQL} AS text)"
        (got_duckdb,) = con.sql(sql).fetchone()
    got_spark = (
        spark.sql(f"SELECT {TEXT_SQL} AS text").select(F.split(F.trim("text"), r"\s+")).first()[0]
    )
    assert got_duckdb == WANT
    assert got_spark == WANT
