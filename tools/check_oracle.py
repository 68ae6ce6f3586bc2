"""Local replica of the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet, compare row count + sorted-column value multisets.

Usage: python tools/check_oracle.py [--walls=OUT.json] [sf_dir] [query ...]

--walls writes a {query: {"spark_sec": wall, "rows": n}} table for every
entry it ran — the cross-round per-query regression record (VERDICT r3
item 5; the driver's bench tail-clip means BENCH_r*.json alone never
carries the full registry).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd
import pyarrow as pa

import __spark_entry__ as entrymod
from skyway_spark.plans.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _spark_type_token(dt) -> str:
    """Canonical dtype token for a Spark DataType, comparable against
    _arrow_type_token.  Width-sensitive for ints/floats because the
    driver's hash canonicalization distinguishes int32/int64/decimal128
    (both rounds' only gate reds were DuckDB HUGEINT leaks that the old
    .df() materialization silently coerced to float64 — VERDICT r2 #2)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ByteType):
        return "i8"
    if isinstance(dt, T.ShortType):
        return "i16"
    if isinstance(dt, T.IntegerType):
        return "i32"
    if isinstance(dt, T.LongType):
        return "i64"
    if isinstance(dt, T.FloatType):
        return "f32"
    if isinstance(dt, T.DoubleType):
        return "f64"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BinaryType):
        return "bin"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.DecimalType):
        return f"dec({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"list<{_spark_type_token(dt.elementType)}>"
    return "other"


def _arrow_type_token(t: pa.DataType) -> str:
    if pa.types.is_integer(t):
        return f"i{t.bit_width}"
    if pa.types.is_float32(t):
        return "f32"
    if pa.types.is_float64(t):
        return "f64"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_decimal(t):
        return f"dec({t.precision},{t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_arrow_type_token(t.value_type)}>"
    return "other"


def strict_dtype_problems(spark_schema, oracle_tbl: pa.Table) -> list[str]:
    """Fail on any dtype divergence the driver's hash would see.  The
    oracle side MUST come from fetch_arrow_table(): .df() coerces
    HUGEINT->float64 and hides exactly the bug class that produced both
    rounds' driver reds (q_raster_tiles et al.)."""
    problems = []
    spark_tok = {f.name: _spark_type_token(f.dataType) for f in spark_schema.fields}
    for field in oracle_tbl.schema:
        otok = _arrow_type_token(field.type)
        stok = spark_tok.get(field.name)
        if otok.startswith("dec("):
            problems.append(
                f"oracle column {field.name!r} is {field.type} (DECIMAL/HUGEINT "
                f"leak — wrap the result, e.g. (SUM(...))::BIGINT)"
            )
        elif stok is not None and stok != otok:
            problems.append(
                f"dtype mismatch on {field.name!r}: spark {stok} vs oracle {otok}"
            )
    return problems


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count {len(spark_df)} != oracle {len(oracle_df)}")
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        problems.append(f"columns {sc} != oracle {oc}")
        return problems
    a, b = canon(spark_df), canon(oracle_df)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            if av.dtype.kind == "f" or bv.dtype.kind == "f":
                import numpy as np

                ok = np.allclose(
                    av.astype(float).fillna(-9e99),
                    bv.astype(float).fillna(-9e99),
                    rtol=0,
                    atol=0,
                )
            else:
                ok = av.where(pd.notna(av), None).tolist() == bv.where(pd.notna(bv), None).tolist()
            if not ok:
                diff_idx = None
                for i in range(len(a)):
                    x, y = av.iloc[i], bv.iloc[i]
                    same = (pd.isna(x) and pd.isna(y)) or x == y
                    if not same:
                        diff_idx = i
                        break
                problems.append(
                    f"column {c!r} mismatch (first at row {diff_idx}: "
                    f"{av.iloc[diff_idx]!r} vs {bv.iloc[diff_idx]!r})"
                )
    return problems


def main() -> int:
    import json
    import time

    argv = list(sys.argv[1:])
    walls_path = None
    for a in list(argv):
        if a.startswith("--walls="):
            walls_path = a.split("=", 1)[1]
            argv.remove(a)
    sf = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    spark = get_spark(
        "oracle-check",
        cpus=cpus,
        shuffle_partitions=cpus,
        # progress bars would glue onto the OK/FAIL lines of a redirected log
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    walls: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            t0 = time.monotonic()
            sdf_spark = fn(spark, sf)
            spark_schema = sdf_spark.schema
            sdf = sdf_spark.toPandas()
            walls[name] = {
                "spark_sec": round(time.monotonic() - t0, 3),
                "rows": len(sdf),
            }
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle — rows-only check)")
            if len(sdf) == 0:
                print(f"WARN  {name}: zero rows")
            continue
        try:
            oracle_tbl = con.execute(oracles[name]).fetch_arrow_table()
            odf = oracle_tbl.to_pandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}")
            failures += 1
            continue
        problems = strict_dtype_problems(spark_schema, oracle_tbl)
        problems += compare(name, sdf, odf)
        if problems:
            failures += 1
            print(f"FAIL  {name}: " + "; ".join(problems))
        else:
            print(f"OK    {name}: {len(sdf)} rows match")
    print(f"\n{failures} failures")
    if walls_path:
        Path(walls_path).write_text(json.dumps(walls, indent=1, sort_keys=True))
        print(f"walls -> {walls_path} ({len(walls)} queries)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
