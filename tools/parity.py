"""Local differential-oracle harness — replicates the driver's t2 check.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet scale factor, then compares:
  1. row count,
  2. column names (sorted),
  3. dtype FAMILY identity (int vs float vs bool vs datetime vs object)
     BEFORE canonicalization — the driver hashes a typed representation,
     so ``3`` (int64) vs ``3.0`` (float64) is a driver hash-fail even
     when every value compares equal. Rounds 1-3 proved this is the
     failure class the old value-only compare masked (DuckDB SUM(int)
     returns HUGEINT which fetchdf() materializes as float64). The only
     tolerated int/float mismatch is the documented pandas nullable-int
     materialization: an int column with NULLs becomes float64, so the
     mismatch is allowed IFF the float side actually contains NaN.
  4. exact values (rows sorted by all columns, columns sorted by name) —
     any value mismatch prints a diff sample so drift is debuggable
     before the round ends.

Usage: python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from udacitydatawarehouseprj_spark import queries as Q  # noqa: E402
from udacitydatawarehouseprj_spark import session as S  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype) in ("int32", "int64", "Int32", "Int64", "int16", "int8"):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
        elif df[c].dtype == bool:
            df[c] = df[c].astype(bool)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def dtype_family(s: pd.Series) -> str:
    dt = str(s.dtype)
    if dt.startswith("datetime64"):
        return "datetime"
    if dt.lower().startswith(("int", "uint")):
        return "int"
    if dt.lower().startswith("float"):
        return "float"
    if dt.lower().startswith("bool"):
        return "bool"
    return "object"


def family_errors(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    """Driver-hash-equivalent dtype check (see module docstring item 3)."""
    errs: list[str] = []
    for col in sorted(spark_df.columns):
        fa, fb = dtype_family(spark_df[col]), dtype_family(duck_df[col])
        if fa == fb:
            continue
        if {fa, fb} == {"int", "float"}:
            flt = spark_df[col] if fa == "float" else duck_df[col]
            if flt.isna().any():
                continue  # nullable-int → float64 materialization
        errs.append(
            f"col {col}: dtype-family drift spark={spark_df[col].dtype}"
            f" duck={duck_df[col].dtype} — driver hash would FAIL even if"
            " values match"
        )
    return errs


def values_equal(a, b) -> bool:
    try:
        if pd.isna(a) and pd.isna(b):  # NaN == NaN, NaT == NaT, None == None
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    errs: list[str] = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        errs.append(f"columns: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}")
        return errs
    if len(spark_df) != len(duck_df):
        errs.append(f"rowcount: spark={len(spark_df)} duck={len(duck_df)}")
        return errs
    errs.extend(family_errors(spark_df, duck_df))
    a, b = canon(spark_df), canon(duck_df)
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(av, bv)) if not values_equal(x, y)
        ]
        if bad:
            i, x, y = bad[0]
            errs.append(
                f"col {col}: {len(bad)}/{len(av)} mismatches; first@{i}: "
                f"spark={x!r} duck={y!r} (dtypes {a[col].dtype}/{b[col].dtype})"
            )
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = S.get_spark("parity")
    con = duckdb.connect()
    for t in S.TESTDATA_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{S.table_path(sf_dir, t)}'"
        )
    oracles = Q.oracle_sql()
    failures = 0
    for name, fn in Q.queries().items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            S.release_tracked_caches()  # per-query shingle caches
        if name not in oracles:
            print(f"skip  {name}: no oracle (rows-only) — {len(sdf)} rows")
            continue
        try:
            ddf = con.sql(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        errs = compare(name, sdf, ddf)
        if errs:
            failures += 1
            print(f"FAIL  {name} ({len(sdf)} spark rows / {len(ddf)} duck rows)")
            for e in errs:
                print(f"      {e}")
        else:
            print(f"ok    {name} ({len(sdf)} rows)")
    S.release_shared_caches()  # cross-query LSH pair relation etc.
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
