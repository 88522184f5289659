"""Local replica of the driver's correctness gate: run every
queries()[name] on Spark and oracle_sql()[name] on DuckDB over the
same parquet, compare row count + order-insensitive values.

Usage: PYTHONPATH=/root/repo python scripts/check_oracle.py [names...]
Env: SF_DIR (default /root/testdata/sf0.001).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]) or pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    if len(a) != len(b):
        return f"rowcount {len(a)} vs {len(b)}"
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    # The driver's value-hash is dtype-sensitive: a DuckDB HUGEINT sum
    # materialized as float64 (7957.0) hash-mismatches Spark's bigint
    # (7957) even though the values compare equal after normalization.
    # Mirror that strictness: int-vs-float kind divergence is a failure.
    for c in a.columns:
        ka = "f" if pd.api.types.is_float_dtype(a[c]) else (
            "i" if pd.api.types.is_integer_dtype(a[c]) else "o")
        kb = "f" if pd.api.types.is_float_dtype(b[c]) else (
            "i" if pd.api.types.is_integer_dtype(b[c]) else "o")
        if {ka, kb} == {"i", "f"}:
            return (f"col {c} dtype kind spark={a[c].dtype} duck={b[c].dtype}"
                    " (driver hash is dtype-sensitive: cast the oracle)")
    a, b = normalize(a), normalize(b)
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if pd.api.types.is_float_dtype(a[c]):
            ok = np.array_equal(av, bv, equal_nan=True)
        else:
            ok = (pd.Series(av).fillna("∅") == pd.Series(bv).fillna("∅")).all()
        if not ok:
            idx = next(
                i for i in range(len(av))
                if not (av[i] == bv[i] or (pd.isna(av[i]) and pd.isna(bv[i])))
            )
            return f"col {c} row {idx}: spark={av[i] if (i:=idx) is not None else ''!r} duck={bv[idx]!r}"
    return None


def main() -> int:
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    only = set(sys.argv[1:])

    import __spark_entry__ as entrymod
    from ycrawl_spark.session import get_spark

    spark = get_spark(shuffle_partitions=8, app_name="check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error {type(e).__name__}: {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"ok*   {name}: rows-only, {len(sdf)} rows ({time.time()-t0:.1f}s)")
            if len(sdf) == 0:
                failures.append(name)
                print(f"FAIL  {name}: 0 rows")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error {str(e)[:200]}")
            continue
        diff = compare(sdf, ddf)
        if diff:
            failures.append(name)
            print(f"FAIL  {name}: {diff}")
        else:
            print(f"ok    {name}: {len(sdf)} rows match ({time.time()-t0:.1f}s)")
    print(f"\n{len(qs) - len(failures)}/{len(qs)} pass")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
