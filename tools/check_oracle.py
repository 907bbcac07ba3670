"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() twin on DuckDB at
the given sf dir, compares row count, column names, and an order-insensitive
value comparison (rows sorted by all columns, compared exactly).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

from ksana_corpus_builder_spark.session import get_spark  # noqa: E402
from ksana_corpus_builder_spark.sources.tables import TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else v)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if str(df[c].dtype) in ("int32", "int16", "int8", "uint32", "Int64", "Int32"):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
        if str(df[c].dtype) == "float32":
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), na_position="first").reset_index(drop=True)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    import __spark_entry__ as entrymod
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    n_checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_checked += 1
        try:
            got = fn(spark, sf).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {str(e)[:500]}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(got)} rows)")
            if len(got) == 0 and name != "exact_dupes":
                failures.append((name, "0 rows (rows-only check wants >0)"))
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {str(e)[:500]}")
            continue
        g, x = normalize(got), normalize(exp)
        if list(g.columns) != list(x.columns):
            failures.append((name, f"columns {list(g.columns)} != {list(x.columns)}"))
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(x.columns)}")
            continue
        if len(g) != len(x):
            failures.append((name, f"rows {len(g)} != {len(x)}"))
            print(f"FAIL {name}: rows {len(g)} vs {len(x)}")
            continue
        try:
            pd.testing.assert_frame_equal(g, x, check_dtype=False, check_exact=True)
            print(f"ok   {name}: {len(g)} rows exact match")
        except AssertionError as e:
            failures.append((name, "value mismatch"))
            print(f"FAIL {name}: value mismatch\n{str(e)[:800]}")
            # show first differing rows
            neq = (g != x) & ~(g.isna() & x.isna())
            bad = neq.any(axis=1)
            if bad.any():
                i = bad.idxmax()
                print("  spark :", g.loc[i].to_dict())
                print("  duckdb:", x.loc[i].to_dict())
    print(f"\n{n_checked - len(failures)}/{n_checked} passed"
          + ("" if not only else f" (subset of {len(qs)})"))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
