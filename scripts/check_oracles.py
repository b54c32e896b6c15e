"""Local emulation of the driver's DuckDB-oracle comparison: run every
queries() entry and its oracle_sql() at sf0.01, compare row counts,
column names, and order-insensitive values. Uses __spark_entry__ (the
actual driver contract), so the engine-end-to-end `crawl_fetch_schedule`
and its simulator-golden oracle are checked too."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# this script's own checkout, so a copy of the repo checks its own code
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as _entry  # noqa: E402
from python_crawler_spark.session import get_spark  # noqa: E402

QUERIES = _entry.queries()
ORACLE_SQL = _entry.oracle_sql()

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
        elif df[c].dtype == bool or str(df[c].dtype) == "boolean":
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main(only: list[str] | None = None):
    spark = get_spark(parallelism=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{SF_DIR}/{t}.parquet')")

    failures = []
    selected = {n: fn for n, fn in QUERIES.items() if not only or n in only}
    for name, fn in selected.items():
        if name not in ORACLE_SQL:
            # non-SQL-expressible (driver runs a rows-only check)
            n = fn(spark, SF_DIR).count()
            print(f"ROWS {name} ({n} rows, no SQL oracle)")
            continue
        try:
            got = normalize(fn(spark, SF_DIR).toPandas())
            want = normalize(con.execute(ORACLE_SQL[name]).df())
            if list(got.columns) != list(want.columns):
                failures.append((name, f"columns {list(got.columns)} != {list(want.columns)}"))
                print(f"FAIL {name}: columns {list(got.columns)} vs {list(want.columns)}")
                continue
            if len(got) != len(want):
                failures.append((name, f"rows {len(got)} != {len(want)}"))
                print(f"FAIL {name}: rows {len(got)} vs {len(want)}")
                continue
            eq = True
            for c in got.columns:
                a, b = got[c], want[c]
                if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
                    ok = np.allclose(a.astype(float), b.astype(float), atol=1e-4, equal_nan=True)
                else:
                    ok = (a.astype(str) == b.astype(str)).all()
                if not ok:
                    eq = False
                    d = got[c].astype(str) != want[c].astype(str)
                    print(f"FAIL {name}: col {c} first diffs:\n", got[d].head(3), "\nvs\n", want[d].head(3))
                    break
            if eq:
                print(f"OK   {name} ({len(got)} rows)")
            else:
                failures.append((name, "values"))
        except Exception as e:
            failures.append((name, str(e)[:500]))
            print(f"ERR  {name}: {str(e)[:500]}")
    print(f"\n{len(selected) - len(failures)}/{len(selected)} queries match")
    return failures


if __name__ == "__main__":
    main(sys.argv[1:] or None)
