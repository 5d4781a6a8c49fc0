"""Driver-mimic: run every queries() entry on Spark and its oracle_sql()
on DuckDB at the given sf dir; compare row count + order-insensitive
values (columns sorted by name). A query or oracle that raises is
reported as ERROR and counted as a failure; the sweep goes on to the
next query. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(4)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from docopenie_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = e.oracle_sql()
    failures = []
    for name, fn in e.queries().items():
        if only and name not in only:
            continue
        try:
            spdf = fn(spark, sf_dir).toPandas()
            opdf = con.execute(oracles[name]).df() if name in oracles else None
        except Exception as exc:  # e.g. an oracle out of memory on a small host
            failures.append(name)
            msg = (str(exc).strip().splitlines() or [""])[0]
            print(f"{name:24s} ERROR {type(exc).__name__}: {msg}")
            continue
        if opdf is None:
            print(f"{name:24s} rows-only: {len(spdf)} rows OK")
            continue
        a, b = normalize(spdf), normalize(opdf)
        status = []
        if len(a) != len(b):
            status.append(f"ROWCOUNT {len(a)} vs {len(b)}")
        elif list(a.columns) != list(b.columns):
            status.append(f"COLS {list(a.columns)} vs {list(b.columns)}")
        else:
            for c in a.columns:
                if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
                    ok = np.allclose(a[c].to_numpy(), b[c].to_numpy(), atol=1e-3, equal_nan=True)
                else:
                    ok = a[c].astype(str).equals(b[c].astype(str))
                if not ok:
                    diff = (a[c].astype(str) != b[c].astype(str)).sum()
                    status.append(f"VALUES col={c} ({diff} diffs)")
        if status:
            failures.append(name)
            print(f"{name:24s} FAIL: {'; '.join(status)}")
            if len(a) == len(b) and list(a.columns) == list(b.columns):
                mask = (a.astype(str) != b.astype(str)).any(axis=1)
                print("  spark:", a[mask].head(3).to_dict("records"))
                print("  duck :", b[mask].head(3).to_dict("records"))
        else:
            print(f"{name:24s} MATCH ({len(a)} rows)")

    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL MATCH")


if __name__ == "__main__":
    main()
