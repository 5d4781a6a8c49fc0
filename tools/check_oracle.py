"""Driver-mimic: run every queries() entry on Spark and its oracle_sql()
on DuckDB at the given sf dir; compare row count + order-insensitive
values (columns sorted by name). A query or oracle that raises is
reported as ERROR and counted as a failure; the sweep goes on to the
next query. Before a query's oracle runs, its line ``<query> digest
<hex>`` gives an order-independent sha256 of the Spark rows, so two
sweeps' Spark results compare with one diff of their logs, also where an
oracle fails. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]

The session takes get_spark()'s defaults: ``local[$SPARK_GRAFT_CPUS]``
with as many shuffle partitions (unset: ``local[*]`` and 32;
``SPARK_GRAFT_MASTER`` overrides the master), but the test suite's 4g
driver heap, not get_spark()'s 8g. DuckDB runs under the fixed caps
below, printed in the sweep's first line: without them it takes 80% of
the host's memory and every core beside the Spark driver. The heaviest
oracle that fits, kg_end_to_end, needs the 10 GB buffer limit at one
thread (peak RSS 4.7 GB at sf0.001); an oracle that does not fit is an
ERROR line like any other failure.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

DUCKDB_MEMORY_LIMIT = "10GB"
DUCKDB_THREADS = 1
DUCKDB_TEMP_DIR = os.path.join(tempfile.gettempdir(), "check_oracle_duckdb")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(4)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = _canonical(df)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def row_digest(df: pd.DataFrame) -> str:
    """sha256 of the column names and the sorted rows, each row the str()
    of its canonical values (arrays printed in full)."""
    df = _canonical(df)
    with np.printoptions(threshold=sys.maxsize):
        rows = sorted("\x1f".join(map(str, r)) for r in df.itertuples(index=False))
    return hashlib.sha256("\x1e".join([",".join(df.columns), *rows]).encode()).hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from docopenie_spark.session import get_spark

    spark = get_spark(extra_conf={"spark.driver.memory": "4g"})
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect(config={"memory_limit": DUCKDB_MEMORY_LIMIT,
                                 "threads": DUCKDB_THREADS,
                                 "temp_directory": DUCKDB_TEMP_DIR})
    print(f"duckdb memory_limit={DUCKDB_MEMORY_LIMIT} threads={DUCKDB_THREADS}"
          f" temp_directory={DUCKDB_TEMP_DIR}", flush=True)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracles = e.oracle_sql()
    failures = []
    for name, fn in e.queries().items():
        if only and name not in only:
            continue
        try:
            spdf = fn(spark, sf_dir).toPandas()
            print(f"{name:24s} digest {row_digest(spdf)}", flush=True)
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
