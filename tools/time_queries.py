"""Time every declared query end-to-end (construction + toPandas), the
way the driver's per-query comparison does.

    python tools/time_queries.py OUT.json [sf_dir] [query ...]

Wall time includes query-function construction (some functions run
eager work — ML fits, count probes) plus execution and collection —
the number a caller of queries()[name] actually experiences.

The session takes get_spark()'s defaults: ``local[$SPARK_GRAFT_CPUS]``
with as many shuffle partitions (unset: ``local[*]`` and 32;
``SPARK_GRAFT_MASTER`` overrides the master).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from docopenie_spark.session import get_spark  # noqa: E402


def main():
    out_path = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    only = set(sys.argv[3:])

    import __spark_entry__ as e

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    for name, fn in e.queries().items():
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"query: {name}")
        t0 = time.time()
        try:
            pdf = fn(spark, sf_dir).toPandas()
            rows[name] = len(pdf)
        except Exception as ex:
            rows[name] = -1
            print(f"{name} FAILED: {ex}", file=sys.stderr)
        times[name] = round(time.time() - t0, 2)
        print(f"{name}: {times[name]}s ({rows[name]} rows)", flush=True)
    with open(out_path, "w") as f:
        json.dump({"sf_dir": sf_dir, "times": times, "rows": rows,
                   "total": round(sum(times.values()), 2)}, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
