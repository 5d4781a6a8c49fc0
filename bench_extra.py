"""Stage-isolation benchmark (guide §1.4) — NOT the driver contract.

bench.py is the frozen driver-facing artifact; this file exists so the
optimization rounds can time individual operators/stages with the noop
sink (every column of every row computed, nothing written) and labeled
jobs, without touching the frozen harness. Numbers from here are cited
in OPTIMIZATION_r*.md next to the bench.py medians.

Usage: python bench_extra.py [pipeline|headline|all]  (default all)

Method: same session shape as bench.py (local[$SPARK_GRAFT_CPUS],
shuffle.partitions = cpus), warmup pass first, then REPEATS interleaved
rounds per stage, median reported, raw kept. Pipeline stages are
run_pipeline's own (pipeline._stage_graph through a recording ``stage``);
each is timed over its upstream stages' outputs materialized with
localCheckpoint(), so each number is that stage's own work and never a
read of a cached copy of its output (see pipeline_stages).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from docopenie_spark import datagen  # noqa: E402
from docopenie_spark.operators import assembly, dedup, similarity  # noqa: E402
from docopenie_spark.plans import pipeline as pl  # noqa: E402
from docopenie_spark.session import get_spark  # noqa: E402

TURNS_PER_DOC = 8
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def run_suite(spark, suite, repeats=REPEATS):
    raw: dict[str, list[float]] = {}
    for name, fn in suite:  # warmup round (uncounted)
        spark.sparkContext.setJobDescription(f"warmup: {name}")
        fn()
    for _ in range(repeats):
        for name, fn in suite:
            spark.sparkContext.setJobDescription(f"timed: {name}")
            t0 = time.time()
            fn()
            raw.setdefault(name, []).append(round(time.time() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    return {n: round(statistics.median(w), 3) for n, w in raw.items()}, raw


def pipeline_stages(transcripts):
    """[(stage name, build)] for every stage of the pipeline's stage graph
    (pipeline._stage_graph), built as run_pipeline builds them. Each stage's
    output is materialized once with localCheckpoint(), which truncates
    its lineage: ``build()`` rebuilds the stage over its upstream
    outputs, and no rebuilt plan can match a cached one, so each number
    is that stage's own work."""
    stages = []

    def stage(name, fn, *inputs):
        stages.append((name, lambda: fn(*inputs)))
        return fn(*inputs).localCheckpoint()

    pl._stage_graph(stage, transcripts, None, datagen.gazetteer_rows())
    return stages


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    which = sys.argv[1] if len(sys.argv) > 1 else "all"

    spark = get_spark(
        app_name="docopenie-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    transcripts = datagen.transcripts_df(spark, TURNS_PER_DOC * n_docs)

    out: dict[str, dict] = {}

    if which in ("pipeline", "all"):
        stages = pipeline_stages(transcripts)

        def full_pipeline():
            r = pl.run_pipeline(spark, transcripts)
            r.triples.count()
            r.unpersist()

        suite = [
            ("turn_offsets", lambda: _noop(assembly.with_turn_offsets(transcripts))),
            *[(name, lambda b=build: _noop(b())) for name, build in stages],
            ("full_pipeline", full_pipeline),
        ]
        med, raw = run_suite(spark, suite)
        out["pipeline"] = {"median": med, "raw": raw}

    if which in ("headline", "all"):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.where(F.col("vec_id") < 16)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        c = spark.read.parquet(f"{sf_dir}/customer.parquet")
        n = spark.read.parquet(f"{sf_dir}/nation.parquet")
        suite = [
            ("minhash_signatures", lambda: _noop(
                dedup.minhash_signatures(docs, "doc_id", "text")
            )),
            ("minhash_dedup", lambda: _noop(
                dedup.minhash_dedup(docs, "doc_id", "text", threshold=0.8)
            )),
            ("simhash_sigs", lambda: _noop(dedup.simhash(docs, "doc_id", "text"))),
            ("simhash_neardup", lambda: _noop(
                dedup.simhash_near_dups(dedup.simhash(docs, "doc_id", "text"))
            )),
            ("embedding_topk", lambda: _noop(
                similarity.brute_force_topk(emb, q, k=10)
            )),
            ("agg_lineitem", lambda: _noop(
                li.groupBy("l_returnflag", "l_linestatus").agg(
                    F.sum("l_quantity"),
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                )
            )),
            ("broadcast_join", lambda: _noop(
                o.join(c, o.o_custkey == c.c_custkey)
                .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
                .groupBy("n_name")
                .agg(F.sum("o_totalprice"))
            )),
        ]
        med, raw = run_suite(spark, suite)
        out["headline"] = {"median": med, "raw": raw}

    print(json.dumps({"sf_dir": sf_dir, "cpus": cpus, "repeats": REPEATS, **out}))
    spark.stop()


if __name__ == "__main__":
    main()
