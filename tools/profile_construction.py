"""Profile where run_pipeline's DAG-CONSTRUCTION wall time goes (driver
py4j/analysis only — nothing is executed). Prints per-stage construction
walls for a warm second call, which is what bench.py repeats 2-3 pay.

Usage: python tools/profile_construction.py [sf_dir] [n_reps]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from docopenie_spark import datagen  # noqa: E402
from docopenie_spark.plans import pipeline as pl  # noqa: E402
from docopenie_spark.session import get_spark  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="profile-construction",
                      master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_turns = 8 * docs.count()
    transcripts = datagen.transcripts_df(spark, n_turns)

    # instrument the stage constructors
    import docopenie_spark.operators.assembly as assembly
    import docopenie_spark.operators.bestmention as bestmention
    import docopenie_spark.operators.coref as coref
    import docopenie_spark.operators.fused as fused
    import docopenie_spark.operators.link as link
    import docopenie_spark.operators.ner as ner
    import docopenie_spark.operators.substitute as substitute

    targets = [
        (assembly, "with_turn_offsets"),
        (assembly, "doc_chunks"),
        (fused, "parse_extract_annotate"),
        (fused, "split_sentences"),
        (fused, "split_triples"),
        (fused, "split_entities"),
        (ner, "entity_mentions"),
        (coref, "clusters"),
        (link, "links"),
        (bestmention, "best_mentions"),
        (bestmention, "expand_with_coref"),
        (bestmention, "display_filter"),
        (substitute, "substituted_triples"),
    ]
    acc: dict[str, list[float]] = {}
    originals = {}
    for mod, name in targets:
        fn = getattr(mod, name)
        originals[(mod, name)] = fn

        def wrap(fn=fn, key=f"{mod.__name__.split('.')[-1]}.{name}"):
            def inner(*a, **k):
                t0 = time.time()
                out = fn(*a, **k)
                acc.setdefault(key, []).append(time.time() - t0)
                return out
            return inner
        setattr(mod, name, wrap())

    walls = []
    for i in range(reps):
        t0 = time.time()
        r = pl.run_pipeline(spark, transcripts)
        walls.append(time.time() - t0)
        r.unpersist()
        # nothing executed: construction only

    for mod, name in targets:
        setattr(mod, name, originals[(mod, name)])

    print(f"run_pipeline construction walls: {[round(w, 3) for w in walls]}")
    width = max(len(k) for k in acc)
    for k, v in sorted(acc.items(), key=lambda kv: -sum(kv[1][1:])):
        per = ", ".join(f"{x:.3f}" for x in v)
        print(f"  {k:<{width}}  [{per}]")
    spark.stop()


if __name__ == "__main__":
    main()
