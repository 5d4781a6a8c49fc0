"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case and degrades gracefully to local mode:

- AQE on (runtime coalescing, skew-join splitting) — the skew story for
  hot conversations is salting (operators/assembly.py) *plus* AQE.
- Arrow enabled + bounded batch size: every NLP stage is an Arrow UDF;
  maxRecordsPerBatch bounds Python-worker memory per batch the same way
  the reference bounds work with grouped(100) batches
  (reference: prep/KbpSentenceParser.scala:73).
- shuffle.partitions scales with parallelism; at cluster scale this is
  set to ~2-3x total cores by the submitter, AQE coalesces down.
"""

from __future__ import annotations

import os
import threading

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, StructType

ARROW_BATCH = 10_000  # rows per Arrow batch handed to pandas UDFs

# ------------------------------------------------------- shared broadcasts
#
# A Broadcast pickles into a UDF closure BY ID, so two otherwise
# identical Python-stage plans built from separate ``sc.broadcast``
# calls carry different command bytes and never compare semantically
# equal (Dataset.sameSemantics, CacheManager's canonical-plan lookup) —
# measured r7: every fresh ``annotate()``/``parse_extract_annotate``
# subtree missed both the run_pipeline plan cache and an already-
# registered persist of the identical pass. Returning the SAME Broadcast
# for identical dictionary content restores plan equality. This shares
# static config data (name dictionaries), never computed results.
_BCAST_BY_CONTENT: dict = {}
_BCAST_LOCK = threading.Lock()


def content_broadcast(sc, value, key=None):
    """Broadcast ``value``, reusing the same Broadcast object for an
    identical (SparkContext, content) pair. ``key`` defaults to ``value``
    and must be hashable; pass an explicit key for unhashable values.

    Assumes deterministic sources. Plans built over equal dictionaries
    canonicalize equal, so Spark's CacheManager may serve a table
    persisted by ANOTHER call site into a freshly built plan whose
    input compares ``sameSemantics``. That is only correct while every
    input relation yields the same rows each time it is read: a
    non-deterministic source, or a parquet path appended to or rewritten
    between the two builds (a re-read of the path still compares equal),
    can then be answered from the older persisted rows. Unpersist the
    tables built over the old contents before rebuilding over a changed
    source."""
    k = (sc.applicationId, type(value).__name__,
         key if key is not None else value)
    with _BCAST_LOCK:
        b = _BCAST_BY_CONTENT.get(k)
        if b is None:
            # entries from stopped contexts are dead weight — drop them
            for dead in [kk for kk in _BCAST_BY_CONTENT
                         if kk[0] != sc.applicationId]:
                del _BCAST_BY_CONTENT[dead]
            b = sc.broadcast(value)
            _BCAST_BY_CONTENT[k] = b
    return b


# ------------------------------------------------------ driver-built tables
#
# ``spark.createDataFrame(list_of_tuples)`` in PySpark classic
# parallelizes the pickled rows: a LogicalRDD over a PythonRDD, whose
# every scan starts Python workers to unpickle a few constant rows, whose
# size estimate is Long.MaxValue, and whose two builds over the same rows
# never compare sameSemantics. A pyarrow Table handed to createDataFrame
# becomes a JVM LocalRelation instead: no Python at execution, exact size
# statistics, and plan equality across builds. Every table the package
# builds from driver-side rows goes through :func:`local_table`.


def local_table(spark: SparkSession, rows, schema: StructType) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order; dicts for struct
    values) as a LocalRelation-backed DataFrame with exactly ``schema``
    (a declared StructType, schemas.*), nullability included. As with
    createDataFrame's default schema verification, a value of the wrong
    type or a None in a non-nullable field raises."""
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = [
        pa.array([r[i] for r in rows], type=f.type)
        for i, f in enumerate(arrow_schema)
    ]
    for col, f in zip(columns, schema.fields):
        _check_nulls(col, f.dataType, f.nullable, f.name)
    return spark.createDataFrame(
        pa.Table.from_arrays(columns, schema=arrow_schema), schema
    )


def _check_nulls(arr, dtype, nullable: bool, path: str) -> None:
    if not nullable and arr.null_count:
        raise ValueError(f"local_table: None in non-nullable field {path}")
    if isinstance(dtype, ArrayType):
        _check_nulls(arr.flatten(), dtype.elementType, dtype.containsNull,
                     path + "[]")
    elif isinstance(dtype, StructType):
        present = arr.filter(arr.is_valid())
        for i, f in enumerate(dtype.fields):
            _check_nulls(present.field(i), f.dataType, f.nullable,
                         f"{path}.{f.name}")


def get_spark(
    app_name: str = "docopenie-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Arrow-UDF stages are CPU-bound per ROW, not per byte: AQE
        # coalesces by COMPRESSED shuffle bytes, and the template-heavy
        # corpus lz4-compresses ~100:1, so even the 64 KiB floor let AQE
        # collapse the exchange feeding the fused NLP pass to ONE
        # partition (measured r7: the whole 40k-turn Python stage ran as
        # a single task; 1 KiB floor restores 32-way parallelism and
        # cuts the fused pass 5.5s → 2.5s). Scale-safe: with
        # parallelismFirst (default), the coalesce target is
        # max(totalBytes/defaultParallelism, minPartitionSize), so any
        # real-sized shuffle is governed by the first term and the floor
        # only bites on tiny shuffles, where extra small tasks are
        # cheap. Parameterised for cluster submitters.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "1k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.session.timeZone", "UTC")
        # measured in this sandbox: LARGER heaps run slower (8g: 65s,
        # 16g: 103s, 24g: 136s for the same 1M-turn job) — fresh-page
        # faults are expensive under the hypervisor, so a hot small heap
        # beats a big cold one. Override with SPARK_DRIVER_MEM.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
