"""Per-stage checkpoint tables + lineage + metrics + mid-run resume
(SURVEY.md §2.1 S7 and §3 EP3).

The reference checkpoints by Java-serializing every document to a
``<docId>.bin`` between phases (main/KbpDocSerializer.scala:29-85) and
"resumes" by re-reading the directory; each ``.bin`` is overwrite-
idempotent. Ours is the idiomatic-Spark replacement with the same
idempotency guarantee at bucket granularity:

- each stage writes a columnar table hash-bucketed on conv_id using
  DYNAMIC PARTITION OVERWRITE — re-writing a bucket REPLACES it, so a
  run killed between the data write and the lineage write leaves buckets
  that the resume simply overwrites (never appends → no duplicates);
- a ``lineage`` table records (stage, bucket, run_id, input fingerprint,
  row count, wall ms) for EVERY ATTEMPTED bucket — including buckets
  whose output is legitimately empty (row_count 0), so resume's all-done
  short-circuit fires even for empty buckets;
- a bucket's row count and output fingerprint come from the persisted
  output of the write itself (one grouped aggregate over the rows being
  written — O(written buckets), never a read-back of the directory), and
  the input fingerprint from the batch's INPUT;
- ``done_buckets`` answers "which buckets of this stage are committed
  under this output schema" with one grouped query over lineage;
- reads expose only lineage-committed buckets, so data whose lineage
  write never landed is invisible until the resume replaces it;
- nothing is read by inference: a stage table reads through its expected
  schema (all-empty reads back empty), lineage and metrics through theirs.

In production these are Iceberg tables (``partitionedBy(bucket(N,
conv_id))``, lineage keyed by snapshot id). This environment has no
Iceberg runtime jar, so the same layout is realized as
parquet-partitioned directories behind one small API — swap the
``write.parquet`` in ``write_stage`` and the ``read.parquet`` in
``_read`` for ``writeTo(...)``/``read.table`` and nothing else changes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .. import schemas
from ..session import local_table

BUCKET_COL = "_bucket"


def schema_fingerprint(schema: StructType) -> str:
    """Stable fingerprint of a stage's DATA schema (bucket column
    excluded). Recorded in lineage at write time; resume treats a
    mismatch against the CURRENT code's expected output schema as
    not-done, forcing recompute — otherwise a checkpoint directory
    written by pre-change code is silently read back with missing/
    renamed columns (e.g. the round-3 ANNOTATED e_len change)."""
    ddl = ",".join(
        f"{f.name}:{f.dataType.simpleString()}:{f.nullable}"
        for f in schema.fields if f.name != BUCKET_COL
    )
    return hashlib.md5(ddl.encode()).hexdigest()[:16]


def with_bucket(df: DataFrame, buckets: int = 32) -> DataFrame:
    """Stable hash-bucket column — the bucket(N, conv_id) partition
    transform. xxhash64 is deterministic across runs and executors.
    Every stage buckets on conv_id, so bucket b of one stage derives only
    from bucket b of its inputs."""
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64("conv_id"), F.lit(buckets)).cast("int"))


def _bucket_stats(df_with_bucket: DataFrame) -> dict[int, tuple[int, str]]:
    """{bucket: (row_count, fingerprint_hex)} — one column-pruned agg.
    bit_xor of xxhash64(conv_id) is order-independent and never overflows."""
    rows = (
        df_with_bucket.groupBy(BUCKET_COL)
        .agg(F.count(F.lit(1)).alias("n"),
             F.expr("bit_xor(xxhash64(conv_id))").alias("fp"))
        .collect()
    )
    return {
        int(r[BUCKET_COL]): (int(r["n"]), format(r["fp"] & 0xFFFFFFFFFFFFFFFF, "x"))
        for r in rows
    }


class StageStore:
    """A tiny catalog of stage tables rooted at ``root``."""

    def __init__(self, spark: SparkSession, root: str, buckets: int = 32):
        self.spark = spark
        self.root = root
        self.buckets = buckets
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ paths
    def _path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _lineage_path(self) -> str:
        return os.path.join(self.root, "_lineage")

    def _metrics_path(self) -> str:
        return os.path.join(self.root, "_metrics")

    # ------------------------------------------------------------ write
    def write_stage(self, stage: str, df: DataFrame,
                    run_id: str | None = None, only_buckets: list[int] | None = None,
                    input_fps: dict[int, str] | None = None) -> str:
        """Write a stage table bucketed on conv_id with dynamic partition
        overwrite (idempotent per bucket); record one lineage row per
        ATTEMPTED bucket (``only_buckets`` if given, else all) — buckets
        that produced no rows get row_count 0, so resume never retries
        them. ``input_fps`` carries the per-bucket INPUT fingerprints
        (run_resumable computes them); without it the fingerprint of the
        written output is recorded. Returns the run_id."""
        from pyspark import StorageLevel

        run_id = run_id or uuid.uuid4().hex[:12]
        attempted = sorted(only_buckets) if only_buckets is not None else list(range(self.buckets))
        t0 = time.time()
        b = with_bucket(df, self.buckets)
        if only_buckets is not None:
            b = b.where(F.col(BUCKET_COL).isin(attempted))
        # persist so stats and the write share ONE computation of the
        # output; stats MUST come from the output itself, never from a
        # read-back of the directory — a read-back would conflate fresh
        # rows with stale data left by a previous killed run in attempted
        # buckets whose recomputed output is empty (dynamic overwrite only
        # replaces partitions PRESENT in the output).
        b = b.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            stats = _bucket_stats(b)
            (
                b.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(BUCKET_COL)
                .parquet(self._path(stage))
            )
            # clear attempted buckets absent from the output, so a lineage
            # row_count of 0 always corresponds to an actually-empty bucket
            # (Iceberg's overwritePartitions over an explicit bucket
            # predicate does this natively; parquet dirs need the rm).
            # The clear must not silently no-op: a swallowed failure here
            # resurrects stale rows from a previous killed run.
            stale = [bk for bk in attempted if bk not in stats]
            if stale and "://" in self.root and not self.root.startswith("file:"):
                raise NotImplementedError(
                    f"stale-bucket clear needs a local stage root, got {self.root!r};"
                    " non-local roots take the Iceberg overwritePartitions path"
                    " (see module docstring)"
                )
            for bk in stale:
                try:
                    shutil.rmtree(os.path.join(self._path(stage), f"{BUCKET_COL}={bk}"))
                except FileNotFoundError:
                    pass  # bucket never existed — nothing stale to clear
        finally:
            b.unpersist()
        wall_ms = int((time.time() - t0) * 1000)
        sfp = schema_fingerprint(df.schema)
        rows = []
        for bk in attempted:
            n, out_fp = stats.get(bk, (0, "0"))
            fp = (input_fps or {}).get(bk, out_fp)
            rows.append((stage, bk, run_id, fp, n, wall_ms, sfp))
        lineage = local_table(self.spark, rows, schemas.LINEAGE)
        lineage.coalesce(1).write.mode("append").parquet(self._lineage_path())
        return run_id

    def record_metric(self, run_id: str, stage: str, metric: str, value: float) -> None:
        local_table(
            self.spark, [(run_id, stage, metric, float(value), time.time())],
            schemas.METRICS,
        ).write.mode("append").parquet(self._metrics_path())

    # ------------------------------------------------------------- read
    def read_stage(self, stage: str, schema: StructType) -> DataFrame:
        """The stage table in ``schema``, restricted to the buckets
        ``done_buckets`` counts as committed under it: data whose lineage write
        never landed (a kill between the two writes) stays invisible until
        resume overwrites it — including when NO lineage write ever landed
        (zero committed buckets means zero visible rows, not everything)
        — and so do buckets committed under a DIFFERENT output schema."""
        return self._read(stage, schema,
                          self.done_buckets(stage, schema_fingerprint(schema)))

    def _read(self, stage: str, schema: StructType, buckets: list[int]) -> DataFrame:
        layout = StructType(schema.fields + [StructField(BUCKET_COL, IntegerType())])
        df = self.spark.read.schema(layout).parquet(self._path(stage))
        df = df.where(F.col(BUCKET_COL).isin(buckets) if buckets else F.lit(False))
        return df.drop(BUCKET_COL)

    def lineage(self) -> DataFrame:
        # read through the stated layout: lineage written before a column
        # was added (e.g. schema_fp) reads back with nulls for the gap
        return self.spark.read.schema(schemas.LINEAGE).parquet(self._lineage_path())

    def metrics(self) -> DataFrame:
        return self.spark.read.schema(schemas.METRICS).parquet(self._metrics_path())

    def done_buckets(self, stage: str, schema_fp: str) -> list[int]:
        """Buckets with a lineage row for ``stage`` whose recorded output
        schema is ``schema_fp`` — a stale-schema checkpoint is "not done"
        and gets recomputed. Legacy rows with no recorded fingerprint
        can't be verified: they keep their pre-guard behavior of counting
        as done, but LOUDLY — a warning names the stage and the number of
        such rows, so a pre-guard checkpoint is visibly trusted, never
        silently accepted. One grouped query answers both."""
        if not os.path.exists(self._lineage_path()):
            return []
        legacy = F.col("schema_fp").isNull()
        rows = (
            self.lineage().where(F.col("stage") == stage)
            .groupBy("partition_id")
            .agg(F.bool_or(legacy | (F.col("schema_fp") == schema_fp)).alias("done"),
                 F.count_if(legacy).alias("n_legacy"))
            .collect()
        )
        n_legacy = sum(r.n_legacy for r in rows)
        if n_legacy:
            warnings.warn(
                f"checkpoint stage {stage!r}: {n_legacy} lineage rows "
                "predate the schema guard (no recorded fingerprint) and "
                "are trusted as-is",
                stacklevel=2,
            )
        return sorted(r.partition_id for r in rows if r.done)

    # ----------------------------------------------------------- resume
    def run_resumable(self, stage: str, inputs: DataFrame | list[DataFrame], fn,
                      run_id: str | None = None) -> DataFrame:
        """Compute ``fn(*inputs)`` (one DataFrame or a list, each filtered
        with the same bucket predicate) only for buckets lineage has not
        recorded for ``stage`` (resume = anti-join of partitions against
        lineage, SURVEY.md §3 EP3), overwrite those buckets, return the
        full stage table. Every remaining bucket gets a lineage row
        (row_count 0 for empty ones; the input fingerprint is one ``n:fp``
        part per input, comma-joined), so the next resume short-circuits
        without reading the inputs at all.

        Buckets committed under a different OUTPUT schema than the
        current ``fn`` produces count as not-done (schema guard): the
        expected schema comes from applying ``fn`` to empty slices of
        the inputs — plan analysis only, nothing executes. Lineage is
        queried once: after the remaining buckets are written every
        bucket is committed, so the table is read back without asking
        again."""
        dfs = inputs if isinstance(inputs, list) else [inputs]
        expected = fn(*[df.limit(0) for df in dfs]).schema
        done = self.done_buckets(stage, schema_fingerprint(expected))
        remaining = [b for b in range(self.buckets) if b not in done]
        if remaining:
            t0 = time.time()
            srcs = [with_bucket(df, self.buckets) for df in dfs]
            if done:
                srcs = [s.where(~F.col(BUCKET_COL).isin(done)) for s in srcs]
            stats = [_bucket_stats(src) for src in srcs]
            input_fps = {
                bk: ",".join("{:x}:{}".format(*st.get(bk, (0, "0"))) for st in stats)
                for bk in set().union(*stats)
            }
            out = fn(*[src.drop(BUCKET_COL) for src in srcs])
            run_id = self.write_stage(stage, out, run_id=run_id,
                                      only_buckets=remaining, input_fps=input_fps)
            self.record_metric(run_id, stage, "wall_sec", time.time() - t0)
        return self._read(stage, expected, list(range(self.buckets)))
