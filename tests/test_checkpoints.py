"""Checkpoint/lineage/resume (S7 analogue): resumed run ≡ fresh run."""

import shutil

import pytest
import pyspark.sql.functions as F

from docopenie_spark import datagen
from docopenie_spark.sources.checkpoints import (
    StageStore, schema_fingerprint, with_bucket,
)


def test_write_read_roundtrip(spark, tmp_path):
    store = StageStore(spark, str(tmp_path / "cp"), buckets=8)
    t = datagen.transcripts_df(spark, 160)
    store.write_stage("transcripts", t)
    back = store.read_stage("transcripts", t.schema)
    assert back.count() == 160
    assert set(back.columns) == set(t.columns)


def test_lineage_rows_per_bucket(spark, tmp_path):
    store = StageStore(spark, str(tmp_path / "cp"), buckets=8)
    t = datagen.transcripts_df(spark, 160)
    store.write_stage("s1", t, run_id="runA")
    lin = store.lineage().where(F.col("stage") == "s1").collect()
    assert {r.run_id for r in lin} == {"runA"}
    assert sum(r.row_count for r in lin) == 160
    assert all(r.wall_ms >= 0 for r in lin)


def test_resume_equals_fresh_run(spark, tmp_path):
    """Kill-mid-run simulation: write only half the buckets, then resume —
    the union must equal a fresh full run exactly."""
    t = datagen.transcripts_df(spark, 240)

    def fn(df):
        return df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))

    fresh = fn(t)

    store = StageStore(spark, str(tmp_path / "cp"), buckets=8)
    # simulate a run killed after buckets 0-3
    partial = fn(t)
    store.write_stage("agg", partial, run_id="run1", only_buckets=[0, 1, 2, 3])
    done_before = store.done_buckets("agg", schema_fingerprint(partial.schema))
    assert 0 < len(done_before) < 8

    resumed = store.run_resumable("agg", t, fn, run_id="run2")
    assert resumed.exceptAll(fresh).isEmpty()
    assert fresh.exceptAll(resumed).isEmpty()

    # second resume is a no-op (everything recorded)
    again = store.run_resumable("agg", t, fn, run_id="run3")
    assert again.count() == fresh.count()
    runs = {r.run_id for r in store.lineage().collect()}
    assert "run3" not in runs  # nothing recomputed


def test_stage_empty_in_every_bucket_reads_back_empty(spark, tmp_path):
    """A stage with no output row in any bucket leaves no data file to
    infer a schema from; it reads back through the stage's expected
    schema as an empty table, on the computing call and on the no-op
    resume after it."""
    store = StageStore(spark, str(tmp_path / "cp"), buckets=4)
    src = spark.range(10).selectExpr("cast(id as string) as conv_id", "id as v")

    def fn(d):
        return d.where("v < 0")

    for run_id in ("r1", "r2"):
        out = store.run_resumable("s", src, fn, run_id=run_id)
        assert out.columns == ["conv_id", "v"]
        assert out.schema.simpleString() == fn(src).schema.simpleString()
        assert out.isEmpty()
    assert {r.run_id for r in store.lineage().collect()} == {"r1"}


def test_lineage_no_full_table_rescan(spark, tmp_path):
    """Lineage rows for a write reflect ONLY that write's buckets — never
    a conflation with prior runs' buckets already in the directory."""
    store = StageStore(spark, str(tmp_path / "cp"), buckets=8)
    t = datagen.transcripts_df(spark, 240)
    b = with_bucket(t, 8)
    first = sorted(r._bucket for r in b.select("_bucket").distinct().collect())[:3]
    rest = [x for x in range(8) if x not in first]
    store.write_stage("s", t, run_id="runA", only_buckets=first)
    store.write_stage("s", t, run_id="runB", only_buckets=rest)
    lin = store.lineage().collect()
    by_run = {}
    for r in lin:
        by_run.setdefault(r.run_id, []).append(r)
    # runB's lineage covers exactly `rest` (incl. empties), not runA's buckets
    assert sorted(r.partition_id for r in by_run["runB"]) == rest
    # total committed rows across both runs == input rows (no conflation)
    assert sum(r.row_count for r in lin) == 240
    assert store.read_stage("s", t.schema).count() == 240


def test_crash_between_data_and_lineage_no_duplicates(spark, tmp_path):
    """A run killed after the data write but before the lineage write must
    not produce duplicate rows on resume: the bucket data is invisible to
    read_stage (no lineage row) and the resume OVERWRITES it."""
    import shutil

    t = datagen.transcripts_df(spark, 240)

    def fn(df):
        return df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))

    fresh = fn(t)
    store = StageStore(spark, str(tmp_path / "cp"), buckets=8)
    # simulate: full data write landed, lineage write never did
    store.write_stage("agg", fn(t), run_id="killed")
    shutil.rmtree(str(tmp_path / "cp" / "_lineage"))
    # orphaned data is invisible until recommitted
    assert store.done_buckets("agg", schema_fingerprint(fresh.schema)) == []
    resumed = store.run_resumable("agg", t, fn, run_id="resume")
    assert resumed.exceptAll(fresh).isEmpty()
    assert fresh.exceptAll(resumed).isEmpty()
    assert resumed.count() == fresh.count()  # overwrite, not append


def test_crash_then_resume_with_filtering_fn_no_stale_rows(spark, tmp_path):
    """ADVICE r2 (medium): a run killed before its lineage write leaves
    stale data; the resume's fn produces NO rows for some of those
    buckets. Dynamic overwrite only replaces partitions present in the
    output, so without the explicit clear the stale rows would survive,
    get a lineage row, and become visible via read_stage."""
    import shutil

    t = datagen.transcripts_df(spark, 240)

    def fn_all(df):
        return df.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))

    def fn_hot(df):
        return fn_all(df).where(F.col("conv_id") == "conv_hot")

    fresh = fn_hot(t)
    store = StageStore(spark, str(tmp_path / "cp"), buckets=8)
    # killed run: FULL output landed, lineage never did
    store.write_stage("agg", fn_all(t), run_id="killed")
    shutil.rmtree(str(tmp_path / "cp" / "_lineage"))
    # resume with the FILTERING fn: buckets whose new output is empty
    # must end up actually empty, not showing the killed run's rows
    resumed = store.run_resumable("agg", t, fn_hot, run_id="resume")
    assert resumed.exceptAll(fresh).isEmpty()
    assert fresh.exceptAll(resumed).isEmpty()
    assert resumed.count() == fresh.count()
    # lineage row_count 0 corresponds to actually-empty buckets
    lin = store.lineage().where(F.col("stage") == "agg").collect()
    committed = sum(r.row_count for r in lin)
    assert committed == fresh.count()


def test_read_stage_invisible_when_no_lineage_ever_landed(spark, tmp_path):
    """ADVICE r2 (low): a crash before ANY lineage write leaves orphaned
    stage data; read_stage must hide it (zero committed buckets ⇒
    zero visible rows), not fall back to returning everything."""
    import shutil

    store = StageStore(spark, str(tmp_path / "cp"), buckets=8)
    t = datagen.transcripts_df(spark, 80)
    store.write_stage("s", t, run_id="killed")
    shutil.rmtree(str(tmp_path / "cp" / "_lineage"))
    assert store.read_stage("s", t.schema).count() == 0
    assert spark.read.parquet(str(tmp_path / "cp" / "s")).count() == 80


def test_empty_buckets_get_lineage_and_short_circuit(spark, tmp_path):
    """Buckets whose output is legitimately empty are recorded (row_count
    0) so the next resume never recomputes them (ADVICE item: empty
    buckets previously recomputed on every resume)."""
    store = StageStore(spark, str(tmp_path / "cp"), buckets=8)
    t = datagen.transcripts_df(spark, 240)

    def fn(df):
        # keep only the hot conversation: most buckets produce 0 rows
        return df.where(F.col("conv_id") == "conv_hot")

    store.run_resumable("hot", t, fn, run_id="r1")
    lin = store.lineage().where(F.col("stage") == "hot").collect()
    assert len(lin) == 8  # every attempted bucket recorded
    assert sorted({r.partition_id for r in lin}) == list(range(8))
    assert sum(1 for r in lin if r.row_count == 0) >= 1

    calls = []

    def poisoned(df):
        # the schema guard applies fn ONCE to an empty slice of the input
        # (plan analysis only — nothing executes); record what it got
        calls.append(df)
        return fn(df)

    again = store.run_resumable("hot", t, poisoned, run_id="r2")
    # all-done short-circuit fired: fn was only consulted for its output
    # schema on a zero-row slice — the input was never recomputed
    assert len(calls) == 1 and calls[0].count() == 0
    assert store.lineage().where(F.col("run_id") == "r2").count() == 0
    assert again.count() == t.where(F.col("conv_id") == "conv_hot").count()


def test_bucket_is_deterministic(spark):
    t = datagen.transcripts_df(spark, 80)
    a = with_bucket(t).select("conv_id", "_bucket").distinct()
    b = with_bucket(t).select("conv_id", "_bucket").distinct()
    assert a.exceptAll(b).isEmpty()
    # one bucket per conv_id
    multi = a.groupBy("conv_id").count().where(F.col("count") > 1)
    assert multi.isEmpty()


# ----------------------------------------- ADVICE: checkpoint schema guard

def test_schema_change_forces_recompute(spark, tmp_path):
    """Resuming against a checkpoint written by pre-change code (different
    output schema) must recompute, not silently read stale columns."""
    store = StageStore(spark, str(tmp_path), buckets=4)
    src = spark.range(20).select(
        F.col("id").cast("string").alias("conv_id"), F.col("id").alias("v")
    )
    out1 = store.run_resumable("s", src, lambda d: d.select("conv_id", "v"))
    assert set(out1.columns) == {"conv_id", "v"} and out1.count() == 20

    # "code change": stage now emits v2 — all old-schema buckets are stale
    out2 = store.run_resumable(
        "s", src, lambda d: d.select("conv_id", (F.col("v") * 2).alias("v2"))
    )
    assert set(out2.columns) == {"conv_id", "v2"}, "stale schema was read back"
    assert out2.count() == 20
    assert out2.agg(F.sum("v2")).first()[0] == 2 * sum(range(20))


def test_same_schema_resume_short_circuits(spark, tmp_path):
    """The guard must not break the all-done fast path: a second run with
    the same fn schema reads back without writing new lineage rows."""
    store = StageStore(spark, str(tmp_path), buckets=4)
    src = spark.range(10).select(
        F.col("id").cast("string").alias("conv_id"), F.col("id").alias("v")
    )
    fn = lambda d: d.select("conv_id", "v")  # noqa: E731
    store.run_resumable("s", src, fn)
    n_lineage = store.lineage().count()
    out = store.run_resumable("s", src, fn)
    assert out.count() == 10
    assert store.lineage().count() == n_lineage, "short-circuit wrote lineage"


# ------------------------------------ ADVICE: legacy null-fp checkpoints

def _null_out_fingerprints(spark, store, tmp_path):
    """Simulate a pre-guard checkpoint: rewrite lineage with schema_fp
    nulled (the column existed but the rows predate the guard)."""
    lin_path = store._lineage_path()
    lin = spark.read.parquet(lin_path)
    legacy = lin.withColumn("schema_fp", F.lit(None).cast("string"))
    tmp = str(tmp_path / "_legacy_lineage")
    legacy.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(lin_path)
    shutil.move(tmp, lin_path)


def test_legacy_null_fingerprint_trusted_but_warns(spark, tmp_path):
    """ADVICE r4: lineage rows with no recorded schema_fp used to count
    as done SILENTLY — the exact stale-column hazard the guard targets.
    They still count (pre-guard compatibility) but now emit a warning."""
    store = StageStore(spark, str(tmp_path / "ck"), buckets=4)
    src = spark.range(20).select(
        F.col("id").cast("string").alias("conv_id"), F.col("id").alias("v")
    )
    store.run_resumable("s", src, lambda d: d.select("conv_id", "v"))
    _null_out_fingerprints(spark, store, tmp_path)

    # same schema, different values: if the legacy buckets were NOT
    # trusted this fn would overwrite v with 99s
    with pytest.warns(UserWarning, match="predate the schema guard"):
        out = store.run_resumable(
            "s", src, lambda d: d.select("conv_id", F.lit(99).cast("long").alias("v"))
        )
    vals = {r.v for r in out.collect()}
    assert vals == set(range(20)), "legacy checkpoint must be read back, not recomputed"


def test_lineage_without_fingerprint_column_trusted_but_warns(spark, tmp_path):
    """Lineage written before schema_fp existed has no such column at
    all; read through schemas.LINEAGE its rows carry a null fingerprint
    and are trusted with the same warning as null-fingerprint rows."""
    store = StageStore(spark, str(tmp_path / "ck"), buckets=4)
    src = spark.range(20).select(
        F.col("id").cast("string").alias("conv_id"), F.col("id").alias("v")
    )
    store.run_resumable("s", src, lambda d: d.select("conv_id", "v"))
    lin_path = store._lineage_path()
    tmp = str(tmp_path / "_old_lineage")
    spark.read.parquet(lin_path).drop("schema_fp").write.parquet(tmp)
    shutil.rmtree(lin_path)
    shutil.move(tmp, lin_path)
    assert "schema_fp" not in spark.read.parquet(lin_path).columns

    with pytest.warns(UserWarning, match="4 lineage rows predate the schema guard"):
        out = store.run_resumable(
            "s", src, lambda d: d.select("conv_id", F.lit(99).cast("long").alias("v"))
        )
    assert {r.v for r in out.collect()} == set(range(20))


class _LineageSpy(StageStore):
    reads = 0

    def lineage(self):
        self.reads += 1
        return super().lineage()


def test_run_resumable_reads_lineage_once(spark, tmp_path):
    """One lineage query per run_resumable call: after a compute pass
    every bucket is committed, and the no-op pass reads back the buckets
    it was already told were done."""
    store = _LineageSpy(spark, str(tmp_path / "ck"), buckets=4)
    src = spark.range(20).select(
        F.col("id").cast("string").alias("conv_id"), F.col("id").alias("v")
    )
    fn = lambda d: d.select("conv_id", "v")  # noqa: E731
    store.write_stage("s", fn(src), run_id="killed", only_buckets=[0, 1])
    for run_id in ("resume", "noop"):
        store.reads = 0
        out = store.run_resumable("s", src, fn, run_id=run_id)
        assert store.reads == 1, run_id
        assert sorted(r.v for r in out.collect()) == list(range(20)), run_id
    runs = {r.run_id for r in store.lineage().collect()}
    assert runs == {"killed", "resume"}
