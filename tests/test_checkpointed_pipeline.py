"""Resumable full-pipeline runs: resumed ≡ fresh, re-run is a no-op."""

import re

import pyspark.sql.functions as F
import pytest

from docopenie_spark import datagen
from docopenie_spark.plans.checkpointed import run_checkpointed
from docopenie_spark.plans.pipeline import run_pipeline
from docopenie_spark.sources.checkpoints import StageStore, schema_fingerprint


def _norm(df):
    return df.select("conv_id", "turn_idx", "sent_num", "subj", "pred", "obj", "extractor")


def test_checkpointed_equals_in_memory(spark, tmp_path):
    t = datagen.transcripts_df(spark, 160)
    fresh = _norm(run_pipeline(spark, t).triples)
    store = StageStore(spark, str(tmp_path / "cp"), buckets=4)
    cp = _norm(run_checkpointed(spark, t, store, run_id="r1"))
    assert cp.exceptAll(fresh).isEmpty()
    assert fresh.exceptAll(cp).isEmpty()


def test_mid_run_kill_then_resume(spark, tmp_path):
    """Simulate a run killed mid-way: the annotated stage finished only
    half its buckets; the resumed run must produce the identical triple
    set."""
    from docopenie_spark.operators import assembly, fused
    from docopenie_spark.plans.pipeline import default_dictionaries

    t = datagen.transcripts_df(spark, 160)
    fresh = _norm(run_pipeline(spark, t).triples)

    store = StageStore(spark, str(tmp_path / "cp"), buckets=4)
    # "killed" first run: only buckets 0-1 of the first stage completed
    fn, gz, ln = default_dictionaries()
    annotated = fused.parse_extract_annotate(
        assembly.with_turn_offsets(t), fn, gz, ln
    )
    store.write_stage("annotated", annotated, run_id="killed", only_buckets=[0, 1])
    assert store.done_buckets("annotated", schema_fingerprint(annotated.schema)) == [0, 1]

    resumed = _norm(run_checkpointed(spark, t, store, run_id="resume"))
    assert resumed.exceptAll(fresh).isEmpty()
    assert fresh.exceptAll(resumed).isEmpty()
    # lineage shows both runs contributed annotated buckets
    lin = store.lineage().where(F.col("stage") == "annotated").collect()
    assert {r.run_id for r in lin} == {"killed", "resume"}

    # a third invocation recomputes nothing (no new lineage rows)
    n_before = store.lineage().count()
    again = _norm(run_checkpointed(spark, t, store, run_id="noop"))
    assert again.count() == fresh.count()
    lineage_runs = {r.run_id for r in store.lineage().collect()}
    assert "noop" not in lineage_runs
    assert store.lineage().count() == n_before


def test_annotated_checkpoint_in_the_old_layout_is_recomputed(spark, tmp_path):
    """``annotated`` buckets committed in ANNOTATED's earlier layout (an
    ``e_len`` column, and null ``e_text`` on 's' rows whose text was
    rebuilt from the turn table) must not be read back: the schema guard
    recomputes every bucket, and the triples equal a fresh run's."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from docopenie_spark import schemas
    from docopenie_spark.operators import assembly, fused
    from docopenie_spark.plans.pipeline import default_dictionaries

    t = datagen.transcripts_df(spark, 160)
    fresh = _norm(run_pipeline(spark, t).triples)

    ann = fused.parse_extract_annotate(
        assembly.with_turn_offsets(t), *default_dictionaries()
    )
    is_s = F.col("row_kind") == "s"
    cols = ann.columns
    at = cols.index("e_offset") + 1
    old_cols = cols[:at] + ["e_len"] + cols[at:]
    old = ann.select(
        *[F.when(~is_s, F.col(c)).alias(c) if c == "e_text" else c for c in cols],
        F.when(is_s, F.length("e_text")).cast("int").alias("e_len"),
    ).select(*old_cols)
    new = schemas.ANNOTATED.fields
    old_layout = StructType(new[:at] + [StructField("e_len", IntegerType())] + new[at:])
    assert schema_fingerprint(old.schema) == schema_fingerprint(old_layout)
    assert old.where(is_s & F.col("e_text").isNotNull()).isEmpty()

    store = StageStore(spark, str(tmp_path / "cp"), buckets=4)
    store.write_stage("annotated", old, run_id="old")
    assert store.done_buckets("annotated", schema_fingerprint(old.schema)) == [0, 1, 2, 3]

    resumed = _norm(run_checkpointed(spark, t, store, run_id="resume"))
    assert resumed.exceptAll(fresh).isEmpty()
    assert fresh.exceptAll(resumed).isEmpty()
    lin = store.lineage().where(F.col("stage") == "annotated").collect()
    assert sorted(r.partition_id for r in lin if r.run_id == "resume") == [0, 1, 2, 3]
    back = store.read_stage("annotated", ann.schema)
    assert not back.isEmpty()
    assert "e_len" not in back.columns
    assert back.where((F.col("row_kind") == "s") & F.col("e_text").isNull()).isEmpty()


class _Killed(Exception):
    pass


class _KilledInLinks(StageStore):
    """A store whose run dies inside the three-input ``links`` stage,
    after half of its buckets were written and committed."""

    def run_resumable(self, stage, inputs, fn, **kw):
        if stage == "links":
            self.write_stage(stage, fn(*inputs), run_id=kw["run_id"],
                             only_buckets=[0, 1])
            raise _Killed
        return super().run_resumable(stage, inputs, fn, **kw)


def test_kill_inside_multi_input_stage_then_resume(spark, tmp_path):
    t = datagen.transcripts_df(spark, 160)
    fresh = _norm(run_pipeline(spark, t).triples)
    root = str(tmp_path / "cp")
    with pytest.raises(_Killed):
        run_checkpointed(spark, t, _KilledInLinks(spark, root, buckets=4),
                         run_id="killed")
    store = StageStore(spark, root, buckets=4)
    killed = store.lineage().where(F.col("stage") == "links").collect()
    assert sorted(r.partition_id for r in killed) == [0, 1]

    resumed = _norm(run_checkpointed(spark, t, store, run_id="resume"))
    assert resumed.exceptAll(fresh).isEmpty()
    assert fresh.exceptAll(resumed).isEmpty()
    lin = store.lineage()
    # the stages before links were not recomputed; links only finished
    runs = {(r.stage, r.partition_id): r.run_id for r in lin.collect()}
    for stage in ("doc_chunks", "annotated", "clusters"):
        assert {runs[(stage, b)] for b in range(4)} == {"killed"}, stage
    assert [runs[("links", b)] for b in range(4)] == ["killed", "killed",
                                                      "resume", "resume"]


def test_lineage_records_one_input_fingerprint_per_input(spark, tmp_path):
    t = datagen.transcripts_df(spark, 160)
    store = StageStore(spark, str(tmp_path / "cp"), buckets=4)
    run_checkpointed(spark, t, store, run_id="r1")
    n_inputs = {"doc_chunks": 1, "annotated": 1, "clusters": 1, "links": 3,
                "best_mentions": 2, "best_mentions_expanded": 3, "triples": 2}
    rows = store.lineage().where(F.col("row_count") > 0).collect()
    assert {r.stage for r in rows} == set(n_inputs)
    for r in rows:
        parts = r.input_fingerprint.split(",")
        assert len(parts) == n_inputs[r.stage], r
        assert all(re.fullmatch(r"[0-9a-f]+:[0-9a-f]+", p) for p in parts), r


def test_metrics_recorded(spark, tmp_path):
    t = datagen.transcripts_df(spark, 80)
    store = StageStore(spark, str(tmp_path / "cp"), buckets=4)
    run_checkpointed(spark, t, store, run_id="m1")
    m = store.metrics().collect()
    stages = {r.stage for r in m}
    assert "annotated" in stages and "triples" in stages
    assert {r.stage for r in m if r.metric == "wall_sec"} == {
        "doc_chunks", "annotated", "clusters", "links", "best_mentions",
        "best_mentions_expanded", "triples",
    }
    assert all(r.value >= 0 for r in m)


def test_disk_only_storage_level_same_triples(spark):
    """storage_level='DISK_ONLY' (the executor-mode scaling setting) must
    not change results — only where the persisted fan-out points live."""
    from docopenie_spark import datagen
    from docopenie_spark.plans.pipeline import run_pipeline

    t = datagen.transcripts_df(spark, 160)
    a = run_pipeline(spark, t).triples
    b = run_pipeline(spark, t, storage_level="DISK_ONLY").triples
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert a.count() == b.count() > 0
