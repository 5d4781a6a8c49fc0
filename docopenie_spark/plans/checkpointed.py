"""Checkpointed, resumable pipeline run (north rule axis B: "extraction
stages checkpoint per-partition with lineage and metrics tables so the
pipeline resumes mid-run without recomputation").

run_pipeline's stages (pipeline._stage_graph), each through
sources/checkpoints.StageStore.run_resumable: a conv_id-bucketed table
per stage, and a killed run leaves lineage rows for the buckets it
finished, so the next invocation recomputes ONLY missing buckets per
stage. Every stage input is filtered with the same bucket predicate so
partially-complete stages compose: bucket b of `triples` only ever
derives from bucket b of `annotated` (conv_id-functional bucketing).

Slim sentences are always on: the annotated checkpoint must compose
across buckets written by any earlier run, whatever its input size. The
coref hot gate is size-adaptive as in run_pipeline (parity-identical).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from .. import datagen
from ..sources.checkpoints import StageStore
from .pipeline import _stage_graph, adaptive_decisions


def run_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    store: StageStore,
    run_id: str | None = None,
) -> DataFrame:
    """Full pipeline with per-stage checkpoint/lineage/metrics; returns the
    final triples table (read from its checkpoint)."""
    run_id = run_id or uuid.uuid4().hex[:12]
    slim, hot_thr = adaptive_decisions(transcripts, slim_sentences=True)

    def stage(name, fn, *inputs):
        return store.run_resumable(name, list(inputs), fn, run_id=run_id)

    triples = _stage_graph(
        stage, transcripts, None, datagen.gazetteer_rows(), slim, hot_thr
    ).triples
    store.record_metric(run_id, "triples", "row_count", triples.count())
    return triples
