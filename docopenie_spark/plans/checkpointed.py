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

The stages are built exactly as run_pipeline builds them by default
(coref's hot-conversation split off). A bucket committed under another
output schema, such as an `annotated` table written before its layout
changed, counts as not done and is recomputed (the store's schema
guard), never read back in the old shape.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession

from .. import datagen
from ..sources.checkpoints import StageStore
from .pipeline import _stage_graph


def run_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    store: StageStore,
    run_id: str | None = None,
) -> DataFrame:
    """Full pipeline with per-stage checkpoint/lineage/metrics; returns the
    final triples table (read from its checkpoint)."""
    run_id = run_id or uuid.uuid4().hex[:12]

    def stage(name, fn, *inputs):
        return store.run_resumable(name, list(inputs), fn, run_id=run_id)

    triples = _stage_graph(stage, transcripts, None, datagen.gazetteer_rows()).triples
    store.record_metric(run_id, "triples", "row_count", triples.count())
    return triples
