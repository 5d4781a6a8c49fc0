"""Incremental ingest (SURVEY.md §2.9).

New transcript files land in a directory; ``ingest_available_now`` runs
a ``trigger(availableNow=True)`` Structured Streaming pass that drains
whatever arrived since the last streaming checkpoint and appends those
turns, exactly once, to a transcripts table partitioned by conversation
bucket. ``read_ingested`` reads that table back as plain transcripts.
No NLP stage runs here: turn offsets, coref and everything after them
need the whole conversation, so they stay in the batch pipeline.

Limit: a ``run_checkpointed`` resume over ``read_ingested`` does not
notice new turns in a bucket it already committed. It counts a bucket
as done once lineage holds a row for it and never compares the input
fingerprint recorded there, so after a second drain it serves those
buckets' old rows without a warning (ROADMAP direction 1). Until that
is fixed, give each resume over a changed table a fresh ``StageStore``,
or run ``run_pipeline`` over it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .. import schemas
from ..sources.checkpoints import BUCKET_COL, with_bucket


def ingest_available_now(
    spark: SparkSession,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    buckets: int = 32,
) -> None:
    """Drain all currently-available parquet files from ``input_dir`` into
    the bucketed transcripts table at ``table_dir``, exactly once (state
    in ``checkpoint_dir``), then stop. Re-running picks up only new files.
    """
    stream = (
        spark.readStream.schema(schemas.TRANSCRIPTS)
        .parquet(input_dir)
    )
    bucketed = with_bucket(stream, buckets)
    q = (
        bucketed.writeStream.format("parquet")
        .option("path", table_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy(BUCKET_COL)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_ingested(spark: SparkSession, table_dir: str):
    return spark.read.parquet(table_dir).drop(BUCKET_COL)
