"""The native (zero-Python) coref must equal the pure-Python kernel
(``coref.cluster_conversation``, driven by ``pipeline_twin._clusters``)
row-for-row on the seeded corpus incl. the hot conversation — on the
plain one-window path, the hot-split path, and the segmented scan with
blocks small enough that every conversation crosses several of them."""

import json

import pyspark.sql.functions as F
import pytest

from docopenie_spark import datagen
from docopenie_spark.operators import assembly, coref, fused
from docopenie_spark.plans.pipeline import default_dictionaries

from pipeline_twin import _clusters


def _multiset(rows):
    return sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)


def _assert_equal(df, want):
    got = _multiset(r.asDict(recursive=True) for r in df.collect())
    assert got, "expected clusters"
    assert got == want, (
        f"spark={len(got)} twin={len(want)} rows; "
        f"spark-only {[r for r in got if r not in want][:3]}; "
        f"twin-only {[r for r in want if r not in got][:3]}"
    )


@pytest.fixture(scope="module")
def mentions(spark):
    """The production mention source (the fused pass's entity view) over
    the 400-turn fixture, and the twin's clusters over the same rows."""
    t = datagen.transcripts_df(spark, 400)
    fn, gz, ln = default_dictionaries()
    ann = fused.parse_extract_annotate(assembly.with_turn_offsets(t), fn, gz, ln)
    m = fused.split_entities(ann).cache()
    want = _multiset(_clusters([r.asDict() for r in m.collect()]))
    yield m, want
    m.unpersist()


def test_native_clusters_equal_python(mentions):
    m, want = mentions
    _assert_equal(coref.clusters(m), want)


def test_segmented_hot_path_equals_python(mentions):
    """VERDICT r2 #4: with the hot threshold forced to 1, EVERY
    conversation takes the segmented-scan path — output must still equal
    the Python kernel exactly."""
    m, want = mentions
    _assert_equal(coref.clusters(m, hot_threshold=1), want)


def test_segmented_carry_across_blocks_equals_twin(mentions):
    """At the default 8,192-char blocks every fixture conversation (the
    longest, conv_hot, is 4,589 chars) sits in one block, so the
    cross-block carry never runs. 128-char blocks put every
    conversation's mentions in several blocks: pronouns whose antecedent
    lies in an earlier block (or several blocks back) resolve only
    through the carry."""
    m, want = mentions
    block = 128
    spans = (m.groupBy("conv_id")
             .agg(F.expr(f"count(DISTINCT cast(offset / {block} as bigint))").alias("n"))
             .agg(F.min("n"), F.count("*")).first())
    assert spans[0] >= 3 and spans[1] > 1, spans
    resolved = coref._resolve_segmented(coref._with_keys(m), block_chars=block)
    _assert_equal(coref._assemble(resolved), want)
