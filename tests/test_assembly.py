"""Turn assembly + offset bookkeeping (SURVEY.md §2.1 S2).

The per-turn text-equality invariant here is the acceptance test elevated
by BASELINE.json from the reference's runtime require at
main/EvaluationPrinter.scala:128.
"""

import pyspark.sql.functions as F

from docopenie_spark import datagen
from docopenie_spark.operators import assembly

from pipeline_twin import _doc_texts


def _small(spark, n=240):
    return datagen.transcripts_df(spark, n)


def test_turn_offsets_are_prefix_sums(spark):
    t = _small(spark)
    rows = (
        assembly.with_turn_offsets(t)
        .where(F.col("conv_id") != "conv_hot")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r.conv_id, []).append(r)
    for conv, turns in by_conv.items():
        off = 0
        for r in turns:
            assert r.turn_offset == off, (conv, r.turn_idx)
            off += len(r.text) + len(assembly.SEP)
        assert turns[0].doc_len == off - len(assembly.SEP)


def test_per_turn_text_equality_invariant(spark):
    t = _small(spark)
    docs = spark.createDataFrame(list(_doc_texts(t.toPandas()).items()),
                                 "conv_id string, doc_text string")
    viol = assembly.turn_equality_violations(assembly.with_turn_offsets(t), docs)
    assert viol.isEmpty()


def test_salted_assembly_equals_plain(spark):
    t = _small(spark, 400)
    salted = assembly.doc_text_salted(t, group=3).collect()
    assert len(salted) == len({r.conv_id for r in salted})
    assert {r.conv_id: r.doc_text for r in salted} == _doc_texts(t.toPandas())


def test_hot_conversation_skew_exists(spark):
    # datagen puts ~10% of turns in conv_hot — the skew the salting handles
    t = _small(spark, 800)
    counts = {r.conv_id: r["count"] for r in t.groupBy("conv_id").count().collect()}
    total = sum(counts.values())
    assert counts["conv_hot"] / total == 0.1


def test_fabricated_metadata_turns(spark):
    """S6 (KbpDoc.scala:37-103 analogue): the gate synthesizes author and
    date turns that survive assembly (real offsets, invariant holds) and
    produce extractable metadata triples."""
    import pyspark.sql.functions as F

    from docopenie_spark.plans.pipeline import run_pipeline

    t = datagen.transcripts_df(spark, 80)
    fab = assembly.fabricated_metadata_turns(t)
    extra = fab.count() - t.count()
    n_convs = t.select("conv_id").distinct().count()
    assert extra == 2 * n_convs  # one author + one date turn per conv

    # the invariant must hold WITH fabricated turns in the doc
    viol = assembly.turn_equality_violations(
        assembly.with_turn_offsets(fab), assembly.doc_text_salted(fab)
    )
    assert viol.isEmpty()

    # trimmed conversations (first turn index != 0) still fabricate:
    # the anchor is min(turn_idx), not literal 0 (VERDICT r2 #8)
    trimmed = t.where(F.col("turn_idx") >= 3)
    fab_t = assembly.fabricated_metadata_turns(trimmed)
    n_convs_t = trimmed.select("conv_id").distinct().count()
    assert fab_t.count() - trimmed.count() == 2 * n_convs_t
    assert assembly.turn_equality_violations(
        assembly.with_turn_offsets(fab_t), assembly.doc_text_salted(fab_t)
    ).isEmpty()

    r = run_pipeline(spark, fab)
    meta = r.triples.where(F.col("pred").contains("written")).collect()
    assert meta, "fabricated sentences must yield metadata triples"
    assert any("written by" in m.pred for m in meta)
    # the pipeline fabricates nothing by itself
    r0 = run_pipeline(spark, t)
    assert r0.triples.where(F.col("pred").contains("written by")).isEmpty()
