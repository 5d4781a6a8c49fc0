"""The fused pass's sentence view must equal the pure segmentation
kernels composed on the driver (operators/fused.py parity contract)."""

from pyspark.sql import functions as F

from docopenie_spark import datagen
from docopenie_spark.functions import textnorm
from docopenie_spark.operators import assembly, fused
from docopenie_spark.operators.segment import segment_turn


def _direct_sentences(turns):
    """segment_turn + the P1 filter over the normalized turn text,
    composed on the driver."""
    rows = turns.select(
        "conv_id", "turn_idx", "turn_offset",
        textnorm.normalize_inline_ws(textnorm.asciify(F.col("text"))).alias("text"),
    ).collect()
    return {
        (r.conv_id, r.turn_idx, i, r.turn_offset + local, s)
        for r in rows
        for i, (local, s) in enumerate(segment_turn(r.text))
        if fused._keep(s)
    }


def test_reconstructed_sentences_equal_direct(spark):
    """'s' rows carry only offset+length; split_sentences(annotated,
    turns) must reproduce the exact sentence text the kernels emit
    (sentences are exact substrings of the normalized turn text)."""
    from docopenie_spark.plans.pipeline import default_dictionaries

    t = datagen.transcripts_df(spark, 240)
    turns = assembly.with_turn_offsets(t)
    fn, gz, ln = default_dictionaries()
    direct = _direct_sentences(turns)
    assert direct

    ann = fused.parse_extract_annotate(turns, fn, gz, ln)
    rebuilt = fused.split_sentences(ann, turns).collect()
    assert len(rebuilt) == len(direct)
    assert {tuple(r) for r in rebuilt} == direct
    # inline-text mode still works without the turn table
    ann_t = fused.parse_extract_annotate(turns, fn, gz, ln, emit_sentence_text=True)
    inline = fused.split_sentences(ann_t).collect()
    assert len(inline) == len(direct)
    assert {tuple(r) for r in inline} == direct
