"""Segmentation offsets (T2) + tokenizer alignment (T3) + filters (P1/P2)."""

import pyspark.sql.functions as F

from docopenie_spark import datagen
from docopenie_spark.functions import textnorm
from docopenie_spark.operators import assembly, fused, segment, tokenize


def test_segment_turn_offsets_exact():
    text = "Alice met Bob. They talked for hours!  Then she left."
    segs = segment.segment_turn(text)
    assert [s for _, s in segs] == [
        "Alice met Bob.",
        "They talked for hours!",
        "Then she left.",
    ]
    for off, s in segs:
        assert text[off : off + len(s)] == s


def test_segment_trailing_fragment_and_quotes():
    text = 'He said "stop." and then nothing'
    segs = segment.segment_turn(text)
    assert segs[0][1] == 'He said "stop."'
    assert segs[-1][1] == "and then nothing"
    for off, s in segs:
        assert text[off : off + len(s)] == s


def test_sentence_filter_semantics(spark):
    # exact P1 semantics: len>750 drop; <3 whitespace runs drop
    df = spark.createDataFrame(
        [("one two three four",), ("a b c",), ("x" * 751 + " y z w",), ("tiny",)],
        "text string",
    )
    kept = [r.text for r in df.where(textnorm.sentence_keep("text")).collect()]
    assert kept == ["one two three four"]


def test_asciify_length_preserving(spark):
    s = "“smart” — quotes…and spaces"
    df = spark.createDataFrame([(s,)], "text string")
    out = df.select(textnorm.asciify("text").alias("t")).first().t
    assert len(out) == len(s)
    assert out == textnorm.asciify_py(s)
    assert '"smart" - quotes.and spaces' == out


def test_sentence_offsets_address_doc_text(spark):
    """Document offsets of the fused pass's (P1-filtered) sentences;
    unfiltered offsets are pinned on the kernel by
    test_segment_turn_offsets_exact."""
    from docopenie_spark.plans.pipeline import default_dictionaries

    t = datagen.transcripts_df(spark, 160)
    tw = assembly.with_turn_offsets(t)
    docs = assembly.doc_text(t)
    fn, gz, ln = default_dictionaries()
    s = fused.split_sentences(
        fused.parse_extract_annotate(tw, fn, gz, ln, emit_sentence_text=True)
    )
    assert not s.isEmpty()
    j = s.join(docs, "conv_id").select(
        "text",
        F.expr("substring(doc_text, cast(offset as int)+1, length(text))").alias("sliced"),
    )
    assert j.where(F.col("text") != F.col("sliced")).isEmpty()


def test_tokens_aligned_to_sentence():
    text = "Alice Navarro, founder of the Global Data Consortium, lives in Austin, TX."
    toks = tokenize.tokenize_sentence(text)
    for d in toks:
        assert text[d[tokenize.START] : d[tokenize.START] + len(d[tokenize.TOK])] == d[tokenize.TOK]
    # chunk array aligned 1:1 (ParsedKbpSentence.scala:18 invariant)
    assert len(toks) == len([d[tokenize.CHUNK] for d in toks])


def test_pos_sanity():
    toks = tokenize.tokenize_sentence("He said the report was finished on time.")
    tags = {d[tokenize.TOK]: d[tokenize.POS] for d in toks}
    assert tags["He"] == "PRP"
    assert tags["said"] == "VBD"
    assert tags["the"] == "DT"
    assert tags["report"] == "NN"  # DT context forces noun reading
    assert tags["on"] == "IN"
