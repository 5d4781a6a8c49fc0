"""Round-5 regression tests: VERDICT r4 directives (pr_curve
quantization, fused-pass robustness fuzzing; the legacy
checkpoint-fingerprint tests moved to test_checkpoints.py, the
DuckDB oracle precondition tests to test_oracles.py).
"""

from pyspark.sql import functions as F

from docopenie_spark import datagen
from docopenie_spark.functions import textnorm
from docopenie_spark.operators import classifier, fused, segment, tokenize
from docopenie_spark.operators.assembly import with_turn_offsets


# ------------------------------------------ VERDICT: pr_curve quantize

def test_pr_curve_quantize_bounds_bucket_table(spark):
    """Continuous scores degenerate the bucket table to per-row;
    quantize=k bounds it. The curve must equal running pr_curve over
    pre-rounded scores (quantization IS pre-rounding, nothing more)."""
    n = 400
    scored = spark.range(n).select(
        (1.0 / (F.col("id") + 1)).alias("confidence"),
        (F.col("id") % 3 == 0).cast("double").alias("label"),
    )
    out = classifier.pr_curve(scored, quantize=2)
    assert out.count() == n
    n_buckets = out.select("confidence", "label").distinct().count()
    assert n_buckets <= 2 * 10 ** 2 + 2, "bucket table must be bounded by 10^k"

    pre_rounded = scored.withColumn("confidence", F.round("confidence", 2))
    want = classifier.pr_curve(pre_rounded)
    cols = ["confidence", "label", "precision", "precision_smoothed"]
    assert sorted(map(tuple, out.select(cols).collect())) == sorted(
        map(tuple, want.select(cols).collect())
    )


def test_pr_curve_unquantized_unchanged(spark):
    """quantize=None keeps the exact legacy output (the DuckDB oracle
    depends on it)."""
    scored = spark.range(50).select(
        ((F.col("id") % 7) / 7.0).alias("confidence"),
        (F.col("id") % 2).cast("double").alias("label"),
    )
    a = classifier.pr_curve(scored).orderBy("confidence", "label", "precision")
    b = classifier.pr_curve(scored, quantize=None).orderBy(
        "confidence", "label", "precision")
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


# ----------------------------------------- plan shape: NLP pass narrow

def test_fused_pass_adds_no_exchange_over_assembly(spark):
    """The salted turn-offset scan already partitions on (conv_id, salt);
    the fused segment+tokenize+extract+NER pass must ride that
    partitioning as a NARROW stage — zero additional shuffles between
    assembly and extraction (the 100 TB invariant: the only full-table
    exchange in the spine is the one balanced salted shuffle)."""
    t = datagen.transcripts_df(spark, 400)
    turns = with_turn_offsets(t)
    base = turns._jdf.queryExecution().executedPlan().toString()
    ann = fused.parse_extract_annotate(turns, set(), set(), set())
    full = ann._jdf.queryExecution().executedPlan().toString()
    assert full.count("Exchange") == base.count("Exchange")
    assert "MapInPandas" in full


def test_train_classifier_perfect_on_separable(spark):
    """The reduction behind kg_bem_predictions: the production trainer
    must classify a linearly-separable training set perfectly, with
    saturated probabilities (so the 0/1 predictions are deterministic
    under float summation-order variation)."""
    rows = []
    # all modes of (person, agree) the corpus exhibits, amplified
    for i in range(30):
        for person, agree in [(1.0, 1.0), (1.0, 0.0), (1.0, -1.0),
                              (0.0, 0.0), (0.0, -1.0)]:
            label = 1.0 if (person == 1.0 and agree >= 0.0) else 0.0
            feat = {c: 0.0 for c in classifier.FEATURE_COLS}
            feat["f_is_person_rule"] = person
            feat["f_is_other_rule"] = 1.0 - person
            feat["f_coref_cluster_agrees"] = agree
            feat["f_ambiguous_candidate_count"] = 1.0 / (1 + i % 3)
            rows.append({"label": label, **feat})
    df = spark.createDataFrame(rows)
    model = classifier.train_classifier(df)
    scored = classifier.score(model, df)
    bad = scored.where(
        ((F.col("confidence") > 0.5).cast("double") != F.col("label"))
        | ((F.col("label") == 1.0) & (F.col("confidence") < 0.8))
        | ((F.col("label") == 0.0) & (F.col("confidence") > 0.2))
    ).count()
    assert bad == 0


# --------------------------- VERDICT: fused-pass pathological-turn fuzz

ADVERSARIAL_TURNS = [
    "",                                   # empty
    "   ",                                # whitespace only
    "....",                               # terminator-only run
    "?!?! .. !!",                         # terminator runs with spaces
    '"' * 10,                             # closing-quote-only
    "a" * 751,                            # one token past the P1 length cap
    ("word " * 149 + "end."),             # just under the cap, terminated
    "x" * 750,                            # exactly at the cap, no terminator
    "café naïve résumé jalapeño.",   # beyond asciify map
    "中文文本 没有 终止符",  # CJK
    "emoji \U0001f600 mid sentence. tail",
    "combining á chars étude here.",
    "tabs\tand\nnewlines\rmix. second sentence here",
    "'quoted start.' \"double.\" (paren.) [brack.]",
    "no terminator at all just words",
    "ends mid'apostrophe tok'",
    "\x00null\x01control\x02chars here.",
    "a.b.c.d.e.f.g",                      # terminator between every token
    ". leading terminator",
    "………",                 # ellipsis chars (asciify → ...)
]


def _assert_turn_invariants(text):
    """The per-turn invariants the reference guarantees by swallowing
    segmenter exceptions (Sentencer.scala:55-94): no exception escapes,
    and every offset indexes the normalized turn text exactly."""
    norm = textnorm.normalize_inline_ws_py(textnorm.asciify_py(text))
    assert len(norm) == len(text), "normalization must be length-preserving"
    for local, s in segment.segment_turn(norm):
        assert norm[local:local + len(s)] == s
        toks = tokenize.tokenize_sentence(s)
        for tok in toks:
            w, start = tok[tokenize.TOK], tok[tokenize.START]
            assert s[start:start + len(w)] == w


def test_fused_pass_survives_adversarial_turns_pure():
    for t in ADVERSARIAL_TURNS:
        _assert_turn_invariants(t)


def test_fused_pass_survives_adversarial_turns_hypothesis():
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @given(st.text(max_size=900))
    @settings(max_examples=300, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def run(text):
        _assert_turn_invariants(text)

    run()


def test_fused_pass_spark_end_to_end_on_adversarial_corpus(spark):
    """The actual Arrow pass over the adversarial corpus: no task death,
    sentence (offset, len) always substrings the normalized doc text."""
    rows = [
        (f"c{i % 4}", i // 4, "user", t, None, None)
        for i, t in enumerate(ADVERSARIAL_TURNS)
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp",
    )
    turns = with_turn_offsets(t)
    ann = fused.parse_extract_annotate(turns, set(), set(), set())
    sents = fused.split_sentences(ann).collect()
    norm_turn = {
        (r["conv_id"], r["turn_idx"]): (r["turn_offset"], r["text"])
        for r in turns.select(
            "conv_id", "turn_idx", "turn_offset",
            textnorm.normalize_inline_ws(
                textnorm.asciify(F.col("text"))).alias("text"),
        ).collect()
    }
    assert sents, "the near-cap terminated sentence must survive the P1 filter"
    for r in sents:
        off, txt = norm_turn[(r["conv_id"], r["turn_idx"])]
        local = r["offset"] - off
        assert txt[local:local + len(r["text"])] == r["text"]
