"""Round-4 regression tests: ADVICE r3 fixes (coref tie determinism; the
checkpoint schema-guard tests moved to test_checkpoints.py) + VERDICT r3
directives (eval_diff storage release, two-level pr_curve,
segmentation-oracle gap semantics).
"""

from docopenie_spark.operators import classifier, coref, segment
from docopenie_spark.operators.ner import PRONOUN_TYPE


# --------------------------------------------- ADVICE: coref tie determinism

def test_coref_tie_on_offset_text_is_deterministic(spark):
    """Two mentions tying on (conv_id, offset, text) with different keys:
    plain and segmented paths must agree (key is the final tie-breaker in
    both window orderings, matching the per-block struct max)."""
    rows = [
        # tie: same text+offset, different entity types → different keys
        ("c1", "Acme", 10, "ORGANIZATION", "Acme"),
        ("c1", "Acme", 10, "LOCATION", "Acme"),
        # second mention for each so both clusters are emitted (>= 2)
        ("c1", "Acme", 40, "ORGANIZATION", "Acme"),
        ("c1", "Acme", 60, "LOCATION", "Acme"),
        # pronouns resolving against the tied antecedents, one in a later
        # offset block so the segmented path exercises the carry join
        ("c1", "it", 80, PRONOUN_TYPE, "it"),
        ("c1", "it", 9000, PRONOUN_TYPE, "it"),
    ]
    m = spark.createDataFrame(
        rows, "conv_id string, text string, offset long, entity_type string, name string"
    )
    plain = coref.clusters(m, hot_threshold=None)
    seg = coref.clusters(m, hot_threshold=1)  # force segmented everywhere
    assert plain.exceptAll(seg).isEmpty() and seg.exceptAll(plain).isEmpty()
    assert plain.count() > 0


# ------------------------------------------- VERDICT #3: eval_diff storage

def test_eval_diff_releases_shared_persists(spark):
    """After the query returns, the ONLY newly-persisted RDD is the
    returned (materialized) diff — the shared annotate() output and both
    pipeline variants' fan-out persists are freed (VERDICT r3 #4)."""
    import __spark_entry__ as entry

    jsc = spark.sparkContext._jsc
    before = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}
    out = entry._q_kg_eval_diff(spark, "/root/testdata/sf0.001")
    after = {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}
    new = after - before
    assert len(new) == 1, f"leaked persisted RDDs: {len(new)}"
    assert out.count() >= 0
    out.unpersist()


# --------------------------------------------- VERDICT #5: pr_curve shape

def _pr_expected(pairs):
    """Reference total-order curve computed in plain python."""
    s = sorted(pairs, key=lambda p: (-p[0], p[1]))
    out, run = [], 0.0
    for i, (c, l) in enumerate(s, start=1):
        run += l
        out.append([c, l, round(run / i, 6)])
    best = float("-inf")
    for rec in reversed(out):
        best = max(best, rec[2])
        rec.append(best)
    return sorted(map(tuple, out))


def test_pr_curve_matches_total_order_reference(spark):
    """Heavy ties: every (confidence, label) bucket holds many rows; the
    closed-form bucketed curve must equal the row-at-a-time reference."""
    pairs = [((i * 37) % 5 / 10.0, float((i % 3) == 0)) for i in range(200)]
    scored = spark.createDataFrame(pairs, "confidence double, label double")
    got = sorted(
        (r.confidence, r.label, r.precision, r.precision_smoothed)
        for r in classifier.pr_curve(scored).collect()
    )
    assert got == _pr_expected(pairs)


def test_pr_curve_plan_has_no_full_data_total_order(spark):
    """Plan shape: the per-row work is partitioned by the bucket key; the
    only single-partition exchange feeds the (aggregated) bucket table
    (VERDICT r3 #5 — the documented single-partition cliff is gone)."""
    pairs = [((i * 37) % 5 / 10.0, float((i % 3) == 0)) for i in range(50)]
    scored = spark.createDataFrame(pairs, "confidence double, label double")
    plan = classifier.pr_curve(scored)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(confidence" in plan, "row window not bucket-partitioned"
    assert "HashAggregate" in plan, "bucket pre-aggregation missing"


# ------------------------------------- segmentation gap/tiling semantics

def test_segment_turn_gap_after_closing_quote():
    """The oracle's tiling regex relies on these exact semantics: a
    terminator directly after a consumed closing quote belongs to NO
    sentence, and offsets keep addressing the original string."""
    text = 'alpha vector.". beta merge. gamma'
    got = segment.segment_turn(text)
    assert got == [
        (0, 'alpha vector."'),   # quote consumed, trailing '.' is a gap
        (16, "beta merge."),     # offset skips the gap + leading space
        (28, "gamma"),           # trailing fragment, no terminator
    ]
    for off, s in got:
        assert text[off : off + len(s)] == s


# ------------------------------------------- KbpDocPrinter equivalent

def test_doc_printer_sections(spark):
    """The human-readable dump (tools/doc_printer.py ≙
    KbpDocPrinter.scala:24-41) renders every section for a bounded
    conversation via pushdown-filtered collects."""
    import io
    import sys

    sys.path.insert(0, ".")
    from docopenie_spark import datagen
    from docopenie_spark.plans.pipeline import run_pipeline
    from tools.doc_printer import print_conversation

    t = datagen.transcripts_df(spark, 200)
    r = run_pipeline(spark, t)
    conv = t.select("conv_id").distinct().orderBy("conv_id").first().conv_id
    buf = io.StringIO()
    print_conversation(r, conv, out=buf)
    s = buf.getvalue()
    for section in ("Number of sentences:", "Text sample:",
                    "Extracted Sentences:", "Links:", "Coref Clusters:",
                    "Best Entity Mentions:"):
        assert section in s, section
    assert "conf:" in s  # at least one extraction printed
