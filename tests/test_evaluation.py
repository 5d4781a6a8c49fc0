"""Differential evaluation (EP1 step 5): changed-extraction diff +
link diff + the cross-variant text-equality invariant."""

import re

import pyspark.sql.functions as F
from pyspark.sql.types import StructType

from docopenie_spark import datagen, schemas
from docopenie_spark.operators.substitute import substituted_triples
from docopenie_spark.plans.evaluation import eval_diff, link_diff
from docopenie_spark.plans.pipeline import annotate, run_pipeline
from docopenie_spark.session import local_table
from pipeline_twin import _eval_diff, _substituted_triples


def test_eval_diff_baseline_vs_full(spark):
    t = datagen.transcripts_df(spark, 240)
    # baseline: rule-engine-only substitution (no linking/coref expansion);
    # comparison: the full pipeline — the reference's RULES vs COREF runs
    base = run_pipeline(spark, t, with_linking=False, with_coref_expansion=False)
    comp = run_pipeline(spark, t)
    d = eval_diff(base.triples, comp.triples, comp.sentences).cache()
    rows = d.collect()
    assert rows, "coref expansion must change at least one displayed arg"
    for r in rows:
        assert (r.arg1_changed == "YES") or (r.arg2_changed == "YES")
        if r.arg1_changed == "YES":
            assert r.comp_arg1 != r.base_arg1
        else:
            assert r.comp_arg1 == r.base_arg1
        assert r.sentence_text is not None
    # every changed pair keys back to exactly one extraction in each run
    n_dup = (
        d.groupBy("conv_id", "turn_idx", "sent_num", "rel", "base_arg1", "base_arg2")
        .count().where(F.col("count") > 2).count()
    )
    assert n_dup == 0


def test_eval_diff_shared_annotated_matches_independent_runs(spark):
    """VERDICT r2 #3: base/comp built from ONE annotate() pass must emit
    exactly the rows of two independent run_pipeline calls."""
    t = datagen.transcripts_df(spark, 240)
    indep = eval_diff(
        run_pipeline(spark, t, with_linking=False, with_coref_expansion=False).triples,
        run_pipeline(spark, t).triples,
    )
    ann = annotate(spark, t)
    base = run_pipeline(spark, t, with_linking=False,
                        with_coref_expansion=False, annotated=ann)
    comp = run_pipeline(spark, t, annotated=ann)
    shared = eval_diff(base.triples, comp.triples)
    assert shared.exceptAll(indep).isEmpty()
    assert indep.exceptAll(shared).isEmpty()
    assert shared.count() == indep.count() > 0


def test_eval_diff_identical_runs_is_empty(spark):
    t = datagen.transcripts_df(spark, 160)
    r = run_pipeline(spark, t)
    assert eval_diff(r.triples, r.triples).isEmpty()


def _folds(df) -> int:
    """Substitution folds in ``df``'s analyzed plan (before cached tables
    stand in for subtrees): the splice is the pipeline's one
    ``aggregate`` higher-order function."""
    return len(re.findall(r"\baggregate\(",
                          df._jdf.queryExecution().analyzed().toString()))


def test_eval_diff_over_one_raw_triple_set_folds_once(spark):
    """Two variants over one annotate() differ only in their display set,
    so eval_diff folds both sets in one pass; the same tables behind a
    select carry no substitution record and take the identity-key join,
    with the same rows."""
    t = datagen.transcripts_df(spark, 240)
    ann = annotate(spark, t)
    base = run_pipeline(spark, t, with_linking=False,
                        with_coref_expansion=False, annotated=ann)
    comp = run_pipeline(spark, t, annotated=ann)
    one = eval_diff(base.triples, comp.triples, comp.sentences)
    joined = eval_diff(base.triples.select("*"), comp.triples.select("*"),
                       comp.sentences)
    assert _folds(one) == 1
    assert _folds(joined) == 2
    assert one.schema == joined.schema
    assert one.exceptAll(joined).isEmpty() and joined.exceptAll(one).isEmpty()
    assert one.count() > 0


def _part(text, offset):
    return {"text": text, "offset": offset}


# the display-set columns substitution reads
_DISPLAY = "conv_id string, target struct<text:string, offset:long>, best_mention string"


def _bems(spark, rows):
    return local_table(spark, rows, StructType.fromDDL(_DISPLAY))


def test_eval_diff_one_pass_fans_out_duplicate_keys_like_the_join(spark):
    """Extractions A and B share the 8-column identity key at different
    offsets; only A's subject has a comparison mention. The join pairs
    each comp row with each base row of the key, so A's change shows
    against both base rows: 2 rows, not 1. C is substituted alike in
    both runs and drops out."""
    raw_rows = [
        ("c1", 0, 0, _part("he", 0), _part("told", 3), _part("him", 8), 0.9, "verb"),
        ("c1", 0, 0, _part("he", 16), _part("told", 19), _part("him", 24), 0.9, "verb"),
        ("c1", 1, 0, _part("Ada", 40), _part("met", 44), _part("Bob", 48), 0.5, "verb"),
    ]
    bem_b = [("c1", _part("Bob", 48), "Bob Stone")]
    bem_c = bem_b + [("c1", _part("he", 0), "Ada")]
    sent_rows = [("c1", 0, 0, "he told him and he told him"),
                 ("c1", 1, 0, "Ada met Bob")]
    raw = local_table(spark, raw_rows, schemas.TRIPLES_RAW)
    sents = local_table(spark, sent_rows, StructType.fromDDL(
        "conv_id string, turn_idx int, sent_num int, text string"))
    base = substituted_triples(raw, _bems(spark, bem_b))
    comp = substituted_triples(raw, _bems(spark, bem_c))

    one = eval_diff(base, comp, sents)
    assert _folds(one) == 1
    joined = eval_diff(base.select("*"), comp.select("*"), sents)
    got = sorted(tuple(r) for r in one.collect())
    assert got == sorted(tuple(r) for r in joined.collect())

    names = raw.schema.fieldNames()
    raw_d = [dict(zip(names, r)) for r in raw_rows]
    as_bem = lambda rows: [{"conv_id": c, "target": tg, "best_mention": b}
                           for c, tg, b in rows]
    twin = _eval_diff(_substituted_triples(raw_d, as_bem(bem_b)),
                      _substituted_triples(raw_d, as_bem(bem_c)),
                      [dict(zip(("conv_id", "turn_idx", "sent_num", "text"), r))
                       for r in sent_rows])
    assert got == sorted(tuple(r[c] for c in one.columns) for r in twin)
    assert got == [("c1", 0, 0, "Ada", "told", "him", "he", "him", "YES", "NO",
                    "verb", "he told him and he told him")] * 2


def test_eval_diff_one_pass_drops_null_keys_like_the_join(spark):
    """A null identity-key component matches nothing in the join, so a
    changed extraction with a null confidence is not in the diff."""
    ddl = ("conv_id string, turn_idx int, sent_num int, "
           "arg1 struct<text:string, offset:long>, rel struct<text:string, offset:long>, "
           "arg2 struct<text:string, offset:long>, confidence double, extractor string")
    raw = local_table(spark, [
        ("c1", 0, 0, _part("he", 0), _part("told", 3), _part("him", 8), None, "verb"),
        ("c1", 0, 1, _part("she", 20), _part("saw", 24), _part("it", 28), 0.7, "verb"),
    ], StructType.fromDDL(ddl))
    base = substituted_triples(raw, _bems(spark, []))
    comp = substituted_triples(raw, _bems(
        spark, [("c1", _part("he", 0), "Ada"), ("c1", _part("she", 20), "Eve")]))
    one = eval_diff(base, comp)
    assert _folds(one) == 1
    got = sorted(tuple(r) for r in one.collect())
    assert got == sorted(tuple(r) for r in eval_diff(base.select("*"),
                                                     comp.select("*")).collect())
    assert [(r[1], r[2], r[3]) for r in got] == [(0, 1, "Eve")]


def test_per_turn_text_equality_across_variants(spark):
    """The reference's require(baseSent.text == compSent.text)
    (EvaluationPrinter.scala:128): both variants must see IDENTICAL
    sentences under stable turn ordering."""
    t = datagen.transcripts_df(spark, 240)
    base = run_pipeline(spark, t, with_linking=False, with_coref_expansion=False)
    comp = run_pipeline(spark, t)
    a = base.sentences.select("conv_id", "turn_idx", "sent_num", "text")
    b = comp.sentences.select("conv_id", "turn_idx", "sent_num", "text")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_link_diff_tags_sources(spark):
    t = datagen.transcripts_df(spark, 240)
    r = run_pipeline(spark, t)
    full = r.links.cache()
    # the 'old' run: drop one entity id entirely; the diff must surface
    # every dropped link as BASELINE-only ... wait, dropped from NEW side
    pruned = full.where(F.col("id") != "ORG0000")
    d = link_diff(full, pruned).cache()
    assert d.where(F.col("source") == "NEW").isEmpty()
    base_only = d.where(F.col("source") == "BASELINE")
    assert base_only.count() == full.where(F.col("id") == "ORG0000").count()
    # identical runs → empty diff
    assert link_diff(full, full).isEmpty()
