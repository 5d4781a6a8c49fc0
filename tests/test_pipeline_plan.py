"""run_pipeline's size-adaptive decisions, its plan-cache key, and the
one Spark path the NLP stages take in the driver queries."""

import pytest
from pyspark.sql import functions as F

from docopenie_spark import datagen
from docopenie_spark.plans import pipeline as pl


def test_adaptive_decisions_both_branches(spark, monkeypatch):
    t = datagen.transcripts_df(spark, 200)
    n_turns, max_conv_turns = pl._input_stats(t)
    assert n_turns > 0 and max_conv_turns > 0
    bound = max_conv_turns * pl.COREF_MENTIONS_PER_TURN_BOUND

    # at/above both thresholds: slim sentences, hot detection on
    monkeypatch.setattr(pl, "SLIM_SENTENCE_THRESHOLD", n_turns)
    monkeypatch.setattr(pl, "COREF_HOT_THRESHOLD", bound - 1)
    assert pl.adaptive_decisions(t) == (True, bound - 1)

    # below both: inline sentence text, no conversation can be hot
    monkeypatch.setattr(pl, "SLIM_SENTENCE_THRESHOLD", n_turns + 1)
    monkeypatch.setattr(pl, "COREF_HOT_THRESHOLD", bound)
    assert pl.adaptive_decisions(t) == (False, None)

    # explicit values win over the input size
    assert pl.adaptive_decisions(t, True, "auto") == (True, None)
    assert pl.adaptive_decisions(t, None, 7) == (False, 7)
    # both explicit: the sizing job is skipped (no input is touched)
    assert pl.adaptive_decisions(None, False, None) == (False, None)


def test_annotate_and_run_pipeline_apply_adaptive_decisions(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")
    t = datagen.transcripts_df(spark, 200)
    n_turns, _ = pl._input_stats(t)
    for threshold, slim in ((n_turns, True), (n_turns + 1, False)):
        monkeypatch.setattr(pl, "SLIM_SENTENCE_THRESHOLD", threshold)
        ann = pl.annotate(spark, t, cache=False)
        assert ann.schema["e_text"].metadata == {"docopenie_slim": slim}
        r = pl.run_pipeline(spark, t, cache=False)
        # slim: sentence text is cut back out of the normalized turn text
        plan = r.sentences._jdf.queryExecution().optimizedPlan().toString()
        assert ("substring(" in plan) is slim


def test_plan_cache_keys_on_resolved_gazetteer_rows(spark):
    """The default gazetteer and the same rows passed explicitly build
    the same DAG: one cache entry, one set of persists."""
    t = datagen.transcripts_df(spark, 208)
    rows = datagen.gazetteer_rows()
    a1 = pl.annotate(spark, t)
    assert pl.annotate(spark, t, gazetteer_rows=rows) is a1
    r1 = pl.run_pipeline(spark, t, with_linking=False)
    assert pl.run_pipeline(spark, t, gazetteer_rows=rows, with_linking=False) is r1
    # different rows still miss
    assert pl.annotate(spark, t, gazetteer_rows=rows[:-1]) is not a1
    r1.unpersist()
    a1.unpersist()


@pytest.fixture(scope="module")
def sf_dir(spark, tmp_path_factory):
    """A 20-document documents.parquet: the only table these queries read."""
    d = tmp_path_factory.mktemp("sf")
    words = F.split(F.lit(
        "the merge window spark hash vector scan join order batch stream "
        "table sort key part small fast dup"), " ")
    spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.array_join(F.transform(
            F.sequence(F.lit(0), F.lit(29)),
            lambda j: F.element_at(words, ((j * 7 + F.col("id")) % 18 + 1).cast("int")),
        ), " ").alias("text"),
    ).write.parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize(
    "name", ["kg_segmentation", "kg_sentences", "kg_triples_raw"]
)
def test_nlp_queries_run_only_the_fused_arrow_pass(spark, sf_dir, name):
    """Segmentation, tokenization and extraction take ONE Spark path —
    the fused mapInArrow pass — with no per-stage mapInPandas hop. The
    only MapInPandas left is the seeded input generator
    (datagen.transcripts_df's ``gen``) that kg_sentences/kg_triples_raw
    read."""
    import __spark_entry__ as e

    df = e.queries()[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hops = [ln for ln in plan.splitlines() if "MapInPandas" in ln]
    assert all("MapInPandas gen(" in ln for ln in hops), hops
    assert "MapInArrow" in plan
    assert df.count() > 0
