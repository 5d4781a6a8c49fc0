"""run_pipeline's construction (no Spark job), its plan-cache key, and
the one Spark path the NLP stages take in the driver queries, and one
containment join per table pair in linking and the classifier."""

import pytest
from pyspark.sql import functions as F

from docopenie_spark import datagen
from docopenie_spark.plans import pipeline as pl


def test_construction_starts_no_spark_job(spark, tmp_path):
    """Building annotate(), run_pipeline() and run_pipeline(annotated=)
    is plan construction only: no eager job sizes the input, over a
    parquet path the session has never read (so no plan-cache hit)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.Table.from_pandas(datagen.transcripts_pdf(240, seed=7),
                                        preserve_index=False),
                   path, coerce_timestamps="us")
    t = spark.read.parquet(path)
    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    ann = pl.annotate(spark, t)
    r = pl.run_pipeline(spark, t)
    r_ann = pl.run_pipeline(spark, t, annotated=ann)
    started = set(sc.statusTracker().getJobIdsForGroup(None)) - before
    try:
        assert not started, f"construction started Spark jobs {sorted(started)}"
    finally:
        r_ann.unpersist()
        r.unpersist()
        ann.unpersist()


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


def test_each_table_pair_takes_one_containment_join(spark):
    """A containment join explodes its span side over offset buckets
    (``explode(sequence(…))``). Linking's context explodes the arg spans
    once (cluster mentions inside the arg) and the sentences once (the
    arg and its coref siblings, one point table); the cluster-agreement
    feature explodes its target and best-entity spans once, and the
    training contexts the sentences once."""
    from docopenie_spark import schemas
    from docopenie_spark.operators import classifier as clf
    from docopenie_spark.operators import link

    def explodes(df):
        return df._jdf.queryExecution().analyzed().toString().count(
            "explode(sequence(")

    args = link.with_clean_arg(spark.createDataFrame(
        [("c1", "the Meridian", 0)], "conv_id string, text string, offset long"))
    clusters = spark.createDataFrame([], schemas.CLUSTERS)
    sentences = spark.createDataFrame([], schemas.SENTENCES)
    feats = clf.bem_features(spark.createDataFrame([], schemas.BEST_MENTIONS),
                             clusters, datagen.gazetteer_rows())
    assert explodes(link.arg_contexts(args, clusters, sentences)) == 2
    assert explodes(feats) == 1
    # over a feature table with no explode of its own
    plain = spark.createDataFrame([], feats.schema)
    assert explodes(clf.training_rows(plain, sentences)) == 1
