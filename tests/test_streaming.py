"""availableNow incremental ingest (exactly-once, resume picks up only
new files) and the windowed_agg plan shape."""

from docopenie_spark import datagen
from docopenie_spark.streaming.incremental import ingest_available_now, read_ingested


def test_available_now_exactly_once(spark, tmp_path):
    inp = str(tmp_path / "in")
    tbl = str(tmp_path / "tbl")
    cp = str(tmp_path / "cp")

    t1 = datagen.transcripts_df(spark, 80)
    t1.write.mode("append").parquet(inp)
    ingest_available_now(spark, inp, tbl, cp, buckets=4)
    assert read_ingested(spark, tbl).count() == 80

    # re-run with no new data → no duplicates
    ingest_available_now(spark, inp, tbl, cp, buckets=4)
    assert read_ingested(spark, tbl).count() == 80

    # new file arrives → only the delta is appended
    datagen.transcripts_df(spark, 40, seed=7).write.mode("append").parquet(inp)
    ingest_available_now(spark, inp, tbl, cp, buckets=4)
    assert read_ingested(spark, tbl).count() == 120


def test_windowed_agg_plan_shape(spark):
    """The windowed aggregation must be the plan Spark should pick at
    100 TB: map-side partial aggregation before ONE shuffle on
    (window, key), no Python stage anywhere."""
    import __spark_entry__ as entry

    df = entry.queries()["windowed_agg"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan or "partial" in plan.lower()
    assert plan.count("Exchange") == 1
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert marker not in plan, marker
