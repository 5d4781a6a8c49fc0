"""Round-7 (optimization round) regression tests.

Every change this round is performance-only — these tests pin that the
restructured plans keep identical row-level semantics:

- hot-bucket guard: Window counts → groupBy().count() + join-back
  (VERDICT r6 #1). Plan shape: no Window node anywhere in the guarded
  candidate plan; a partial HashAggregate produces the counts. Row
  parity: the new guard columns (sub, _sn) equal the old window
  version's, computed here as an inline reference.
- ivf_topk(centroids=None): the full corpus.count() at plan
  construction became a bounded limit-probe (VERDICT r6 #4) —
  small-corpus behavior (fit on the full corpus) is unchanged.
- the fused pass emits Arrow RecordBatches directly (mapInArrow);
  parity with the split operators is already pinned by
  test_fused.py, here we pin the null/struct layout edge cases.
"""

import contextlib
import io
import re

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from docopenie_spark import datagen
from docopenie_spark.operators import fused, similarity


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _hot_corpus(spark):
    """300 near-identical vectors (one hot bucket family) + a spread
    background — same construction as the round-6 skew stress test."""
    base = [1.0, 0.5] * 16
    rows = []
    for i in range(300):
        rows.append((i, [x + (i % 7) * 1e-4 for x in base]))
    for i in range(300, 420):
        rows.append((i, [((i * 37 + d * 11) % 19) - 9.0 for d in range(32)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


# ------------------------- VERDICT r6 #1: guard counts without windows

def test_guarded_candidate_plan_has_no_window(spark):
    """With the cap set, the candidate plan must contain NO Window node
    (the old guard's per-bucket window count serialized the hottest
    bucket into one task) and must compute the counts via partial
    HashAggregate (map-side combine)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cand = similarity.lsh_candidate_pairs(emb, dims=64, max_bucket_size=64)
    plan = _formatted_plan(cand)
    assert "Window" not in plan, "guard still uses a window count"
    assert "HashAggregate" in plan


def test_guard_columns_match_window_reference(spark):
    """sub and _sn from the aggregated guard equal the old
    window-counted version row for row (the reference is computed here
    with the exact pre-round-7 expressions)."""
    e = similarity._sig_rows(
        _hot_corpus(spark), dims=32, planes=12, tables=2,
        vec_col="embedding", id_col="vec_id", refine_planes=6,
    )
    cap = 40
    new = similarity._guarded_sig_rows(e, cap)

    w = Window.partitionBy("table", "bucket")
    ref = e.withColumn("_bn", F.count(F.lit(1)).over(w)).withColumn(
        "sub",
        F.when(F.col("_bn") > cap, F.col("refined")).otherwise(F.lit(0)),
    )
    w2 = Window.partitionBy("table", "bucket", "sub")
    ref = ref.withColumn("_sn", F.count(F.lit(1)).over(w2))

    key = lambda r: (r["table"], r["bucket"], r["_id"])  # noqa: E731
    got = {key(r): (r["sub"], r["_sn"], r["_bn"]) for r in new.collect()}
    want = {key(r): (r["sub"], r["_sn"], r["_bn"]) for r in ref.collect()}
    assert got == want


def test_guard_reference_parity_without_refinement(spark):
    """refine_planes=0 path (no refined column): hot buckets keep
    sub = 0 and _sn = _bn — identical to the window version."""
    e = similarity._sig_rows(
        _hot_corpus(spark), dims=32, planes=12, tables=2,
        vec_col="embedding", id_col="vec_id", refine_planes=0,
    )
    new = similarity._guarded_sig_rows(e, 40)
    rows = new.collect()
    assert rows
    for r in rows:
        assert r["sub"] == 0
        assert r["_sn"] == r["_bn"]


# --------------------- VERDICT r6 #4: no full count in ivf_topk build

def test_ivf_small_corpus_trains_without_full_count(spark, monkeypatch):
    """On a corpus under IVF_TRAIN_MAX_ROWS the builder must fit on the
    FULL corpus (sample_fraction=None), deciding that from the bounded
    limit-probe — behavior identical to the old full-count version."""
    seen = {}
    orig = similarity.kmeans_centroids

    def spy(corpus, n_centroids=16, vec_col="embedding", seed=7,
            sample_fraction=None):
        seen["frac"] = sample_fraction
        return orig(corpus, n_centroids, vec_col, seed, sample_fraction)

    monkeypatch.setattr(similarity, "kmeans_centroids", spy)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 4)
    out = similarity.ivf_topk(emb, q, k=1, n_centroids=4)
    assert out.count() > 0
    assert seen["frac"] is None


# ---------------- best_mentions: rule-engine cogroup must appear ONCE

def test_best_mentions_single_cogroup(spark):
    """The one-pass projection (round 7) must leave exactly one
    FlatMapCoGroupsInPandas node in the plan — the round-6 two-branch
    union executed the Python rule engine once per branch."""
    from docopenie_spark.operators import assembly, bestmention, fused, ner
    from docopenie_spark.plans.pipeline import default_dictionaries

    t = datagen.transcripts_df(spark, 200)
    fn, gz, ln = default_dictionaries()
    gaz_rows = datagen.gazetteer_rows()
    turns = assembly.with_turn_offsets(t)
    ann = fused.parse_extract_annotate(
        turns, fn, gz | {r[0] for r in gaz_rows}, ln,
    )
    mentions = fused.split_entities(ann)
    ents = ner.entity_mentions(mentions)
    chunks = assembly.doc_chunks(t)
    bems = bestmention.best_mentions(ents, chunks, gaz_rows)
    # the CONSTRUCTED shape: one logical cogroup occurrence (the round-6
    # two-branch union referenced it twice). Asserted on the analyzed
    # plan, which is immune to session cache state — with content-shared
    # broadcasts (r7 item 13) a leaked cache from an earlier test can
    # canonically match a subtree here and the substituted
    # InMemoryRelation prints its own cached plan inside the formatted
    # tree, double-counting node names.
    analyzed = bems._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("FlatMapCoGroupsInPandas") == 1
    # and the physical plan executes it exactly once. Unpersisting every
    # DataFrame built here drops any cache entry an earlier test left
    # that is semantically equal to one of them, so none is substituted
    # into this plan, while unrelated tables stay cached. Count in the
    # numbered operator TREE (the first block) — the formatted details
    # section repeats every node name.
    for df in (t, turns, ann, mentions, ents, chunks, bems):
        df.unpersist(blocking=True)
    tree = _formatted_plan(bems).split("\n\n")[0]
    assert tree.count("FlatMapCoGroupsInPandas") == 1
    # and the merged projection still emits both path families
    kinds = {r.kind for r in bems.collect()}
    assert "identity" in kinds


# ----------------------------- fused pass Arrow-batch layout edge cases

def test_fused_arrow_null_struct_layout(spark):
    """'s' and 'e' rows carry NULL arg structs, 't' rows carry NULL
    entity fields — the columnar batch builder must produce real nulls
    (not empty structs) for every kind."""
    from docopenie_spark.operators import assembly
    from docopenie_spark.plans.pipeline import default_dictionaries

    t = datagen.transcripts_df(spark, 200)
    fn, gz, ln = default_dictionaries()
    ann = fused.parse_extract_annotate(
        assembly.with_turn_offsets(t), fn, gz, ln,
    ).collect()
    kinds = {r.row_kind for r in ann}
    assert kinds == {"s", "t", "e"}
    for r in ann:
        if r.row_kind == "t":
            assert r.arg1 is not None and r.rel is not None and r.arg2 is not None
            assert r.e_text is None and r.e_offset is None
        else:
            assert r.arg1 is None and r.rel is None and r.arg2 is None
        if r.row_kind == "s":
            assert r.e_text and r.e_text == r.e_text.strip()
            assert r.e_offset is not None and r.e_name is None
        if r.row_kind == "e":
            assert r.e_text is not None and r.e_name is not None


# --------------------------------------------- run_pipeline plan cache

def test_plan_cache_hit_reuses_plans_and_repersists(spark):
    """Two semantically identical invocations return the SAME lazy DAG
    (plan reuse — never data: the fan-out persists re-register empty
    after an unpersist, so every action recomputes from the inputs)."""
    from pyspark import StorageLevel

    from docopenie_spark.plans import pipeline as pl

    t1 = datagen.transcripts_df(spark, 160)
    r1 = pl.run_pipeline(spark, t1)
    n1 = r1.triples.count()
    r1.unpersist()
    assert all(df.storageLevel == StorageLevel.NONE
               for df in r1.persisted)

    # a FRESH DataFrame object with the same semantics must hit
    t2 = datagen.transcripts_df(spark, 160)
    assert t2 is not t1
    r2 = pl.run_pipeline(spark, t2)
    assert r2 is r1
    # the hit re-applied every persist registration
    assert all(df.storageLevel != StorageLevel.NONE
               for df in r2.persisted)
    # and the recomputation from inputs yields the same result
    assert r2.triples.count() == n1
    r2.unpersist()


def test_plan_cache_misses_on_different_input_or_args(spark):
    from docopenie_spark.plans import pipeline as pl

    t = datagen.transcripts_df(spark, 160)
    r_full = pl.run_pipeline(spark, t)
    assert pl.run_pipeline(spark, datagen.transcripts_df(spark, 168)) is not r_full
    assert pl.run_pipeline(spark, t, with_coref_expansion=False) is not r_full
    for r in (r_full,):
        r.unpersist()


# ------------------------------------------------- broadcast content sharing
#
# r7: a fresh sc.broadcast id pickled into a UDF closure made two
# otherwise identical Python-stage plans semantically UNEQUAL, so fresh
# annotate()/parse_extract_annotate subtrees missed both the plan cache
# and CacheManager's canonical lookup. content_broadcast shares the
# Broadcast by dictionary content; these pin the equality it restores.

def test_content_broadcast_identity_and_separation(spark):
    from docopenie_spark.session import content_broadcast

    sc = spark.sparkContext
    a = content_broadcast(sc, frozenset({"x", "y"}))
    b = content_broadcast(sc, frozenset({"y", "x"}))
    c = content_broadcast(sc, frozenset({"x", "z"}))
    assert a is b
    assert a is not c
    assert a.value == {"x", "y"} and c.value == {"x", "z"}
    # unhashable values share via an explicit key
    d = content_broadcast(sc, ["k"], key=("k",))
    e = content_broadcast(sc, ["ignored"], key=("k",))
    assert d is e and d.value == ["k"]


def test_fused_pass_plans_semantically_equal(spark):
    from docopenie_spark.operators import assembly, fused

    t = datagen.transcripts_df(spark, 120)
    turns = assembly.with_turn_offsets(t)
    mk = lambda: fused.parse_extract_annotate(
        turns, {"Ada"}, {"Springfield"}, {"Lovelace"})
    assert mk().sameSemantics(mk())


def test_annotate_plan_cache_hit_and_repersist(spark):
    from pyspark import StorageLevel
    from docopenie_spark.operators import assembly
    from docopenie_spark.plans import pipeline as pl

    t = datagen.transcripts_df(spark, 184)
    a1 = pl.annotate(spark, t)
    n1 = a1.count()
    a1.unpersist()
    a2 = pl.annotate(spark, t)
    assert a2 is a1  # identical invocation returns the same lazy plan
    # the hit re-registered the dropped persist (empty — recomputes)
    assert a2.storageLevel != StorageLevel.NONE
    assert a2.count() == n1
    # a different input misses
    assert pl.annotate(spark, datagen.transcripts_df(spark, 192)) is not a1
    assert pl.annotate(spark, assembly.fabricated_metadata_turns(t)) is not a1
    a2.unpersist()


def test_eval_diff_pipelines_hit_plan_cache_with_fresh_annotate(spark):
    from docopenie_spark.plans import pipeline as pl

    t = datagen.transcripts_df(spark, 200)
    a1 = pl.annotate(spark, t)
    r1 = pl.run_pipeline(spark, t, with_linking=False,
                         with_coref_expansion=False, annotated=a1)
    # a SECOND, freshly constructed annotate over the same input is the
    # same object (annotate cache), so the run_pipeline key short-circuits
    a2 = pl.annotate(spark, t)
    r2 = pl.run_pipeline(spark, t, with_linking=False,
                         with_coref_expansion=False, annotated=a2)
    assert r2 is r1
    r1.unpersist()
    a1.unpersist()
