"""Round-6 regression tests — VERDICT r5 directives (vector-free
embedding-LSH candidate shuffle + hot-bucket guard, broadcast IVF
quantizer, corpus-scale pr_curve quantization; the kg_eval_diff
non-vacuity test now lives in test_oracles.py) + ADVICE r5 items
(windowed_agg rounding-margin pin, bounded ivf_topk training sample).
"""

import contextlib
import io
import math
import re
from collections import Counter

import pytest

from pyspark.sql import functions as F

from docopenie_spark import datagen
from docopenie_spark.operators import classifier, similarity
from docopenie_spark.plans.evaluation import classifier_pr


# ------------------------------------------------ plan-shape machinery

def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _exchange_details(plan: str) -> list[str]:
    """Detail sections of every Exchange node in a formatted plan —
    each contains the node's `Input [n]: [...]` attribute list and its
    `Arguments: hashpartitioning(...)` keys."""
    secs = re.split(r"\n\n", plan)
    return [s for s in secs if re.match(r"\(\d+\) Exchange", s.strip())]


_VECTOR_COL = re.compile(r"\b(_v|_va|_vb|_cv|_qv|_av|embedding)#")


# --------------------- VERDICT #1: vector-free LSH candidate exchanges

def test_lsh_candidate_pairs_plan_is_vector_free(spark):
    """The candidate-pair subplan must never exchange an embedding: the
    bucket self-join, the window counts, and the pair dedup all run
    over (table, bucket, sub, id) rows only (minhash band-join shape,
    dedup.py). Round 5 shipped ``tables`` full vector copies here."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cand = similarity.lsh_candidate_pairs(emb, dims=64, max_bucket_size=64)
    exchanges = _exchange_details(_formatted_plan(cand))
    assert exchanges, "candidate plan unexpectedly shuffle-free"
    for sec in exchanges:
        assert not _VECTOR_COL.search(sec), f"vector in candidate exchange:\n{sec}"


def test_cosine_neardup_lsh_bucket_exchange_is_vector_free(spark):
    """In the full near-dup plan the ONLY exchanges carrying vectors are
    the per-id join-backs (linear, keyed by unique id); every exchange
    partitioned on the bucket key is slim."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = similarity.cosine_neardup_lsh(emb, 0.8, dims=64)
    for sec in _exchange_details(_formatted_plan(out)):
        if "bucket" in sec:
            assert not _VECTOR_COL.search(sec), f"vector in bucket exchange:\n{sec}"


def _skewed_corpus(spark, n_hot=300, n_cold=200, dims=32):
    """A correlated embedding cluster (VERDICT r5 #7): ``n_hot`` near-
    identical vectors land in ONE hyperplane bucket per table; the cold
    rest is deterministic pseudo-noise."""
    import numpy as np

    rng = np.random.RandomState(5)
    base = rng.randn(dims)
    rows = [
        (i, (base + 1e-4 * rng.randn(dims)).tolist()) for i in range(n_hot)
    ] + [
        (n_hot + j, rng.randn(dims).tolist()) for j in range(n_cold)
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_hot_bucket_guard_bounds_candidates_and_discloses_drops(spark):
    """Skew stress: 300 near-identical vectors = one hot bucket whose
    unguarded candidate set is quadratic (~45k pairs). The guard
    re-hashes, then DROPS the sub-buckets the refinement cannot split
    (near-identical vectors agree on every extra plane), bounding the
    candidate set — and the dropped groups are enumerable, not silent."""
    corpus = _skewed_corpus(spark)
    unguarded = similarity.lsh_candidate_pairs(
        corpus, dims=32, max_bucket_size=None
    ).count()
    assert unguarded >= 300 * 299 / 2, "skew fixture lost its hot bucket"
    guarded = similarity.lsh_candidate_pairs(
        corpus, dims=32, max_bucket_size=40
    )
    g = guarded.count()
    assert g < unguarded / 10, f"guard did not bound the blowup: {g}"
    dropped = similarity.lsh_dropped_buckets(
        corpus, dims=32, max_bucket_size=40
    ).collect()
    assert dropped, "drops must be disclosed"
    assert all(r.n > 40 for r in dropped)
    # guarded candidates are a subset — the guard only removes pairs
    gset = {(r.id_a, r.id_b) for r in guarded.collect()}
    useg = {(r.id_a, r.id_b) for r in similarity.lsh_candidate_pairs(
        corpus, dims=32, max_bucket_size=None).collect()}
    assert gset <= useg


def test_hot_bucket_guard_is_identity_on_cold_corpora(spark):
    """With no bucket over the cap the guarded path emits EXACTLY the
    unguarded pair set (sub = 0 everywhere) — the default cap cannot
    change small-corpus / oracle behavior."""
    import __spark_entry__ as entry

    corpus = entry._neardup_planted_corpus(spark, "/root/testdata/sf0.001")
    a = {(r.id_a, r.id_b, r.cosine) for r in similarity.cosine_neardup_lsh(
        corpus, 0.8, dims=64, max_bucket_size=None).collect()}
    b = {(r.id_a, r.id_b, r.cosine) for r in similarity.cosine_neardup_lsh(
        corpus, 0.8, dims=64).collect()}
    assert a == b and b


# --------------------- VERDICT #2: broadcast-table IVF quantizer

def test_ivf_cells_match_python_reference(spark):
    """The broadcast quantizer's cells equal a pure-Python argmin of the
    same squared-L2 fold, lowest cell winning ties: corpus rows get one
    cell, queries their ``n_probe`` nearest by (distance, cell), and
    ivf_topk's output equals the Python top-k over those cells. The
    last centroid duplicates the first, so ties really occur."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = _vectors(emb)
    cents = [vecs[i] for i in sorted(vecs) if i % 37 == 0]
    cents.append(cents[0])
    tab = similarity.centroids_table(spark, cents)
    corpus_cells = {r._id: {r.cell} for r in similarity._broadcast_cells(
        emb, tab, "embedding", "vec_id").collect()}
    assert corpus_cells == {i: set(_ref_cells(v, cents, 1))
                            for i, v in vecs.items()}
    assert len(cents) - 1 not in set().union(*corpus_cells.values())

    qs = emb.where(F.col("vec_id") % 10 == 0)
    probe = {}
    for r in similarity._broadcast_cells(
            qs, tab, "embedding", "vec_id", n_probe=2).collect():
        probe.setdefault(r._id, set()).add(r.cell)
    ref_probe = {i: set(_ref_cells(vecs[i], cents, 2)) for i in probe}
    assert probe == ref_probe and {0, len(cents) - 1} in ref_probe.values()

    got = {(r.query_id, r.vec_id, round(r.cosine, 9)) for r in similarity.ivf_topk(
        emb, qs, k=5, n_probe=2, centroids=cents).collect()}
    assert got == _ref_topk(vecs, probe, corpus_cells, 5) and got


def test_ivf_default_training_sample_is_bounded(spark, monkeypatch):
    """ADVICE r5: ivf_topk(centroids=None) must not silently fit k-means
    over the FULL corpus at scale — above IVF_TRAIN_MAX_ROWS the fit
    runs on a deterministic sample."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    monkeypatch.setattr(similarity, "IVF_TRAIN_MAX_ROWS", 100)
    seen = {}
    real = similarity.kmeans_centroids

    def spy(corpus, n_centroids, vec_col, sample_fraction=None):
        seen["frac"] = sample_fraction
        return real(corpus, n_centroids, vec_col, sample_fraction=sample_fraction)

    monkeypatch.setattr(similarity, "kmeans_centroids", spy)
    out = similarity.ivf_topk(
        emb, emb.where(F.col("vec_id") < 2), k=1, n_centroids=4
    )
    assert out.count() >= 0
    assert seen["frac"] == pytest.approx(100 / n)


# --------------------- VERDICT #6: corpus-scale pr_curve quantization

def test_classifier_pr_quantizes_continuous_scores_by_default(spark):
    """classifier_pr (the corpus-scale eval entrypoint) bounds the
    bucket table by default under CONTINUOUS LR-style confidences and
    equals the explicit quantize=4 curve; the plan keeps the bucketed
    shape (no full-data total order)."""
    pairs = [(1.0 / (3 + i * 7 % 97), float(i % 3 == 0)) for i in range(300)]
    scored = spark.createDataFrame(pairs, "confidence double, label double")
    got = sorted(map(tuple, classifier_pr(scored).collect()))
    want = sorted(map(tuple, classifier.pr_curve(scored, quantize=4).collect()))
    assert got == want and got
    confs = {r[0] for r in got}
    assert all(round(c, 4) == c for c in confs), "confidences not quantized"
    plan = classifier_pr(scored)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(confidence" in plan
    assert "HashAggregate" in plan


# --------------------- ADVICE: windowed_agg rounding-margin pin

def test_windowed_agg_group_sums_clear_rounding_boundaries():
    """The windowed_agg oracle compares round(sum(value), 4) across
    engines; per the float-oracle protocol that is only safe when no
    group sum sits near a 0.00005 half-boundary. Pin: event values are
    exact 2-decimal doubles, so every group sum is (mathematically) on
    the 1e-2 grid — a full 5e-5 from any boundary, 8 orders above the
    ~1e-12 cross-engine summation noise."""
    import duckdb

    con = duckdb.connect()
    for sf in ("0.001", "0.01"):
        path = f"/root/testdata/sf{sf}/events.parquet"
        off_grid = con.execute(
            f"SELECT count(*) FROM read_parquet('{path}') "
            "WHERE value <> round(value, 2)"
        ).fetchone()[0]
        assert off_grid == 0, f"sf{sf}: values are not exact 2-decimal"
        worst = con.execute(f"""
            WITH g AS (
              SELECT time_bucket(INTERVAL '10 minutes', ts) w, event_type,
                     sum(value) s
              FROM read_parquet('{path}') GROUP BY 1, 2)
            SELECT max(abs(s * 10000 - round(s * 10000))) FROM g
        """).fetchone()[0]
        assert worst < 1e-3, f"sf{sf}: a group sum drifted near a boundary"


# --------------- pure-Python references for the LSH and IVF backends

def _fold(xs) -> float:
    """0.0-seeded left fold in dim order: the op order of Spark's
    aggregate(zip_with(...)). numpy.dot adds in another order, and the
    builtin sum compensates from Python 3.12 on; either can flip a sign
    decision on a near-zero projection."""
    acc = 0.0
    for x in xs:
        acc += x
    return acc


def _vectors(df) -> dict:
    return {r.vec_id: r.v for r in df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")).collect()}


def _ref_signature(vec, plane_weights) -> int:
    return sum(2 ** p for p, w in enumerate(plane_weights)
               if _fold(x * wv for x, wv in zip(vec, w)) >= 0)


def _ref_buckets(vecs, dims, planes, tables, refine_planes=0) -> dict:
    """id -> (bucket in table 0 .. tables-1[, refined]), the refinement
    matrix at table index ``tables`` as in similarity.weights_row."""
    mats = [similarity._plane_weights(dims, planes, t) for t in range(tables)]
    if refine_planes:
        mats.append(similarity._plane_weights(dims, refine_planes, tables))
    return {i: tuple(_ref_signature(v, m) for m in mats) for i, v in vecs.items()}


def _spark_buckets(corpus, dims, planes, tables, refine_planes=0) -> dict:
    rows = similarity._sig_rows(
        corpus, dims, planes, tables, "embedding", "vec_id", refine_planes
    ).collect()
    out = {}
    for r in rows:
        b = out.setdefault(r._id, [None] * (tables + (1 if refine_planes else 0)))
        b[r.table] = r.bucket
        if refine_planes:
            b[tables] = r.refined
    return {i: tuple(b) for i, b in out.items()}


def _ref_cells(vec, cents, n_probe) -> list:
    """The ``n_probe`` nearest cells by (squared L2, cell)."""
    d = sorted((_fold((x - y) * (x - y) for x, y in zip(vec, c)), cell)
               for cell, c in enumerate(cents))
    return [cell for _, cell in d[:n_probe]]


def _ref_cos(a, b) -> float:
    def norm(v):
        return math.sqrt(_fold(x * x for x in v))
    return _fold(x * y for x, y in zip(a, b)) / (norm(a) * norm(b))


def _ref_topk(vecs, probe_keys, corpus_keys, k) -> set:
    """(query_id, vec_id, cosine) of the k best corpus rows sharing a
    join key with the query, ordered by cosine desc then vec_id."""
    out = set()
    for q, keys in probe_keys.items():
        cands = sorted((-_ref_cos(vecs[v], vecs[q]), v) for v in vecs
                       if v != q and corpus_keys[v] & keys)
        out |= {(q, v, round(-c, 9)) for c, v in cands[:k]}
    return out


def _table_keys(buckets, tables) -> dict:
    return {i: {(t, b[t]) for t in range(tables)} for i, b in buckets.items()}


def test_lsh_signatures_match_python_reference(spark):
    """Every vector's bucket per table, and its refinement signature,
    equal the Python fold over similarity._plane_weights (bit p = 2^p),
    and lsh_topk's output equals the Python top-k over those buckets."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    vecs = _vectors(emb)
    ref = _ref_buckets(vecs, 64, 12, 2, 6)
    assert _spark_buckets(emb, 64, 12, 2, 6) == ref
    assert len({b[0] for b in ref.values()}) > 100, "buckets degenerate"

    qs = emb.where(F.col("vec_id") % 50 == 0)
    keys = _table_keys(ref, 2)
    got = {(r.query_id, r.vec_id, round(r.cosine, 9)) for r in similarity.lsh_topk(
        emb, qs, dims=64, k=5).collect()}
    probe = {i: keys[i] for i in vecs if i % 50 == 0}
    assert got == _ref_topk(vecs, probe, keys, 5) and got


def test_lsh_weights_parity_through_hot_bucket_guard(spark):
    """The guard's refined signature (refinement matrix at table index
    ``tables``) splits hot buckets exactly as a Python replay of the
    guard over the reference buckets: same candidate pairs, same
    disclosed drops, on the skewed corpus where the refinement fires."""
    corpus = _skewed_corpus(spark)
    ref = _ref_buckets(_vectors(corpus), 32, 12, 2, 6)
    bn = Counter((t, b[t]) for b in ref.values() for t in range(2))
    groups = {}
    for i, b in ref.items():
        for t in range(2):
            sub = b[2] if bn[t, b[t]] > 40 else 0
            groups.setdefault((t, b[t], sub), []).append(i)
    pairs = {(a, b) for g in groups.values() if len(g) <= 40
             for a in g for b in g if a < b}
    drops = {(*key, len(g)) for key, g in groups.items() if len(g) > 40}

    got = {(r.id_a, r.id_b) for r in similarity.lsh_candidate_pairs(
        corpus, dims=32, max_bucket_size=40).collect()}
    assert got == pairs
    dropped = {(r.table, r.bucket, r.sub, r.n) for r in similarity.lsh_dropped_buckets(
        corpus, dims=32, max_bucket_size=40).collect()}
    assert dropped == drops and drops
    assert any(k[2] != 0 for k in groups), "refinement never fired"


def test_broadcast_weights_plan_exchanges_stay_slim(spark):
    """The candidate exchanges must carry neither vectors NOR the
    weights matrix — the wmat column attaches map-side via a broadcast
    crossJoin and is projected away with the embedding before anything
    shuffles."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cand = similarity.lsh_candidate_pairs(emb, dims=64, max_bucket_size=64)
    exchanges = _exchange_details(_formatted_plan(cand))
    assert exchanges
    for sec in exchanges:
        assert not _VECTOR_COL.search(sec), f"vector in exchange:\n{sec}"
        assert "wmat#" not in sec, f"weights matrix in exchange:\n{sec}"


def test_broadcast_signature_survives_planes_32(spark):
    """Regression (round-6 review): bit 31 as pow(2,i).cast('int')
    overflowed int32 — ANSI raises CAST_OVERFLOW, non-ANSI silently
    corrupts the bucket. Signatures accumulate LONG bits: at planes=32
    every bucket equals the Python reference, bit 31 included, and
    lsh_topk finds the planted duplicates the reference finds."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 10 == 0)
    # planted exact duplicates guarantee bucket collisions at ANY plane
    # count (32 planes over ~1k vectors otherwise isolates every row)
    corpus = emb.unionByName(
        qs.withColumn("vec_id", F.col("vec_id") + F.lit(1 << 20))
    )
    vecs = _vectors(corpus)
    ref = _ref_buckets(vecs, 64, 32, 1)
    assert _spark_buckets(corpus, 64, 32, 1) == ref
    assert any(b[0] >= 2 ** 31 for b in ref.values()), "bit 31 never set"

    keys = _table_keys(ref, 1)
    got = {(r.query_id, r.vec_id, round(r.cosine, 9)) for r in similarity.lsh_topk(
        corpus, qs, dims=64, k=2, planes=32, tables=1).collect()}
    probe = {i: keys[i] for i in vecs if i < (1 << 20) and i % 10 == 0}
    assert got == _ref_topk(vecs, probe, keys, 2) and got


def test_hot_bucket_guard_with_refinement_disabled(spark):
    """Regression (round-6 review): refine_planes=0 with a cap crashed
    on the missing `refined` column. Now it means 'drop oversized
    buckets whole' — still bounded, still disclosed, no crash."""
    corpus = _skewed_corpus(spark)
    guarded = similarity.lsh_candidate_pairs(
        corpus, dims=32, max_bucket_size=40, refine_planes=0
    ).count()
    unguarded = similarity.lsh_candidate_pairs(
        corpus, dims=32, max_bucket_size=None
    ).count()
    assert guarded < unguarded / 10
    dropped = similarity.lsh_dropped_buckets(
        corpus, dims=32, max_bucket_size=40, refine_planes=0
    ).collect()
    assert dropped and all(r.sub == 0 for r in dropped)
