"""Round-6 regression tests — VERDICT r5 directives (vector-free
embedding-LSH candidate shuffle + hot-bucket guard, broadcast IVF
quantizer, schema-carried slim decision, corpus-scale pr_curve
quantization, kg_eval_diff oracle nonvacuity) + ADVICE r5 items
(windowed_agg rounding-margin pin, PNG decompression-bomb guard,
bounded ivf_topk training sample).
"""

import contextlib
import io
import re
import struct
import zlib

import pytest

from pyspark.sql import functions as F

from docopenie_spark import datagen
from docopenie_spark.operators import classifier, similarity
from docopenie_spark.operators.multimodal import _decode_png
from docopenie_spark.plans.evaluation import classifier_pr
from docopenie_spark.plans.pipeline import annotate, run_pipeline


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

def test_ivf_literal_vs_broadcast_parity(spark):
    """The two quantizer backends assign identical cells (same argmin,
    same tie order) so the top-k output is identical — exercised at a
    larger quantizer trained on a bounded sample (VERDICT r5 #2)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 50 == 0)
    cents = similarity.kmeans_centroids(
        emb, n_centroids=32, sample_fraction=0.5
    )
    lit = {(r.query_id, r.vec_id, round(r.cosine, 9)) for r in similarity.ivf_topk(
        emb, qs, k=5, n_probe=2, centroids=cents, quantizer="literal").collect()}
    bc = {(r.query_id, r.vec_id, round(r.cosine, 9)) for r in similarity.ivf_topk(
        emb, qs, k=5, n_probe=2, centroids=cents, quantizer="broadcast").collect()}
    assert lit == bc and lit


def test_ivf_auto_quantizer_switch():
    """auto = literal within codegen budget, broadcast above it."""
    small = [[0.0] * 8] * 16
    big = [[0.0] * 100] * ((similarity.LITERAL_QUANTIZER_MAX // 100) + 1)
    assert similarity._use_broadcast_quantizer(small, "auto") is False
    assert similarity._use_broadcast_quantizer(big, "auto") is True
    assert similarity._use_broadcast_quantizer(small, "broadcast") is True
    assert similarity._use_broadcast_quantizer(big, "literal") is False


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


# --------------------- VERDICT #4: schema-carried slim decision

def test_slim_decision_survives_transformed_annotated(spark):
    """The round-5 Python attribute died on ANY transformation of the
    annotated DataFrame, silently falling back to re-derivation; the
    column-metadata marker must survive filter/select and keep routing
    sentence text through the turns join."""
    t = datagen.transcripts_df(spark, 400)
    want = {tuple(x) for x in run_pipeline(spark, t).sentences.select(
        "conv_id", "turn_idx", "sent_num", "offset", "text").collect()}
    for slim in (True, False):
        ann = annotate(spark, t, slim_sentences=slim)
        transformed = ann.where(F.col("conv_id").isNotNull()).select(*ann.columns)
        r = run_pipeline(spark, t, annotated=transformed)
        got = {tuple(x) for x in r.sentences.select(
            "conv_id", "turn_idx", "sent_num", "offset", "text").collect()}
        assert got == want and got, f"slim={slim} lost sentence text"
        r.unpersist()
        ann.unpersist()


def test_slim_contradiction_detected_on_transformed_annotated(spark):
    t = datagen.transcripts_df(spark, 200)
    ann = annotate(spark, t, slim_sentences=True)
    transformed = ann.where(F.col("conv_id").isNotNull())
    with pytest.raises(ValueError, match="contradicts"):
        run_pipeline(spark, t, annotated=transformed, slim_sentences=False)
    ann.unpersist()


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


# --------------------- ADVICE: PNG decompression-bomb guard

def _png(w, h, idat, ctype=0):
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + b"\0\0\0\0"
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))


def test_png_absurd_dimensions_rejected_before_inflate():
    payload = _png(1 << 20, 1 << 20, zlib.compress(b"\x00" * 8))
    with pytest.raises(ValueError, match="outside decode bounds"):
        _decode_png(payload)


def test_png_oversized_stream_fails_at_cap_not_full_size():
    """A 2×2 gray PNG whose IDAT inflates to 10 MB must fail at the
    expected-size cap — decompressobj(max_length) stops at expected+1
    bytes, never materializing the bomb."""
    payload = _png(2, 2, zlib.compress(b"\x00" * 10_000_000))
    with pytest.raises(ValueError, match="length mismatch"):
        _decode_png(payload)


def test_png_undersized_stream_still_rejected():
    payload = _png(4, 4, zlib.compress(b"\x00" * 3))
    with pytest.raises(ValueError, match="length mismatch"):
        _decode_png(payload)


def test_png_valid_average_paeth_rows_decode():
    """The pixel-stepped Average/Paeth rewrite: a 3×2 RGB image filtered
    (row 0: Average, row 1: Paeth) decodes to the closed-form values of
    the per-byte reference recurrence."""
    import numpy as np

    px = np.arange(18, dtype=np.uint8).reshape(2, 3, 3) * 7 % 251
    # encode: filter 3 for row 0 (up = 0), filter 4 for row 1
    rows = []
    prev = np.zeros(9, dtype=np.int32)
    for y, f in ((0, 3), (1, 4)):
        cur = px[y].reshape(-1).astype(np.int32)
        enc = np.empty(9, dtype=np.uint8)
        for x in range(9):
            a = cur[x - 3] if x >= 3 else 0
            b = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            if f == 3:
                pred = (a + b) >> 1
            else:
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            enc[x] = (cur[x] - pred) & 0xFF
        rows.append(bytes([f]) + enc.tobytes())
        prev = cur
    payload = _png(3, 2, zlib.compress(b"".join(rows)), ctype=2)
    out = _decode_png(payload)
    assert out.shape == (2, 3, 3)
    assert (out == px).all()


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


# --------------------- VERDICT #3: kg_eval_diff oracle nonvacuity

def test_kg_eval_diff_nonvacuous_and_consistent(spark):
    """The oracled eval diff must exercise real differential semantics:
    nonempty, strictly smaller than the triple set (unchanged rows are
    filtered), both change-flag polarities consistent with the args."""
    import __spark_entry__ as entry

    out = entry._q_kg_eval_diff(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows, "eval diff vacuous on the injection corpus"
    total = entry._q_kg_end_to_end(spark, "/root/testdata/sf0.001").count()
    assert len(rows) < total
    for r in rows:
        assert (r.arg1_changed == "YES") == (r.comp_arg1 != r.base_arg1)
        assert (r.arg2_changed == "YES") == (r.comp_arg2 != r.base_arg2)
        assert r.arg1_changed == "YES" or r.arg2_changed == "YES"
        assert r.sentence_text
    assert any(r.arg1_changed == "YES" for r in rows)
    assert any(r.arg2_changed == "YES" for r in rows)
    out.unpersist()


# --------------- broadcast weights-table backend for the LSH family
# (the high-dims path hyperplane_signature's round-5 docstring promised,
# closing the same gap VERDICT r5 #2 closed for the IVF quantizer)

def test_lsh_weights_literal_vs_broadcast_parity(spark):
    """Identical buckets ⇒ identical top-k and near-dup output across
    the two signature backends (the broadcast row carries the SAME
    crc32 weight matrices the literal path embeds, and the projection
    expressions share op order)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 50 == 0)
    lit = {(r.query_id, r.vec_id, round(r.cosine, 9)) for r in similarity.lsh_topk(
        emb, qs, dims=64, k=5, weights="literal").collect()}
    bc = {(r.query_id, r.vec_id, round(r.cosine, 9)) for r in similarity.lsh_topk(
        emb, qs, dims=64, k=5, weights="broadcast").collect()}
    assert lit == bc and lit


def test_lsh_weights_parity_through_hot_bucket_guard(spark):
    """The guard's REFINED signature (the appended refinement matrix,
    table index = tables) must also agree across backends: guarded
    candidate sets and disclosed drops are identical on the skewed
    corpus where the refinement actually fires."""
    corpus = _skewed_corpus(spark)
    lit = {(r.id_a, r.id_b) for r in similarity.lsh_candidate_pairs(
        corpus, dims=32, max_bucket_size=40, weights="literal").collect()}
    bc = {(r.id_a, r.id_b) for r in similarity.lsh_candidate_pairs(
        corpus, dims=32, max_bucket_size=40, weights="broadcast").collect()}
    assert lit == bc
    dl = {(r.table, r.bucket, r.sub, r.n) for r in similarity.lsh_dropped_buckets(
        corpus, dims=32, max_bucket_size=40, weights="literal").collect()}
    db = {(r.table, r.bucket, r.sub, r.n) for r in similarity.lsh_dropped_buckets(
        corpus, dims=32, max_bucket_size=40, weights="broadcast").collect()}
    assert dl == db and dl


def test_lsh_auto_weights_switch():
    # tiny models stay literal (no broadcast row for toy corpora);
    # (tables*planes + refine) * dims over the MEASURED 1024-double
    # budget → broadcast (2× faster already at dims=64, see the
    # LITERAL_WEIGHTS_MAX comment)
    assert not similarity._use_broadcast_weights(8, 12, 2, 6, "auto")
    assert similarity._use_broadcast_weights(64, 12, 2, 6, "auto")
    assert similarity._use_broadcast_weights(64, 12, 2, 0, "broadcast")
    assert not similarity._use_broadcast_weights(8192, 12, 2, 0, "literal")
    with pytest.raises(ValueError):
        similarity._use_broadcast_weights(64, 12, 2, 0, "bogus")


def test_broadcast_weights_plan_exchanges_stay_slim(spark):
    """Under the broadcast backend the candidate exchanges must carry
    neither vectors NOR the weights matrix — the wmat column attaches
    map-side via a broadcast crossJoin and is projected away with the
    embedding before anything shuffles."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cand = similarity.lsh_candidate_pairs(
        emb, dims=64, max_bucket_size=64, weights="broadcast"
    )
    exchanges = _exchange_details(_formatted_plan(cand))
    assert exchanges
    for sec in exchanges:
        assert not _VECTOR_COL.search(sec), f"vector in exchange:\n{sec}"
        assert "wmat#" not in sec, f"weights matrix in exchange:\n{sec}"


def test_broadcast_signature_survives_planes_32(spark):
    """Regression (round-6 review): bit 31 as pow(2,i).cast('int')
    overflowed int32 — ANSI raises CAST_OVERFLOW, non-ANSI silently
    corrupts the bucket. The broadcast backend now accumulates LONG
    bits; parity with the literal backend (whose 2**p literals
    auto-promote) must hold at planes=32."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 10 == 0)
    # planted exact duplicates guarantee bucket collisions at ANY plane
    # count (32 planes over ~1k vectors otherwise isolates every row)
    corpus = emb.unionByName(
        qs.withColumn("vec_id", F.col("vec_id") + F.lit(1 << 20))
    )
    lit = {(r.query_id, r.vec_id) for r in similarity.lsh_topk(
        corpus, qs, dims=64, k=2, planes=32, tables=1, weights="literal").collect()}
    bc = {(r.query_id, r.vec_id) for r in similarity.lsh_topk(
        corpus, qs, dims=64, k=2, planes=32, tables=1, weights="broadcast").collect()}
    assert lit == bc and lit


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
