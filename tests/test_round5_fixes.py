"""Round-5 regression tests: ADVICE r4 fixes (legacy checkpoint
fingerprints surfaced, annotate() slim-decision marker) + VERDICT r4
directives (pr_curve quantization, fused-pass robustness fuzzing).
"""

import shutil

import pytest

from pyspark.sql import functions as F

from docopenie_spark import datagen
from docopenie_spark.functions import textnorm
from docopenie_spark.operators import classifier, fused, segment, tokenize
from docopenie_spark.operators.assembly import with_turn_offsets
from docopenie_spark.plans.pipeline import annotate, run_pipeline
from docopenie_spark.sources.checkpoints import StageStore


# ------------------------------------ ADVICE: legacy null-fp checkpoints

def _null_out_fingerprints(spark, store, tmp_path):
    """Simulate a pre-guard checkpoint: rewrite lineage with schema_fp
    nulled (the column existed but the rows predate the guard)."""
    lin_path = store._lineage_path()
    lin = spark.read.parquet(lin_path)
    legacy = lin.withColumn("schema_fp", F.lit(None).cast("string"))
    tmp = str(tmp_path / "_legacy_lineage")
    legacy.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(lin_path)
    shutil.move(tmp, lin_path)


def test_legacy_null_fingerprint_trusted_but_warns(spark, tmp_path):
    """ADVICE r4: lineage rows with no recorded schema_fp used to count
    as done SILENTLY — the exact stale-column hazard the guard targets.
    They still count (pre-guard compatibility) but now emit a warning."""
    store = StageStore(spark, str(tmp_path / "ck"), buckets=4)
    src = spark.range(20).select(
        F.col("id").cast("string").alias("conv_id"), F.col("id").alias("v")
    )
    store.run_resumable("s", src, lambda d: d.select("conv_id", "v"))
    _null_out_fingerprints(spark, store, tmp_path)

    # same schema, different values: if the legacy buckets were NOT
    # trusted this fn would overwrite v with 99s
    with pytest.warns(UserWarning, match="predate the schema guard"):
        out = store.run_resumable(
            "s", src, lambda d: d.select("conv_id", F.lit(99).cast("long").alias("v"))
        )
    vals = {r.v for r in out.collect()}
    assert vals == set(range(20)), "legacy checkpoint must be read back, not recomputed"


def test_legacy_null_fingerprint_recomputed_when_untrusted(spark, tmp_path):
    store = StageStore(spark, str(tmp_path / "ck"), buckets=4)
    src = spark.range(20).select(
        F.col("id").cast("string").alias("conv_id"), F.col("id").alias("v")
    )
    store.run_resumable("s", src, lambda d: d.select("conv_id", "v"))
    _null_out_fingerprints(spark, store, tmp_path)

    assert store.done_buckets(
        "s", schema_fp="anything", trust_legacy=False
    ) == []
    out = store.run_resumable(
        "s", src, lambda d: d.select("conv_id", F.lit(99).cast("long").alias("v")),
        trust_legacy=False,
    )
    assert {r.v for r in out.collect()} == {99}, "untrusted legacy must recompute"


# ------------------------------------- ADVICE: annotate() slim marker

def test_annotate_records_slim_decision_and_pipeline_prefers_it(spark):
    t = datagen.transcripts_df(spark, 400)
    # force the AT-SCALE path at test scale: 's' rows carry no inline
    # text, so sentence text MUST come from the turns join. Before the
    # marker, run_pipeline re-derived slim=False from the small input and
    # read the (null) inline text.
    ann = annotate(spark, t, slim_sentences=True)
    assert ann.schema["e_text"].metadata == {"docopenie_slim": True}
    r_marked = run_pipeline(spark, t, annotated=ann)
    r_plain = run_pipeline(spark, t)
    got = {tuple(x) for x in r_marked.sentences.select(
        "conv_id", "turn_idx", "sent_num", "offset", "text").collect()}
    want = {tuple(x) for x in r_plain.sentences.select(
        "conv_id", "turn_idx", "sent_num", "offset", "text").collect()}
    assert got == want and got, "marker must route sentence text through the join"
    assert r_marked.triples.count() == r_plain.triples.count()
    r_marked.unpersist(); r_plain.unpersist(); ann.unpersist()


def test_annotate_marker_contradiction_raises(spark):
    t = datagen.transcripts_df(spark, 200)
    ann = annotate(spark, t, slim_sentences=False)
    with pytest.raises(ValueError, match="contradicts"):
        run_pipeline(spark, t, annotated=ann, slim_sentences=True)
    ann.unpersist()


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


# -------------------------- kg_ner_spans oracle is non-vacuous (DuckDB)

def test_ner_oracle_covers_every_classify_branch():
    """The external NER check is only as strong as its coverage: the
    DuckDB side alone must produce all four entity types AND merged
    multi-name spans at the smallest sf (guards against a datagen or
    injection change silently collapsing the oracle to one branch)."""
    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    sql = e.oracle_sql()["kg_ner_spans"]
    types = {r[0] for r in con.execute(
        f"SELECT DISTINCT entity_type FROM ({sql})").fetchall()}
    assert types == {"PERSON", "ORGANIZATION", "LOCATION", "OTHER"}
    merged = con.execute(
        f"SELECT count(*) FROM ({sql}) "
        "WHERE len(string_split(name, ' ')) > 1 "
        "AND name NOT IN ('Alice Navarro', 'Summit Research Group')"
    ).fetchone()[0]
    assert merged > 0, "adjacency-merged spans must be exercised"


# ----------------------------- kg_coref oracle non-vacuity (DuckDB only)

def test_coref_oracle_nonvacuous():
    """The T6 external check must actually exercise pronoun resolution
    (all three injected pronoun categories appear as cluster members)
    and multi-mention clustering, even at the smallest sf."""
    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    sql = e.oracle_sql()["kg_coref"]
    prons = dict(con.execute(
        f"SELECT mention_text, count(*) FROM ({sql}) "
        "WHERE mention_text IN ('he', 'it', 'they') GROUP BY 1"
    ).fetchall())
    assert set(prons) == {"he", "it", "they"}, prons
    n_clusters = con.execute(
        f"SELECT count(DISTINCT (conv_id, cluster_id)) FROM ({sql})"
    ).fetchone()[0]
    assert n_clusters > 20


# -------------------------- kg_linking oracle preconditions + coverage

def test_linking_oracle_preconditions_and_nonvacuity():
    """The T9/T10 oracle's closed form rests on two preconditions it
    must fail loudly on if datagen drifts: (a) 'meridian' is the ONLY
    ambiguous dictionary key (so doc_sim is provably 0 — the ambiguity
    semi-join selects nothing on this corpus), and (b) the oracle links
    both name-keyed (6.0) and alias-keyed (5.5) candidates and exercises
    the P7 strip."""
    import duckdb
    from collections import Counter

    import __spark_entry__ as e

    keys = Counter()
    for (_i, nm, aliases, _t, _inl, _c) in datagen.entity_dict_rows():
        keys[nm.lower()] += 1
        for a in aliases:
            keys[a.lower()] += 1
    assert {k for k, c in keys.items() if c > 1} == {"meridian"}
    assert not any(rep.lower() == "meridian"
                   for _p, rep in e._LINK_INJECT)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    sql = e.oracle_sql()["kg_linking"]
    n, n_ids, n_cleaned = con.execute(
        f"SELECT count(*), count(DISTINCT id), "
        f"sum(CASE WHEN text != clean_text THEN 1 ELSE 0 END) FROM ({sql})"
    ).fetchone()
    assert n > 20 and n_ids >= 5
    assert n_cleaned > 0, "P7 lead/trail strip must be exercised"
    # name- vs alias-keyed candidates both present: with inlinks <= 5000
    # the alias ceiling is 5.5 + 0.4*log10(5001) < 6.98 and every name
    # match scores >= 6.0, so the observed spread must straddle 6.75
    # (alias-only or name-only corpora would sit on one side)
    lo, hi = con.execute(
        f"SELECT min(score), max(score) FROM ({sql})").fetchone()
    assert lo < 6.75 < hi, (lo, hi)


# ----------------- kg_substitution oracle geometry + non-vacuity

def test_substitution_oracle_geometry_and_nonvacuity():
    """The T13 oracle's closed-form splice rests on: at most ONE bems
    target is contained in any argument span (NP runs disjoint within a
    turn, offsets disjoint across turns), so the greedy fold degenerates
    to a single splice. Verify on the actual corpus, and that real
    substitutions occur."""
    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    chain = e._linking_chain_sql()
    max_n = con.execute(chain + """
        , bems AS (SELECT DISTINCT conv_id, clean_offset AS m_off,
                   length(clean_text) AS m_len, name AS best
                   FROM links WHERE name != clean_text),
        hits AS (
          SELECT t.conv_id, t.arg1_offset AS aoff, count(*) AS n
          FROM triples t JOIN bems b ON b.conv_id = t.conv_id
            AND b.m_off >= t.arg1_offset
            AND b.m_off + b.m_len <= t.arg1_offset + length(t.arg1)
          GROUP BY 1, 2
          UNION ALL
          SELECT t.conv_id, t.arg2_offset, count(*)
          FROM triples t JOIN bems b ON b.conv_id = t.conv_id
            AND b.m_off >= t.arg2_offset
            AND b.m_off + b.m_len <= t.arg2_offset + length(t.arg2)
          GROUP BY 1, 2)
        SELECT coalesce(max(n), 0) FROM hits""").fetchone()[0]
    assert max_n <= 1, "closed-form splice needs <=1 contained mention/arg"

    sql = e.oracle_sql()["kg_substitution"]
    n_sub = con.execute(
        f"SELECT count(*) FROM ({sql}) "
        "WHERE subj != subj_raw OR obj != obj_raw").fetchone()[0]
    assert n_sub > 0, "substitutions must actually occur"


# ------------------- kg_coref_expansion oracle gate coverage (DuckDB)

def test_expansion_oracle_gate_coverage():
    """The T12 external check must exercise BOTH XOR-gate polarities:
    a personal pronoun propagated into a PERSON-linked cluster and
    non-personal pronouns into non-PERSON clusters."""
    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    sql = e.oracle_sql()["kg_coref_expansion"]
    types = dict(con.execute(
        f"SELECT target_type, count(*) FROM ({sql}) GROUP BY 1").fetchall())
    assert types.get("PERSON", 0) > 0, "personal-polarity propagation missing"
    assert types.get("OTHER", 0) > 0, "non-personal polarity missing"


# ------------------ kg_best_mention_rules oracle preconditions (DuckDB)

def test_bem_oracle_preconditions_and_nonvacuity():
    """The T11 oracle's two-branch reduction rests on: the corpus has no
    sentence punctuation (P-b's period flank, best_org's paren anchor,
    best_loc's comma regex all dead), its capitalized vocabulary is
    exactly the two injections' words (so NNP spans classify only
    PERSON/OTHER — org/loc rules never dispatch), and both rule branches
    actually fire."""
    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    bad = con.execute(
        "SELECT count(*) FROM documents "
        "WHERE regexp_matches(text, '[.,()\\x27\"]')").fetchone()[0]
    assert bad == 0, "corpus must stay punctuation-free"

    spans_sql = e._corpus_prefix_sql(e._BEM_INJECT) + e._ner_branch_sql() + \
        " SELECT DISTINCT entity_type FROM cls"
    types = {r[0] for r in con.execute(spans_sql).fetchall()}
    assert types <= {"PERSON", "OTHER"}, types

    caps = e._corpus_prefix_sql(e._BEM_INJECT) + """
        SELECT DISTINCT word FROM pos WHERE regexp_matches(word, '[A-Z]')"""
    words = {r[0] for r in con.execute(caps).fetchall()}
    assert words == {"Brian", "Okafor", "Zorblatt"}, words

    sql = e.oracle_sql()["kg_best_mention_rules"]
    kinds = dict(con.execute(
        f"SELECT kind, count(*) FROM ({sql}) GROUP BY 1").fetchall())
    assert kinds.get("full", 0) > 0 and kinds.get("identity", 0) > 0
    crossing = con.execute(
        f"SELECT count(*) FROM ({sql}) "
        "WHERE best_mention LIKE '%' || chr(10) || '%'").fetchone()[0]
    assert crossing > 0, "the cross-turn P-b surface must be exercised"


# -------------------- kg_bem_features oracle coverage (DuckDB only)

def test_bem_features_oracle_agree_coverage():
    """The U1 external check must exercise the Coref Cluster Agrees
    feature in all three outcomes (1 agree / -1 disagree / 0 neutral)
    and both live entity-type features."""
    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    sql = e.oracle_sql()["kg_bem_features"]
    agrees = {r[0] for r in con.execute(
        f"SELECT DISTINCT f_coref_cluster_agrees FROM ({sql})").fetchall()}
    assert {float(a) for a in agrees} == {-1.0, 0.0, 1.0}, agrees
    n_p, n_o = con.execute(
        f"SELECT sum(f_is_person_rule), sum(f_is_other_rule) FROM ({sql})"
    ).fetchone()
    assert n_p > 0 and n_o > 0


# ---------------------------- kg_relnoun oracle non-vacuity (DuckDB)

def test_relnoun_oracle_nonvacuous():
    """The T5 external check must fire on the corpus with multi-word
    argument spans (the NP runs extend past the injected words)."""
    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    sql = e.oracle_sql()["kg_relnoun"]
    n, m1, m2 = con.execute(
        f"SELECT count(*), max(len(string_split(arg1, ' '))), "
        f"max(len(string_split(arg2, ' '))) FROM ({sql})").fetchone()
    assert n > 50 and m1 > 1 and m2 > 1


# ---------------------- kg_extraction oracle reduction holds (no Spark)

def test_extraction_oracle_vocabulary_reduction():
    """The T4 oracle's closed form rests on: the corpus vocabulary tags
    entirely NN/DT except "join" (VB), and "join" is a verb iff not
    preceded by a determiner. Verify against the ACTUAL sf0.001
    vocabulary through the real tagger, so a tokenizer or datagen change
    breaks THIS test before it silently breaks the oracle."""
    import duckdb

    words = [r[0] for r in duckdb.connect().execute(
        "SELECT DISTINCT unnest(string_split(text, ' ')) FROM "
        "'/root/testdata/sf0.001/documents.parquet'").fetchall()]
    assert len(words) > 20
    for w in words:
        # mid-sentence after a noun
        toks = tokenize.tokenize_sentence("x " + w)
        tag = toks[1][tokenize.POS]
        if w == "join":
            assert tag == "VB", w
        elif w in ("a", "the"):
            assert tag == "DT", w
        else:
            assert tag in ("NN", "NNS"), (w, tag)
        # after a determiner: the noun reading must win
        toks = tokenize.tokenize_sentence("the " + w)
        if w == "join":
            assert toks[1][tokenize.POS] == "NN", "DT-gating broken"


def test_extraction_oracle_nonvacuous():
    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    sql = e.oracle_sql()["kg_extraction"]
    n, max_a1, max_a2 = con.execute(
        f"SELECT count(*), max(len(string_split(arg1, ' '))), "
        f"max(len(string_split(arg2, ' '))) FROM ({sql})"
    ).fetchone()
    assert n > 50, "extraction oracle must fire on the corpus"
    assert max_a1 > 1 and max_a2 > 1, "multi-word NP arguments must occur"


# ------------------- kg_bem_predictions oracle preconditions (DuckDB)

def test_bem_predictions_oracle_label_nonvacuous():
    """The U2 prediction-level check is only meaningful if (a) both
    classes occur and (b) BOTH conjuncts of the separable label decide
    rows: person rows with a disagreeing cluster (agree = -1) must
    exist and flip to negative — otherwise the label degenerates to
    f_is_person_rule and the agree feature is not load-bearing."""
    import duckdb

    import __spark_entry__ as e

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    feat_sql = e.oracle_sql()["kg_bem_features"]
    n_pos, n_neg, n_neg_person = con.execute(
        f"""SELECT
              sum(cast(f_is_person_rule = 1.0
                       AND f_coref_cluster_agrees >= 0.0 AS INT)),
              sum(cast(NOT (f_is_person_rule = 1.0
                            AND f_coref_cluster_agrees >= 0.0) AS INT)),
              sum(cast(f_is_person_rule = 1.0
                       AND f_coref_cluster_agrees = -1.0 AS INT))
            FROM ({feat_sql})"""
    ).fetchone()
    assert n_pos > 50 and n_neg > 50, (n_pos, n_neg)
    assert n_neg_person > 0, "AND conjunct must flip person rows"
    pred_sql = e.oracle_sql()["kg_bem_predictions"]
    mism = con.execute(
        f"SELECT count(*) FROM ({pred_sql}) WHERE label <> prediction"
    ).fetchone()[0]
    assert mism == 0


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
    sents = fused.split_sentences(ann, turns).collect()
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


# --------------- kg_end_to_end oracle preconditions + nonvacuity (DuckDB)

def test_e2e_oracle_preconditions_and_nonvacuity():
    """The end-to-end oracle composes every per-stage closed form; this
    pins the corpus properties the composition rests on: (a) entity
    types are only PERSON/OTHER (the org/loc rule branches stay dead, as
    in the T11 oracle); (b) the only dict-matched link keys are
    'brian okafor'/'okafor', each with exactly one candidate (ambiguity
    semi-join empty => doc_sim provably 0); (c) BOTH T12 decision
    branches are live (link-decided and bem-decided clusters); (d) both
    XOR-gate polarities fire AND the gate rejects some pronoun (it
    bites); (e) multi-splice arguments exist (the greedy fold is
    exercised beyond one sub); (f) final substitutions occur in both
    argument positions, including a '\n'-carrying P-b best spliced
    into a triple (real engine output). Probes run as SEPARATE
    statements so DuckDB prunes the chain to each probe's depth
    (scalar subqueries would re-evaluate the full chain per probe)."""
    import duckdb
    from collections import Counter

    import __spark_entry__ as e

    # (b) static half: candidate multiplicity of the matched keys
    keys = Counter()
    for (_i, nm, aliases, _t, _inl, _c) in datagen.entity_dict_rows():
        keys[nm.lower()] += 1
        for a in aliases:
            keys[a.lower()] += 1
    assert keys["brian okafor"] == 1 and keys["okafor"] == 1

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    chain = e._e2e_chain_sql()

    types = [r[0] for r in con.execute(
        chain + " SELECT DISTINCT entity_type FROM cls").fetchall()]
    assert sorted(types) == ["OTHER", "PERSON"], types
    lkeys = [r[0] for r in con.execute(
        chain + " SELECT DISTINCT lower(clean_text) FROM links").fetchall()]
    assert sorted(lkeys) == ["brian okafor", "okafor"], lkeys

    # T12 decisions + gate outcomes in ONE pass over members x decisions
    n_link, n_bem, n_he, n_thing, n_reject = con.execute(chain + """
        SELECT
          count(DISTINCT CASE WHEN d.use_link
                THEN d.conv_id || '#' || d.cluster_id END),
          count(DISTINCT CASE WHEN NOT d.use_link
                THEN d.conv_id || '#' || d.cluster_id END),
          sum(cast(lower(p.m_text) = 'he' AND
              (CASE WHEN d.use_link THEN d.l_person
                    ELSE d.b_type = 'PERSON' END) AS INT)),
          sum(cast(lower(p.m_text) IN ('it', 'they') AND NOT
              (CASE WHEN d.use_link THEN d.l_person
                    ELSE d.b_type = 'PERSON' END) AS INT)),
          sum(cast(lower(p.m_text) IN ('he', 'it', 'they') AND
              (lower(p.m_text) = 'he') <>
              (CASE WHEN d.use_link THEN d.l_person
                    ELSE d.b_type = 'PERSON' END) AS INT))
        FROM xm p JOIN xdec d
          ON d.conv_id = p.conv_id AND d.cluster_id = p.cluster_id
    """).fetchone()
    assert n_link > 0 and n_bem > 0, (n_link, n_bem)
    assert n_he > 0 and n_thing > 0, (n_he, n_thing)
    assert n_reject > 0, "the XOR gate must reject at least one pronoun"

    n_multi = con.execute(
        chain + " SELECT count(*) FROM xfold WHERE len(subs) >= 2"
    ).fetchone()[0]
    assert n_multi > 0, "multi-splice arguments must occur"

    final = e.oracle_sql()["kg_end_to_end"]
    n_subj, n_obj, n_nl = con.execute(f"""
        SELECT sum(cast(subj <> subj_raw AS INT)),
               sum(cast(obj <> obj_raw AS INT)),
               sum(cast(subj LIKE '%' || chr(10) || '%'
                        OR obj LIKE '%' || chr(10) || '%' AS INT))
        FROM ({final})
    """).fetchone()
    assert n_subj > 0 and n_obj > 0, (n_subj, n_obj)
    assert n_nl > 0, "a newline-carrying P-b best must be spliced"
