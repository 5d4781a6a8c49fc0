"""The driver's spine oracles: each of the nine oracle-checked spine
queries (__spark_entry__.py) matches its DuckDB oracle at sf0.001, and
the DuckDB side alone exercises the branches its closed form covers
(extraction, BEM predictions and the end-to-end chain included)."""

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry
from docopenie_spark import datagen
from docopenie_spark.operators import tokenize
from tools.check_oracle import normalize

SF = "/root/testdata/sf0.001"

SPINE_QUERIES = [
    "kg_ner_spans", "kg_extraction", "kg_coref", "kg_linking",
    "kg_substitution", "kg_coref_expansion", "kg_best_mention_rules",
    "kg_bem_features", "kg_relnoun",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", SPINE_QUERIES)
def test_spine_query_matches_its_oracle(spark, duck, name):
    """Same comparison as tools/check_oracle.py: columns sorted by name,
    rows sorted, floats within 1e-3, everything else equal as text."""
    got = normalize(entry.queries()[name](spark, SF).toPandas())
    want = normalize(duck.execute(entry.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) > 0
    for c in got.columns:
        if pd.api.types.is_float_dtype(got[c]) and pd.api.types.is_float_dtype(want[c]):
            np.testing.assert_allclose(got[c].to_numpy(), want[c].to_numpy(),
                                       atol=1e-3, err_msg=c)
        else:
            assert got[c].astype(str).equals(want[c].astype(str)), c


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


# ---------------------- kg_eval_diff non-vacuity (Spark side only)

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


# --------------- kg_end_to_end oracle preconditions + nonvacuity (DuckDB)

def test_e2e_oracle_preconditions_and_nonvacuity(tmp_path):
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

    # DuckDB keeps its default memory_limit (this chain needs it) and
    # spills under the test's tmp_path, not the working directory
    con = duckdb.connect(config={"temp_directory": str(tmp_path / "duckdb")})
    try:
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
    finally:
        con.close()
