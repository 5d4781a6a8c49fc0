"""U1/U2/U4 classifier stage + A7 P/R curve
(reference tool/bestmention/classifier/*)."""

import pyspark.sql.functions as F
import pytest

from docopenie_spark import datagen, schemas
from docopenie_spark.operators import classifier as clf

GAZ = datagen.gazetteer_rows()


def _bem(conv, kind, t_text, t_off, typ, best, be=None, ce=None, cde=None, count=1.0):
    target = (t_text, t_off, t_text, typ)
    return (conv, kind, target, best, be, ce, cde, count, None)


@pytest.fixture(scope="module")
def bems(spark):
    rows = [
        _bem("c1", "full", "GDC", 10, "ORGANIZATION", "Global Data Consortium",
             be=("Global Data Consortium", 40, "Global Data Consortium", "ORGANIZATION"),
             count=0.5),
        _bem("c1", "container", "Springfield", 100, "LOCATION",
             "Springfield, Massachusetts",
             ce=("Massachusetts", 140, "Massachusetts", "LOCATION")),
        _bem("c1", "coref_link", "he", 200, "PERSON", "Brian Okafor"),
        _bem("c1", "coref_identity", "his", 220, "PERSON", "Alice Navarro"),
        _bem("c1", "identity", "Austin", 300, "LOCATION", "Austin"),
    ]
    return spark.createDataFrame(rows, schemas.BEST_MENTIONS)


@pytest.fixture(scope="module")
def empty_clusters(spark):
    return spark.createDataFrame([], schemas.CLUSTERS)


def test_feature_columns_and_values(bems, empty_clusters):
    # one feature per reference BMFeature (BestMentionFeatures.scala:54-107)
    out = {r.kind: r for r in clf.bem_features(bems, empty_clusters, GAZ).collect()}
    assert len(clf.FEATURE_COLS) == 13
    g = out["full"]
    assert g.f_is_organization_rule == 1.0 and g.f_is_location_rule == 0.0
    assert g.f_is_coref == 0.0 and g.f_ambiguous_candidate_count == 0.5
    c = out["container"]
    assert c.f_is_location_rule == 1.0
    # tipster features (ref :85-107): Springfield is a gazetteer city,
    # Massachusetts a state → state-contains-city fires, country doesn't
    assert c.f_location_ambiguity_count == 1.0
    assert c.f_state_contains_city == 1.0
    assert c.f_country_contains_city == 0.0
    assert c.f_loc_type_similarity == 0.0  # city vs state: no shared kind
    lk = out["coref_link"]
    assert lk.f_is_coref == 1.0 and lk.f_is_linked == 1.0 and lk.f_is_coref_identity == 0.0
    ci = out["coref_identity"]
    assert ci.f_is_coref == 1.0 and ci.f_is_coref_identity == 1.0 and ci.f_is_linked == 0.0


def test_coref_cluster_agrees(spark, bems):
    # ref :66-82: clusters touching the target span vs the best-entity
    # span → 1 on shared cluster, -1 when best side has only foreign ones
    clusters = spark.createDataFrame(
        [
            ("c1", 1, ("GDC", 10), [("GDC", 10), ("Global Data Consortium", 40)]),
            ("c1", 2, ("x", 500), [("x", 500), ("Global Data Consortium", 40)]),
        ],
        schemas.CLUSTERS,
    )
    out = {r.kind: r for r in clf.bem_features(bems, clusters, GAZ).collect()}
    assert out["full"].f_coref_cluster_agrees == 1.0  # cluster 1 on both sides

    disjoint = spark.createDataFrame(
        [("c1", 2, ("y", 38), [("y", 38), ("Global Data Consortium", 40)])],
        schemas.CLUSTERS,
    )
    out2 = {r.kind: r for r in clf.bem_features(bems, disjoint, GAZ).collect()}
    assert out2["full"].f_coref_cluster_agrees == -1.0  # best side only
    assert out2["container"].f_coref_cluster_agrees == 0.0  # not a Full bem


def test_train_and_score_separable(spark, bems, empty_clusters):
    feats = clf.bem_features(bems, empty_clusters, GAZ)
    labeled = feats.withColumn("label", F.col("f_is_coref"))
    model = clf.train_classifier(labeled)
    scored = {r.kind: r.confidence for r in clf.score(model, feats).collect()}
    # coref rows must score above non-coref rows on a separable label
    assert min(scored["coref_link"], scored["coref_identity"]) > max(
        scored["full"], scored["identity"]
    )


def test_pr_curve_hand_example(spark):
    # precRecall + removeSawtooth hand-check
    # (BestMentionClassifierAnalysis.scala:62-80)
    rows = [(0.9, 1.0), (0.8, 0.0), (0.7, 1.0), (0.6, 1.0), (0.5, 0.0)]
    df = spark.createDataFrame(rows, "confidence double, label double")
    got = [
        (r.precision, r.precision_smoothed)
        for r in clf.pr_curve(df).orderBy(F.desc("confidence")).collect()
    ]
    prec = [p for p, _ in got]
    assert prec == [1.0, 0.5, round(2 / 3, 6), 0.75, 0.6]
    smoothed = [s for _, s in got]
    assert smoothed == [1.0, 0.75, 0.75, 0.75, 0.6]  # suffix max kills the sawtooth


def test_training_tsv_roundtrip(spark, bems, empty_clusters, tmp_path):
    # U4: writer layout (ResolvedBestMentionWriter.scala:50-62) and the
    # labeled reader that keeps only '1'/'0' rows (:27-30)
    s0 = "GDC works with the Global Data Consortium daily x"
    s1 = "Springfield\tsits near the state line of Massachusetts ."
    s2 = "Later that week he said it too"  # [190, 220)
    sents = spark.createDataFrame(
        [
            ("c1", 0, 0, 0, s0),
            # starts AT the container target's offset: not its context
            ("c1", 1, 1, 100, s1),
            # ends AT the coref_identity target's offset: not its context
            ("c1", 2, 2, 190, s2),
            # another conversation's sentence never supplies context
            ("c2", 0, 0, 0, "x" * 400),
        ],
        schemas.SENTENCES,
    )
    feats = clf.bem_features(bems, empty_clusters, GAZ)
    rows = clf.training_rows(feats, sents)
    assert rows.columns[:5] == ["label", "target_text", "best_text",
                                "target_context", "best_context"]
    assert rows.columns[-2:] == ["doc_bem_index", "doc_id"]
    # contexts (BestMentionHelper.context): the sentence strictly
    # containing the offset, else NA; best side reads best_entity, then
    # container_entity, then the target's own offset; tabs scrubbed
    s1_clean = s1.replace("\t", " ")
    assert {r.target_text: (r.target_context, r.best_context)
            for r in rows.collect()} == {
        "GDC": (s0, s0),                  # 10 and 40 strictly inside s0
        "Springfield": ("NA", s1_clean),  # 100 starts s1; 140 inside it
        "he": (s2, s2),                   # 200 inside s2 (no best entity)
        "his": ("NA", "NA"),              # 220 is s2's end
        "Austin": ("NA", "NA"),           # no sentence at 300
    }
    # simulate human labeling: label every other row
    labeled = rows.withColumn(
        "label", F.when(F.col("doc_bem_index") % 2 == 0, "1").otherwise("0")
    )
    path = str(tmp_path / "training.tsv")
    clf.write_training_tsv(labeled, path)
    back = clf.read_labeled_tsv(spark, path)
    assert back.count() == rows.count()
    assert set(back.select("label").distinct().toPandas()["label"]) == {0.0, 1.0}
    # feature values survive the TSV roundtrip (2-decimal writer rounding)
    a = {(r.doc_id, r.doc_bem_index): r.f_ambiguous_candidate_count for r in back.collect()}
    b = {(r.doc_id, r.doc_bem_index): round(r.f_ambiguous_candidate_count, 2)
         for r in rows.collect()}
    assert a == b


def test_bem_index_deterministic_under_ties_and_partitioning(spark):
    """ADVICE r2: rows tying on (target.offset, kind, best_mention) must
    get the SAME bem_index on every run regardless of partitioning — a
    labeled TSV keyed on doc_bem_index joins back against regenerated
    features only if the index is reproducible."""
    rows = [
        # three rows tying on offset+kind+best_mention, differing only in
        # target.text / entity_type / candidate_count
        _bem("c1", "identity", "Austin", 300, "LOCATION", "Austin", count=2.0),
        _bem("c1", "identity", "Austin", 300, "CITY", "Austin", count=1.0),
        _bem("c1", "identity", "AUSTIN", 300, "LOCATION", "Austin", count=1.0),
        _bem("c1", "full", "GDC", 10, "ORGANIZATION", "Global Data Consortium",
             be=("Global Data Consortium", 40, "Global Data Consortium",
                 "ORGANIZATION")),
    ]
    df = spark.createDataFrame(rows, schemas.BEST_MENTIONS)

    def key(r):
        return (r.conv_id, r.kind, r.target.text, r.target.entity_type,
                r.candidate_count)

    a = {key(r): r.bem_index
         for r in clf.with_bem_index(df.repartition(7)).collect()}
    b = {key(r): r.bem_index
         for r in clf.with_bem_index(df.coalesce(1)).collect()}
    assert a == b
    assert sorted(a.values()) == [0, 1, 2, 3]
