"""NER span assembly (T7/T8) and coref clustering (T6) fixtures."""

import pandas as pd

from docopenie_spark import datagen
from docopenie_spark.operators import assembly, coref, fused, ner

FIRSTS = {p[0] for p in datagen.PERSONS}
LASTS = {p[1] for p in datagen.PERSONS}
GAZ = {r[0] for r in datagen.gazetteer_rows()} | {
    r[4] for r in datagen.gazetteer_rows() if len(r) > 4 and r[4]
}


def _entities(spark, turns):
    import datetime as dt

    rows = [("c1", i, "user", t, None, dt.datetime(2026, 1, 1)) for i, t in enumerate(turns)]
    from docopenie_spark import schemas

    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    ann = fused.parse_extract_annotate(assembly.with_turn_offsets(df), FIRSTS, GAZ, LASTS)
    return fused.split_entities(ann)


def test_entity_spans_and_types(spark):
    ents = _entities(
        spark, ["Alice Navarro works for the Global Data Consortium (GDC) in Austin, TX."]
    )
    rows = {(r.name, r.entity_type) for r in ents.collect() if r.entity_type != "PRONOUN"}
    assert ("Alice Navarro", "PERSON") in rows
    assert ("Global Data Consortium", "ORGANIZATION") in rows
    assert ("GDC", "ORGANIZATION") in rows
    assert ("Austin", "LOCATION") in rows
    assert ("TX", "LOCATION") in rows  # gazetteer abbrev, not a bare acronym


def test_adjacent_merge_offsets(spark):
    ents = _entities(spark, ["Today Grace Thornton met David Lindqvist in Boulder."])
    got = {r.name: r.offset for r in ents.collect() if r.entity_type == "PERSON"}
    text = "Today Grace Thornton met David Lindqvist in Boulder."
    for name, off in got.items():
        assert text[off : off + len(name)] == name


def test_mention_key_clustering():
    assert coref.mention_key("Alice Navarro", "PERSON") == coref.mention_key("Navarro", "PERSON")
    assert coref.mention_key("Global Data Consortium", "ORGANIZATION") == coref.mention_key(
        "GDC", "ORGANIZATION"
    )
    assert coref.mention_key("Austin", "LOCATION") != coref.mention_key("Boulder", "LOCATION")


def test_pronoun_resolution_cross_turn():
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 4,
            "text": ["Alice Navarro", "Global Data Consortium", "She", "It"],
            "offset": [0, 30, 80, 120],
            "name": ["Alice Navarro", "Global Data Consortium", "She", "It"],
            "entity_type": ["PERSON", "ORGANIZATION", ner.PRONOUN_TYPE, ner.PRONOUN_TYPE],
        }
    )
    out = coref.cluster_conversation(pdf)
    by_best = {r["best"]["text"]: [m["text"] for m in r["mentions"]] for _, r in out.iterrows()}
    assert by_best["Alice Navarro"] == ["Alice Navarro", "She"]
    assert by_best["Global Data Consortium"] == ["Global Data Consortium", "It"]


def test_cluster_best_is_longest_mention():
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 2,
            "text": ["Navarro", "Alice Navarro"],
            "offset": [10, 50],
            "name": ["Navarro", "Alice Navarro"],
            "entity_type": ["PERSON", "PERSON"],
        }
    )
    out = coref.cluster_conversation(pdf)
    assert out.iloc[0]["best"]["text"] == "Alice Navarro"
