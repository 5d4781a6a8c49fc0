"""The join-based best_mentions (resolve once per distinct name, fan out
via JVM join) must match the per-occurrence Python reference
(``pipeline_twin._best_mentions`` → ``bestmention.resolve_conversation``
over the full document string) on every field except best_entity.offset,
which is pick-order metadata (the nearest OCCURRENCE of the chosen
candidate — the chosen NAME, kind, and count are identical) and is
consumed nowhere downstream."""

import json

from pyspark.sql.types import StructType

from docopenie_spark import datagen, schemas
from docopenie_spark.operators import assembly, bestmention, fused, ner
from docopenie_spark.plans.pipeline import default_dictionaries
from docopenie_spark.session import local_table

from pipeline_twin import _best_mentions, _turn_rows


def _norm(rows):
    def name(e, *fields):
        return [e[f] if e else None for f in fields]

    return sorted(
        json.dumps([
            r["conv_id"], r["kind"], r["target"], r["best_mention"],
            *name(r["best_entity"], "name", "entity_type"),
            *name(r["container_entity"], "name"),
            *name(r["contained_entity"], "name"),
            round(r["candidate_count"], 9),
        ], sort_keys=True)
        for r in rows
    )


def test_join_based_chunked_equals_python_full_doc(spark):
    """The join-based resolver over CHUNKED doc text must match the
    per-occurrence Python resolver over the FULL doc string — this is
    simultaneously the distinct-name-join parity test AND the doc-chunking
    parity test. The datagen corpus puts no rule-regex match next to a
    chunk boundary, so the boundary rule itself (a match belongs to the
    chunk it starts in) is pinned by
    test_bestmention.py::test_chunked_doc_boundary_matches_once."""
    t = datagen.transcripts_df(spark, 400)
    fn, gz, ln = default_dictionaries()
    ann = fused.parse_extract_annotate(assembly.with_turn_offsets(t), fn, gz, ln)
    mentions = fused.split_entities(ann).cache()
    # tiny chunks (group=4 turns) force many boundaries on the fixture
    chunks = assembly.doc_chunks(t, group=4)
    gzr = datagen.gazetteer_rows()
    ents = ner.entity_mentions(mentions)
    got = _norm(r.asDict(recursive=True)
                for r in bestmention.best_mentions(ents, chunks, gzr).collect())
    want = _norm(_best_mentions([r.asDict() for r in mentions.collect()],
                                _turn_rows(t.toPandas()), gzr))
    mentions.unpersist()
    assert got, "expected best mentions"
    assert got == want, (
        f"spark={len(got)} python={len(want)} rows; "
        f"spark-only {[r for r in got if r not in want][:3]}; "
        f"python-only {[r for r in want if r not in got][:3]}"
    )


# Offset-dependent names: more than one matching candidate, so the pick
# is made per occurrence (nearest candidate occurrence, ties to the
# smaller occurrence). The datagen corpus has no such name.
_DEP_MENTIONS = [
    ("PERSON", "Brian Okafor", [0, 100]),
    ("PERSON", "Ada Okafor", [50, 150]),
    ("PERSON", "Okafor", [20, 75, 125, 170]),  # P-a, two candidates
    ("LOCATION", "Massachusetts", [200, 340]),
    ("LOCATION", "Illinois", [300]),
    ("LOCATION", "Springfield", [220, 250, 280, 320]),  # L-b, two containers
    # P-b over regex hits that contain the name, the name's own hit
    # included: the nearest hit is the name itself at one occurrence
    # (identity there) and another person at the other
    ("PERSON", "Ann Lee", [400, 520]),
    ("PERSON", "Bo Chan", [460, 560]),
]
# the P-b regex hits: a capitalized pair between lowercase words
_DEP_TEXT = [
    (425, " met Ann Leeds now "),
    (515, " saw Ann Lee now "),
    (455, " met Bo Chan now "),
    (575, " saw Bo Chang now "),
]
_DEP_GAZETTEER = [
    ("Springfield", "CITY", "Massachusetts", "PROVINCE", None),
    ("Springfield", "CITY", "Illinois", "PROVINCE", None),
    ("Massachusetts", "PROVINCE", "United States", "COUNTRY", "MA"),
    ("Illinois", "PROVINCE", "United States", "COUNTRY", "IL"),
    ("United States", "COUNTRY", None, None, None),
]
# (name, occurrence) -> (kind, best_mention, picked entity, its occurrence)
_DEP_PICKS = {
    ("Okafor", 20): ("full", "Brian Okafor", "Brian Okafor", 0),
    ("Okafor", 75): ("full", "Ada Okafor", "Ada Okafor", 50),  # tie: 25 vs 25
    ("Okafor", 125): ("full", "Brian Okafor", "Brian Okafor", 100),  # tie
    ("Okafor", 170): ("full", "Ada Okafor", "Ada Okafor", 150),
    ("Springfield", 220): ("container", "Springfield, Massachusetts", "Massachusetts", 200),
    ("Springfield", 250): ("container", "Springfield, Massachusetts", "Massachusetts", 200),  # tie
    ("Springfield", 280): ("container", "Springfield, Illinois", "Illinois", 300),
    ("Springfield", 320): ("container", "Springfield, Illinois", "Illinois", 300),  # tie
    # non-identity at the first occurrence, identity (own hit) at 520
    ("Ann Lee", 400): ("full", "Ann Leeds", "Ann Leeds", 430),
    # identity (own hit) at the first occurrence, non-identity at 560
    ("Bo Chan", 560): ("full", "Bo Chang", "Bo Chang", 580),
}


def test_offset_dependent_picks_equal_python_per_occurrence(spark):
    """Names with two matching candidates are picked per occurrence by
    proximity (ref :129-132), and demoted to identity where the pick is
    the name itself. The Spark path must give the expected pick at every
    occurrence and equal resolve_conversation on every field,
    best_entity.offset and container_entity.offset included."""
    ents = sorted(
        (("c0", name, off, name, typ)
         for typ, name, offs in _DEP_MENTIONS for off in offs),
        key=lambda r: r[2],
    )
    text = [" "] * 600
    for off, piece in [(e[2], e[1]) for e in ents] + _DEP_TEXT:
        text[off:off + len(piece)] = piece
    text = "".join(text)
    ents_df = local_table(spark, ents, StructType.fromDDL(
        "conv_id string, text string, offset bigint, name string, entity_type string"))
    chunks = local_table(spark, [("c0", 0, len(text) + 1, text)], schemas.DOC_CHUNKS)
    got = [r.asDict(recursive=True) for r in
           bestmention.best_mentions(ents_df, chunks, _DEP_GAZETTEER).collect()]

    by_occ = {(r["target"]["name"], r["target"]["offset"]): r for r in got}
    assert len(by_occ) == len(got) == len(ents)
    for (name, off), (kind, best, ent, occ) in _DEP_PICKS.items():
        r = by_occ[(name, off)]
        picked = r["best_entity"] if kind == "full" else r["container_entity"]
        assert (r["kind"], r["best_mention"], picked["text"], picked["offset"]) == (
            kind, best, ent, occ), (name, off, r)
        assert r["candidate_count"] == 0.5
        assert r["contained_entity"] is None
    # the candidates themselves, and the two occurrences whose nearest
    # hit is the name, resolve to identity
    others = {k: r for k, r in by_occ.items() if k not in _DEP_PICKS}
    assert {r["kind"] for r in others.values()} == {"identity"}
    assert {("Ann Lee", 520), ("Bo Chan", 460)} <= set(others)
    assert {others[k]["candidate_count"] for k in others} == {1.0}

    cols = ("conv_id", "text", "offset", "name", "entity_type")
    want = _best_mentions([dict(zip(cols, e)) for e in ents],
                          {"c0": [(0, 0, text)]}, _DEP_GAZETTEER)

    def key(r):
        return json.dumps(r, sort_keys=True)

    assert sorted(map(key, got)) == sorted(map(key, want))


def test_doc_chunks_reassemble_to_doc_text(spark):
    """Stripping each chunk's overlap tail and joining with the separator
    reproduces doc_text_salted exactly (offsets/keeps are consistent)."""
    t = datagen.transcripts_df(spark, 240)
    docs = {r.conv_id: r.doc_text for r in assembly.doc_text_salted(t).collect()}
    rows = assembly.doc_chunks(t, group=4).collect()
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r.conv_id, []).append(r)
    for conv, cs in by_conv.items():
        cs.sort(key=lambda r: r.chunk_off)
        own = [c.chunk_text[: c.keep_len - 1] for c in cs]
        assert "\n".join(own) == docs[conv], conv
        for c in cs:
            assert docs[conv][c.chunk_off : c.chunk_off + len(c.chunk_text)] == c.chunk_text
