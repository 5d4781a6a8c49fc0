"""The join-based best_mentions (resolve once per distinct name, fan out
via JVM join) must match the per-occurrence Python reference
(``pipeline_twin._best_mentions`` → ``bestmention.resolve_conversation``
over the full document string) on every field except best_entity.offset,
which is pick-order metadata (the nearest OCCURRENCE of the chosen
candidate — the chosen NAME, kind, and count are identical) and is
consumed nowhere downstream."""

import json

from docopenie_spark import datagen
from docopenie_spark.operators import assembly, bestmention, fused, ner
from docopenie_spark.plans.pipeline import default_dictionaries

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
    ents = ner.split_mentions(mentions)[0]
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
