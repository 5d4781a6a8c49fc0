"""The fused NLP pass: segment + P1 filter + tokenize + extract + NER.

Chained Python stages each attach their OWN Python worker to the task
pipeline — a task running segment → tokenize → extract drives three
Python processes with the JVM relaying Arrow batches between them. At 32
tasks that is ~100 worker processes and a kernel-level IPC storm (measured:
36% system time, anti-scaling from local[8] to local[32]).

The fix is architectural, not a config knob: ONE ``mapInArrow`` per task
pipeline. :func:`parse_extract_annotate` runs the pure kernels
(segment.segment_turn, :func:`_keep`, tokenize.tokenize_sentence,
extract.extract_sentence, ner.sentence_entities) over the turn table and
emits sentences, triples and mentions as one row-kind-tagged table; the
``split_*`` views are JVM filters over it. It is the only Spark path for
these stages — tests/pipeline_twin.py composes the same kernels
imperatively as the reference.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import textnorm
from ..session import content_broadcast
from .extract import extract_sentence
from .ner import sentence_entities
from .segment import segment_turn
from .tokenize import tokenize_sentence


def _keep(s: str) -> bool:
    """P1 predicate, python twin of textnorm.sentence_keep (for stripped
    sentence text: #whitespace-runs >= 3 ⇔ #fields >= 4)."""
    return len(s) <= 750 and len(s.split()) >= 4


_PART_DDL = "struct<text:string,offset:bigint>"
# row_kind: 's' = sentence (e_offset/e_len carry the doc offset and
# length; e_text carries the text only when emit_sentence_text is set —
# sentences are exact substrings of the normalized turn text, so the
# text is reconstructable JVM-side), 't' = triple, 'e' = entity/pronoun
ANNOTATED = (
    "conv_id string, row_kind string, turn_idx int, sent_num int, "
    f"arg1 {_PART_DDL}, rel {_PART_DDL}, arg2 {_PART_DDL}, "
    "confidence double, extractor string, "
    "e_text string, e_offset bigint, e_len int, e_name string, e_type string"
)

# the same schema as Arrow types — the fused pass yields RecordBatches
# built column-wise (pa.array over plain lists is a C loop), bypassing
# the pandas list-of-tuples → object-Series → per-row struct boxing
# path entirely (measured r7: 2.1s of the 7.4s fused wall at sf0.1 was
# output-side construction; guide §4.2 "hand whole batches to
# vectorized native libraries")
_PART_PA = pa.struct([("text", pa.string()), ("offset", pa.int64())])
ANNOTATED_PA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("row_kind", pa.string()),
        ("turn_idx", pa.int32()),
        ("sent_num", pa.int32()),
        ("arg1", _PART_PA),
        ("rel", _PART_PA),
        ("arg2", _PART_PA),
        ("confidence", pa.float64()),
        ("extractor", pa.string()),
        ("e_text", pa.string()),
        ("e_offset", pa.int64()),
        ("e_len", pa.int32()),
        ("e_name", pa.string()),
        ("e_type", pa.string()),
    ]
)


def _part_array(texts: list, offs: list, mask: list) -> pa.StructArray:
    """struct<text,offset> column from child lists + null mask
    (True = null row) — no per-row dict/tuple boxing."""
    return pa.StructArray.from_arrays(
        [pa.array(texts, pa.string()), pa.array(offs, pa.int64())],
        fields=list(_PART_PA),
        mask=pa.array(mask, pa.bool_()),
    )


def parse_extract_annotate(
    turns_with_offsets: DataFrame,
    first_names: set[str],
    gazetteer_names: set[str],
    last_names: set[str] | None = None,
    emit_sentence_text: bool = False,
) -> DataFrame:
    """segment+filter+tokenize+extract+NER in ONE Python pass over the
    turn table — the token arrays NEVER cross the Arrow boundary.

    Measured motivation (300k turns, pinned 4→16 CPUs): an identity
    mapInPandas over the bare turn table costs 1.8s/1.3s — the Arrow
    serialization itself scales at ~0.34 efficiency, so every python pass
    over bulk data carries a large non-scaling tax. The two-pass design
    (parse → persist tokens → annotate) shipped the WIDE token structs
    out of python and back in; this emits only sentences, triples, and
    entities (≈ corpus-sized), cutting Arrow volume ~3×.

    By default 's' rows carry ONLY (doc offset, length) — the sentence
    text is an exact substring of the normalized turn text, so
    :func:`split_sentences` reconstructs it with a JVM join+substring
    instead of shipping every kept character through Arrow again and
    holding it in the persist (round-3 scaling lever: sentence text is
    the largest single payload of the fused pass's output).
    ``emit_sentence_text=True`` restores inline text for callers without
    the turn table at hand."""
    sc = turns_with_offsets.sparkSession.sparkContext
    b_first = content_broadcast(sc, frozenset(first_names))
    b_gaz = content_broadcast(sc, frozenset(gazetteer_names))
    b_last = content_broadcast(sc, frozenset(last_names or ()))

    src = turns_with_offsets.select(
        "conv_id",
        "turn_idx",
        "turn_offset",
        textnorm.normalize_inline_ws(textnorm.asciify(F.col("text"))).alias("text"),
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        firsts, gaz, lasts = b_first.value, b_gaz.value, b_last.value
        for b in batches:
            # columnar accumulators — one list per output column (struct
            # columns as child lists + null mask); pa.array over these is
            # a C-speed loop, vs pandas transposing 14-wide tuples
            conv: list = []
            kind: list = []
            til: list = []
            snl: list = []
            a1t: list = []; a1o: list = []; a1m: list = []
            rlt: list = []; rlo: list = []; rlm: list = []
            a2t: list = []; a2o: list = []; a2m: list = []
            conf_l: list = []
            ext_l: list = []
            etext: list = []
            eoff: list = []
            elen: list = []
            ename: list = []
            etyp: list = []
            for conv_id, turn_idx, turn_offset, text in zip(
                b.column(0).to_pylist(), b.column(1).to_pylist(),
                b.column(2).to_pylist(), b.column(3).to_pylist(),
            ):
                ti = turn_idx
                for i, (local, s) in enumerate(segment_turn(text)):
                    if not _keep(s):
                        continue
                    off = turn_offset + local
                    tokens = tokenize_sentence(s)
                    conv.append(conv_id); kind.append("s")
                    til.append(ti); snl.append(i)
                    a1t.append(None); a1o.append(None); a1m.append(True)
                    rlt.append(None); rlo.append(None); rlm.append(True)
                    a2t.append(None); a2o.append(None); a2m.append(True)
                    conf_l.append(None); ext_l.append(None)
                    etext.append(s if emit_sentence_text else None)
                    eoff.append(off); elen.append(len(s))
                    ename.append(None); etyp.append(None)
                    for a1, r, a2, cf, ext in extract_sentence(tokens, s):
                        conv.append(conv_id); kind.append("t")
                        til.append(ti); snl.append(i)
                        a1t.append(a1[0]); a1o.append(off + a1[1]); a1m.append(False)
                        rlt.append(r[0]); rlo.append(off + r[1]); rlm.append(False)
                        a2t.append(a2[0]); a2o.append(off + a2[1]); a2m.append(False)
                        conf_l.append(cf); ext_l.append(ext)
                        etext.append(None); eoff.append(None); elen.append(None)
                        ename.append(None); etyp.append(None)
                    for e_text, e_off, e_name, e_type in sentence_entities(
                        tokens, s, off, firsts, gaz, lasts, True
                    ):
                        conv.append(conv_id); kind.append("e")
                        til.append(ti); snl.append(i)
                        a1t.append(None); a1o.append(None); a1m.append(True)
                        rlt.append(None); rlo.append(None); rlm.append(True)
                        a2t.append(None); a2o.append(None); a2m.append(True)
                        conf_l.append(None); ext_l.append(None)
                        etext.append(e_text); eoff.append(e_off); elen.append(None)
                        ename.append(e_name); etyp.append(e_type)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(conv, pa.string()),
                    pa.array(kind, pa.string()),
                    pa.array(til, pa.int32()),
                    pa.array(snl, pa.int32()),
                    _part_array(a1t, a1o, a1m),
                    _part_array(rlt, rlo, rlm),
                    _part_array(a2t, a2o, a2m),
                    pa.array(conf_l, pa.float64()),
                    pa.array(ext_l, pa.string()),
                    pa.array(etext, pa.string()),
                    pa.array(eoff, pa.int64()),
                    pa.array(elen, pa.int32()),
                    pa.array(ename, pa.string()),
                    pa.array(etyp, pa.string()),
                ],
                schema=ANNOTATED_PA,
            )

    # the select() above pins the column order the kernel indexes by
    # position (guide §4.1: explicit projection before an opaque map)
    return src.mapInArrow(run, schema=ANNOTATED)


def split_sentences(annotated: DataFrame,
                    turns_with_offsets: DataFrame | None = None) -> DataFrame:
    """SENTENCES view of the combined table.

    With ``turns_with_offsets`` the text is RECONSTRUCTED JVM-side:
    sentence doc offset − turn offset indexes into the normalized turn
    text (sentences are exact substrings — segment_turn returns stripped
    slices). Without it the stored ``e_text`` is used (requires the pass
    to have run with ``emit_sentence_text=True``)."""
    s = annotated.where(F.col("row_kind") == "s")
    if turns_with_offsets is None:
        return s.select(
            "conv_id", "turn_idx", "sent_num",
            F.col("e_offset").alias("offset"),
            F.col("e_text").alias("text"),
        )
    t = turns_with_offsets.select(
        "conv_id", "turn_idx", "turn_offset",
        textnorm.normalize_inline_ws(textnorm.asciify(F.col("text"))).alias("_nt"),
    )
    j = s.select("conv_id", "turn_idx", "sent_num", "e_offset", "e_len").join(
        t, ["conv_id", "turn_idx"]
    )
    text = F.expr(
        "substring(_nt, cast(e_offset - turn_offset as int) + 1, e_len)"
    )
    return j.select(
        "conv_id", "turn_idx", "sent_num",
        F.col("e_offset").alias("offset"),
        text.alias("text"),
    )


def split_triples(annotated: DataFrame) -> DataFrame:
    """TRIPLES_RAW view of the combined table (JVM filter, no Python)."""
    return annotated.where(F.col("row_kind") == "t").select(
        "conv_id", "turn_idx", "sent_num", "arg1", "rel", "arg2",
        "confidence", "extractor",
    )


def split_entities(annotated: DataFrame) -> DataFrame:
    """Entity mentions (incl. pronoun rows) view of the combined table:
    conv_id, text, offset, name, entity_type."""
    return annotated.where(F.col("row_kind") == "e").select(
        "conv_id",
        F.col("e_text").alias("text"),
        F.col("e_offset").alias("offset"),
        F.col("e_name").alias("name"),
        F.col("e_type").alias("entity_type"),
    )
