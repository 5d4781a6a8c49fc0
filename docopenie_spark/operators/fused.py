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
from pyspark.sql.pandas.types import to_arrow_schema

from .. import schemas
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


# schemas.ANNOTATED in Arrow: the pass yields RecordBatches built
# column-wise (pa.array over plain lists is a C loop), never through the
# pandas per-row struct boxing path (measured r7: 2.1s of the 7.4s fused
# wall at sf0.1 was output-side construction; guide §4.2)
_ARROW = to_arrow_schema(schemas.ANNOTATED)


def _column(values, typ: pa.DataType) -> pa.Array:
    """One output column; a struct column arrives as its child lists plus
    a null mask (True = null row) — no per-row dict/tuple boxing."""
    if not pa.types.is_struct(typ):
        return pa.array(values, typ)
    *children, mask = values
    return pa.StructArray.from_arrays(
        [pa.array(c, f.type) for c, f in zip(children, typ)],
        fields=list(typ),
        mask=pa.array(mask, pa.bool_()),
    )


def parse_extract_annotate(
    turns_with_offsets: DataFrame,
    first_names: set[str],
    gazetteer_names: set[str],
    last_names: set[str] | None = None,
) -> DataFrame:
    """segment+filter+tokenize+extract+NER in ONE Python pass over the
    turn table — the token arrays NEVER cross the Arrow boundary.

    Measured motivation (300k turns, pinned 4→16 CPUs): an identity
    mapInPandas over the bare turn table costs 1.8s/1.3s — the Arrow
    serialization itself scales at ~0.34 efficiency, so every python pass
    over bulk data carries a large non-scaling tax. The two-pass design
    (parse → persist tokens → annotate) shipped the WIDE token structs
    out of python and back in; this emits only sentences, triples, and
    entities (≈ corpus-sized), cutting Arrow volume ~3×."""
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
            # a C-speed loop, vs pandas transposing 13-wide tuples
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
                    etext.append(s); eoff.append(off)
                    ename.append(None); etyp.append(None)
                    for a1, r, a2, cf, ext in extract_sentence(tokens, s):
                        conv.append(conv_id); kind.append("t")
                        til.append(ti); snl.append(i)
                        a1t.append(a1[0]); a1o.append(off + a1[1]); a1m.append(False)
                        rlt.append(r[0]); rlo.append(off + r[1]); rlm.append(False)
                        a2t.append(a2[0]); a2o.append(off + a2[1]); a2m.append(False)
                        conf_l.append(cf); ext_l.append(ext)
                        etext.append(None); eoff.append(None)
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
                        etext.append(e_text); eoff.append(e_off)
                        ename.append(e_name); etyp.append(e_type)
            cols = [conv, kind, til, snl, (a1t, a1o, a1m), (rlt, rlo, rlm),
                    (a2t, a2o, a2m), conf_l, ext_l, etext, eoff, ename, etyp]
            yield pa.RecordBatch.from_arrays(
                [_column(c, f.type) for c, f in zip(cols, _ARROW)], schema=_ARROW
            )

    # the select() above pins the column order the kernel indexes by
    # position (guide §4.1: explicit projection before an opaque map)
    return src.mapInArrow(run, schema=schemas.ANNOTATED)


def split_sentences(annotated: DataFrame) -> DataFrame:
    """SENTENCES view of the combined table (JVM filter, no Python)."""
    return annotated.where(F.col("row_kind") == "s").select(
        "conv_id", "turn_idx", "sent_num",
        F.col("e_offset").alias("offset"),
        F.col("e_text").alias("text"),
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
