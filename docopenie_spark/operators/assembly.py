"""Turn assembly — the Spark-native replacement for the reference's
DocSplitter + offset bookkeeping (prep/DocSplitter.scala:16-43,
prep/KbpDoc.scala:20-24; SURVEY.md §2.1 S2).

The reference splits a corpus stream into documents while tracking char
offsets; we do the inverse: rebuild each conversation "document" from its
ordered turns, assigning every turn its char offset into the assembled
text. Offsets are the backbone of the whole interval algebra (SURVEY.md
§1.4) — every downstream annotation (sentence, token, extraction, link,
mention) is addressed by a char offset into this assembled text.

Scale notes:
- ``with_turn_offsets`` is ONE window over conv_id — the pipeline's first
  and (for the narrow stages) only shuffle. Everything sentence-scoped
  afterwards (segment → tokenize → extract → NER) is the one narrow
  ``mapInArrow`` pass in fused.py.
- ``doc_chunks`` feeds the doc-scoped stage (best-mention regex
  fallbacks) the conversation text as BOUNDED overlapping chunks, so the
  hot conversation (~10% of turns) never becomes one giant row.
- ``doc_text_salted`` materializes the full conversation string (the
  doc_assembly query, the text-equality invariant). A naive
  collect_list concat would put a hot conversation into one shuffle
  record; it does a two-level concat — partial concat per
  (conv_id, turn_idx // group) then final merge — so no single shuffle
  record before the merge exceeds ~group·avg_turn chars (SURVEY.md §4
  item 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SEP = "\n"  # turn separator in the assembled document text


def with_turn_offsets(transcripts: DataFrame, group: int = 64) -> DataFrame:
    """Add ``turn_offset`` (char offset of each turn in the assembled doc)
    and ``doc_len``.

    SALTED two-level prefix sum (segmented scan): a single window over
    conv_id puts the hot conversation's 10% of all turns in ONE window
    partition — a measured straggler (parse-phase scaling eff 0.53 at
    4→16 CPUs). Instead: (1) per-(conv, turn_idx//group) partial sums via
    groupBy (parallel, map-side combined); (2) a prefix sum over the
    partials — a window over rows 1/group the size, hot conv included;
    (3) join the partial offsets back on (conv_id, salt) — a BALANCED
    shuffle key whose partitioning the final within-group window reuses
    (partitions never exceed ``group`` rows). Identical output to the
    naive single window."""
    sep = F.lit(len(SEP)).cast("long")
    piece = F.length("text") + sep
    t = transcripts.withColumn("_salt", (F.col("turn_idx") / group).cast("int"))
    partials = t.groupBy("conv_id", "_salt").agg(F.sum(piece).alias("_plen"))
    wp = Window.partitionBy("conv_id").orderBy("_salt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("conv_id")
    poffs = partials.select(
        "conv_id",
        "_salt",
        (F.sum("_plen").over(wp) - F.col("_plen")).alias("_poff"),
        (F.sum("_plen").over(wall) - sep).alias("doc_len"),
    )
    j = t.join(poffs, ["conv_id", "_salt"])
    wg = Window.partitionBy("conv_id", "_salt").orderBy("turn_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        j.withColumn("turn_offset", F.col("_poff") + F.sum(piece).over(wg) - piece)
        .drop("_salt", "_poff")
    )


def _salted_parts(transcripts: DataFrame, group: int) -> DataFrame:
    """(conv_id, salt, part_text) — partial ordered concat per
    (conv_id, turn_idx // group); no record exceeds ~group·avg_turn chars."""
    return (
        transcripts.withColumn("salt", (F.col("turn_idx") / F.lit(group)).cast("int"))
        .groupBy("conv_id", "salt")
        .agg(F.array_sort(F.collect_list(F.struct("turn_idx", "text"))).alias("_turns"))
        .select(
            "conv_id",
            "salt",
            F.array_join(F.transform("_turns", lambda t: t["text"]), SEP).alias("part_text"),
        )
    )


def doc_chunks(transcripts: DataFrame, group: int = 64, overlap: int = 200) -> DataFrame:
    """Conversation text as BOUNDED chunk rows (schemas.DOC_CHUNKS) — the
    scale-safe feed for the doc-scoped regex rules: the hot conversation
    never materializes as one giant string row. Each chunk carries the
    head of the next chunk as an overlap tail so regex matches crossing a
    boundary are found exactly once (a match belongs to the chunk where
    its local start < keep_len); matches longer than ``overlap`` chars
    could be missed — the rule regexes are all far shorter."""
    parts = _salted_parts(transcripts, group)
    w = Window.partitionBy("conv_id").orderBy("salt")
    piece = (F.length("part_text") + F.lit(1)).cast("long")
    # running sum to CURRENT row minus own length — avoids the (…, -1)
    # frame bound that takes Spark's O(n²) sliding-window path
    chunk_off = F.sum(piece).over(w.rowsBetween(Window.unboundedPreceding, 0)) - piece
    nxt = F.lead("part_text", 1).over(w)
    chunk_text = F.when(
        nxt.isNotNull(),
        F.concat("part_text", F.lit(SEP), F.substring(nxt, 1, overlap)),
    ).otherwise(F.col("part_text"))
    return parts.select(
        "conv_id",
        chunk_off.alias("chunk_off"),
        piece.alias("keep_len"),
        chunk_text.alias("chunk_text"),
    )


def doc_text_salted(transcripts: DataFrame, group: int = 64) -> DataFrame:
    """(conv_id, doc_text) — the turns joined by SEP in turn_idx order,
    assembled in two levels: partial concat per (conv_id, turn_idx //
    group), then ordered merge of the partials. Bounds per-record shuffle
    size for hot conversations (the salting required by the north rule,
    axis B). collect_list has no ordering guarantee, so both levels sort
    the collected structs explicitly (array_sort orders by the first
    field)."""
    return (
        _salted_parts(transcripts, group).groupBy("conv_id")
        .agg(F.array_sort(F.collect_list(F.struct("salt", "part_text"))).alias("_parts"))
        .select(
            "conv_id",
            F.array_join(F.transform("_parts", lambda p: p["part_text"]), SEP).alias("doc_text"),
        )
    )


def fabricated_metadata_turns(transcripts: DataFrame) -> DataFrame:
    """S6 — author/date sentence fabrication (prep/KbpDoc.scala:37-103).

    The reference fabricates 'This post was written by <author>.' /
    'This post was written on <date>.' lines and splices them into the
    sentence stream with offsets aligned into the raw doc. Our transcripts
    carry the author (role) and date (ts) as COLUMNS, so fabrication
    synthesizes two extra TURNS appended after each conversation — they
    flow through assembly → extraction like any turn, keeping every
    offset real and the per-turn text-equality invariant intact.

    Opt-in (SURVEY S6): the metadata already survives as queryable
    columns, so the pipeline never fabricates by itself. A caller that
    wants author/date as graph triples passes this function's output as
    the transcripts of ``annotate`` / ``run_pipeline``."""
    # anchor on the conversation's FIRST PRESENT turn, not literal index
    # 0 — a trimmed conversation (first turns dropped upstream) must still
    # fabricate its metadata turns (VERDICT r2 #8)
    bounds = transcripts.groupBy("conv_id").agg(
        F.min("turn_idx").alias("_mn"), F.max("turn_idx").alias("_mx")
    )
    t0 = transcripts.join(bounds, "conv_id").where(
        F.col("turn_idx") == F.col("_mn")
    ).drop("_mn")
    author = t0.select(
        "conv_id",
        (F.col("_mx") + 1).cast("int").alias("turn_idx"),
        "role",
        F.concat(
            F.lit("This conversation was written by "),
            F.coalesce(F.col("role"), F.lit("an unknown author")),
            F.lit(" ."),
        ).alias("text"),
        "tool",
        "ts",
    )
    date = t0.where(F.col("ts").isNotNull()).select(
        "conv_id",
        (F.col("_mx") + 2).cast("int").alias("turn_idx"),
        "role",
        F.concat(
            F.lit("This conversation was written on "),
            F.date_format("ts", "yyyy-MM-dd"),
            F.lit(" ."),
        ).alias("text"),
        "tool",
        "ts",
    )
    return transcripts.unionByName(author).unionByName(date)


def turn_equality_violations(turns_with_offsets: DataFrame, docs: DataFrame) -> DataFrame:
    """The per-turn text-equality invariant (BASELINE.json input_hint;
    mirrors the reference's require(baseSent.text == compSent.text),
    main/EvaluationPrinter.scala:128): slicing the assembled doc text at
    each turn's offset must reproduce the turn text exactly.

    Returns the violating rows — callers assert .isEmpty().
    """
    j = turns_with_offsets.join(docs, "conv_id")
    sliced = F.expr("substring(doc_text, cast(turn_offset as int) + 1, length(text))")
    return j.where(sliced != F.col("text")).select(
        "conv_id", "turn_idx", "turn_offset", F.col("text"), sliced.alias("sliced")
    )
