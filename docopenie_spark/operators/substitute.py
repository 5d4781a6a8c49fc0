"""Display-form substitution → final triples (SURVEY.md §2.3 T13 + O7;
reference main/EvaluationPrinter.scala:74-101 and tool/link/Linker.scala:88-120).

The reference splices best-mention names into each argument's text via a
char-indexed copy, keeping only substitutions whose intervals do not
overlap a previously kept one (greedy, input-order — O7). Ours is FULLY
NATIVE Spark:

- the (argument × best-mention) interval-containment join (J3/§1.4) is
  link.containment_join, the bucketed join linking's context build uses:
  an equi-join on (conv_id, offset-bucket) plus a range predicate — the
  bucket key keeps the join skew-proof even for the hot conversation
  (no per-conversation grouping anywhere in this stage);
- the greedy non-overlap selection + splice is a single ``aggregate``
  over the offset-sorted substitution array — a JVM-side fold,
  whole-stage-codegen'd, no Python at all.

Order parity: the reference iterates substitutions in best-mention input
order, which is entity/offset order — our sort_array on (offset, …)
reproduces it deterministically.

Expressions are built as SQL strings (round 7): the DAG for this stage
used to cost ~0.7 s of driver time PER CONSTRUCTION in py4j round trips
(the bench re-buckets run_pipeline every repeat, so construction is on
the measured path); a selectExpr with one composite string is a handful
of calls for the identical analyzed plan (the same trick simhash has
used since round 2).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .link import containment_join

_TRIPLE_ID_SQL = (
    "xxhash64(conv_id, turn_idx, sent_num, arg1.offset, rel.offset, "
    "length(rel.text), arg2.offset, extractor)"
)


def _subst_sql(text: str, subs: str) -> str:
    """Greedy non-overlap splice (O7) as a native fold over sorted subs.

    ``subs``: array<struct<rel_start:int, rel_end:int, best:string>>
    sorted by rel_start; rel_* are char positions within the argument
    text. Exact SQL twin of the pre-round-7 Column-built fold: the
    accumulator is struct<cursor:int, out:string>, a substitution is
    kept iff rel_start >= cursor, and the finisher appends the tail.
    """
    return f"""aggregate(
        {subs},
        struct(cast(0 as int) as cursor, '' as out),
        (acc, s) -> if(
            s.rel_start >= acc.cursor,
            struct(
                cast(s.rel_end as int) as cursor,
                concat(acc.out,
                       substring({text}, acc.cursor + 1, s.rel_start - acc.cursor),
                       s.best) as out),
            acc),
        acc -> concat(acc.out, substring({text}, acc.cursor + 1, length({text}))))"""


def substituted_variants(triples_raw: DataFrame,
                         displays: dict[str, DataFrame]) -> DataFrame:
    """TRIPLES_RAW + one displayable BEST_MENTIONS set per tag (an SQL
    identifier) → one row per raw triple: its identity columns (pred,
    subj_raw, obj_raw, …) plus ``subj_<tag>``/``obj_<tag>``, the
    arguments as displayed under that tag's set. The sets run through
    ONE fold: their mentions are unioned with a tag column, joined to the
    arguments once, folded per (argument, tag) and pivoted once per
    triple — so variants that differ only in the display set (eval_diff's
    baseline and comparison) share the join and every shuffle instead of
    building a DAG each."""
    t = triples_raw.withColumn("tid", F.expr(_TRIPLE_ID_SQL))

    args = t.selectExpr(
        "conv_id",
        "tid",
        "explode(array(struct('arg1' as which, arg1 as part),"
        "              struct('arg2' as which, arg2 as part))) as a",
    ).selectExpr(
        "conv_id", "tid", "a.which as which",
        "a.part.text as text", "a.part.offset as offset",
    )

    m = reduce(DataFrame.union, [
        d.selectExpr(
            "conv_id",
            "target.offset as m_off",
            "length(target.text) as m_len",
            "best_mention",
            f"'{tag}' as tag",
        )
        for tag, d in displays.items()
    ])

    # mention ∈ [arg start, arg end]
    joined = containment_join(m, args, "m_off", "m_len", "offset", "length(text)")

    subs = (
        joined.groupBy("conv_id", "tid", "which", "text", "offset", "tag")
        .agg(
            F.expr(
                "sort_array(collect_set(struct("
                "cast(m_off - offset as int) as rel_start,"
                "cast(m_off + m_len - offset as int) as rel_end,"
                "best_mention as best)))"
            ).alias("subs")
        )
        .selectExpr("tid", "which", "tag", _subst_sql("text", "subs") + " as subst")
    )

    pivoted = subs.groupBy("tid").agg(*[
        F.expr(f"max(CASE WHEN which = '{which}' AND tag = '{tag}' THEN subst END)")
        .alias(f"{side}_{tag}")
        for tag in displays
        for which, side in (("arg1", "subj"), ("arg2", "obj"))
    ])

    return t.join(pivoted, "tid", "left").selectExpr(
        "conv_id",
        "turn_idx",
        "sent_num",
        "rel.text as pred",
        "arg1.text as subj_raw",
        "arg2.text as obj_raw",
        "confidence",
        "extractor",
        *[f"coalesce({side}_{tag}, {arg}.text) as {side}_{tag}"
          for tag in displays
          for arg, side in (("arg1", "subj"), ("arg2", "obj"))],
    )


def substituted_triples(triples_raw: DataFrame, bems_display: DataFrame) -> DataFrame:
    """TRIPLES_RAW + displayable BEST_MENTIONS → TRIPLES (canonical strings):
    :func:`substituted_variants` with one display set. The result records
    its two inputs as ``_substitution_inputs`` so plans/evaluation.eval_diff
    can fold two runs over the same raw triples in one pass; a DataFrame
    derived from it (a select, a checkpoint read) carries no record."""
    out = substituted_variants(triples_raw, {"x": bems_display}).selectExpr(
        "conv_id",
        "turn_idx",
        "sent_num",
        "subj_x as subj",
        "pred",
        "obj_x as obj",
        "subj_raw",
        "obj_raw",
        "confidence",
        "extractor",
    )
    out._substitution_inputs = (triples_raw, bems_display)
    return out
