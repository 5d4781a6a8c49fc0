"""Differential evaluation — the reference's flagship outputs
(SURVEY.md §3 EP1 step 5):

- ``eval_diff``: the baseline-vs-comparison CHANGED-EXTRACTION table
  (main/EvaluationPrinter.scala:121-180): zip the two runs' extractions
  per sentence, keep pairs whose displayed (arg1, arg2) changed, emit the
  reference's column layout (comp args, base args, sentence text, changed
  flags, doc id). The reference zips positionally under the
  ``require(baseSent.text == compSent.text)`` invariant; ours pairs on
  the extraction identity key — same pairing, shuffle-safe
  (``turn_text_equality_violations`` enforces the invariant separately).
  Two runs substituted over the same raw triples differ only in their
  display set, so for those ``eval_diff`` folds both sets in ONE
  substitution pass (operators/substitute.substituted_variants) and pairs
  the variants per identity key — the reference's single walk over both
  runs. Any other two tables go through the identity-key join.
- ``link_diff``: the BASELINE/NEW link diff (main/LinkDiffPrinter.scala:
  52-73): links are keyed by (offset, text, id); rows present in only one
  run are emitted tagged with their source, offset-sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import substitute
from .pipeline import _same_df

# the extraction identity under the per-turn text-equality invariant:
# same sentence, same raw args/relation/extractor ⇒ the same extraction
# in both runs (EvaluationPrinter zips positionally; this is the join form)
_EXTR_KEY = ["conv_id", "turn_idx", "sent_num", "subj_raw", "pred", "obj_raw",
             "confidence", "extractor"]


def _one_pass_inputs(base_triples: DataFrame, comp_triples: DataFrame):
    """(triples_raw, base display set, comp display set) when both tables
    are substituted_triples outputs over the same raw triples, else None."""
    b = getattr(base_triples, "_substitution_inputs", None)
    c = getattr(comp_triples, "_substitution_inputs", None)
    if b is None or c is None or not _same_df(b[0], c[0]):
        return None
    return c[0], b[1], c[1]


def _paired_by_key(triples_raw: DataFrame, base_display: DataFrame,
                   comp_display: DataFrame) -> DataFrame:
    """The identity-key join's pairs, from one two-tag substitution pass.
    Like the join, an extraction with a null key component pairs with
    nothing, and a key shared by M extractions pairs every comp variant
    with every base variant (M×M rows)."""
    v = substitute.substituted_variants(
        triples_raw, {"base": base_display, "comp": comp_display})
    return (
        v.where(" AND ".join(f"{c} IS NOT NULL" for c in _EXTR_KEY))
        .groupBy(*_EXTR_KEY)
        .agg(F.expr("collect_list(struct(subj_base, obj_base, subj_comp, obj_comp))")
             .alias("vs"))
        .selectExpr(*_EXTR_KEY, """inline(flatten(transform(vs, c -> transform(vs, b ->
            struct(c.subj_comp AS comp_arg1, c.obj_comp AS comp_arg2,
                   b.subj_base AS base_arg1, b.obj_base AS base_arg2)))))""")
    )


def _joined_by_key(base_triples: DataFrame, comp_triples: DataFrame) -> DataFrame:
    base = base_triples.select(
        *_EXTR_KEY,
        F.col("subj").alias("base_arg1"),
        F.col("obj").alias("base_arg2"),
    )
    comp = comp_triples.select(
        *_EXTR_KEY,
        F.col("subj").alias("comp_arg1"),
        F.col("obj").alias("comp_arg2"),
    )
    return comp.join(base, _EXTR_KEY, "inner")


def eval_diff(base_triples: DataFrame, comp_triples: DataFrame,
              sentences: DataFrame | None = None) -> DataFrame:
    """Changed extractions between a baseline run and a comparison run
    (EvaluationPrinter.scala:139-180). Emits only pairs where the
    displayed arguments differ, with the reference's fields:
    comp_arg1/rel/comp_arg2, base_arg1/base_arg2, sentence text (when
    ``sentences`` is given), doc id, and per-arg changed flags.

    When both tables come straight from substituted_triples over the
    same raw triples (two run_pipeline variants, shared annotate() or
    not), the two display sets go through ONE substitution fold and are
    paired per identity key. Any other tables (a select over them, a
    checkpoint read) are joined on the identity key; both forms give the
    same rows, duplicate-key fan-out included."""
    inputs = _one_pass_inputs(base_triples, comp_triples)
    j = (_paired_by_key(*inputs) if inputs is not None
         else _joined_by_key(base_triples, comp_triples))
    arg1_changed = F.col("comp_arg1") != F.col("base_arg1")
    arg2_changed = F.col("comp_arg2") != F.col("base_arg2")
    out = j.where(arg1_changed | arg2_changed).select(
        "conv_id", "turn_idx", "sent_num",
        "comp_arg1", F.col("pred").alias("rel"), "comp_arg2",
        "base_arg1", "base_arg2",
        F.when(arg1_changed, F.lit("YES")).otherwise(F.lit("NO")).alias("arg1_changed"),
        F.when(arg2_changed, F.lit("YES")).otherwise(F.lit("NO")).alias("arg2_changed"),
        "extractor",
    )
    if sentences is not None:
        s = sentences.select(
            "conv_id", "turn_idx", "sent_num", F.col("text").alias("sentence_text")
        )
        out = out.join(s, ["conv_id", "turn_idx", "sent_num"], "left")
    return out


def classifier_pr(scored: DataFrame, label_col: str = "label",
                  conf_col: str = "confidence",
                  quantize: int | None = 4) -> DataFrame:
    """Corpus-scale PR evaluation over CONTINUOUS (logistic-regression)
    confidences — the A7 curve with a bounded bucket table BY DEFAULT
    (VERDICT r5 #6: pr_curve's quantize was opt-in, so the corpus-scale
    caller scoring LR outputs degenerated to one bucket per row and the
    total-order bucket window saw the full data again). quantize=4
    bounds the bucket table at ≤2·10⁴ rows regardless of corpus size;
    pass ``quantize=None`` only for already-discrete scores (the
    bem_pr_curve oracle's integer-derived confidences keep using
    pr_curve directly, unchanged)."""
    from ..operators.classifier import pr_curve

    return pr_curve(scored, label_col, conf_col, quantize=quantize)


def link_diff(old_links: DataFrame, new_links: DataFrame) -> DataFrame:
    """BASELINE/NEW link difference (LinkDiffPrinter.scala:52-73): links
    are distinct by (offset, text, id) within a conversation; rows in
    exactly one run are tagged with their source and offset-sorted."""
    key = ["conv_id", "offset", "text", "id"]
    cols = key + ["clean_text", "name", "score", "doc_sim", "inlinks", "types"]
    o = old_links.select(*cols)
    n = new_links.select(*cols)
    old_only = o.join(n.select(*key), key, "left_anti").withColumn(
        "source", F.lit("BASELINE")
    )
    new_only = n.join(o.select(*key), key, "left_anti").withColumn(
        "source", F.lit("NEW")
    )
    return old_only.unionByName(new_only).orderBy("conv_id", "offset", "source")
