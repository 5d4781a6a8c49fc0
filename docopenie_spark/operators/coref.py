"""Cross-turn coreference clustering (SURVEY.md §2.3 T6; reference
tool/coref/CorefResolver.scala:13-46).

The reference runs Stanford dcoref over the FULL document text — the one
stage whose scope is inherently the whole conversation. Here it is one
Spark path with no Python: :func:`clusters` resolves pronouns with a
window per conversation (or per offset block of a hot conversation, see
:func:`_resolve_segmented`) and assembles clusters with one groupBy.
:func:`cluster_conversation` is the pure-Python kernel of the same rules,
the reference the Spark path is tested against.

Deterministic rule set (published string-match + Hobbs-style heuristics,
standing in for the dcoref models that live in the reference's deps):

1. name clustering — mentions whose canonical keys match share a cluster:
   PERSON key = last word (so "Navarro" ⇔ "Alice Navarro");
   ORGANIZATION key = acronym (first letters of capitalized words), so
   "GDC" ⇔ "Global Data Consortium"; else whitespace-collapsed name.
2. pronoun resolution to the NEAREST PRECEDING mention of compatible
   type: he/him/his/she/her/hers → PERSON; it/its → ORGANIZATION or
   LOCATION; they/them/their → ORGANIZATION, else any preceding cluster.
3. cluster ``best`` = the longest mention text, earliest offset on ties
   (the representative-mention stand-in).

Only clusters with >= 2 mentions are emitted (singletons carry no
propagation value for T12).
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import sql_strlist
from .ner import PRONOUN_TYPE

_MALE_F = {"he", "him", "his"}
_FEMALE_F = {"she", "her", "hers"}
_PERSON_PRON = _MALE_F | _FEMALE_F
_THING_PRON = {"it", "its"}
_PLURAL_PRON = {"they", "them", "their"}
_WS = re.compile(r"\s+")


def mention_key(name: str, entity_type: str) -> str:
    words = name.split()
    if entity_type == "PERSON":
        return "P:" + words[-1].lower()
    if entity_type == "ORGANIZATION":
        if len(words) == 1:
            return "O:" + words[0].lower() if words[0].isupper() else "O:" + words[0].lower()
        acr = "".join(w[0] for w in words if w[0].isupper())
        return "O:" + acr.lower()
    return entity_type[0] + ":" + _WS.sub(" ", name).lower()


def cluster_conversation(pdf: pd.DataFrame) -> pd.DataFrame:
    """One conversation's mentions (entities + pronouns) → CLUSTERS rows."""
    conv_id = pdf["conv_id"].iloc[0]
    ms = pdf.sort_values(["offset", "text"]).reset_index(drop=True)

    ents = ms[ms["entity_type"] != PRONOUN_TYPE]
    prons = ms[ms["entity_type"] == PRONOUN_TYPE]

    key_to_cluster: dict[str, int] = {}
    clusters: list[dict] = []  # {mentions: [(text, offset)], type, names}

    for r in ents.itertuples():
        k = mention_key(r.name, r.entity_type)
        if k not in key_to_cluster:
            key_to_cluster[k] = len(clusters)
            clusters.append({"mentions": [], "type": r.entity_type})
        clusters[key_to_cluster[k]]["mentions"].append((r.text, int(r.offset)))

    # per-category sorted (offset, cluster_idx) indexes + bisect — keeps
    # pronoun resolution O(P log E) even for the hot conversation whose
    # single group holds ~10% of all turns (the skew case, BASELINE.md)
    from bisect import bisect_left

    def build(pred) -> list[tuple[int, int]]:
        return sorted(
            (int(r.offset), key_to_cluster[mention_key(r.name, r.entity_type)])
            for r in ents.itertuples()
            if pred(r.entity_type)
        )

    idx_person = build(lambda t: t == "PERSON")
    idx_thing = build(lambda t: t in ("ORGANIZATION", "LOCATION", "OTHER"))
    idx_org = build(lambda t: t == "ORGANIZATION")
    idx_any = build(lambda t: True)

    def nearest_preceding(idx: list[tuple[int, int]], off: int) -> int | None:
        i = bisect_left(idx, (off, -1))
        return idx[i - 1][1] if i > 0 else None

    for r in prons.itertuples():
        lw = r.text.lower()
        off = int(r.offset)
        if lw in _PERSON_PRON:
            ci = nearest_preceding(idx_person, off)
        elif lw in _THING_PRON:
            ci = nearest_preceding(idx_thing, off)
        elif lw in _PLURAL_PRON:
            ci = nearest_preceding(idx_org, off)
            if ci is None:
                ci = nearest_preceding(idx_any, off)
        else:
            ci = nearest_preceding(idx_person, off)
        if ci is not None:
            clusters[ci]["mentions"].append((r.text, off))

    recs = []
    cid = 0
    for c in clusters:
        if len(c["mentions"]) < 2:
            continue
        mentions = sorted(c["mentions"], key=lambda m: m[1])
        best = min(mentions, key=lambda m: (-len(m[0]), m[1]))
        recs.append(
            (conv_id, cid, {"text": best[0], "offset": best[1]},
             [{"text": t, "offset": o} for t, o in mentions])
        )
        cid += 1
    return pd.DataFrame(recs, columns=["conv_id", "cluster_id", "best", "mentions"]).astype(
        {"cluster_id": "int32"} if recs else {}
    )


def _with_keys(mentions: DataFrame) -> DataFrame:
    """Whole-stage-codegen'd canonical-key derivation (mention_key).
    One composite SQL string (round 7): the Column-built tree cost a
    few hundred py4j round trips per pipeline construction."""
    initials = (
        "array_join(filter(transform(split(name, ' '),"
        " w -> substring(w, 1, 1)), c -> c rlike '[A-Z]'), '')"
    )
    key = (
        "CASE WHEN entity_type = 'PERSON'"
        " THEN concat('P:', lower(element_at(split(name, ' '), -1)))"
        " WHEN entity_type = 'ORGANIZATION'"
        " THEN (CASE WHEN size(split(name, ' ')) = 1"
        "       THEN concat('O:', lower(name))"
        f"      ELSE concat('O:', lower({initials})) END)"
        " ELSE concat(substring(entity_type, 1, 1), ':',"
        r"             lower(regexp_replace(name, '\\s+', ' ')))"
        " END"
    )
    return mentions.selectExpr(
        "conv_id", "text", "offset", "entity_type",
        f"CASE WHEN NOT (entity_type = '{PRONOUN_TYPE}') THEN {key} END as key",
        f"cast(entity_type = '{PRONOUN_TYPE}' as int) as is_pron",
    )


_RESOLVED_COLS = ["conv_id", "text", "offset", "is_pron", "ckey"]


_CAT_SQL = [
    ("person", "entity_type = 'PERSON'"),
    ("thing", "entity_type IN ('ORGANIZATION', 'LOCATION', 'OTHER')"),
    ("org", "entity_type = 'ORGANIZATION'"),
    ("any", "true"),
]

# running last entity key per category; ``part`` is the window partition
# (the conversation, or one offset block of it in the segmented scan)
_LAST_OVER = (
    "last(CASE WHEN ({cond}) AND NOT (is_pron = 1) THEN key END, true)"
    " OVER (PARTITION BY {part}"
    " ORDER BY offset ASC, is_pron DESC, text ASC, key ASC"
    " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)


def _with_ckey(lasts: DataFrame) -> DataFrame:
    """Cluster key per mention from the per-category antecedent keys
    ``_l_<category>``: an entity keeps its own key, a pronoun takes the
    antecedent of its category (plural falls back to any); mentions
    left without a key drop out."""
    person_p = sql_strlist(_PERSON_PRON)
    thing_p = sql_strlist(_THING_PRON)
    plural_p = sql_strlist(_PLURAL_PRON)
    ckey = (
        "CASE WHEN is_pron = 1 THEN ("
        f" CASE WHEN lower(text) IN ({person_p}) THEN _l_person"
        f"      WHEN lower(text) IN ({thing_p}) THEN _l_thing"
        f"      WHEN lower(text) IN ({plural_p}) THEN coalesce(_l_org, _l_any)"
        "       ELSE _l_person END"
        ") ELSE key END"
    )
    return (
        lasts.selectExpr("*", f"{ckey} as ckey")
        .where("ckey IS NOT NULL")
        .select(*_RESOLVED_COLS)
    )


def _resolve_plain(m: DataFrame) -> DataFrame:
    """Nearest-preceding-antecedent resolution with ONE window per
    conversation — the right shape for normally-sized conversations.

    Preceding frame ordered so an entity at the SAME offset as a pronoun
    sorts after it (strictly-preceding semantics of the bisect version).
    Frame ends at currentRow, NOT -1: a pronoun row contributes null to
    last(entity key) anyway, and the currentRow-bounded running frame
    takes Spark's incremental O(n) path while (…, -1) falls into the
    O(n²) sliding-frame path (measured 18.8s → expected ~2s on 4M rows).

    "key" as the final orderBy column makes ties on (offset, text)
    deterministic AND consistent with the segmented path's per-block
    max(struct(offset, text, key)) — without it, two mentions tying on
    (conv_id, offset, text) with different keys resolve by sort-
    stability luck and the two paths can diverge. Window expressions
    are SQL strings (round 7, construction cost).
    """
    return _with_ckey(m.selectExpr(
        "*",
        *[
            _LAST_OVER.format(cond=c, part="conv_id") + f" as _l_{n}"
            for n, c in _CAT_SQL
        ],
    ))


def _resolve_segmented(m: DataFrame, block_chars: int = 1 << 13) -> DataFrame:
    """The same resolution as :func:`_resolve_plain` as a TWO-LEVEL
    segmented scan (VERDICT r2 #4) — for HOT conversations whose single
    window partition would be a straggler sort task. Same trick as the
    turn offsets (assembly.with_turn_offsets): (1) the plain path's
    running last per category, partitioned by (conv, offset-block) —
    balanced partitions; (2) each block's final entity per category
    (max of struct(offset, text, key): entity rows all sort after
    pronouns at equal offset, so this is the window's last), carried
    across blocks by a last-of-preceding-blocks window over the blocks
    table (one row per block, so its frame shape costs nothing); (3)
    join the carry-in back on (conv, block), which reuses the window's
    (conv, block) partitioning, and coalesce. Same rows as the plain
    path (both are tested against :func:`cluster_conversation`)."""
    m = m.selectExpr("*", f"cast(offset / {block_chars} as bigint) as _blk")
    within = m.selectExpr("*", *[
        _LAST_OVER.format(cond=c, part="conv_id, _blk") + f" as _w_{n}"
        for n, c in _CAT_SQL
    ])
    blocks = m.groupBy("conv_id", "_blk").agg(*[
        F.expr(f"max(CASE WHEN ({c}) AND NOT (is_pron = 1)"
               " THEN struct(offset, text, key) END)").alias(f"_f_{n}")
        for n, c in _CAT_SQL
    ])
    carry = blocks.selectExpr("conv_id", "_blk", *[
        f"(last(_f_{n}, true) OVER (PARTITION BY conv_id ORDER BY _blk"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)).key"
        f" as _carry_{n}"
        for n, _ in _CAT_SQL
    ])
    return _with_ckey(within.join(carry, ["conv_id", "_blk"]).selectExpr("*", *[
        f"coalesce(_w_{n}, _carry_{n}) as _l_{n}" for n, _ in _CAT_SQL
    ]))


def _assemble(resolved: DataFrame) -> DataFrame:
    grouped = (
        resolved.groupBy("conv_id", "ckey")
        .agg(
            F.expr("array_sort(collect_list(struct(offset, text)))").alias("_ms"),
            F.expr("max(struct(length(text) as l, -offset as negoff,"
                   " text as t))").alias("_b"),
            F.expr("min(CASE WHEN is_pron = 0 THEN offset END)")
            .alias("_first_ent_off"),
            F.expr("sum(1)").alias("_n"),
        )
        .where("_n >= 2")
    )
    return grouped.selectExpr(
        "conv_id",
        "cast(row_number() OVER (PARTITION BY conv_id"
        " ORDER BY _first_ent_off ASC, ckey ASC) - 1 as int) as cluster_id",
        "struct(_b.t as text, -_b.negoff as offset) as best",
        "transform(_ms, s -> struct(s.text as text, s.offset as offset))"
        " as mentions",
    )


def clusters(mentions: DataFrame, hot_threshold: int | None = None) -> DataFrame:
    """mentions (fused.split_entities, incl. pronoun rows) → CLUSTERS, FULLY
    NATIVE (zero Python): whole-stage-codegen'd key derivation, window
    nearest-preceding-antecedent pronoun resolution, one groupBy for
    cluster assembly. Semantics identical to
    :func:`cluster_conversation` (asserted by parity tests).

    SKEW-ADAPTIVE (VERDICT r2 #4), off by default: with a
    ``hot_threshold``, conversations with more mentions than it (whose
    per-conversation window would be a single straggler sort task) are
    split off (one broadcast semi/anti pair over a tiny hot-conversation
    list — the AQE skew-join idea applied to a window) and resolved with
    the two-level segmented scan; everything else takes the plain
    one-window path.

    2^22, the threshold the scaling runs pass, sits at the measured
    crossover (local[32], single-conversation probe): at 4M mentions in
    one conversation the two paths tie (~8-10s each — the segmented
    scan's extra block-carry shuffle cancels the straggler saving), at
    16M the segmented path is 2.5-3× faster (15-18s vs 38-46s
    single-task sort) and the gap widens with size. Below the crossover
    plain is ~2× cheaper, so segmenting everything would tax the common
    case (measured: 3→7s on a balanced 4M-mention table)."""
    m = _with_keys(mentions)
    if hot_threshold is None:
        resolved = _resolve_plain(m)
    else:
        hot = (
            m.groupBy("conv_id").agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > hot_threshold).select("conv_id")
        )
        cold = m.join(F.broadcast(hot), "conv_id", "left_anti")
        hot_m = m.join(F.broadcast(hot), "conv_id", "left_semi")
        resolved = _resolve_plain(cold).unionByName(_resolve_segmented(hot_m))
    return _assemble(resolved)
