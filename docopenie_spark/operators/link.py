"""Entity linking (SURVEY.md §2.3 T9/T10; reference tool/link/Linker.scala).

The reference builds an ArgContext per extraction argument (clean the
arg, gather context sentences via coref siblings) and calls an external
linker against an on-disk index, keeping links with combinedScore >= 5.0
(Linker.scala:63,156; MIN_COMBINED_SCORE here) and recomputing offsets
from token + sentence offset (:153-162).

Spark-first re-expression:
- candidate generation = a BROADCAST equi-join of normalized arg keys
  against the (small) entity dictionary exploded over name + aliases —
  the dictionary plays the role of the reference's linker index;
- scoring = deterministic column expressions (exact-name 6.0 / alias 5.5
  base, + 0.4·log10(1+inlinks) + context overlap); only relative
  ordering and the 5.0 threshold are observable behavior (SURVEY.md U3);
- context (T9) = own and coref-sibling sentences of each ambiguous arg,
  gathered with ``containment_join`` — the one bucketed interval join,
  which the classifier (classifier.py) and substitution (substitute.py)
  use too;
- argmax per argument = row_number over a descending-score window —
  the reference's getBestEntity head-of-sorted-list.

Arg cleaning (P7, Linker.scala:73-82): exactly ONE leading token is
dropped if it is a determiner/preposition, then exactly ONE trailing
token likewise (``tokens.drop(1)`` / ``dropRight(1)`` — not a fixpoint).
The CLEANED text is only the linker QUERY; the emitted link carries the
ORIGINAL arg text and the original head offset (Linker.scala:153-160:
``FreeBaseLink(ac.arg.text, offset, …)`` with offset from the arg's
first token) — so link offsets equi-join exactly against mention/NER
offsets downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .tokenize import DETERMINERS, PREPOSITIONS

_STRIP_WORDS = sorted(DETERMINERS | PREPOSITIONS)
# anchored → at most one leading / one trailing token stripped (drop(1) /
# dropRight(1) parity); (?i) mirrors the reference's POS-based test which
# is case-insensitive on the surface form
_LEAD_PAT = r"(?i)^(?:%s)(?:\s+|$)" % "|".join(_STRIP_WORDS)
_TRAIL_PAT = r"(?i)(?:^|\s+)(?:%s)$" % "|".join(_STRIP_WORDS)


def exploded_args(triples_raw: DataFrame) -> DataFrame:
    """Distinct extraction arguments (Linker.scala:127 args.distinct)."""
    a = triples_raw.selectExpr(
        "conv_id", "explode(array(arg1, arg2)) as p"
    ).selectExpr("conv_id", "p.text as text", "p.offset as offset")
    return a.dropDuplicates(["conv_id", "offset", "text"])


def with_clean_arg(args: DataFrame) -> DataFrame:
    """P7: drop ONE leading and ONE trailing determiner/preposition token
    (Linker.scala:76-77). clean_offset is the doc offset of the first
    RETAINED character, measured from the actual stripped length — robust
    to multiple spaces between tokens."""
    after_lead = F.regexp_replace(F.col("text"), _LEAD_PAT, "")
    clean = F.regexp_replace(after_lead, _TRAIL_PAT, "")
    shift = (F.length("text") - F.length(after_lead)).cast("long")
    return args.select(
        "conv_id",
        "text",
        "offset",
        clean.alias("clean_text"),
        (F.col("offset") + shift).alias("clean_offset"),
    ).where(F.length("clean_text") > 0)


_BUCKET = 256  # chars per offset bucket in the containment joins

# the reference's hardcoded minCombinedScore (Linker.scala:63)
MIN_COMBINED_SCORE = 5.0


def containment_join(points: DataFrame, spans: DataFrame, p_off, p_len, s_off, s_len):
    """points ⊆ spans interval join: a point row [p_off, p_off + p_len]
    pairs with every span row [s_off, s_off + s_len] of its conversation
    that contains it. Bucketed on (conv_id, offset // _BUCKET) — a span
    explodes over every bucket it touches, a point sits in its start's
    bucket — so it stays skew-proof: no per-conversation cross product
    even for the hot conversation (SURVEY.md J3 pattern). Linking's
    context, the classifier's cluster agreement and training contexts,
    and substitution (substitute.py) share it, one call per table pair.
    Offset/length arguments are SQL expression strings (round 7: the
    containment joins cost ~0.5 s of py4j driver time per run_pipeline
    construction as Column trees)."""
    p = points.selectExpr("*", f"cast(({p_off}) / {_BUCKET} as bigint) as _b")
    s = spans.selectExpr(
        "*",
        f"explode(sequence(cast(({s_off}) / {_BUCKET} as bigint),"
        f" cast((({s_off}) + ({s_len})) / {_BUCKET} as bigint))) as _b",
    )
    return p.join(s, ["conv_id", "_b"]).where(
        f"({p_off}) >= ({s_off}) AND ({p_off}) + ({p_len}) <= ({s_off}) + ({s_len})"
    ).drop("_b")


def arg_contexts(args: DataFrame, clusters: DataFrame, sentences: DataFrame) -> DataFrame:
    """T9 (Linker.scala:125-151): per cleaned argument, the context is the
    arg's OWN sentence plus every sentence containing a coref-cluster
    SIBLING of a mention inside the arg span (``fullText = (source +:
    extended).distinct``, Linker.scala:50). Returns (conv_id, offset,
    text, ctx) with ctx = distinct lowercase tokens of those sentences.

    Two bucketed containment joins replace the reference's per-document
    nested loops: cluster mentions inside the arg span find the sibling
    mentions, then the arg span and its siblings' spans, as one point
    table, find their sentences."""
    akey = ["conv_id", "offset", "text"]
    a = args.select(*akey, "clean_text", "clean_offset")
    s = sentences.selectExpr(
        "conv_id", "offset as s_off", "length(text) as s_len", "text as s_text"
    )
    cm = clusters.selectExpr(
        "conv_id", "cluster_id", "explode(mentions) as m"
    ).selectExpr("conv_id", "cluster_id",
                 "m.offset as m_off", "length(m.text) as m_len")
    arg_clusters = containment_join(
        cm, a, "m_off", "m_len", "clean_offset", "length(clean_text)"
    ).select(*akey, "cluster_id").distinct()
    # the arg's own span (→ its own sentence) and every sibling mention
    # of those clusters (→ the EXTENDED context)
    points = a.selectExpr(
        *akey, "clean_offset as p_off", "length(clean_text) as p_len"
    ).unionByName(
        arg_clusters.join(cm, ["conv_id", "cluster_id"]).selectExpr(
            *akey, "m_off as p_off", "m_len as p_len"
        )
    )
    ctx_sents = containment_join(
        points, s, "p_off", "p_len", "s_off", "s_len"
    ).select(*akey, "s_off", "s_text").dropDuplicates(akey + ["s_off"])
    return ctx_sents.groupBy(*akey).agg(
        F.expr(
            r"array_distinct(flatten(collect_list(split(lower(s_text), '\\s+'))))"
        ).alias("ctx")
    )


def links(
    triples_raw: DataFrame,
    entity_dict: DataFrame,
    clusters: DataFrame,
    sentences: DataFrame,
) -> DataFrame:
    """TRIPLES_RAW × entity_dict → LINKS, keeping scores of at least
    MIN_COMBINED_SCORE. doc_sim scores candidate context overlap against
    the T9 arg context built from ``clusters`` and ``sentences`` (round 1
    stubbed it to 0.0) — two dictionary entries sharing an alias are
    disambiguated by context, not id order."""
    args = with_clean_arg(exploded_args(triples_raw))

    # explode the dictionary over name + aliases with a per-key kind
    cand = entity_dict.selectExpr(
        "id", "name", "types", "inlinks", "context as d_ctx",
        "explode(concat("
        " array(struct(lower(name) as key, 'name' as src)),"
        " transform(aliases, a -> struct(lower(a) as key, 'alias' as src))"
        ")) as k",
    ).selectExpr("id", "name", "types", "inlinks", "d_ctx",
                 "k.key as key", "k.src as src")

    # semi-join reduction: doc_sim only orders candidates WITHIN one
    # argument, so context matters only for args whose key matches
    # MORE THAN ONE dictionary entry — a tiny broadcast filter keeps
    # the 5-stage context machinery off the 99% unambiguous args
    # (their doc_sim is reported as 0; their selected link cannot
    # change). The reference computes docSim unconditionally against
    # its KB index; observable behavior — which entity each arg links
    # to, and the 5.0 threshold — is identical.
    multi = (
        cand.groupBy("key")
        .agg(F.countDistinct("id").alias("_n"))
        .where(F.col("_n") > 1)
        .select("key")
    )
    ambiguous = args.join(
        F.broadcast(multi), F.lower(args.clean_text) == multi.key, "left_semi"
    )
    ctx = arg_contexts(ambiguous, clusters, sentences)
    args = args.join(ctx, ["conv_id", "offset", "text"], "left")

    j = args.join(
        F.broadcast(cand), F.lower(args.clean_text) == cand.key, "inner"
    )

    cand_score = "CASE WHEN src = 'name' THEN 6.0D ELSE 5.5D END"
    inlink_score = "0.4D * log10(1.0D + inlinks)"
    # context-token overlap, normalized by the entity's context size
    doc_sim = (
        "CASE WHEN ctx IS NOT NULL AND d_ctx IS NOT NULL"
        " THEN size(array_intersect(ctx, d_ctx))"
        " / cast(greatest(size(d_ctx), 1) as double)"
        " ELSE 0.0D END"
    )
    w = Window.partitionBy("conv_id", "offset", "text").orderBy(
        F.desc("score"), F.asc("id")
    )
    return (
        j.selectExpr(
            "conv_id",
            # the link carries the ORIGINAL arg text/offset; the cleaned
            # form is the query key only (Linker.scala:153-160)
            "text",
            "offset",
            "clean_text",
            "clean_offset",
            "name",
            "id",
            f"({cand_score}) + ({inlink_score}) + ({doc_sim}) as score",
            f"{doc_sim} as doc_sim",
            f"{cand_score} as cand_score",
            "inlinks",
            "types",
        )
        .where(F.col("score") >= MIN_COMBINED_SCORE)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
