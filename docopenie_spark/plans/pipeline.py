"""End-to-end pipeline DAG (SURVEY.md §3 EP1 Spark equivalent):

transcripts → turns+offsets → ONE fused Arrow pass (sentences ∥
triples_raw ∥ entities) → clusters → links → best_mentions →
best_mentions_expanded → substituted triples.

``run_pipeline`` builds the lazy DAG and returns every stage DataFrame;
callers checkpoint whichever stages they want via sources/checkpoints.py
(the reference's serialized-doc two-phase design, main/KbpDocSerializer.scala,
becomes per-stage tables + lineage).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .. import datagen
from ..operators import (
    assembly, bestmention, coref, fused, link, ner, substitute,
)


@dataclass
class PipelineResult:
    turns: DataFrame
    sentences: DataFrame
    triples_raw: DataFrame
    entities: DataFrame
    mentions: DataFrame
    clusters: DataFrame
    links: DataFrame | None
    best_mentions: DataFrame
    best_mentions_expanded: DataFrame
    triples: DataFrame
    persisted: list[DataFrame] = field(default_factory=list)

    def unpersist(self, blocking: bool = False) -> None:
        """Release every DataFrame run_pipeline persisted (the fan-out
        points, listed in ``persisted``). Call once downstream
        results are materialized — a long-lived session running many
        pipeline variants leaks executor storage otherwise (VERDICT r3
        #4: eval_diff's shared annotate() output was never freed)."""
        for df in self.persisted:
            df.unpersist(blocking)


# --------------------------------------------------------------- plan cache
#
# Round 7: callers re-invoke run_pipeline with semantically identical
# inputs — bench.py rebuilds the DAG every timed repeat, and a query
# sweep builds it once per kg query — and every rebuild pays ~2.4 s of
# driver time for the IDENTICAL analyzed DAG (measured: ~1.2 s Catalyst
# rule time — DeduplicateRelations / ResolveReferences / the optimizer
# runs behind each persist() — plus py4j and expression parsing; see
# OPTIMIZATION_r07.md). This cache memoizes the constructed
# PipelineResult — LAZY PLANS ONLY, never rows: a hit re-applies the
# persist() registrations (the previous caller's unpersist() dropped
# them), so every materialization still computes from the parquet /
# generator inputs exactly as a fresh build would. Keyed on the Spark
# session, every scalar argument, and SEMANTIC equality of every input
# DataFrame plan (Dataset.sameSemantics — canonicalized-plan equality;
# the hash-free linear scan is fine at this size) plus equal file
# listings: two reads of one parquet path compare sameSemantics even
# after files were appended under it, so Dataset.inputFiles must match
# too or the hit would be the DAG over the old listing. Guarded by one
# lock: driver threads sharing a session (a parallel query sweep) must
# not race the scan against the FIFO eviction.
_PLAN_CACHE: list[tuple] = []
_PLAN_CACHE_MAX = 16  # annotate() entries share the list with run_pipeline's
_PLAN_CACHE_LOCK = threading.Lock()


def _same_df(a: DataFrame | None, b: DataFrame | None) -> bool:
    if a is None or b is None:
        return a is b
    if a is b:
        return True
    try:
        return a.sameSemantics(b) and (
            sorted(a.inputFiles()) == sorted(b.inputFiles())
        )
    except Exception:
        return False


def _plan_cache_get(spark, dfs, scalars):
    with _PLAN_CACHE_LOCK:
        for spark0, dfs0, scalars0, result in _PLAN_CACHE:
            if spark0 is not spark or scalars0 != scalars:
                continue
            if all(_same_df(a, b) for a, b in zip(dfs0, dfs)):
                return result
    return None


def _plan_cache_put(spark, dfs, scalars, result) -> None:
    with _PLAN_CACHE_LOCK:
        _PLAN_CACHE.append((spark, dfs, scalars, result))
        if len(_PLAN_CACHE) > _PLAN_CACHE_MAX:
            del _PLAN_CACHE[0]


def _plan_cached(spark, dfs, scalars, storage_level: str, build):
    """``build()`` → (result, the DataFrames it persisted), memoized in
    the plan cache. A hit re-applies the persist() registrations that a
    previous caller's unpersist() dropped (they re-register EMPTY), so
    every action still computes from the inputs."""
    from pyspark import StorageLevel

    hit = _plan_cache_get(spark, dfs, scalars)
    if hit is None:
        hit = build()
        _plan_cache_put(spark, dfs, scalars, hit)
    for df in hit[1]:
        if df.storageLevel == StorageLevel.NONE:
            df.persist(getattr(StorageLevel, storage_level))
    return hit[0]


def _plan_key(builder: str, gazetteer_rows: list[tuple] | None,
              **scalars) -> tuple[list[tuple], tuple]:
    """(the gazetteer rows a build uses, its plan-cache key): the builder's
    name and every scalar argument, with the RESOLVED gazetteer rows — the
    default and the same rows passed explicitly build the same DAG, so
    they must share one entry."""
    gaz_rows = gazetteer_rows if gazetteer_rows is not None else datagen.gazetteer_rows()
    return gaz_rows, (builder, *sorted(scalars.items()),
                      tuple(tuple(r) for r in gaz_rows))


def default_dictionaries(
    gazetteer_rows: list[tuple] | None = None,
) -> tuple[set[str], set[str], set[str]]:
    """(first_names, gazetteer_names, last_names) from the synthesized
    dimension data — the stand-ins for the reference's model/gazetteer
    files under /scratch (BestEntityMentionFinder.scala:556-582). The
    names of a caller's own ``gazetteer_rows`` join the gazetteer set."""
    first_names = {p[0] for p in datagen.PERSONS}
    last_names = {p[1] for p in datagen.PERSONS}
    rows = datagen.gazetteer_rows()
    gaz_names = {r[0] for r in rows} | {r[4] for r in rows if len(r) > 4 and r[4]}
    gaz_names |= {r[0] for r in gazetteer_rows or ()}
    return first_names, gaz_names, last_names


def _fused_pass(turns: DataFrame, gaz_rows: list[tuple]) -> DataFrame:
    """segment+tokenize+extract+NER in ONE Python pass over the turn table
    (operators/fused.parse_extract_annotate): token arrays never cross
    the Arrow boundary — measured, the Arrow transfer itself scales at
    ~0.34 efficiency, so bulk python passes are minimized. No
    repartition before it: the salted turn-offset join already
    partitions on (conv_id, salt), balanced even for the hot
    conversation."""
    return fused.parse_extract_annotate(turns, *default_dictionaries(gaz_rows))


# The fan-out points run_pipeline persists, in build order: the annotated
# table feeds sentences, triples AND mentions; clusters, links and best
# mentions each feed expansion plus another reader. doc_chunks is not
# one (r7): best_mentions is its only consumer, so a persist only paid
# cache build + CacheManager plan canonicalization for a single read.
FANOUT_STAGES = ("annotated", "clusters", "links", "best_mentions")


def _stage_graph(stage, transcripts: DataFrame, entity_dict: DataFrame | None,
                 gaz_rows: list[tuple], hot_thr: int | None = None,
                 with_linking: bool = True, with_coref_expansion: bool = True,
                 annotated: DataFrame | None = None) -> PipelineResult:
    """The pipeline's stages, declared once for every runner (run_pipeline,
    run_checkpointed, bench_extra.py): each is built by ``stage(name, fn,
    *inputs)``, which returns ``fn(*inputs)`` or a persisted, checkpointed
    or timed stand-in. Every conv_id-keyed DataFrame a stage reads is an
    input, so a checkpoint runner can bucket-filter it. Builders are called
    through their modules so tools/profile_construction.py sees them."""
    turns = assembly.with_turn_offsets(transcripts)
    # the rule engine consumes BOUNDED chunks — the hot conversation never
    # materializes as one row (assembly.doc_chunks)
    chunks = stage("doc_chunks", lambda t: assembly.doc_chunks(t), transcripts)
    if annotated is None:
        annotated = stage("annotated", lambda u: _fused_pass(u, gaz_rows), turns)
    # sentences, triples and entities are JVM filters over the combined table
    sents = fused.split_sentences(annotated)
    triples_raw = fused.split_triples(annotated)
    mentions = fused.split_entities(annotated)
    ents = ner.entity_mentions(mentions)
    cl = stage("clusters", lambda m: coref.clusters(m, hot_threshold=hot_thr), mentions)

    lk = None
    if with_linking:
        ed = (entity_dict if entity_dict is not None
              else datagen.entity_dict_df(transcripts.sparkSession))
        # T9/T10: doc_sim scores against coref-extended arg context
        lk = stage("links", lambda tr, c, s: link.links(tr, ed, clusters=c, sentences=s),
                   triples_raw, cl, sents)

    bems = stage("best_mentions",
                 lambda e, ch: bestmention.best_mentions(e, ch, gaz_rows), ents, chunks)
    bems_x = bems
    if with_coref_expansion:
        bems_x = stage("best_mentions_expanded",
                       lambda b, c, *l: bestmention.expand_with_coref(b, c, *l),
                       bems, cl, *([lk] if with_linking else []))

    triples = stage("triples", lambda tr, b: substitute.substituted_triples(
        tr, bestmention.display_filter(b)), triples_raw, bems_x)
    return PipelineResult(
        turns=turns, sentences=sents, triples_raw=triples_raw,
        entities=ents, mentions=mentions, clusters=cl, links=lk,
        best_mentions=bems, best_mentions_expanded=bems_x, triples=triples,
    )


def annotate(
    spark: SparkSession,
    transcripts: DataFrame,
    gazetteer_rows: list[tuple] | None = None,
) -> DataFrame:
    """The fused segment+tokenize+extract+NER pass alone, persisted —
    pass the result as ``run_pipeline(..., annotated=)`` to share ONE
    Python pass across several pipeline variants (VERDICT r2 #3: the
    differential evaluation runs base and comp over identical annotated
    output; only linking/expansion differ).

    Plan-cached like :func:`run_pipeline` (lazy plan only, never rows):
    a semantically identical invocation returns the SAME DataFrame, so
    downstream plan-cache keys short-circuit on object identity. A hit
    whose persist was dropped by a caller's unpersist() re-registers
    EMPTY."""
    from pyspark import StorageLevel

    gaz_rows, key = _plan_key("annotate", gazetteer_rows)

    def build():
        out = _fused_pass(assembly.with_turn_offsets(transcripts), gaz_rows)
        out = out.persist(StorageLevel.MEMORY_AND_DISK)
        return out, [out]

    return _plan_cached(spark, (transcripts,), key, "MEMORY_AND_DISK", build)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    entity_dict: DataFrame | None = None,
    gazetteer_rows: list[tuple] | None = None,
    with_linking: bool = True,
    with_coref_expansion: bool = True,
    annotated: DataFrame | None = None,
    storage_level: str = "MEMORY_AND_DISK",
    coref_hot_threshold: int | None = None,
) -> PipelineResult:
    """Build the full DAG. The raw input and the fan-out points
    (FANOUT_STAGES) are persisted so shared prefixes compute once — the
    Spark analogue of the reference's lazy-val memoization per document
    (SURVEY.md §4 row 1). At cluster scale these become checkpoint
    tables (plans/checkpointed.py) instead of memory.

    ``annotated`` (from :func:`annotate` over the SAME transcripts)
    skips the fused Python pass — callers running several variants
    (eval_diff base vs comp) pay for it once.

    ``storage_level`` picks the persist level for the fan-out points:
    the default keeps deserialized rows in executor memory (fastest when
    it fits); small fixed-heap executors holding a large corpus should
    pass "DISK_ONLY" — serialized spill, bounded heap (the executor-mode
    scaling protocol does; VERDICT r2 #1a).

    ``coref_hot_threshold`` turns on coref's hot-conversation split
    (:func:`coref.clusters`): conversations with more mentions than it
    take the two-level segmented scan. Both paths give the same rows;
    the split pays only where one conversation would otherwise be a
    straggler window, so it is off unless the caller sets it (the
    multi-million-turn scaling runs pass ``1 << 22``)."""
    from pyspark import StorageLevel

    gaz_rows, key = _plan_key("run_pipeline", gazetteer_rows,
                              with_linking=with_linking,
                              with_coref_expansion=with_coref_expansion,
                              storage_level=storage_level,
                              coref_hot_threshold=coref_hot_threshold)

    def build():
        lvl = getattr(StorageLevel, storage_level)
        persisted: list[DataFrame] = []

        def _p(df: DataFrame) -> DataFrame:
            df = df.persist(lvl)
            persisted.append(df)
            return df

        def stage(name, fn, *inputs):
            df = fn(*inputs)
            return _p(df) if name in FANOUT_STAGES else df

        t = transcripts
        # the raw input is itself a fan-out point: the salted-offset join
        # reads it twice (rows + per-group partial sums) and doc_chunks
        # reads it again — for a generated/derived source each of those
        # is a full recompute (measured r7: the bench corpus is a
        # mapInPandas generator, so the un-persisted turn table ran 2-4×
        # per pipeline materialization). Persist only if the caller has not
        # already chosen a level (persist with a different level raises).
        if t.storageLevel == StorageLevel.NONE:
            t = _p(t)
        result = _stage_graph(stage, t, entity_dict, gaz_rows, coref_hot_threshold,
                              with_linking, with_coref_expansion, annotated)
        result.persisted = persisted
        return result, persisted

    return _plan_cached(spark, (transcripts, entity_dict, annotated), key,
                        storage_level, build)
