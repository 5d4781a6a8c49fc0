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

import os
import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import datagen
from ..operators import (
    assembly, bestmention, coref, fused, link, ner, substitute,
)


@dataclass
class PipelineResult:
    turns: DataFrame
    docs: DataFrame
    sentences: DataFrame
    triples_raw: DataFrame
    entities: DataFrame
    mentions: DataFrame
    clusters: DataFrame
    links: DataFrame | None
    best_mentions: DataFrame
    best_mentions_expanded: DataFrame
    triples: DataFrame
    extras: dict = field(default_factory=dict)

    def unpersist(self, blocking: bool = False) -> None:
        """Release every DataFrame run_pipeline persisted (the fan-out
        points live in ``extras["persisted"]``). Call once downstream
        results are materialized — a long-lived session running many
        pipeline variants leaks executor storage otherwise (VERDICT r3
        #4: eval_diff's shared annotate() output was never freed)."""
        for df in self.extras.get("persisted", []):
            df.unpersist(blocking)


# Crossover for the slim-sentence path (round-4 interleaved A/B): 's'
# rows carrying only (offset, length) + a JVM join+substring win 15-20%
# at 2M+ turns (less Arrow traffic, smaller persist — the 16-cpu
# memory-bandwidth bottleneck), but at bench scale (~400k turns) the
# join+re-normalization overhead LOSES ~10-25% on the pipeline wall
# (r2-vs-r3 pairs 5.12→6.70 / 5.22→5.57 / 5.14→6.60 s). Same shape as
# the coref hot-conversation threshold: pay the extra shuffle only when
# the Arrow savings outweigh it.
SLIM_SENTENCE_THRESHOLD = 1 << 20

# Coref skew machinery gate (round-4 probe, 400k turns, local[32]): the
# hot-conversation DETECTION itself — a mention-level aggregation, a
# broadcast semi/anti pair, and the (empty) segmented branch's extra
# query stages — costs ~1.4-1.7s of a ~10s pipeline when NO conversation
# is hot. Both coref paths are parity-identical, so detection is purely
# a performance heuristic and may be gated on a cheap UPPER BOUND from
# the turn table: a conversation can only exceed hot_threshold mentions
# if it has > hot_threshold / BOUND turns (measured ~3.3 mentions/turn;
# 16 is a safe over-estimate — being wrong costs a straggler window,
# never a wrong row).
COREF_HOT_THRESHOLD = 1 << 22
COREF_MENTIONS_PER_TURN_BOUND = 16


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
# Kill-switch: SPARK_GRAFT_PLAN_CACHE=0.
_PLAN_CACHE: list[tuple] = []
_PLAN_CACHE_MAX = 16  # annotate() entries share the list with run_pipeline's
_PLAN_CACHE_LOCK = threading.Lock()


def _plan_cache_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_PLAN_CACHE", "1") != "0"


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

    if not _plan_cache_enabled():
        return build()[0]
    hit = _plan_cache_get(spark, dfs, scalars)
    if hit is None:
        hit = build()
        _plan_cache_put(spark, dfs, scalars, hit)
    for df in hit[1]:
        if df.storageLevel == StorageLevel.NONE:
            df.persist(getattr(StorageLevel, storage_level))
    return hit[0]


def _input_stats(transcripts: DataFrame) -> tuple[int, int]:
    """(total turns, max turns in one conversation) in ONE column-pruned
    map-side-combined job over the raw input."""
    row = (
        transcripts.groupBy("conv_id").agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.sum("_n").alias("n"), F.max("_n").alias("mx"))
        .first()
    )
    return int(row["n"] or 0), int(row["mx"] or 0)


def adaptive_decisions(
    transcripts: DataFrame,
    slim_sentences: bool | None = None,
    coref_hot_threshold: int | None | str = "auto",
) -> tuple[bool, int | None]:
    """(slim, hot_threshold): the size-adaptive decisions (see
    SLIM_SENTENCE_THRESHOLD / COREF_HOT_THRESHOLD above). An explicit
    ``slim_sentences`` / non-"auto" ``coref_hot_threshold`` wins; the
    rest is resolved from ONE cheap job over the RAW input, skipped
    entirely when both are explicit. annotate() and run_pipeline() derive
    the SAME decision from the same input, so a shared annotated table
    always matches the split_sentences path; the benchmarks call this to
    resolve the flags outside their timed region."""
    if slim_sentences is not None and coref_hot_threshold != "auto":
        return slim_sentences, coref_hot_threshold
    n_turns, max_conv_turns = _input_stats(transcripts)
    slim = (
        slim_sentences if slim_sentences is not None
        else n_turns >= SLIM_SENTENCE_THRESHOLD
    )
    if coref_hot_threshold != "auto":
        return slim, coref_hot_threshold
    if max_conv_turns * COREF_MENTIONS_PER_TURN_BOUND > COREF_HOT_THRESHOLD:
        return slim, COREF_HOT_THRESHOLD
    return slim, None  # no conversation can be hot: skip detection


def _rows_key(rows: list[tuple]) -> tuple:
    return tuple(tuple(r) for r in rows)


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


def _fused_pass(turns: DataFrame, gaz_rows: list[tuple], slim: bool) -> DataFrame:
    """segment+tokenize+extract+NER in ONE Python pass over the turn table
    (operators/fused.parse_extract_annotate): token arrays never cross
    the Arrow boundary — measured, the Arrow transfer itself scales at
    ~0.34 efficiency, so bulk python passes are minimized. No
    repartition before it: the salted turn-offset join already
    partitions on (conv_id, salt), balanced even for the hot
    conversation. Slim omits the inline sentence text (split_sentences
    reconstructs it JVM-side from the turn table)."""
    return fused.parse_extract_annotate(
        turns, *default_dictionaries(gaz_rows), emit_sentence_text=not slim
    )


# The fan-out points run_pipeline persists, in build order: the annotated
# table feeds sentences, triples AND mentions; clusters, links and best
# mentions each feed expansion plus another reader. doc_chunks is not
# one (r7): best_mentions is its only consumer, so a persist only paid
# cache build + CacheManager plan canonicalization for a single read.
FANOUT_STAGES = ("annotated", "clusters", "links", "best_mentions")


def _stage_graph(stage, transcripts: DataFrame, entity_dict: DataFrame | None,
                 gaz_rows: list[tuple], slim: bool, hot_thr: int | None,
                 with_linking: bool = True, with_coref_expansion: bool = True,
                 annotated: DataFrame | None = None) -> PipelineResult:
    """The pipeline's stages, declared once for every runner (run_pipeline,
    run_checkpointed, bench_extra.py): each is built by ``stage(name, fn,
    *inputs)``, which returns ``fn(*inputs)`` or a persisted, checkpointed
    or timed stand-in. Every conv_id-keyed DataFrame a stage reads is an
    input, so a checkpoint runner can bucket-filter it. Builders are called
    through their modules so tools/profile_construction.py sees them."""
    turns = assembly.with_turn_offsets(transcripts)
    docs = assembly.doc_text_salted(transcripts)  # full strings: tests/queries only
    # the rule engine consumes BOUNDED chunks — the hot conversation never
    # materializes as one row (assembly.doc_chunks)
    chunks = stage("doc_chunks", lambda t: assembly.doc_chunks(t), transcripts)
    if annotated is None:
        annotated = stage("annotated", lambda u: _fused_pass(u, gaz_rows, slim), turns)
    # slim: sentence text reconstructed JVM-side from the turn table (the
    # 's' rows carry only offset+length); below the threshold the text
    # rode inline through Arrow and no join is needed. Sentences, triples
    # and entities are JVM filters over the combined table.
    sents = fused.split_sentences(annotated, turns if slim else None)
    triples_raw = fused.split_triples(annotated)
    mentions = fused.split_entities(annotated)
    ents, _prons = ner.split_mentions(mentions)
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
        turns=turns, docs=docs, sentences=sents, triples_raw=triples_raw,
        entities=ents, mentions=mentions, clusters=cl, links=lk,
        best_mentions=bems, best_mentions_expanded=bems_x, triples=triples,
    )


def annotate(
    spark: SparkSession,
    transcripts: DataFrame,
    gazetteer_rows: list[tuple] | None = None,
    fabricate_metadata: bool = False,
    cache: bool = True,
    storage_level: str = "MEMORY_AND_DISK",
    slim_sentences: bool | None = None,
) -> DataFrame:
    """The fused segment+tokenize+extract+NER pass alone, persisted —
    pass the result as ``run_pipeline(..., annotated=)`` to share ONE
    Python pass across several pipeline variants (VERDICT r2 #3: the
    differential evaluation runs base and comp over identical annotated
    output; only linking/expansion differ). ``slim_sentences`` defaults
    to the same size-adaptive decision run_pipeline makes over the same
    input, so the shared table always matches the downstream path.

    Plan-cached like :func:`run_pipeline` (lazy plan only, never rows):
    a semantically identical invocation returns the SAME DataFrame, so
    downstream plan-cache keys short-circuit on object identity and the
    eager ``_input_stats`` sizing job is not re-run. A hit whose persist
    was dropped by a caller's unpersist() re-registers EMPTY."""
    from pyspark import StorageLevel

    # keyed on the RESOLVED gazetteer rows: the default and the same rows
    # passed explicitly build the same DAG, so they must share one entry
    gaz_rows = gazetteer_rows if gazetteer_rows is not None else datagen.gazetteer_rows()
    scalars = (
        "annotate", fabricate_metadata, cache, storage_level,
        slim_sentences, _rows_key(gaz_rows),
    )

    def build():
        # only the slim half matters here: hot_threshold=None skips the
        # sizing job when the caller fixed slim_sentences
        slim, _ = adaptive_decisions(transcripts, slim_sentences, None)
        t = (assembly.fabricated_metadata_turns(transcripts)
             if fabricate_metadata else transcripts)
        out = _fused_pass(assembly.with_turn_offsets(t), gaz_rows, slim)
        # Record the resolved slim decision IN the annotated schema (ADVICE
        # r4 / VERDICT r5 #2): run_pipeline(annotated=) must join sentence
        # text back exactly when this pass omitted it — re-deriving the
        # decision from a possibly-different transcripts DataFrame could
        # silently disagree and yield null/mis-substringed sentence text.
        # Column METADATA on e_text (the column whose 's'-row contents the
        # decision governs) travels through filter/select/persist on any
        # DERIVED DataFrame.
        out = out.withMetadata("e_text", {"docopenie_slim": slim})
        if not cache:
            return out, []
        out = out.persist(getattr(StorageLevel, storage_level))
        return out, [out]

    return _plan_cached(spark, (transcripts,), scalars, storage_level, build)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    entity_dict: DataFrame | None = None,
    gazetteer_rows: list[tuple] | None = None,
    with_linking: bool = True,
    with_coref_expansion: bool = True,
    fabricate_metadata: bool = False,
    cache: bool = True,
    annotated: DataFrame | None = None,
    storage_level: str = "MEMORY_AND_DISK",
    slim_sentences: bool | None = None,
    coref_hot_threshold: int | None | str = "auto",
) -> PipelineResult:
    """Build the full DAG. With cache=True the fan-out points
    (FANOUT_STAGES) are persisted so shared prefixes compute once — the
    Spark analogue of the reference's lazy-val memoization per document
    (SURVEY.md §4 row 1). At cluster scale these become checkpoint
    tables (plans/checkpointed.py) instead of memory.

    ``annotated`` (from :func:`annotate` over the SAME transcripts and
    fabrication setting) skips the fused Python pass — callers running
    several variants (eval_diff base vs comp) pay for it once.

    ``storage_level`` picks the persist level for the fan-out points:
    the default keeps deserialized rows in executor memory (fastest when
    it fits); small fixed-heap executors holding a large corpus should
    pass "DISK_ONLY" — serialized spill, bounded heap (the executor-mode
    scaling protocol does; VERDICT r2 #1a)."""
    from pyspark import StorageLevel

    gaz_rows = gazetteer_rows if gazetteer_rows is not None else datagen.gazetteer_rows()
    scalars = (
        with_linking, with_coref_expansion, fabricate_metadata, cache,
        storage_level, slim_sentences, coref_hot_threshold,
        _rows_key(gaz_rows),
    )

    def build():
        # an annotate()-built table carries its own resolved slim decision
        # (ADVICE r4) as e_text column METADATA, which travels through any
        # derived DataFrame: trust it over re-derivation — the fused pass
        # either emitted inline sentence text or it did not, and only the
        # producer knows. An explicit contradictory flag is a caller bug.
        slim_flag = slim_sentences
        ann_slim = None
        if annotated is not None and "e_text" in annotated.columns:
            ann_slim = annotated.schema["e_text"].metadata.get("docopenie_slim")
        if ann_slim is not None:
            if slim_flag is not None and slim_flag != ann_slim:
                raise ValueError(
                    f"slim_sentences={slim_flag} contradicts the supplied "
                    f"annotated table, which was built with slim={ann_slim}"
                )
            slim_flag = ann_slim
        # the scaling harness passes both explicitly, keeping its timed
        # region free of the sizing job
        slim, hot_thr = adaptive_decisions(transcripts, slim_flag, coref_hot_threshold)

        lvl = getattr(StorageLevel, storage_level)
        persisted: list[DataFrame] = []

        def _p(df: DataFrame) -> DataFrame:
            if cache:
                df = df.persist(lvl)
                persisted.append(df)
            return df

        def stage(name, fn, *inputs):
            df = fn(*inputs)
            return _p(df) if name in FANOUT_STAGES else df

        t = transcripts
        if fabricate_metadata:
            # S6: role/ts metadata becomes mention-bearing fabricated turns
            t = assembly.fabricated_metadata_turns(t)
        # the raw input is itself a fan-out point: the salted-offset join
        # reads it twice (rows + per-group partial sums) and doc_chunks /
        # docs read it again — for a generated/derived source each of those
        # is a full recompute (measured r7: the bench corpus is a
        # mapInPandas generator, so the un-persisted turn table ran 2-4×
        # per pipeline materialization). Persist only if the caller has not
        # already chosen a level (persist with a different level raises).
        if cache and t.storageLevel == StorageLevel.NONE:
            t = _p(t)
        result = _stage_graph(stage, t, entity_dict, gaz_rows, slim, hot_thr,
                              with_linking, with_coref_expansion, annotated)
        result.extras["persisted"] = persisted
        return result, persisted

    return _plan_cached(
        spark, (transcripts, entity_dict, annotated), scalars, storage_level,
        build,
    )
