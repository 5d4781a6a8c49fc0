"""End-to-end pipeline DAG (SURVEY.md §3 EP1 Spark equivalent):

transcripts → turns+offsets → sentences → parsed → [triples_raw ∥
entities ∥ clusters] → links → best_mentions → best_mentions_expanded →
substituted triples.

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
    parsed: DataFrame
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


def _input_stats(transcripts: DataFrame) -> tuple[int, int]:
    """(total turns, max turns in one conversation) in ONE column-pruned
    map-side-combined job over the raw input."""
    row = (
        transcripts.groupBy("conv_id").agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.sum("_n").alias("n"), F.max("_n").alias("mx"))
        .first()
    )
    return int(row["n"] or 0), int(row["mx"] or 0)


def _slim_sentences(transcripts: DataFrame, slim: bool | None) -> bool:
    """Resolve the adaptive default. One cheap job over the input;
    annotate() and run_pipeline() both derive the SAME decision from the
    same input, so a shared annotated table always matches the
    split_sentences path."""
    if slim is not None:
        return slim
    return _input_stats(transcripts)[0] >= SLIM_SENTENCE_THRESHOLD


def default_dictionaries() -> tuple[set[str], set[str], set[str]]:
    """(first_names, gazetteer_names, last_names) from the synthesized
    dimension data — the stand-ins for the reference's model/gazetteer
    files under /scratch (BestEntityMentionFinder.scala:556-582)."""
    first_names = {p[0] for p in datagen.PERSONS}
    last_names = {p[1] for p in datagen.PERSONS}
    rows = datagen.gazetteer_rows()
    gaz_names = {r[0] for r in rows} | {r[4] for r in rows if len(r) > 4 and r[4]}
    return first_names, gaz_names, last_names


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

    _ck_scalars = (
        "annotate", fabricate_metadata, cache, storage_level,
        slim_sentences,
        None if gazetteer_rows is None
        else tuple(tuple(r) for r in gazetteer_rows),
    )
    if _plan_cache_enabled():
        _hit = _plan_cache_get(spark, (transcripts,), _ck_scalars)
        if _hit is not None:
            if cache and _hit.storageLevel == StorageLevel.NONE:
                _hit.persist(getattr(StorageLevel, storage_level))
            return _hit

    gaz_rows = gazetteer_rows if gazetteer_rows is not None else datagen.gazetteer_rows()
    first_names, gaz_names, last_names = default_dictionaries()
    gaz_names |= {r[0] for r in gaz_rows}
    slim = _slim_sentences(transcripts, slim_sentences)
    if fabricate_metadata:
        transcripts = assembly.fabricated_metadata_turns(transcripts)
    out = fused.parse_extract_annotate(
        assembly.with_turn_offsets(transcripts),
        first_names, gaz_names, last_names, rebalance=False,
        emit_sentence_text=not slim,
    )
    # Record the resolved slim decision IN the annotated schema (ADVICE
    # r4 / VERDICT r5 #2): run_pipeline(annotated=) must join sentence
    # text back exactly when this pass omitted it — re-deriving the
    # decision from a possibly-different transcripts DataFrame could
    # silently disagree and yield null/mis-substringed sentence text.
    # Column METADATA on e_text (the column whose 's'-row contents the
    # decision governs) travels through filter/select/persist on any
    # DERIVED DataFrame — the round-5 Python attribute survived only
    # the exact returned object and silently fell back after any
    # transformation. The attribute is kept as a legacy fallback.
    out = out.withMetadata("e_text", {"docopenie_slim": slim})
    if cache:
        out = out.persist(getattr(StorageLevel, storage_level))
    out._docopenie_slim = slim
    if _plan_cache_enabled():
        _plan_cache_put(spark, (transcripts,), _ck_scalars, out)
    return out


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
    """Build the full DAG. With cache=True the fan-out points (parsed
    sentences feed BOTH extraction and NER; triples_raw feeds linking AND
    substitution) are persisted so shared prefixes compute once — the
    Spark analogue of the reference's lazy-val memoization per document
    (SURVEY.md §4 row 1). At cluster scale these become checkpoint tables
    (sources/checkpoints.py) instead of memory.

    ``annotated`` (from :func:`annotate` over the SAME transcripts and
    fabrication setting) skips the fused Python pass — callers running
    several variants (eval_diff base vs comp) pay for it once.

    ``storage_level`` picks the persist level for the fan-out points:
    the default keeps deserialized rows in executor memory (fastest when
    it fits); small fixed-heap executors holding a large corpus should
    pass "DISK_ONLY" — serialized spill, bounded heap (the executor-mode
    scaling protocol does; VERDICT r2 #1a)."""
    from pyspark import StorageLevel

    # plan cache (see header above): a semantically identical invocation
    # returns the already-ANALYZED lazy DAG; the persist() registrations
    # are re-applied so the data story is untouched — caches dropped by
    # a previous unpersist() re-register empty and every action
    # recomputes from the inputs.
    _ck_scalars = (
        with_linking, with_coref_expansion, fabricate_metadata, cache,
        storage_level, slim_sentences, coref_hot_threshold,
        None if gazetteer_rows is None
        else tuple(tuple(r) for r in gazetteer_rows),
    )
    _ck_dfs = (transcripts, entity_dict, annotated)
    if _plan_cache_enabled():
        _hit = _plan_cache_get(spark, _ck_dfs, _ck_scalars)
        if _hit is not None:
            _lvl = getattr(StorageLevel, storage_level)
            for _df in _hit.extras.get("persisted", []):
                if _df.storageLevel == StorageLevel.NONE:
                    _df.persist(_lvl)
            return _hit

    gaz_rows = gazetteer_rows if gazetteer_rows is not None else datagen.gazetteer_rows()
    first_names, gaz_names, last_names = default_dictionaries()
    gaz_names |= {r[0] for r in gaz_rows}
    # size-adaptive decisions (see SLIM_SENTENCE_THRESHOLD /
    # COREF_HOT_THRESHOLD above), resolved from ONE cheap job over the
    # RAW input — skipped entirely when the caller passes both
    # explicitly (the scaling harness does, keeping its timed region
    # identical across rounds). A shared annotate() over the same
    # transcripts resolves the identical slim decision.
    # an annotate()-built table carries its own resolved slim decision
    # (ADVICE r4): trust the marker over re-derivation — the fused pass
    # either emitted inline sentence text or it did not, and only the
    # producer knows. An explicit contradictory flag is a caller bug.
    # Resolution order: e_text column METADATA (travels through any
    # derived DataFrame — VERDICT r5 #2), then the legacy Python
    # attribute (exact-object only), then re-derivation.
    ann_slim = None
    if annotated is not None and "e_text" in annotated.columns:
        ann_slim = annotated.schema["e_text"].metadata.get("docopenie_slim")
    if ann_slim is None:
        ann_slim = getattr(annotated, "_docopenie_slim", None)
    if ann_slim is not None:
        if slim_sentences is not None and slim_sentences != ann_slim:
            raise ValueError(
                f"slim_sentences={slim_sentences} contradicts the supplied "
                f"annotated table, which was built with slim={ann_slim}"
            )
        slim_sentences = ann_slim
    if slim_sentences is not None and coref_hot_threshold != "auto":
        slim, hot_thr = slim_sentences, coref_hot_threshold
    else:
        n_turns, max_conv_turns = _input_stats(transcripts)
        slim = (
            slim_sentences if slim_sentences is not None
            else n_turns >= SLIM_SENTENCE_THRESHOLD
        )
        if coref_hot_threshold != "auto":
            hot_thr = coref_hot_threshold
        elif max_conv_turns * COREF_MENTIONS_PER_TURN_BOUND > COREF_HOT_THRESHOLD:
            hot_thr = COREF_HOT_THRESHOLD
        else:
            hot_thr = None  # no conversation can be hot: skip detection

    lvl = getattr(StorageLevel, storage_level)
    persisted: list[DataFrame] = []

    def _p(df: DataFrame) -> DataFrame:
        if cache:
            df = df.persist(lvl)
            persisted.append(df)
        return df

    if fabricate_metadata:
        # S6: role/ts metadata becomes mention-bearing fabricated turns
        transcripts = assembly.fabricated_metadata_turns(transcripts)
    # the raw input is itself a fan-out point: the salted-offset join
    # reads it twice (rows + per-group partial sums) and doc_chunks /
    # docs read it again — for a generated/derived source each of those
    # is a full recompute (measured r7: the bench corpus is a mapInPandas
    # generator, so the un-persisted turn table ran 2-4× per pipeline
    # materialization). Persist only if the caller has not already
    # chosen a level (persist with a different level raises).
    if cache and transcripts.storageLevel == StorageLevel.NONE:
        transcripts = _p(transcripts)
    turns = assembly.with_turn_offsets(transcripts)
    docs = assembly.doc_text_salted(transcripts)  # full strings: tests/queries only
    # the rule engine consumes BOUNDED chunks — the hot conversation never
    # materializes as one row (assembly.doc_chunks). Not persisted (r7):
    # best_mentions is its only consumer, so a persist only paid cache
    # build + CacheManager plan canonicalization for a single read; the
    # persisted transcripts underneath keep the rebuild cheap.
    chunks = assembly.doc_chunks(transcripts)
    # segment+tokenize+extract+NER in ONE Python pass over the turn table
    # (operators/fused.parse_extract_annotate): token arrays never cross
    # the Arrow boundary — measured, the Arrow transfer itself scales at
    # ~0.34 efficiency, so bulk python passes are minimized. rebalance
    # off: the salted turn-offset join already partitions on (conv_id,
    # salt), balanced even for the hot conversation. Sentences, triples
    # and entities are JVM filters over the persisted combined table.
    if annotated is None:
        annotated = _p(fused.parse_extract_annotate(
            turns, first_names, gaz_names, last_names, rebalance=False,
            emit_sentence_text=not slim,
        ))
    # slim: sentence text reconstructed JVM-side from the turn table (the
    # 's' rows carry only offset+length); below the threshold the text
    # rode inline through Arrow and no join is needed
    sents = fused.split_sentences(annotated, turns if slim else None)
    triples_raw = fused.split_triples(annotated)
    mentions = fused.split_entities(annotated)
    # parsed (with token arrays) is API surface only — built on demand,
    # not part of the executed DAG
    parsed = fused.parsed_sentences(turns)
    ents, _prons = ner.split_mentions(mentions)
    cl = _p(coref.clusters(mentions, hot_threshold=hot_thr))

    lk = None
    if with_linking:
        ed = entity_dict if entity_dict is not None else datagen.entity_dict_df(spark)
        # T9/T10: doc_sim scores against coref-extended arg context
        lk = _p(link.links(triples_raw, ed, clusters=cl, sentences=sents))

    bems = _p(bestmention.best_mentions(ents, chunks, gaz_rows))
    if with_coref_expansion:
        bems_x = bestmention.expand_with_coref(bems, cl, lk)
    else:
        bems_x = bems

    triples = substitute.substituted_triples(
        triples_raw, bestmention.display_filter(bems_x)
    )

    result = PipelineResult(
        turns=turns,
        docs=docs,
        sentences=sents,
        parsed=parsed,
        triples_raw=triples_raw,
        entities=ents,
        mentions=mentions,
        clusters=cl,
        links=lk,
        best_mentions=bems,
        best_mentions_expanded=bems_x,
        triples=triples,
        extras={"persisted": persisted},
    )
    if _plan_cache_enabled():
        _plan_cache_put(spark, _ck_dfs, _ck_scalars, result)
    return result
