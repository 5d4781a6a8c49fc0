"""The pipeline's stages are wired once (pipeline._stage_graph): every
runner — run_pipeline, run_checkpointed, bench_extra.py — builds them
through a ``stage`` callback instead of calling the builders itself. Each
stage's layout is its schemas.py declaration."""

import ast
import pathlib
import sys

from docopenie_spark import datagen, schemas
from docopenie_spark.operators import assembly
from docopenie_spark.plans import pipeline

REPO = pathlib.Path(__file__).resolve().parent.parent

STAGES = ["doc_chunks", "annotated", "clusters", "links", "best_mentions",
          "best_mentions_expanded", "triples"]

# stage builders: (module the call goes through, or None for any, name)
BUILDERS = [
    (None, "parse_extract_annotate"), ("coref", "clusters"), ("link", "links"),
    ("bestmention", "best_mentions"), (None, "expand_with_coref"),
    (None, "substituted_triples"), ("assembly", "doc_chunks"),
]


def _builder_calls(path: pathlib.Path) -> list[tuple[tuple, int]]:
    """(builder, line) of every call to a stage builder in ``path``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Attribute):
            mod = f.value.id if isinstance(f.value, ast.Name) else None
            name = f.attr
        elif isinstance(f, ast.Name):
            mod, name = None, f.id
        else:
            continue
        for want_mod, want_name in BUILDERS:
            if name == want_name and want_mod in (None, mod):
                out.append(((want_mod, want_name), node.lineno))
    return out


def test_each_stage_builder_has_one_call_site():
    files = sorted((REPO / "docopenie_spark" / "plans").glob("*.py"))
    files.append(REPO / "bench_extra.py")
    sites = {b: [] for b in BUILDERS}
    for p in files:
        for builder, line in _builder_calls(p):
            sites[builder].append(f"{p.relative_to(REPO)}:{line}")
    wrong = {f"{m or '*'}.{n}": s for (m, n), s in sites.items() if len(s) != 1}
    assert not wrong, "wire stages once, in pipeline._stage_graph: " + repr(wrong)


# the driver's single-operator probes over inputs the pipeline does not
# build: builder → the one query allowed to call it
DRIVER_PROBES = {"expand_with_coref": "_q_kg_coref_expansion",
                 "substituted_triples": "_q_kg_substitution"}


def test_driver_queries_read_pipeline_stages():
    path = REPO / "__spark_entry__.py"
    funcs = [(f.lineno, f.end_lineno, f.name) for f in ast.parse(path.read_text()).body
             if isinstance(f, ast.FunctionDef)]

    def enclosing(line):
        return next((name for lo, hi, name in funcs if lo <= line <= hi), None)

    wrong = [f"{m or '*'}.{n} in {enclosing(line)}:{line}"
             for (m, n), line in _builder_calls(path)
             if DRIVER_PROBES.get(n) != enclosing(line)]
    assert not wrong, "read the stages from run_pipeline: " + repr(wrong)


def test_run_pipeline_persists_the_fanout_stages_in_order(spark):
    t = datagen.transcripts_df(spark, 80, seed=43)
    r = pipeline.run_pipeline(spark, t)
    try:
        assert pipeline.FANOUT_STAGES == ("annotated", "clusters", "links",
                                          "best_mentions")
        persisted = r.persisted
        assert len(persisted) == 5
        assert persisted[0] is t  # the raw input, persisted first
        assert "row_kind" in persisted[1].columns  # the annotated table
        for got, want in zip(persisted[2:], (r.clusters, r.links, r.best_mentions)):
            assert got is want
    finally:
        r.unpersist()


def test_stage_layouts_match_declared_schemas(spark):
    """Every stage's column names and data types, nested ones included,
    are its schemas.* declaration's (nullability is what Spark derives
    for each plan); annotate()'s layout is the declaration exactly."""
    t = datagen.transcripts_df(spark, 80, seed=47)
    r = pipeline.run_pipeline(spark, t)
    ann = pipeline.annotate(spark, t)
    try:
        tables = {
            "sentences": (r.sentences, schemas.SENTENCES),
            "triples_raw": (r.triples_raw, schemas.TRIPLES_RAW),
            "clusters": (r.clusters, schemas.CLUSTERS),
            "links": (r.links, schemas.LINKS),
            "best_mentions": (r.best_mentions, schemas.BEST_MENTIONS),
            "best_mentions_expanded": (r.best_mentions_expanded, schemas.BEST_MENTIONS),
            "triples": (r.triples, schemas.TRIPLES),
            "doc_chunks": (assembly.doc_chunks(t), schemas.DOC_CHUNKS),
            "annotated": (ann, schemas.ANNOTATED),
        }
        wrong = {
            name: (df.schema.simpleString(), want.simpleString())
            for name, (df, want) in tables.items()
            if df.schema.simpleString() != want.simpleString()
        }
        assert not wrong, wrong
        assert ann.schema == schemas.ANNOTATED
    finally:
        r.unpersist()
        ann.unpersist()


def test_bench_extra_times_no_cached_stage_output(spark):
    """bench_extra.py times each stage by rebuilding it over its upstream
    outputs; a rebuild whose optimized plan is an InMemoryRelation would
    time a read of a cached copy, not the stage."""
    sys.path.insert(0, str(REPO))
    import bench_extra

    t = datagen.transcripts_df(spark, 160, seed=41)
    stages = bench_extra.pipeline_stages(t)
    assert [name for name, _ in stages] == STAGES
    for name, build in stages:
        root = build()._jdf.queryExecution().optimizedPlan().nodeName()
        assert root != "InMemoryRelation", name
