"""Driver-built tables are JVM LocalRelations (session.local_table) in a
layout stated only in schemas.py, the run_pipeline plan cache is
listing-aware and thread-safe, and the SQL literal helper keeps any
dictionary name one literal."""

import ast
import json
import pathlib
import sys
import threading

import pytest
from pyspark.sql.types import StructType

from docopenie_spark import datagen, schemas
from docopenie_spark.functions.sqltext import sql_strlist
from docopenie_spark.operators import similarity
from docopenie_spark.plans import pipeline
from docopenie_spark.plans.pipeline import run_pipeline
from docopenie_spark.session import local_table

REPO = pathlib.Path(__file__).resolve().parent.parent

# a binary column plus a nullable nested struct that is None in one row
MEDIA_DDL = (
    "media_id string not null, kind string not null, payload binary not null, "
    "meta struct<mime: string, width: int, height: int, duration_ms: int>"
)


def _tables():
    """name → (builder(spark) → helper-built DataFrame, rows, schema)."""
    cents = [[1.0, 2.0], [3.0, 4.0]]
    planes = [similarity._plane_weights(3, 2, t) for t in range(2)]
    wmat = planes + [similarity._plane_weights(3, 1, 2)]  # + refinement
    media_rows = [
        ("m0", "image", b"\x00\x01", {"mime": "x/image", "width": 64,
                                      "height": 64, "duration_ms": None}),
        ("m1", "audio", b"\x02", None),
    ]
    return {
        "entity_dict": (datagen.entity_dict_df, datagen.entity_dict_rows(),
                        schemas.ENTITY_DICT),
        "gazetteer": (datagen.gazetteer_df, datagen.gazetteer_rows(),
                      schemas.GAZETTEER),
        "weights_row": (lambda s: similarity.weights_row(s, 3, 2, 2, refine_planes=1),
                        [(wmat,)], schemas.LSH_WEIGHTS),
        "centroids": (lambda s: similarity.centroids_table(s, cents),
                      [(0, cents[0]), (1, cents[1])],
                      schemas.IVF_CENTROIDS),
        "media": (lambda s: local_table(s, media_rows, StructType.fromDDL(MEDIA_DDL)),
                  media_rows, MEDIA_DDL),
        "empty_best_mentions": (lambda s: local_table(s, [], schemas.BEST_MENTIONS),
                                [], schemas.BEST_MENTIONS),
        "lineage": (lambda s: local_table(
            s, [("links", 3, "r1", "fp", 10, 42, "sfp")], schemas.LINEAGE),
            [("links", 3, "r1", "fp", 10, 42, "sfp")], schemas.LINEAGE),
        "metrics": (lambda s: local_table(
            s, [("r1", "links", "rows", 1.5, 2.5)], schemas.METRICS),
            [("r1", "links", "rows", 1.5, 2.5)], schemas.METRICS),
    }


def _jvm_schema(df) -> StructType:
    return StructType.fromJson(json.loads(df._jdf.schema().json()))


@pytest.mark.parametrize("name", sorted(_tables()))
def test_helper_tables_are_local_relations(spark, name):
    build, rows, schema = _tables()[name]
    df = build(spark)
    analyzed = df._jdf.queryExecution().analyzed()
    assert analyzed.nodeName() == "LocalRelation", analyzed.toString()
    want = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    assert _jvm_schema(df) == want  # nullability included
    # same rows as the Python-RDD path it replaces
    old = spark.createDataFrame(rows, schema)
    assert sorted(map(repr, df.collect())) == sorted(map(repr, old.collect()))


def test_local_table_rejects_none_in_non_nullable_field(spark):
    with pytest.raises(ValueError, match="name"):
        local_table(spark, [("X1", None, [], [], 1.0, None)], schemas.ENTITY_DICT)
    with pytest.raises(ValueError, match=r"aliases\[\]"):
        local_table(spark, [("X1", "x", [None], [], 1.0, None)], schemas.ENTITY_DICT)


def test_entity_dict_builds_compare_same_semantics(spark):
    assert datagen.entity_dict_df(spark).sameSemantics(datagen.entity_dict_df(spark))


def test_pipeline_executes_no_python_rdd_scan(spark):
    r = run_pipeline(spark, datagen.transcripts_df(spark, 120, seed=11))
    try:
        r.triples.collect()
        plan = r.triples._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "PythonRDD" not in plan
        assert "LocalTableScan" in plan  # the entity dictionary
    finally:
        r.unpersist()


def _create_dataframe_calls(path: pathlib.Path) -> list[tuple[int, str | None]]:
    """(line, enclosing top-level function) of every createDataFrame call."""
    tree = ast.parse(path.read_text())
    out = []
    for top in tree.body:
        owner = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else None
        for node in ast.walk(top):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                out.append((node.lineno, owner))
    return out


def test_no_create_dataframe_outside_local_table():
    files = sorted((REPO / "docopenie_spark").rglob("*.py"))
    files.append(REPO / "__spark_entry__.py")
    allowed = (REPO / "docopenie_spark" / "session.py", "local_table")
    stray = [
        f"{p.relative_to(REPO)}:{line}"
        for p in files
        for line, owner in _create_dataframe_calls(p)
        if (p, owner) != allowed
    ]
    assert not stray, "build driver-side tables with session.local_table: " + ", ".join(stray)


# Spark calls that take a table schema; ``read.schema`` is matched apart
_SCHEMA_TAKERS = {"mapInArrow", "applyInPandas", "local_table", "createDataFrame"}


def _is_ddl(node: ast.AST, ddl_names: set[str]) -> bool:
    """A string literal, an f-string, a concatenation of them, or a name
    bound to one at module level."""
    if isinstance(node, ast.Constant):
        return isinstance(node.value, str)
    if isinstance(node, ast.BinOp):
        return _is_ddl(node.left, ddl_names) or _is_ddl(node.right, ddl_names)
    return isinstance(node, ast.JoinedStr) or (
        isinstance(node, ast.Name) and node.id in ddl_names)


def _stated_layouts(path: pathlib.Path) -> list[str]:
    """Every ``pa.schema(``/``pa.struct(`` call, and every DDL string
    handed to a call that takes a table schema."""
    tree = ast.parse(path.read_text())
    ddl_names = {
        t.id for n in tree.body if isinstance(n, ast.Assign) and _is_ddl(n.value, set())
        for t in n.targets if isinstance(t, ast.Name)
    }
    out = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if (isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name)
                and f.value.id == "pa" and name in ("schema", "struct")):
            out.append(f"{node.lineno}: pa.{name}(")
        elif name in _SCHEMA_TAKERS or (
                name == "schema" and isinstance(f.value, ast.Attribute)
                and f.value.attr == "read"):
            args = [*node.args, *(k.value for k in node.keywords)]
            if any(_is_ddl(a, ddl_names) for a in args):
                out.append(f"{node.lineno}: DDL string to {name}(")
    return out


def test_no_table_layout_stated_outside_schemas():
    pkg = REPO / "docopenie_spark"
    stray = [
        f"{p.relative_to(REPO)}:{hit}"
        for p in sorted(pkg.rglob("*.py")) if p != pkg / "schemas.py"
        for hit in _stated_layouts(p)
    ]
    assert not stray, "declare table layouts once, in schemas.py: " + ", ".join(stray)


# --------------------------------------------------------------- plan cache

def test_plan_cache_sees_files_appended_under_same_path(spark, tmp_path, monkeypatch):
    """Two reads of one parquet path compare sameSemantics even after an
    append; the cache must not hand back the DAG over the old listing."""
    d = str(tmp_path / "transcripts")
    datagen.transcripts_df(spark, 300, seed=1).write.parquet(d)
    r1 = run_pipeline(spark, spark.read.parquet(d))
    n1 = r1.triples.count()
    r1.unpersist()
    (datagen.transcripts_df(spark, 300, seed=2)
     .where("conv_id != 'conv_hot'").write.mode("append").parquet(d))
    r2 = run_pipeline(spark, spark.read.parquet(d))
    try:
        assert r2 is not r1
        n2 = r2.triples.count()
    finally:
        r2.unpersist()
    with monkeypatch.context() as mp:  # an independent build
        mp.setattr(pipeline, "_PLAN_CACHE", [])
        fresh = run_pipeline(spark, spark.read.parquet(d))
    try:
        assert n2 == fresh.triples.count() > n1
    finally:
        fresh.unpersist()
    # an unchanged listing still hits
    r3 = run_pipeline(spark, spark.read.parquet(d))
    assert r3 is r2
    r3.unpersist()


def test_run_pipeline_from_two_threads(spark, monkeypatch):
    inputs = [datagen.transcripts_df(spark, 80, seed=s) for s in (21, 22)]
    want = []
    with monkeypatch.context() as mp:  # independent builds
        mp.setattr(pipeline, "_PLAN_CACHE", [])
        for t in inputs:
            r = run_pipeline(spark, t)
            want.append(r.triples.count())
            r.unpersist()
    got, errors = [None, None], []

    def work(i):
        try:
            r = run_pipeline(spark, inputs[i])
            got[i] = r.triples.count()
            r.unpersist()
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert got == want


def test_plan_cache_concurrent_put_and_get():
    """Eight writers each put a filler then the target entry; four
    readers look the target up. Any 16 consecutive puts hold at least
    four target copies, so a locked scan always finds it — an unlocked
    scan can skip entries while a writer evicts the list head."""
    owner, target = object(), ("target",)
    saved = list(pipeline._PLAN_CACHE)
    pipeline._PLAN_CACHE.clear()
    pipeline._plan_cache_put(owner, (), target, "hit")
    misses, stop = [], threading.Event()

    def write(tid):
        for i in range(2000):
            pipeline._plan_cache_put(owner, (), ("filler", tid, i), None)
            pipeline._plan_cache_put(owner, (), target, "hit")

    def read():
        while not stop.is_set():
            if pipeline._plan_cache_get(owner, (), target) != "hit":
                misses.append(1)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        readers = [threading.Thread(target=read) for _ in range(4)]
        writers = [threading.Thread(target=write, args=(t,)) for t in range(8)]
        for t in readers + writers:
            t.start()
        for t in writers:
            t.join(timeout=120)
        stop.set()
        for t in readers:
            t.join(timeout=30)
        assert not any(t.is_alive() for t in readers + writers)
        assert not misses
        assert len(pipeline._PLAN_CACHE) == pipeline._PLAN_CACHE_MAX
    finally:
        sys.setswitchinterval(switch)
        pipeline._PLAN_CACHE[:] = saved


# ------------------------------------------------------------ SQL literals

def test_sql_strlist_unchanged_for_current_dictionaries():
    """Byte-identical text (hence identical plans) for every word list
    the operators quote today."""
    from docopenie_spark.operators import bestmention, coref
    from docopenie_spark.plans.pipeline import default_dictionaries

    firsts, gaz, lasts = default_dictionaries()
    g = bestmention.Gazetteer(datagen.gazetteer_rows())
    lists = [firsts, gaz, lasts, g.cities, g.states, g.countries,
             bestmention.PRONOUNS, bestmention.PERSONAL_PRONOUNS,
             bestmention.POSSESSIVE_PRONOUNS, coref._PERSON_PRON,
             coref._THING_PRON, coref._PLURAL_PRON]
    for words in lists:
        assert sql_strlist(words) == ", ".join(f"'{w}'" for w in sorted(words))


def test_sql_strlist_round_trips_quotes_and_backslashes(spark):
    words = {"coeur d'alene", "back\\slash", "it's 'quoted'", "plain"}
    (row,) = spark.sql(f"SELECT array({sql_strlist(words)}) AS a").collect()
    assert row.a == sorted(words)


def test_bem_features_with_apostrophe_gazetteer_name(spark):
    from docopenie_spark.operators import classifier as clf

    gaz = datagen.gazetteer_rows() + [
        ("Coeur d'Alene", "CITY", "Idaho", "PROVINCE", None),
        ("Idaho", "PROVINCE", "United States", "COUNTRY", "ID"),
    ]
    target = ("Coeur d'Alene", 10, "Coeur d'Alene", "LOCATION")
    cont = ("Idaho", 25, "Idaho", "LOCATION")
    bems = spark.createDataFrame(
        [("c1", "container", target, "Coeur d'Alene, Idaho", None, cont, None, 1.0, None),
         ("c1", "identity", ("Alene", 40, "Alene", "LOCATION"), "Alene",
          None, cont, None, 1.0, None)],
        schemas.BEST_MENTIONS,
    )
    empty_clusters = spark.createDataFrame([], schemas.CLUSTERS)
    out = {r.kind: r for r in clf.bem_features(bems, empty_clusters, gaz).collect()}
    c = out["container"]
    assert c.f_location_ambiguity_count == 1.0  # a gazetteer city
    assert c.f_state_contains_city == 1.0
    # 'Alene' alone is no city — the quote did not split the literal
    assert out["identity"].f_location_ambiguity_count == 0.0
