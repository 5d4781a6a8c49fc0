#!/usr/bin/env python3
"""Knowledge-graph construction benchmark for docopenie_spark.

Run from the repository root:

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 10 --trace 0

A repetition is a fresh ``local[nproc]`` session through
``session.get_spark`` (its own JVM) and a warm-up that builds the
workload's DAGs over a copy of the input without running them (the two
together are ``setup_s``), then one pass of the workload over a parquet
table the session has never read, ending with the whole result table
written (``wall_s``). One run:

1. generates the workload's transcripts from ``--seed``
   (``datagen.transcripts_pdf``, one process) and writes them to parquet;
2. runs repetitions closed-loop, one at a time, until ``--seconds`` of
   measured wall time have passed, each over a fresh copy of the input;
3. checks every repetition's written table against the imperative
   pipeline twin (``tests/pipeline_twin.py``) with an order-independent
   digest computed the same way on both sides.

``--trace 1`` runs one traced repetition instead: the workload's layers
are materialized one after another, each inside a span and a Spark job
group named after the layer, with Spark's event log on; it reports the
per-layer metrics. See perfbench/NOTES.md.

The last line of standard output is the JSON result. The line before it
carries the details: per-repetition walls and set-ups, digests, host
canary.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
TWIN_CACHE = os.path.join(WORK, "twin")
WALLS = os.path.join(WORK, "walls")

DRIVER_MEM = "2g"

# input turns per workload
WORKLOADS = {
    "kg_batch": 1500,
    "kg_eval_diff": 600,
}

# (column, kind) pairs the output digest covers; "i" integral, "d" double,
# "s" string — both sides normalize the same way before hashing
TRIPLE_COLS = [("conv_id", "s"), ("turn_idx", "i"), ("sent_num", "i"),
               ("subj", "s"), ("pred", "s"), ("obj", "s"),
               ("subj_raw", "s"), ("obj_raw", "s"), ("confidence", "d"),
               ("extractor", "s")]
DIFF_COLS = [("conv_id", "s"), ("turn_idx", "i"), ("sent_num", "i"),
             ("comp_arg1", "s"), ("rel", "s"), ("comp_arg2", "s"),
             ("base_arg1", "s"), ("base_arg2", "s"), ("arg1_changed", "s"),
             ("arg2_changed", "s"), ("extractor", "s"), ("sentence_text", "s")]

LAYERS = ("build", "assembly", "fused", "coref", "link", "bestmention",
          "substitute", "evaluation")
SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "gc_s",
                  "shuffle_write_bytes", "spill_bytes")


# ------------------------------------------------------------ measurement

class TreeSampler:
    """Peak resident memory and CPU time of this process and every
    descendant — the Spark driver JVM and its Python workers — read from
    /proc: memory sampled every ``interval`` seconds, CPU time as the
    difference between the snapshots taken on entry and on exit."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_bytes = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")
        self._cpu0: dict[int, int] = {}

    def _tree(self) -> dict[int, tuple[int, int]]:
        """{pid: (rss bytes, cpu ticks incl. reaped children)} of the tree."""
        parent, stat = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while scanning
            parent[int(pid)] = int(fields[1])
            stat[int(pid)] = (int(fields[21]) * self._page,
                              sum(int(x) for x in fields[11:15]))
        me, tree = os.getpid(), {}
        for pid, st in stat.items():
            p = pid
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p == me:
                tree[pid] = st
        return tree

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = sum(r for r, _ in self._tree().values())
            self.peak_bytes = max(self.peak_bytes, rss)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._cpu0 = {pid: cpu for pid, (_, cpu) in self._tree().items()}
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        ticks = sum(cpu - self._cpu0.get(pid, 0) for pid, (_, cpu) in self._tree().items())
        self.cpu_s = ticks / self._tick


def host_canary() -> float:
    """Single-process memory-copy bandwidth in GB/s (best of 5 copies of a
    64 MiB array) — recorded beside every run so results taken under
    different co-tenant load can be told apart. Never timed."""
    import numpy as np

    src = np.ones(8 << 20, dtype=np.float64)
    dst = np.empty_like(src)
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return round(2 * src.nbytes / best / 1e9, 3)


class Spans:
    """Wall-clock spans around the benchmark's calls into each layer.
    Every call inside a span runs under a Spark job group of the same
    name, so the event log attributes its jobs to the layer."""

    def __init__(self, sc):
        self.sc = sc
        self.seconds: dict[str, float] = {}

    @contextmanager
    def __call__(self, layer: str):
        self.sc.setJobGroup(layer, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[layer] = self.seconds.get(layer, 0.0) + time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)


@contextmanager
def _untraced(_layer: str):
    yield


def _materialize(df) -> None:
    """Compute every column of every row without keeping the result."""
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------- workloads

def kg_batch(spark, t, out: str | None, span=_untraced) -> dict:
    """run_pipeline over the input; every column of ``triples`` written.
    Untraced with ``out=None`` it builds the DAG without running it (the
    set-up's warm-up). Traced: annotate (fused) → run_pipeline(annotated=)
    (build) → turn offsets (assembly) → clusters → links → best mentions
    → triples."""
    from docopenie_spark.plans.pipeline import annotate, run_pipeline

    rows = {}
    if span is _untraced:
        r = run_pipeline(spark, t)
        if out is not None:
            r.triples.write.parquet(out)
        r.unpersist()
        return rows
    with span("build"):
        ann = annotate(spark, t)
    with span("fused"):
        _materialize(ann)
    with span("build"):
        r = run_pipeline(spark, t, annotated=ann)
    _layers(r, span, rows)
    with span("substitute"):
        r.triples.write.parquet(out)
    rows["fused"] = ann.count()
    rows["substitute"] = spark.read.parquet(out).count()
    r.unpersist()
    ann.unpersist()
    return rows


def kg_eval_diff(spark, t, out: str | None, span=_untraced) -> dict:
    """The eval-diff composition: one shared annotate(), the baseline
    (no linking, no coref expansion) and full run_pipeline, eval_diff —
    its result written in full, or, untraced with ``out=None``, only
    built."""
    from docopenie_spark.plans.evaluation import eval_diff
    from docopenie_spark.plans.pipeline import annotate, run_pipeline

    rows = {}
    with span("build"):
        ann = annotate(spark, t)
    if span is not _untraced:
        with span("fused"):
            _materialize(ann)
    with span("build"):
        base = run_pipeline(spark, t, with_linking=False,
                            with_coref_expansion=False, annotated=ann)
        comp = run_pipeline(spark, t, annotated=ann)
    if span is not _untraced:
        _layers(comp, span, rows)
        with span("substitute"):
            _materialize(base.triples)
            _materialize(comp.triples)
    with span("evaluation"):
        diff = eval_diff(base.triples, comp.triples, comp.sentences)
        if out is not None:
            diff.write.parquet(out)
    if span is not _untraced:
        rows["fused"] = ann.count()
        rows["substitute"] = comp.triples.count()
        rows["evaluation"] = spark.read.parquet(out).count()
    base.unpersist()
    comp.unpersist()
    ann.unpersist()
    return rows


def _layers(r, span, rows: dict) -> None:
    """Materialize the stages between the fused pass and substitution in
    DAG order, one span each."""
    with span("assembly"):
        _materialize(r.turns)
    with span("coref"):
        _materialize(r.clusters)
    with span("link"):
        _materialize(r.links)
    with span("bestmention"):
        _materialize(r.best_mentions)
    rows["coref"] = r.clusters.count()
    rows["link"] = r.links.count()
    rows["bestmention"] = r.best_mentions.count()
    rows["assembly"] = r.turns.count()


RUNNERS = {"kg_batch": kg_batch, "kg_eval_diff": kg_eval_diff}


# ------------------------------------------------------------ output check

def _row_hash(row: dict, cols) -> int:
    vals = []
    for name, kind in cols:
        v = row[name]
        if v is not None:
            v = int(v) if kind == "i" else round(float(v), 9) if kind == "d" else v
        vals.append(v)
    key = json.dumps(vals, ensure_ascii=False).encode("utf-8")
    return int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")


def digest(rows, cols) -> list[int]:
    """(rows, xor of row hashes, sum of row hashes mod 2^64) — equal for
    equal multisets whatever the row order; the sum catches duplicated
    rows, which cancel under xor. Both sides of the output check go
    through this one function."""
    n = x = total = 0
    for row in rows:
        h = _row_hash(row, cols)
        n, x, total = n + 1, x ^ h, (total + h) & 0xFFFFFFFFFFFFFFFF
    return [n, x, total]


def output_digest(path: str, cols) -> list[int]:
    """Digest of a written result table (a Spark parquet directory)."""
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=[n for n, _ in cols])
    return digest(table.to_pylist(), cols)


def _twin_rows(workload: str, n_turns: int, seed: int):
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from docopenie_spark import datagen
    from pipeline_twin import (_display_filter, _eval_diff,
                               _substituted_triples, twin_pipeline)

    pdf = datagen.transcripts_pdf(n_turns, seed=seed)
    tw = twin_pipeline(pdf, datagen.entity_dict_rows(), datagen.gazetteer_rows())
    if workload == "kg_batch":
        return tw["triples"]
    # the baseline is the same run without linking and coref expansion:
    # substitution over the un-expanded best mentions
    base = _substituted_triples(tw["triples_raw"], _display_filter(tw["best_mentions"]))
    return _eval_diff(base, tw["triples"], tw["sentences"])


def expected_digest(workload: str, n_turns: int, seed: int, cols) -> list[int]:
    """The twin's digest for (workload, size, seed); computed once and
    cached under .perfbench/twin — never inside the clock or set-up."""
    path = os.path.join(TWIN_CACHE, f"{workload}_{n_turns}_{seed}.json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    d = digest(_twin_rows(workload, n_turns, seed), cols)
    if d[0] == 0:
        raise RuntimeError(f"twin produced no rows for {workload} at {n_turns} turns")
    os.makedirs(TWIN_CACHE, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(d, f)
    os.replace(tmp, path)
    return d


# ------------------------------------------------------------------ driver

def write_input(path: str, n_turns: int, seed: int) -> None:
    """The transcripts table for (n_turns, seed) as parquet, one file per
    core — as a table written by a parallel job would be; a single file
    would be read as a single partition."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docopenie_spark import datagen

    table = pa.Table.from_pandas(datagen.transcripts_pdf(n_turns, seed=seed),
                                 preserve_index=False)
    os.makedirs(path)
    parts = os.cpu_count() or 1
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       coerce_timestamps="us")


def start_spark(run_dir: str, event_log: str | None = None):
    from docopenie_spark.session import get_spark

    cpus = os.cpu_count() or 1
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "docopenie_spark")):
        print(f"docopenie_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import eventlog  # perfbench/eventlog.py, beside this file

    eventlog.self_test()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Python workers import the package from the checkout; shuffle and
    # temp files stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # every JVM the session launches (the launcher and the driver) keeps
    # its temp files in the run directory and writes no perf data to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}")
    # a small driver heap: peak memory stays modest and steadier (the
    # package default is 8g, see session.get_spark)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    try:
        return _run(args, run_dir, eventlog)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, eventlog) -> int:
    workload, n_turns = args.workload, WORKLOADS[args.workload]
    runner = RUNNERS[workload]
    cols = TRIPLE_COLS if workload == "kg_batch" else DIFF_COLS
    canary_before = host_canary()
    src = os.path.join(run_dir, "input")
    write_input(src, n_turns, args.seed)
    warm = os.path.join(run_dir, "input-warm")
    shutil.copytree(src, warm)
    expected: list[int] = []

    def repetition(k: int, traced: bool) -> dict:
        """Fresh session, warm-up build, one pass of the workload, output
        check."""
        inp, out = os.path.join(run_dir, f"input-{k}"), os.path.join(run_dir, f"out-{k}")
        shutil.copytree(src, inp)
        event_dir = os.path.join(run_dir, f"eventlog-{k}") if traced else None
        t0 = time.perf_counter()
        spark = start_spark(run_dir, event_dir)
        try:
            start = time.perf_counter() - t0
            runner(spark, spark.read.parquet(warm), None)
            setup = time.perf_counter() - t0
            spans = Spans(spark.sparkContext) if traced else _untraced
            with TreeSampler() as tree:
                t0 = time.perf_counter()
                rows = runner(spark, spark.read.parquet(inp), out, span=spans)
                wall = time.perf_counter() - t0
        finally:
            stop_spark(spark)
        if not expected:
            expected.extend(expected_digest(workload, n_turns, args.seed, cols))
        got = output_digest(out, cols)
        rep = {"start_s": start, "setup_s": setup, "wall_s": wall,
               "rss_mb": tree.peak_bytes / 2**20, "cpu_s": tree.cpu_s,
               "digest": got, "ok": got == expected}
        if traced:
            rep.update(spans=spans.seconds, rows=rows,
                       groups=eventlog.reduce_eventlog(event_dir))
        return rep

    # the tracing overhead compares against untraced passes: those this
    # checkout's untraced runs recorded for the same input size, else
    # one run here
    record = os.path.join(WALLS, f"{workload}_{n_turns}.jsonl")
    recorded = []
    if args.trace and os.path.exists(record):
        with open(record, encoding="utf-8") as f:
            recorded = [json.loads(line)["wall_s"] for line in f]
    reps = []
    while not (reps or recorded) or (
            not args.trace and sum(r["wall_s"] for r in reps) < args.seconds):
        reps.append(repetition(len(reps), traced=False))
    traced = repetition(len(reps), traced=True) if args.trace else None
    canary_after = host_canary()

    checked = reps + ([traced] if traced else [])
    failed = sum(not r["ok"] for r in checked)
    detail = {
        "workload": workload, "seed": args.seed, "turns": n_turns,
        "cpus": os.cpu_count(), "samples": len(reps),
        "walls_s": [round(r["wall_s"], 4) for r in reps],
        "setups_s": [round(r["setup_s"], 4) for r in reps],
        "session_starts_s": [round(r["start_s"], 4) for r in reps],
        "expected_digest": expected, "digests": [r["digest"] for r in checked],
        "canary_gbs_before": canary_before, "canary_gbs_after": canary_after,
    }
    if traced:
        untraced = statistics.median([r["wall_s"] for r in reps] or recorded)
        metrics = _layer_metrics(traced, untraced)
        detail.update(traced_wall_s=round(traced["wall_s"], 4),
                      untraced_wall_s=round(untraced, 4),
                      untraced_recorded_runs=len(recorded),
                      job_groups=traced["groups"])
    else:
        walls = [r["wall_s"] for r in reps]
        wall = statistics.median(walls)
        detail["wall_s_max"] = round(max(walls), 4)
        if failed == 0:
            os.makedirs(WALLS, exist_ok=True)
            with open(record, "a", encoding="utf-8") as f:
                f.write(json.dumps({"seed": args.seed, "wall_s": wall}) + "\n")
        metrics = {
            "wall_s": (wall, "s"),
            "turns_per_s": (n_turns / wall, "1/s"),
            "setup_s": (statistics.median(r["setup_s"] for r in reps), "s"),
            "cpu_s": (statistics.median(r["cpu_s"] for r in reps), "s"),
            "peak_rss_mb": (max(r["rss_mb"] for r in reps), "MB"),
        }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checked),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _layer_metrics(traced: dict, untraced_wall: float) -> dict:
    """Per-layer metrics of the traced repetition: span self times and row
    counts from the benchmark's own spans, Spark counters per job group
    from the event log. Layers the workload does not run read 0."""
    cpus = os.cpu_count() or 1
    spans, rows, groups = traced["spans"], traced["rows"], traced["groups"]
    m = {"pipeline.build_s": (spans.get("build", 0.0), "s")}
    for layer in LAYERS[1:]:
        m[f"{layer}.self_s"] = (spans.get(layer, 0.0), "s")
        m[f"{layer}.rows_out"] = (rows.get(layer, 0), "count")
    fused = groups.get("fused", {})
    m["fused.python_run_s"] = (fused.get("python_run_s", 0.0), "s")
    m["fused.python_init_s"] = (fused.get("python_init_s", 0.0), "s")
    m["fused.bytes_to_python"] = (fused.get("bytes_to_python", 0), "bytes")
    m["fused.bytes_from_python"] = (fused.get("bytes_from_python", 0), "bytes")
    for counter in SPARK_COUNTERS:
        unit = ("s" if counter.endswith("_s")
                else "bytes" if counter.endswith("bytes") else "count")
        m[f"spark.{counter}"] = (
            sum(groups.get(g, {}).get(counter, 0) for g in spans), unit)
    span_total = sum(spans.values())
    m["spark.idle_slot_s"] = (span_total * cpus - m["spark.executor_run_s"][0], "s")
    for g in LAYERS:
        row = groups.get(g, {})
        m[f"spark.{g}.stages"] = (row.get("stages", 0), "count")
        m[f"spark.{g}.executor_run_s"] = (row.get("executor_run_s", 0.0), "s")
        m[f"spark.{g}.idle_slot_s"] = (
            spans.get(g, 0.0) * cpus - row.get("executor_run_s", 0.0), "s")
    # every step of the traced pass runs inside a span; the row counts
    # after it are outside
    m["trace.total_s"] = (span_total, "s")
    m["trace.overhead_frac"] = (span_total / untraced_wall - 1.0, "ratio")
    return m


if __name__ == "__main__":
    sys.exit(main())
