"""Scaling-efficiency evidence (BASELINE.md protocol): the identical KG
pipeline job + input at local[8] (N) and local[32] (4N), 3 runs each,
median wall-clock, efficiency = (rate_4N / rate_N) / 4, target >= 0.8.

Each measurement runs in its own subprocess (clean JVM, master fixed at
launch); a warmup pass inside each subprocess excludes JVM/Arrow
first-run costs from the timed run, so the numbers measure the job, not
the runtime bring-up — matching how a long-lived cluster amortizes
startup. shuffle.partitions scales with cores (the knob a real submitter
scales with executor count).

Writes SCALING.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

# 4M turns: large enough that the ~5s fixed driver/stage floor (constant
# across input sizes, measured round 2) amortizes — at 300k turns the
# floor alone caps efficiency at ~0.57 regardless of the job's quality
N_TURNS = int(os.environ.get("SCALING_TURNS", "4000000"))
RUNS = int(os.environ.get("SCALING_RUNS", "2"))
# default N=4 / 4N=16: both within this host's reliably-available CPU
# (local[32] suffers 14-30% hypervisor steal under load, see BASELINE.md)
CPUS_SMALL = int(os.environ.get("SCALING_N", "4"))
CPUS_BIG = int(os.environ.get("SCALING_4N", "16"))
PIN = os.environ.get("SCALING_PIN", "1") == "1"  # taskset the process tree


def _staged_path() -> str:
    return os.path.join("/tmp", f"scaling_transcripts_{N_TURNS}.parquet")


def stage_input() -> None:
    """Materialize the synthetic transcript table ONCE (untimed): the
    north-rule job reads a STORED Iceberg-shaped table — generating rows
    in Python inside the timed region would measure the generator, not
    the pipeline."""
    from docopenie_spark import datagen
    from docopenie_spark.session import get_spark

    if os.path.exists(_staged_path()):
        return
    spark = get_spark(app_name="scaling-stage", master="local[16]",
                      shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    datagen.transcripts_df(spark, N_TURNS).write.mode("overwrite").parquet(_staged_path())
    spark.stop()


def single(cpus: int) -> None:
    from docopenie_spark import datagen
    from docopenie_spark.plans.pipeline import run_pipeline
    from docopenie_spark.session import get_spark

    # 4 waves of tasks per stage: stragglers amortize instead of extending
    # the stage (measured +0.09 efficiency over 1 wave at 300k turns)
    mult = int(os.environ.get("SCALING_PART_MULT", "4"))
    # SCALING_MODE=executors: a REAL multi-executor cluster in one box
    # (local-cluster[n_exec, 4, mem]) — the north rule's "N and 4N
    # executors" literally; the library ships to executors via addPyFile
    # (--py-files) and shuffles cross executor JVMs over sockets.
    # Per-mode persist strategy (VERDICT r2 #1a): executor mode persists
    # the pipeline fan-out points DISK_ONLY — serialized spill, bounded
    # heap — so the single-executor N config no longer OOMs holding the
    # whole annotated table deserialized in one fixed-size 4-core JVM.
    # Per-executor memory stays CONSTANT across configs (a real cluster
    # scales node count, not node size).
    executors_mode = os.environ.get("SCALING_MODE", "threads") == "executors"
    if executors_mode:
        n_exec = max(1, cpus // 4)
        master = f"local-cluster[{n_exec},4,%s]" % os.environ.get("SCALING_EXEC_MEM_MB", "10240")
    else:
        master = f"local[{cpus}]"
    # In executor mode persisted blocks are process-local to the executor
    # that wrote them; the default 3s spark.locality.wait idles cores
    # waiting for "the right" executor on one physical host where every
    # sibling fetch is a localhost copy. SPARK_LOCALITY_WAIT=0 removes
    # the wait (a real submitter tunes this to the cluster's network).
    extra = {}
    if os.environ.get("SPARK_LOCALITY_WAIT") is not None:
        extra["spark.locality.wait"] = os.environ["SPARK_LOCALITY_WAIT"]
    spark = get_spark(
        app_name=f"scaling-{cpus}",
        master=master,
        shuffle_partitions=cpus * mult,
        extra_conf=extra or None,
    )
    if executors_mode:
        # ship the library to executors — the north rule's --py-files
        _zip = "/tmp/docopenie_spark_scaling.zip"
        if not os.path.exists(_zip):
            import zipfile

            here = os.path.dirname(os.path.abspath(__file__))
            with zipfile.ZipFile(_zip, "w") as z:
                for root, _dirs, files in os.walk(os.path.join(here, "docopenie_spark")):
                    for f in files:
                        if f.endswith(".py"):
                            p = os.path.join(root, f)
                            z.write(p, os.path.relpath(p, here))
        spark.sparkContext.addPyFile(_zip)
    spark.sparkContext.setLogLevel("ERROR")
    level = os.environ.get(
        "SCALING_PERSIST", "DISK_ONLY" if executors_mode else "MEMORY_AND_DISK"
    )
    # The skew-adaptive coref split, as every recorded campaign ran it: at
    # these sizes the hot conversation can pass 2^22 mentions. The
    # recorded ledger pairs also ran with sentence text rebuilt JVM-side
    # from the turn table (a path since removed); today's runs ship it
    # inline through Arrow, so they are not like-for-like with them.
    at_scale = dict(coref_hot_threshold=1 << 22)
    # warmup: full code path on a small slice (JIT, Arrow, Python workers)
    run_pipeline(spark, datagen.transcripts_df(spark, 2000), **at_scale).triples.count()
    src = spark.read.parquet(_staged_path())
    t0 = time.time()
    n = run_pipeline(spark, src, storage_level=level, **at_scale).triples.count()
    wall = time.time() - t0
    print(json.dumps({"cpus": cpus, "wall": wall, "triples": n, "turns": N_TURNS}))
    spark.stop()


def _here(name: str) -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), name)


def _mode() -> str:
    return os.environ.get("SCALING_MODE", "threads")


def _persist() -> str:
    return os.environ.get(
        "SCALING_PERSIST", "DISK_ONLY" if _mode() == "executors" else "MEMORY_AND_DISK"
    )


def _runtime_conf() -> dict:
    """Config dimensions that change the measured job — recorded per pair
    and matched by aggregate() so SCALING.json never mixes configs."""
    return {
        "local_dirs": os.environ.get("SPARK_LOCAL_DIRS", "default"),
        "locality_wait": os.environ.get("SPARK_LOCALITY_WAIT", "default"),
    }


def append_pair(rec: dict) -> None:
    """One interleaved (small, big) pair → one line in SCALING_PAIRS.jsonl.
    APPEND-ONLY: the pair ledger is the complete, unselected record of
    every pair ever run; SCALING.json is always regenerated from the
    union (VERDICT r3 #1a — the old per-campaign overwrite silently
    dropped earlier campaigns' pairs)."""
    with open(_here("SCALING_PAIRS.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")


def aggregate(campaign_note: str | None = None) -> dict:
    """Regenerate SCALING.json from ALL ledger pairs matching the current
    config (mode, n, n4, n_turns, persist) — every sample reported."""
    pairs = []
    with open(_here("SCALING_PAIRS.jsonl")) as f:
        for line in f:
            if line.strip():
                pairs.append(json.loads(line))
    conf = _runtime_conf()
    sel = [
        p for p in pairs
        if p["mode"] == _mode() and p["n"] == CPUS_SMALL and p["n4"] == CPUS_BIG
        and p["n_turns"] == N_TURNS and p["persist"] == _persist()
        and all(p.get(k, "default") == v for k, v in conf.items())
    ]
    if not sel:
        raise SystemExit("no ledger pairs match the current config")
    factor = CPUS_BIG / CPUS_SMALL
    # the full same-WORKLOAD history across runtime configs (ADVICE r4:
    # README+SCALING.json alone must show that earlier, worse pairs under
    # the pre-gated config exist) — selection by workload only, config
    # dimensions free
    wl = [
        p for p in pairs
        if p["mode"] == _mode() and p["n"] == CPUS_SMALL and p["n4"] == CPUS_BIG
        and p["n_turns"] == N_TURNS and p["persist"] == _persist()
    ]
    wl_effs = [(p["wall_small"] / p["wall_big"]) / factor for p in wl]
    walls = {CPUS_SMALL: [p["wall_small"] for p in sel],
             CPUS_BIG: [p["wall_big"] for p in sel]}
    med = {c: statistics.median(w) for c, w in walls.items()}
    best = {c: min(w) for c, w in walls.items()}
    triples = sel[-1]["triples"]
    pair_effs = [(p["wall_small"] / p["wall_big"]) / factor for p in sel]
    summary = {
        "metric": "scaling_efficiency_N_to_4N",
        # the honest number: median over EVERY pair ever run at this
        # config, across campaigns — never a per-campaign subset
        "value": round(statistics.median(pair_effs), 3),
        "value_min_based": round((best[CPUS_SMALL] / best[CPUS_BIG]) / factor, 3),
        "pair_efficiencies": [round(e, 3) for e in pair_effs],
        "n_pairs": len(sel),
        "campaigns": sorted({p.get("campaign", "r3") for p in sel}),
        "target": 0.8,
        "mode": _mode(),  # executors = local-cluster[n,4,mem] + addPyFile,
        #                   the north rule's literal N vs 4N executors shape
        "persist": _persist(),
        "pinned": PIN,
        **_runtime_conf(),
        "n": CPUS_SMALL,
        "n4": CPUS_BIG,
        "n_turns": N_TURNS,
        "triples": triples,
        "median_wall_sec": {f"cpus[{c}]": round(med[c], 2) for c in med},
        "min_wall_sec": {f"cpus[{c}]": round(best[c], 2) for c in best},
        "triples_per_sec": {f"cpus[{c}]": round(triples / med[c], 1) for c in med},
        "runs": {f"cpus[{c}]": [round(w, 2) for w in walls[c]] for c in walls},
        # per-pair canary readings where the campaign recorded them:
        # [before-4cpu-leg, before-16cpu-leg] GB/s, null = not recorded
        # (the r4-16m-3 campaign gated/recorded only the wide leg —
        # ADVICE r4 flagged the asymmetry; later campaigns record both)
        "canary_gbs_per_pair": [
            [p.get("canary_small"), p.get("canary_big", p.get("canary_gbs"))]
            for p in sel
        ],
        "protocol_note": (
            "Headline pairs are gated on a host memory-bandwidth canary "
            "(tools/gated_scaling.py: launch waits up to 10 min for a "
            "quiet window; gating affects timing only, every completed "
            "pair is ledgered) and run under the disclosed tmpfs/"
            "locality config above. The complete unselected history "
            "lives in SCALING_PAIRS.jsonl; same-workload pairs across "
            "ALL configs (incl. pre-gated ones) are summarized in "
            "all_configs below."
        ),
        "all_configs": {
            "n_pairs": len(wl),
            "median_eff": round(statistics.median(wl_effs), 3) if wl_effs else None,
            "pair_efficiencies": [round(e, 3) for e in wl_effs],
        },
        "ledger": "SCALING_PAIRS.jsonl",
    }
    with open(_here("SCALING.json"), "w") as f:
        json.dump(summary, f, indent=2)
    return summary


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--run":
        single(int(sys.argv[2]))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--aggregate":
        # regenerate SCALING.json from the ledger without running anything
        print(json.dumps(aggregate()))
        return

    campaign = os.environ.get("SCALING_CAMPAIGN", "adhoc")
    stage_input()
    # INTERLEAVE configs: the sandbox host's available CPU varies over
    # minutes (co-tenant steal), so paired runs minutes apart are the
    # only fair comparison — grouped runs confound config with host load
    for i in range(RUNS):
        pair: dict[int, dict] = {}
        for cpus in (CPUS_SMALL, CPUS_BIG):
            cmd = [sys.executable, os.path.abspath(__file__), "--run", str(cpus)]
            if PIN:
                # pin the WHOLE tree (JVM + Python workers) to exactly
                # `cpus` CPUs — local[N] alone does not bound CPU at N
                cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
            out = subprocess.run(
                cmd,
                capture_output=True, text=True, check=True,
                cwd=os.path.dirname(os.path.abspath(__file__)),
            )
            rec = json.loads(out.stdout.strip().splitlines()[-1])
            pair[cpus] = rec
            print(f"  local[{cpus}] run {i}: {rec['wall']:.1f}s", file=sys.stderr)
        # ledger the pair the moment it completes — a killed campaign
        # loses at most the in-flight pair, never recorded ones
        append_pair({
            "campaign": campaign, "mode": _mode(), "persist": _persist(),
            "pinned": PIN, **_runtime_conf(),
            "n": CPUS_SMALL, "n4": CPUS_BIG, "n_turns": N_TURNS,
            "wall_small": round(pair[CPUS_SMALL]["wall"], 2),
            "wall_big": round(pair[CPUS_BIG]["wall"], 2),
            "triples": pair[CPUS_BIG]["triples"],
        })
        print(json.dumps(aggregate()), file=sys.stderr)

    print(json.dumps(aggregate()))


if __name__ == "__main__":
    main()
