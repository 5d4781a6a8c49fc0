"""Reduce a Spark event log to one row of counters per job group.

The benchmark's traced run enables Spark's own event log
(``spark.eventLog.enabled``, uncompressed) and runs each layer under a
``setJobGroup`` named after it. This module reads the log back — either
the rolling ``eventlog_v2_*`` directory Spark 4 writes or a single
events file — and sums, per job group:

- ``jobs``, ``stages`` (stages that ran; skipped stages are not
  submitted and not counted), ``tasks``
- ``executor_run_s`` and ``gc_s`` (task "Executor Run Time" / "JVM GC Time")
- ``shuffle_write_bytes`` and ``spill_bytes`` (memory + disk bytes spilled)
- the Python-worker SQL metrics the Arrow/pandas UDF nodes report:
  ``python_run_s``, ``python_init_s``, ``bytes_to_python``,
  ``bytes_from_python``

Jobs started outside any job group are reported under ``"none"``.

Self-test against the checked-in tiny log:

    python3 perfbench/eventlog.py
"""

from __future__ import annotations

import json
import os
import re
import sys

NO_GROUP = "none"

COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "gc_s",
            "shuffle_write_bytes", "spill_bytes", "python_run_s",
            "python_init_s", "bytes_to_python", "bytes_from_python")

# SQL metric name → (counter, scale to the counter's unit). The Python
# timings are reported by Spark in milliseconds.
_PYTHON_ACCUMS = {
    "time to run Python workers": ("python_run_s", 1e-3),
    "time to initialize Python workers": ("python_init_s", 1e-3),
    "data sent to Python workers": ("bytes_to_python", 1),
    "data returned from Python workers": ("bytes_from_python", 1),
}

_EVENTS_FILE = re.compile(r"^events_(\d+)_")


def event_files(path: str) -> list[str]:
    """The events files of one application log, in write order. ``path``
    is a rolling-log directory (``eventlog_v2_<app>``), a directory
    holding exactly one such directory, or a single events file."""
    if os.path.isfile(path):
        return [path]
    names = os.listdir(path)
    rolled = sorted(
        (int(m.group(1)), n) for n in names if (m := _EVENTS_FILE.match(n))
    )
    if rolled:
        return [os.path.join(path, n) for _, n in rolled]
    apps = [n for n in names if n.startswith("eventlog_v2_")]
    if len(apps) != 1:
        raise ValueError(f"expected one eventlog_v2_* directory in {path}, "
                         f"found {len(apps)}")
    return event_files(os.path.join(path, apps[0]))


def _empty() -> dict:
    return {k: 0 for k in COUNTERS}


def reduce_eventlog(path: str) -> dict[str, dict]:
    """{job group: {counter: value}} for the application log at ``path``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def row(group: str) -> dict:
        return out.setdefault(group, _empty())

    for f in event_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or NO_GROUP
                    row(group)["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    row(stage_group.get(sid, NO_GROUP))["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    r = row(stage_group.get(e["Stage ID"], NO_GROUP))
                    r["tasks"] += 1
                    m = e.get("Task Metrics") or {}
                    r["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    r["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    r["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        hit = _PYTHON_ACCUMS.get(acc.get("Name"))
                        if hit is not None and acc.get("Update") is not None:
                            name, scale = hit
                            r[name] += int(acc["Update"]) * scale
    return out


# ----------------------------------------------------------------- self-test

_TINY_LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "testdata", "eventlog_v2_tiny")

# Hand-checked against the events in testdata/eventlog_v2_tiny: job 0
# (group "fused", stages 0-1; stage 1 skipped) ran 2 tasks in stage 0,
# job 1 (group "coref", stage 2) ran 1 task, job 2 has no group and
# ran 1 task. The events are split over two rolled files.
_TINY_EXPECTED = {
    "fused": {"jobs": 1, "stages": 1, "tasks": 2, "executor_run_s": 3.0,
              "gc_s": 0.25, "shuffle_write_bytes": 300, "spill_bytes": 0,
              "python_run_s": 1.5, "python_init_s": 0.5,
              "bytes_to_python": 1000, "bytes_from_python": 4000},
    "coref": {"jobs": 1, "stages": 1, "tasks": 1, "executor_run_s": 0.5,
              "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 96,
              "python_run_s": 0.0, "python_init_s": 0.0,
              "bytes_to_python": 0, "bytes_from_python": 0},
    NO_GROUP: {"jobs": 1, "stages": 1, "tasks": 1, "executor_run_s": 0.125,
               "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
               "python_run_s": 0.0, "python_init_s": 0.0,
               "bytes_to_python": 0, "bytes_from_python": 0},
}


def self_test() -> None:
    """Raise AssertionError unless the tiny checked-in log reduces to the
    hand-checked counters (floats compared to 1e-9)."""
    got = reduce_eventlog(os.path.dirname(_TINY_LOG))
    if set(got) != set(_TINY_EXPECTED):
        raise AssertionError(f"groups {sorted(got)} != {sorted(_TINY_EXPECTED)}")
    for group, want in _TINY_EXPECTED.items():
        for k, v in want.items():
            if abs(got[group][k] - v) > 1e-9:
                raise AssertionError(f"{group}.{k}: got {got[group][k]}, want {v}")


if __name__ == "__main__":
    self_test()
    print("eventlog self-test passed", file=sys.stderr)
