"""Per-job-group totals from a Spark event log (plain JSON lines).

Each layer call of the traced run runs under its own job group, so every
stage and task in the log can be attributed to the call that caused it.
For a tag the benchmark reports:

  stages        stages that ran (skipped stages never run)
  tasks         tasks that ended
  cpu_core_s    executor CPU time, summed over tasks
  gc_s          JVM GC time, summed over tasks
  shuffle_mb    shuffle bytes written, in MB (1e6 bytes)
  spill_mb      bytes spilled to disk, in MB
  driver_gap_s  time inside the call's span with no stage running
  busy_frac     task run time / (span wall x cores)
"""

from __future__ import annotations

import json
from collections import defaultdict

FIELDS = ("stages", "tasks", "cpu_core_s", "gc_s", "shuffle_mb",
          "spill_mb", "driver_gap_s", "busy_frac")


def _empty() -> dict:
    return {"stages": [], "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
            "shuffle_bytes": 0, "spill_bytes": 0}


def parse(path: str) -> dict[str, dict]:
    """group id -> {"stages": [(submit_ms, complete_ms)], "tasks": n,
    "run_ms": .., "cpu_ns": .., "gc_ms": .., "shuffle_bytes": ..,
    "spill_bytes": ..}."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(_empty)
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerStageSubmitted":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if g:
                    stage_group[e["Stage Info"]["Stage ID"]] = g
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                g = stage_group.get(si["Stage ID"])
                sub, comp = si.get("Submission Time"), si.get(
                    "Completion Time")
                if g and sub and comp:
                    groups[g]["stages"].append((sub, comp))
            elif ev == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"])
                if not g:
                    continue
                m = e.get("Task Metrics") or {}
                acc = groups[g]
                acc["tasks"] += 1
                acc["run_ms"] += m.get("Executor Run Time") or 0
                acc["cpu_ns"] += m.get("Executor CPU Time") or 0
                acc["gc_ms"] += m.get("JVM GC Time") or 0
                acc["shuffle_bytes"] += ((m.get("Shuffle Write Metrics") or {})
                                         .get("Shuffle Bytes Written") or 0)
                acc["spill_bytes"] += m.get("Disk Bytes Spilled") or 0
    return dict(groups)


def _covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def tag_metrics(tag: str, acc: dict | None, span_ms: tuple[int, int],
                cores: int) -> dict[str, float]:
    """The FIELDS of one tag, named '<tag>.<field>'."""
    lo, hi = span_ms
    wall_ms = max(1, hi - lo)
    acc = acc or _empty()
    vals = {
        "stages": len(acc["stages"]),
        "tasks": acc["tasks"],
        "cpu_core_s": acc["cpu_ns"] / 1e9,
        "gc_s": acc["gc_ms"] / 1e3,
        "shuffle_mb": acc["shuffle_bytes"] / 1e6,
        "spill_mb": acc["spill_bytes"] / 1e6,
        "driver_gap_s": (wall_ms - _covered_ms(acc["stages"], lo, hi)) / 1e3,
        "busy_frac": acc["run_ms"] / (wall_ms * cores),
    }
    return {f"{tag}.{k}": float(vals[k]) for k in FIELDS}
