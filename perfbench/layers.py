"""Per-layer numbers from a traced run: Spark event-log attribution and
small statistics helpers shared with run.py."""

from __future__ import annotations

import json
import math
import os


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]); 0.0 for no samples."""
    if not values:
        return 0.0
    s = sorted(values)
    k = min(len(s) - 1, max(0, int(round(q / 100.0 * (len(s) - 1)))))
    return float(s[k])


def tail_q(n: int) -> float:
    """The highest percentile, at most p99, with at least ten of `n`
    samples beyond it."""
    return max(0.0, min(99.0, math.floor(100.0 * (1.0 - 10.0 / n)))) if n else 0.0


def event_log_jobs(log_dir: str) -> list[dict]:
    """One record per Spark job from the uncompressed event log(s) under
    `log_dir`: job group, submit/complete wall seconds, and the summed task
    metrics of the stages the job ran."""
    paths = []
    for root, _, files in os.walk(log_dir):
        paths += [os.path.join(root, f) for f in files if not f.endswith((".crc", ".inprogress.crc"))]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except ValueError:
                    continue
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id") or "",
                        "t0": e["Submission Time"] / 1000.0,
                        "t1": None,
                        "tasks": 0,
                        "run_ms": 0.0,
                        "cpu_ms": 0.0,
                        "gc_ms": 0.0,
                        "shuffle_bytes": 0,
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(e.get("Stage ID"))
                    m = e.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    j["run_ms"] += m.get("Executor Run Time", 0)
                    j["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    j["gc_ms"] += m.get("JVM GC Time", 0)
                    j["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return [j for j in jobs.values() if j["t1"] is not None]


def union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
