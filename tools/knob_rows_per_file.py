"""SMALL_BATCH_ROWS_PER_FILE sensitivity sweep (VERDICT r11 ask #5).

The r11 micro-batch write coalesce (log.py `_write_coalesce_k`) was A/B'd
at the bench's 20k-row batches only; this sweep answers the follow-on a
real deployment asks: WHERE does the coalesce knob stop paying as
micro-batches grow? For each (batch_rows, rows_per_file) cell it times
sequential `ingest_batch` appends into a fresh log (first batch excluded
as process warmup, exactly like the bench's ingest rates), counts the
files produced, and times a full read-back — the three costs the knob
trades off (write wall, file-count accumulation, scan-open overhead).

Protocol: ONE process, every cell's batches interleaved across PASSES
(pass 1 runs all cells once, pass 2 repeats; per-cell value = min of the
per-pass mean batch seconds), so every cell samples the same span of host
weather — the same reasoning as the alternating A/B. `disabled`
monkeypatches `_write_coalesce_k` to None (the pre-r11 status quo: one
file per shuffle partition). This is an informational sensitivity table,
not a regression gate — the committed gate for the coalesce itself is
BENCH_AB_r11.json.

Usage: python tools/knob_rows_per_file.py [sf_dir] > KNOB_SWEEP_r12.json
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BATCH_SIZES = (20_000, 60_000, 120_000, 240_000)
KNOBS = ("disabled", 2_500, 5_000, 10_000, 20_000)
BATCHES_PER_PASS = 3  # timed batches per cell per pass (+1 warmup in pass 1)
PASSES = 2


def _cell(spark, normalized, n_rows: int, knob, pass_no: int, state: dict) -> dict:
    """Run one (batch_rows, knob) cell for one pass; returns timings."""
    from jetstream_spark.atproto import log as eventlog

    if knob == "disabled":
        orig = eventlog._write_coalesce_k
        eventlog._write_coalesce_k = lambda spark_, n: None
    else:
        orig_v = eventlog.SMALL_BATCH_ROWS_PER_FILE
        eventlog.SMALL_BATCH_ROWS_PER_FILE = knob
    try:
        log_dir = state["log_dir"]
        secs = []
        for i in range(BATCHES_PER_PASS + (1 if pass_no == 0 else 0)):
            b = state["next_batch"]
            state["next_batch"] += 1
            wall = 3_600_000_000 * (1 + b)  # one bucket per batch
            t0 = time.time()
            eventlog.ingest_batch(normalized, log_dir, wall_clock_us=wall, batch_id=b)
            dt = time.time() - t0
            if pass_no == 0 and i == 0:
                state["warmup_sec"] = round(dt, 3)
            else:
                secs.append(dt)
        return {"mean_batch_sec": round(sum(secs) / len(secs), 3), "batch_secs": [round(s, 3) for s in secs]}
    finally:
        if knob == "disabled":
            eventlog._write_coalesce_k = orig
        else:
            eventlog.SMALL_BATCH_ROWS_PER_FILE = orig_v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    import bench
    from jetstream_spark.atproto import log as eventlog
    from jetstream_spark.atproto.normalize import normalize_frames
    from jetstream_spark.session import get_spark

    spark = get_spark("knob-sweep")
    par = spark.sparkContext.defaultParallelism
    frames_all = bench._events_as_frames(spark, sf_dir)
    avail = frames_all.count()

    results: dict[str, dict] = {}
    states: dict[tuple, dict] = {}
    work = tempfile.mkdtemp(prefix="jetstream_knobsweep_")
    inputs: dict[int, object] = {}
    real_n: dict[int, int] = {}
    try:
        from pyspark.sql import functions as F

        for n_rows in BATCH_SIZES:
            f = frames_all
            # replicate with disjoint seq when the table is smaller than the cell
            for i in range(1, -(-n_rows // avail)):
                f = f.union(frames_all.withColumn("seq", F.col("seq") + i * avail))
            inputs[n_rows] = normalize_frames(f.limit(n_rows)).cache()
            # materialize outside the timed region; the REAL row count is the
            # conservation unit (normalize may drop guarded rows)
            real_n[n_rows] = inputs[n_rows].count()
        for p in range(PASSES):
            for n_rows in BATCH_SIZES:
                for knob in KNOBS:
                    key = (n_rows, knob)
                    if key not in states:
                        states[key] = {
                            "log_dir": os.path.join(work, f"log_{n_rows}_{knob}"),
                            "next_batch": 0,
                        }
                    got = _cell(spark, inputs[n_rows], n_rows, knob, p, states[key])
                    name = f"rows{n_rows}_knob{knob}"
                    cell = results.setdefault(name, {"passes": []})
                    cell["passes"].append(got)
        for (n_rows, knob), st in states.items():
            name = f"rows{n_rows}_knob{knob}"
            log_dir = st["log_dir"]
            files = sum(
                len([f for f in os.listdir(os.path.join(log_dir, e)) if f.endswith(".parquet")])
                for e in os.listdir(log_dir)
                if e.startswith("hour_bucket=")
            )
            t0 = time.time()
            n_read = eventlog.read_log(spark, log_dir).count()
            read_sec = time.time() - t0
            n_batches = st["next_batch"]
            expect = n_batches * real_n[n_rows]
            k_raw = None if knob == "disabled" else max(1, -(-real_n[n_rows] // knob))
            cell = results[name]
            cell.update(
                {
                    "batch_rows": real_n[n_rows],
                    "knob": knob,
                    "coalesce_k": k_raw if (k_raw is not None and k_raw < par) else None,
                    "mean_batch_sec": min(p["mean_batch_sec"] for p in cell["passes"]),
                    "warmup_sec": st.get("warmup_sec"),
                    "total_files": files,
                    "files_per_batch": round(files / n_batches, 1),
                    "read_back_sec": round(read_sec, 3),
                    "rows_conserved": n_read == expect,
                }
            )
            if n_read != expect:
                raise AssertionError(f"{name}: read {n_read} expected {expect}")
    finally:
        for df in inputs.values():
            df.unpersist()
        shutil.rmtree(work, ignore_errors=True)
    out = {
        "purpose": __doc__.split("\n\n")[0],
        "sf_dir": sf_dir,
        "default_parallelism": par,
        "batches_per_pass": BATCHES_PER_PASS,
        "passes": PASSES,
        "cells": {k: v for k, v in sorted(results.items())},
    }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
