#!/usr/bin/env python3
"""The repository benchmark: one workload per run, run from the root of a
checkout.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 15 --trace 0

This process is the load generator: it plays the relay the engine ingests
from and runs the websocket subscribers. The engine runs as a separate
process (perfbench/sut.py). Inputs come only from `--seed`. After the
correctness checks the last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json, or with `--trace 1` its per-layer metrics). The line
before it is a human-readable provenance and detail record.

Workloads, metrics and the per-layer map are documented in
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

# live_tail offered rate. One ingest micro-batch (trigger, decode,
# sequence, commit) plus the hub's slice takes about 4-6 s on 4 cores
# whatever its size, which caps ingest near 175 events/s; at 400/s the
# backlog grows for the whole run. See README.md.
LIVE_RATE = 100
WARMUP_FRAMES = 200  # on the relay at set-up; the first micro-batch
# The schedule starts on an idle engine: its first micro-batches are a
# 1-event batch and then the run's largest and slowest one, holding what
# queued behind it. A continuous stream has no such ramp, so events due in
# the first RAMP_S seconds are delivered and checked but not timed;
# `--seconds` of schedule follow them.
RAMP_S = 5
N_DIDS = 30  # the wantedDids subscriber's DID count
CATALOG_DATA = os.path.join(HERE, "data", "sf0.01")  # the engine's sf0.01 test tables
CATALOG = [  # bench.py HEADLINE, in its order
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_running_revenue",
    "rollup_revenue",
    "replay_scan",
    "sessionization",
    "asof_join_purchases",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_brute_force_topk",
    "text_quality_score",
    "text_fingerprint",
    "multimodal_byte_stats",
]
MAX_LATENESS_P99_S = 0.25  # generator behind schedule beyond this = invalid run


def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def provenance(seed: int, workload: str) -> dict:
    def out(cmd):
        try:
            return subprocess.run(cmd, capture_output=True, text=True, timeout=30, cwd=ROOT)
        except (OSError, subprocess.TimeoutExpired):
            return None

    head = out(["git", "rev-parse", "HEAD"])
    dirty = out(["git", "status", "--porcelain"])
    java = out(["java", "-version"])
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", ""),
        "cpus": cpus(),
        "commit": head.stdout.strip() if head and head.returncode == 0 else "unknown",
        "dirty": bool(dirty.stdout.strip()) if dirty and dirty.returncode == 0 else None,
        "pyspark": pyspark.__version__,
        "java": (java.stderr.splitlines() or ["unknown"])[0] if java else "unknown",
    }


def sut_env(trace: bool) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH", "")) if p),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(WORK, "warehouse"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    if trace:
        elog = os.path.join(WORK, "eventlog")
        shutil.rmtree(elog, ignore_errors=True)
        os.makedirs(elog)
        env["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{elog} "
            "--conf spark.eventLog.compress=false --conf spark.eventLog.rolling.enabled=false "
            "--conf spark.sql.streaming.numRecentProgressUpdates=1000 pyspark-shell"
        )
    return env


class Sut:
    """The engine process, driven over stdin/stdout lines."""

    def __init__(self, args: list[str], trace: bool):
        self.args, self.trace = args, trace
        self.proc: asyncio.subprocess.Process | None = None

    async def start(self) -> None:
        self.stderr = open(os.path.join(WORK, "sut.stderr"), "wb")
        self.proc = await asyncio.create_subprocess_exec(
            sys.executable, os.path.join(HERE, "sut.py"), *self.args,
            stdin=asyncio.subprocess.PIPE, stdout=asyncio.subprocess.PIPE, stderr=self.stderr,
            env=sut_env(self.trace), cwd=WORK,
        )

    async def line(self, timeout: float) -> dict:
        while True:
            raw = await asyncio.wait_for(self.proc.stdout.readline(), timeout)
            if not raw:
                raise RuntimeError(f"engine exited (see {WORK}/sut.stderr)")
            if raw.startswith(b"{"):
                return json.loads(raw)

    async def finish(self, timeout: float = 90.0) -> dict:
        if self.proc.returncode is None and self.proc.stdin is not None:
            self.proc.stdin.write(b"stop\n")
            await self.proc.stdin.drain()
        done = await self.line(timeout)
        await asyncio.wait_for(self.proc.wait(), 60)
        with open(done["result"]) as f:
            return json.load(f)

    async def kill(self) -> None:
        if self.proc is not None and self.proc.returncode is None:
            self.proc.kill()
            await self.proc.wait()
        if getattr(self, "stderr", None):
            self.stderr.close()


# --- live_tail -------------------------------------------------------------------


async def live_tail_run(seed: int, seconds: float, trace: bool) -> dict:
    from check import check_log, check_subscriber, event_index, expected_indices, log_ok, parse_frames
    from gen import NSIDS, frame_bytes, make_events
    from layers import pct, tail_q
    from net import Relay, Subscriber, http_get, prom_sum, sample_rss

    rng = random.Random(seed)
    n_sched = int(LIVE_RATE * (RAMP_S + seconds))
    timed_from = WARMUP_FRAMES + RAMP_S * LIVE_RATE  # first timed event
    events = make_events(seed, WARMUP_FRAMES + n_sched)
    by_g = {ev.g: ev for ev in events}
    frames = [frame_bytes(ev) for ev in events]
    relay = Relay(frames, first_seq=1)
    await relay.start()
    relay.expose(WARMUP_FRAMES)
    sut = Sut(
        ["--mode", "stream", "--work", WORK, "--cpus", str(cpus()), "--trace", str(int(trace)),
         "--warmup-rows", str(WARMUP_FRAMES), "--relay", f"127.0.0.1:{relay.port}",
         "--event-log", os.path.join(WORK, "eventlog") if trace else ""],
        trace,
    )
    collection = rng.choice(NSIDS)
    dids = sorted(rng.sample(sorted({ev.did for ev in events}), N_DIDS))
    # three subscribers (nproc - 1 on a 4-core host, fixed so that runs on
    # other hosts stay comparable). The unfiltered one replays the log from
    # cursor 0 and cuts over to the live tail before the schedule starts;
    # the others attach live.
    plan = [
        ("all", "cursor=0", (), (), 0),
        ("collection", f"wantedCollections={collection}", (collection,), (), WARMUP_FRAMES),
        ("dids", "&".join(f"wantedDids={d}" for d in dids), (), set(dids), WARMUP_FRAMES),
    ]
    expected = {name: expected_indices(events, c, d, lo=lo) for name, _, c, d, lo in plan}
    subs = [Subscriber(name, q) for name, q, *_ in plan]
    peak = [0.0]
    t_start = time.time()
    await sut.start()
    rss_task = asyncio.create_task(sample_rss(sut.proc.pid, peak))
    try:
        ready = await sut.line(timeout=150)
        port = ready["port"]
        for s in subs:
            s.start(port)
        deadline = time.time() + 60
        while (
            prom_sum(await http_get(port, "/metrics"), "jetstream_subscribers_connected") < len(subs)
            or len(subs[0].log) < WARMUP_FRAMES
        ):
            if time.time() > deadline:
                raise TimeoutError("subscribers did not attach")
            await asyncio.sleep(0.05)
        catchup_s = subs[0].log[-1][0] - subs[0].connected_at
        await asyncio.sleep(0.5)  # cut-over to the hub after the replay
        t0 = time.time() + 0.1
        due = [t0 + k / LIVE_RATE for k in range(n_sched)]
        await relay.play(WARMUP_FRAMES, due)
        deadline = due[-1] + 120
        while time.time() < deadline and not any(s.closed_by_server for s in subs):
            if all(len(s.log) >= len(expected[s.name]) for s in subs):
                break
            await asyncio.sleep(0.05)
        await asyncio.sleep(0.3)  # anything extra (duplicates, leaks) still in flight
        metrics_text = await http_get(port, "/metrics")
        for s in subs:
            await s.stop()
        result = await sut.finish()
    finally:
        rss_task.cancel()
        for s in subs:
            await s.stop()
        await sut.kill()
        await relay.stop()

    # --- checks, outside the timed window ---
    received = {s.name: parse_frames(s.log) for s in subs}
    delivery = {s.name: check_subscriber(received[s.name], expected[s.name], by_g) for s in subs}
    attempted = sum(len(v) for v in expected.values())
    failed = sum(d.errors for d in delivery.values())
    conservation = check_log(result["log_dir"], list(range(len(events))))
    if not log_ok(conservation):
        failed += abs(conservation["rows"] - conservation["expected"]) or 1
    late_p99 = pct(relay.lateness_s, 99)

    # --- end-to-end metrics ---
    def due_of(g: int) -> float:
        return t0 + (g - WARMUP_FRAMES) / LIVE_RATE

    lat_ms = [
        (t - due_of(g)) * 1000.0
        for frames_in in received.values()
        for t, f in frames_in
        if (g := event_index(f)) is not None and g >= timed_from
    ]
    q = tail_q(len(lat_ms))
    last_recv = max(s.log[-1][0] for s in subs if s.log)
    metrics = {
        "latency_p50_ms": (pct(lat_ms, 50), "ms"),
        "latency_tail_ms": (pct(lat_ms, q), "ms"),
        "throughput_per_s": (len(lat_ms) / len(subs) / max(1e-9, last_recv - due_of(timed_from)), "1/s"),
        "setup_s": (ready["boot_s"] + ready["setup_s"], "s"),
    }
    detail = {
        "provenance": provenance(seed, "live_tail"),
        "peak_rss_mb": peak[0],
        "offered_rate_per_s": LIVE_RATE,
        "untimed_ramp_s": RAMP_S,
        "generator_lateness_p99_s": late_p99,
        "latency_samples": len(lat_ms),
        "latency_tail_percentile": q,
        "delivery_error_rate": failed / attempted,
        "delivery": {k: vars(v) for k, v in delivery.items()},
        "dropped_subs": sum(s.closed_by_server for s in subs),
        "log_conservation": conservation,
        "catchup_s": catchup_s,
        "batch_s": [round(b["end"] - b["wall_us"] / 1e6, 3) for b in result["batches"]],
        "batch_rows": [b["rows"] for b in result["batches"]],
        "boot_s": ready["boot_s"],
        "wall_s": time.time() - t_start,
    }
    valid = late_p99 <= MAX_LATENESS_P99_S
    layers = None
    if trace:
        layers = live_layers(result, ready, received, frames, timed_from, due_of, metrics, metrics_text, detail)
    return {"valid": valid, "attempted": attempted, "failed": failed, "metrics": metrics, "layers": layers,
            "detail": detail}


def live_layers(result, ready, received, frames, timed_from, due_of, metrics, metrics_text, detail) -> dict:
    """Per-layer metrics of a traced live_tail run. README.md maps each to
    the end-to-end metric it should move."""
    from check import event_index
    from layers import event_log_jobs, pct
    from net import prom_sum

    from jetstream_spark.atproto.carcbor import decode_xrpc_frame

    t_ready = ready["t_ready"]
    by: dict[str, list] = {}
    for s in result["spans"]:
        if s["t0"] >= t_ready:
            by.setdefault(s["name"], []).append(s)

    def ms(spans):
        return [(s["t1"] - s["t0"]) * 1000.0 for s in spans]

    sample = frames[WARMUP_FRAMES : WARMUP_FRAMES + 500]
    d0 = time.perf_counter()
    for fr in sample:
        decode_xrpc_frame(fr)
    decode_us = (time.perf_counter() - d0) * 1e6 / len(sample)

    prog = [p for p in result["ingest_progress"] if p.get("numInputRows", 0) > 0 and p["batchId"] > 0]
    batches = [b for b in result["batches"] if b["end"] >= t_ready]
    rows = sum(b["rows"] for b in batches)
    jobs = event_log_jobs(result["event_log"])
    ingest_jobs = [j for j in jobs if j["group"] == result["ingest_run_id"] and j["t0"] >= t_ready]
    py_ms = sum(j["run_ms"] - j["cpu_ms"] for j in ingest_jobs)
    seq_spans = by.get("sequencer", [])
    hub_fetch, edge_fetch = by.get("replay.hub", []), by.get("replay.edge", [])
    edge_fetch_all = [s for s in result["spans"] if s["name"] == "replay.edge"]
    fetch_all = [s for s in result["spans"] if s["name"] == "edge.fetch"]

    # the blocking path per received live event: scheduled send -> handler
    # start (its time_us base) -> commit end -> next hub slice start ->
    # slice end -> frame receipt
    commits = sorted((b["wall_us"], b["last_us"], b["end"]) for b in batches)
    slices = sorted((s["t0"], s["t1"], s["lo_us"], s["hi_us"]) for s in hub_fetch if s["rows"])
    src_w, commit, tick_w, slice_ms, fan = [], [], [], [], []
    for frames_in in received.values():
        for t_recv, frame in frames_in:
            g, t_us = event_index(frame), frame["time_us"]
            if g is None or g < timed_from:
                continue
            b = next((b for b in commits if b[0] <= t_us <= b[1]), None)
            sl = next((s for s in slices if s[2] <= t_us <= s[3]), None)
            if b is None or sl is None:
                continue
            src_w.append((t_us / 1e6 - due_of(g)) * 1000.0)
            commit.append((b[2] - t_us / 1e6) * 1000.0)
            tick_w.append((sl[0] - b[2]) * 1000.0)
            slice_ms.append((sl[1] - sl[0]) * 1000.0)
            fan.append((t_recv - sl[1]) * 1000.0)
    path_p50 = [pct(x, 50) for x in (src_w, commit, tick_w, slice_ms, fan)]

    def dur(key):
        return [p["durationMs"].get(key, 0) for p in prog]

    return {
        "carcbor.decode_us_per_frame": (decode_us, "us"),
        "firehose.latest_offset_ms_p50": (pct(dur("latestOffset"), 50), "ms"),
        "firehose.rows_per_batch_p50": (pct([p["numInputRows"] for p in prog], 50), "count"),
        "ingest.trigger_ms_p50": (pct(dur("triggerExecution"), 50), "ms"),
        "ingest.trigger_ms_p99": (pct(dur("triggerExecution"), 99), "ms"),
        "ingest.add_batch_ms_p50": (pct(dur("addBatch"), 50), "ms"),
        "ingest.batches": (len(batches), "count"),
        "ingest.jobs_per_batch": (len(ingest_jobs) / max(1, len(batches)), "count"),
        "ingest.python_ms_per_kevent": (py_ms / max(1, rows) * 1000.0, "ms"),
        "sequencer.sequence_ms_p50": (pct(ms(seq_spans), 50), "ms"),
        "sequencer.rows_per_partition_p50": (
            pct([b["rows"] / s["parts"] for b, s in zip(batches, seq_spans)], 50), "count"),
        "log.commit_ms_p50": (
            pct([(b["end"] - b["wall_us"] / 1e6) * 1000.0 - d for b, d in zip(batches, ms(seq_spans))], 50),
            "ms"),
        "log.files_per_batch": (result["log"]["files"] / max(1, len(result["batches"])), "count"),
        "log.bytes_per_event": (result["log"]["bytes"] / max(1, detail["log_conservation"]["rows"]), "B"),
        "log.hub.replay_rows_ms_p50": (pct(ms(hub_fetch), 50), "ms"),
        "log.hub.replay_rows_ms_p99": (pct(ms(hub_fetch), 99), "ms"),
        "log.hub.rows_per_fetch_p50": (pct([s["rows"] for s in hub_fetch], 50), "count"),
        "log.edge.replay_rows_ms_p50": (pct(ms(edge_fetch_all), 50), "ms"),
        "log.edge.replay_rows_ms_p99": (pct(ms(edge_fetch_all), 99), "ms"),
        "log.edge.rows_per_fetch_p50": (pct([s["rows"] for s in edge_fetch_all], 50), "count"),
        "log.replay_rows_retries": (sum(s["retries"] for s in hub_fetch + edge_fetch), "count"),
        "hub.tick_ms_p50": (pct(ms(by.get("hub.tick", [])), 50), "ms"),
        "hub.tick_ms_p99": (pct(ms(by.get("hub.tick", [])), 99), "ms"),
        "hub.tick_wait_ms_p50": (path_p50[2], "ms"),
        "hub.slice_rows_p50": (pct([s["rows"] for s in hub_fetch], 50), "count"),
        "hub.ticks": (len(by.get("hub.tick", [])), "count"),
        "edge.fanout_ms_p50": (path_p50[4], "ms"),
        "edge.fanout_ms_p99": (pct(fan, 99), "ms"),
        "edge.fetch_ms_p50": (pct(ms(fetch_all), 50), "ms"),
        "edge.enqueued": (prom_sum(metrics_text, "jetstream_subscriber_events_enqueued_total"), "count"),
        "edge.delivered": (prom_sum(metrics_text, "jetstream_events_delivered_total"), "count"),
        "edge.dropped_subs": (detail["dropped_subs"], "count"),
        "edge.catchup_s": (detail["catchup_s"], "s"),
        "path.source_wait_ms_p50": (path_p50[0], "ms"),
        "path.commit_ms_p50": (path_p50[1], "ms"),
        "path.hub_tick_wait_ms_p50": (path_p50[2], "ms"),
        "path.slice_ms_p50": (path_p50[3], "ms"),
        "path.fanout_ms_p50": (path_p50[4], "ms"),
        "path.residual_ms": (metrics["latency_p50_ms"][0] - sum(path_p50), "ms"),
    }


# --- catalog ---------------------------------------------------------------------


async def catalog_run(seed: int, seconds: float, trace: bool) -> dict:
    from check import canonical
    from net import sample_rss

    data = CATALOG_DATA
    sut = Sut(
        ["--mode", "catalog", "--work", WORK, "--cpus", str(cpus()), "--trace", str(int(trace)),
         "--queries", ",".join(CATALOG), "--data", data, "--seconds", str(seconds),
         "--event-log", os.path.join(WORK, "eventlog") if trace else ""],
        trace,
    )
    peak = [0.0]
    t_start = time.time()
    await sut.start()
    rss_task = asyncio.create_task(sample_rss(sut.proc.pid, peak))
    try:
        ready = await sut.line(timeout=150)
        result = await sut.finish(timeout=150)
    finally:
        rss_task.cancel()
        await sut.kill()

    import duckdb

    from jetstream_spark.queries import all_queries
    from jetstream_spark.tables import TABLE_NAMES

    specs = all_queries()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracle = {}
    for name in CATALOG:
        sql = specs[name].oracle
        if sql is None:
            oracle[name] = "rows-only"
            continue
        want = canonical(con.execute(sql).df())
        oracle[name] = "pass" if want == result["results"][name] else f"FAIL {want} != {result['results'][name]}"
    con.close()
    failed = sum(1 for v in oracle.values() if v.startswith("FAIL"))
    rounds = result["rounds"]
    round_s = [max(w["t1"] for w in r.values()) - min(w["t0"] for w in r.values()) for r in rounds]
    walls = [(w["t1"] - w["t0"]) * 1000.0 for r in rounds for w in r.values()]
    from layers import pct, tail_q

    q = tail_q(len(walls))
    med_round = statistics.median(round_s)
    metrics = {
        "latency_p50_ms": (pct(walls, 50), "ms"),
        "latency_tail_ms": (pct(walls, q), "ms"),
        "throughput_per_s": (len(CATALOG) / med_round, "1/s"),
        "setup_s": (ready["boot_s"] + ready["setup_s"], "s"),
    }
    detail = {
        "provenance": provenance(seed, "catalog"),
        "peak_rss_mb": peak[0],
        "data": os.path.relpath(data, ROOT),
        "rounds": len(rounds),
        "catalog_round_s": med_round,
        "latency_samples": len(walls),
        "latency_tail_percentile": q,
        "oracle": oracle,
        "boot_s": ready["boot_s"],
        "valid": True,
        "wall_s": time.time() - t_start,
    }
    layers = catalog_layers(result, rounds, metrics) if trace else None
    return {"valid": True, "attempted": len(CATALOG), "failed": failed, "metrics": metrics, "layers": layers,
            "detail": detail}


def catalog_layers(result, rounds, metrics) -> dict:
    from layers import event_log_jobs, union_s

    jobs = event_log_jobs(result["event_log"])
    out = {}
    per_round = {k: [] for k in ("jobs", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_bytes")}
    for r_i, r in enumerate(rounds):
        rj = [j for j in jobs if j["group"].startswith(f"r{r_i}:")]
        per_round["jobs"].append(len(rj))
        for k in ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_bytes"):
            per_round[k].append(sum(j[k] for j in rj))
    for name in CATALOG:
        walls, residues = [], []
        for r_i, r in enumerate(rounds):
            w = r[name]
            qj = [(j["t0"], j["t1"]) for j in jobs if j["group"] == f"r{r_i}:{name}"]
            walls.append(w["t1"] - w["t0"])
            residues.append((w["t1"] - w["t0"] - union_s(qj)) * 1000.0)
        out[f"catalog.{name}.wall_s"] = (statistics.median(walls), "s")
        out[f"catalog.{name}.driver_residue_ms"] = (statistics.median(residues), "ms")
    med = lambda k: statistics.median(per_round[k])  # noqa: E731
    out.update({
        "catalog.jobs": (med("jobs"), "count"),
        "catalog.tasks": (med("tasks"), "count"),
        "catalog.executor_run_ms": (med("run_ms"), "ms"),
        "catalog.executor_cpu_ms": (med("cpu_ms"), "ms"),
        "catalog.python_ms": (statistics.median(
            [a - b for a, b in zip(per_round["run_ms"], per_round["cpu_ms"])]), "ms"),
        "catalog.gc_ms": (med("gc_ms"), "ms"),
        "catalog.shuffle_mb": (med("shuffle_bytes") / 1e6, "MB"),
    })
    return out


# --- entry -----------------------------------------------------------------------


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def fill(spec_metrics: list[dict], measured: dict) -> dict:
    """Every declared metric, by name, with its declared unit. A layer the
    workload does not exercise reads 0. Measured end-to-end numbers that
    BENCHMARK.json does not bound stay in the detail line."""
    out = {}
    for m in spec_metrics:
        value = measured.get(m["name"], (0.0, m["unit"]))[0]
        out[m["name"]] = {"value": float(value), "unit": m["unit"]}
    return out


def layer_metrics(res: dict) -> dict:
    """A traced run's per-layer metrics, its peak memory, and its own
    end-to-end numbers as `traced.<name>`: their difference from the
    untraced runs' medians is the tracing overhead."""
    out = dict(res["layers"])
    out["sut.peak_rss_mb"] = (res["detail"]["peak_rss_mb"], "MB")
    out.update({f"traced.{k}": v for k, v in res["metrics"].items()})
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "jetstream_spark")):
        print(f"perfbench: no engine source at {ROOT}/jetstream_spark", file=sys.stderr)
        return 2
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(WORK, exist_ok=True)
    from net import cpu_ticks

    steal0, total0 = cpu_ticks()
    if args.workload == "catalog":
        res = asyncio.run(catalog_run(args.seed, args.seconds, bool(args.trace)))
    else:
        res = asyncio.run(live_tail_run(args.seed, args.seconds, bool(args.trace)))
    steal1, total1 = cpu_ticks()
    res["detail"]["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    if args.trace:
        metrics = fill(spec["per_layer"], layer_metrics(res))
    else:
        metrics = fill(spec["end_to_end"], res["metrics"])
    detail = dict(res["detail"])
    detail["metrics"] = {k: v for k, (v, _) in res["metrics"].items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": bool(res["valid"] and res["failed"] == 0),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
