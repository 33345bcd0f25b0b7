"""The system under test: one process, one Spark session on local[N].

`--mode stream` wires the engine exactly as `python -m jetstream_spark
ingest --ws-url ...` and `serve` do, in one process: a firehose `ws_url`
stream whose foreachBatch runs `ingest_batch(normalize_frames(df), ...)`,
a LiveTailHub on the log, and a SubscribeServer with the hub serving
`/subscribe` and `/metrics`. `--mode catalog` runs the query catalog.

Control is line-based: the process prints one JSON line when ready and,
after reading `stop` on stdin (stream mode) or finishing its rounds
(catalog mode), one JSON line with its results, then exits.

With `--trace 1` the layers' public entry points are wrapped from this
file (spans kept in memory, written out at the end), the streaming
queries' `recentProgress` is kept, and the Spark event log is on.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKER_COUNT = 8  # `python -m jetstream_spark ingest --worker-count` default
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def emit(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


class Spans:
    """In-memory span store: (name, start, end, attrs) in wall seconds."""

    def __init__(self):
        self.items: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, t0: float, t1: float, **attrs) -> None:
        with self._lock:
            self.items.append({"name": name, "t0": t0, "t1": t1, **attrs})

    def wrap(self, owner, attr: str, name: str, describe=None) -> None:
        """Replace `owner.attr` with a timed wrapper; `describe(result,
        args, kwargs)` returns extra span attributes."""
        inner = getattr(owner, attr)

        def traced(*args, **kwargs):
            t0 = time.time()
            out = inner(*args, **kwargs)
            self.add(name, t0, time.time(), **(describe(out, args, kwargs) if describe else {}))
            return out

        setattr(owner, attr, traced)


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress] if query is not None else []


def install_stream_tracing(spans: Spans) -> None:
    from jetstream_spark.atproto import log as log_mod
    from jetstream_spark.serving import edge, hub

    def seq_attrs(out, args, kwargs):
        return {"last_us": out[1], "parts": out[2].rdd.getNumPartitions()}

    spans.wrap(log_mod, "sequence_events", "sequencer", seq_attrs)

    def replay_rows_traced(module, caller):
        inner = module.replay_rows

        def traced(spark, log_dir, build, *a, **kw):
            calls = [0]

            def counted():
                calls[0] += 1
                return build()

            t0 = time.time()
            rows = inner(spark, log_dir, counted, *a, **kw)
            span = {"rows": len(rows), "retries": calls[0] - 1}
            if rows:
                span.update(lo_us=rows[0]["time_us"], hi_us=rows[-1]["time_us"])
            spans.add(f"replay.{caller}", t0, time.time(), **span)
            return rows

        module.replay_rows = traced

    replay_rows_traced(hub, "hub")
    replay_rows_traced(edge, "edge")
    spans.wrap(hub.LiveTailHub, "_on_tick", "hub.tick")
    spans.wrap(edge.SubscribeServer, "_fetch_batch", "edge.fetch", lambda out, a, k: {"rows": len(out)})


class StreamSUT:
    """One set-up of the serving stack on a fresh log directory."""

    def __init__(self, spark, args, log_dir: str):
        self.spark, self.args, self.log_dir = spark, args, log_dir
        self.batches: list[dict] = []
        self.rows_ingested = 0
        self.last_us = 0

    def start(self, warmup_rows: int, ready_timeout_s: float = 120.0) -> None:
        from jetstream_spark.atproto import log as log_mod
        from jetstream_spark.atproto.normalize import normalize_frames
        from jetstream_spark.serving.edge import run_server_in_thread
        from jetstream_spark.serving.hub import LiveTailHub
        from jetstream_spark.streaming.firehose import FirehoseDataSource

        spark, args = self.spark, self.args
        spark.dataSource.register(FirehoseDataSource)
        stream = (
            spark.readStream.format("atproto_firehose")
            .option("ws_url", args.relay)
            .option("numPartitions", str(WORKER_COUNT))
            .load()
        )
        warm = threading.Event()

        def handle(batch_df, batch_id):
            if not batch_df.isEmpty():
                wall = int(time.time() * 1e6)
                base = max(self.last_us + 1, wall)
                last = log_mod.ingest_batch(
                    normalize_frames(batch_df), self.log_dir, wall_clock_us=wall, batch_id=int(batch_id)
                )
                rows = last - base + 1
                self.last_us = last
                self.rows_ingested += rows
                self.batches.append(
                    {"id": int(batch_id), "rows": rows, "wall_us": wall, "last_us": last, "end": time.time()}
                )
                if self.rows_ingested >= warmup_rows:
                    warm.set()

        self.query = (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", os.path.join(self.log_dir, "_ingest_ckpt"))
            .start()
        )
        self.hub = LiveTailHub(spark, self.log_dir, os.path.join(self.log_dir, "_hub_ckpt"))
        self.hub.start()
        self.server, _ = run_server_in_thread(spark, self.log_dir, host="127.0.0.1", port=0, hub=self.hub)
        deadline = time.time() + ready_timeout_s
        while not (warm.is_set() and self.hub._query.lastProgress is not None):
            if time.time() > deadline:
                raise TimeoutError("engine did not ingest the warm-up frames")
            if self.query.exception() is not None:
                raise RuntimeError(f"ingest query failed: {self.query.exception()}")
            time.sleep(0.05)

    def stop(self) -> dict:
        import asyncio

        out = {"ingest_progress": _progress(self.query), "ingest_run_id": str(self.query.runId)}
        loop = self.server._loop
        asyncio.run_coroutine_threadsafe(self.server.stop(), loop).result(timeout=30)
        loop.call_soon_threadsafe(loop.stop)
        self.hub.stop()
        self.query.stop()
        return out


def log_stats(log_dir: str) -> dict:
    files = size = 0
    for entry in os.listdir(log_dir):
        if entry.startswith("hour_bucket="):
            for fn in os.listdir(os.path.join(log_dir, entry)):
                if fn.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(log_dir, entry, fn))
    return {"files": files, "bytes": size}


def run_stream(spark, args, spans: Spans | None, boot_s: float) -> None:
    log_dir = os.path.join(args.work, "log")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    if spans is not None:
        install_stream_tracing(spans)
    t0 = time.time()
    sut = StreamSUT(spark, args, log_dir)
    sut.start(args.warmup_rows)
    emit({"ready": True, "port": sut.server.port, "boot_s": boot_s, "setup_s": time.time() - t0, "t_ready": time.time()})
    for line in sys.stdin:
        if line.strip() == "stop":
            break
    out = sut.stop()
    out.update(batches=sut.batches, log=log_stats(log_dir), log_dir=log_dir)
    finish(spark, args, spans, out)


def run_catalog(spark, args, spans: Spans | None, boot_s: float) -> None:
    from jetstream_spark.queries import all_queries

    from check import canonical

    names = args.queries.split(",")
    specs = all_queries()
    sc = spark.sparkContext
    # set-up: the warm-up pass; it also collects each result for the
    # oracle check, outside the timed rounds
    t0 = time.time()
    results = {}
    for name in names:
        sc.setJobGroup(f"warmup:{name}", name)
        pdf = specs[name].build(spark, args.data).toPandas()
        results[name] = canonical(pdf)
    setup_s = time.time() - t0
    emit({"ready": True, "boot_s": boot_s, "setup_s": setup_s})
    # at least two rounds; after that, no round that would end past
    # `--seconds`
    rounds: list[dict] = []
    t_run = time.time()
    while len(rounds) < 2 or time.time() - t_run + (time.time() - t_run) / len(rounds) <= args.seconds:
        walls = {}
        for name in names:
            sc.setJobGroup(f"r{len(rounds)}:{name}", name)
            q0 = time.time()
            specs[name].build(spark, args.data).write.format("noop").mode("overwrite").save()
            walls[name] = {"t0": q0, "t1": time.time()}
        rounds.append(walls)
    finish(spark, args, spans, {"results": results, "rounds": rounds})


def finish(spark, args, spans: Spans | None, out: dict) -> None:
    spark.stop()  # flushes the event log
    if spans is not None:
        out["spans"] = spans.items
        out["event_log"] = args.event_log
    path = os.path.join(args.work, "sut_result.json")
    with open(path, "w") as f:
        json.dump(out, f)
    emit({"done": True, "result": path})


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("stream", "catalog"), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--relay", default="")
    ap.add_argument("--warmup-rows", type=int, default=0)
    ap.add_argument("--data", default="")
    ap.add_argument("--queries", default="")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--event-log", default="")
    args = ap.parse_args()

    t0 = time.time()
    from jetstream_spark.session import get_spark

    spark = get_spark("perfbench_sut", cpus=args.cpus)
    spark.range(1).count()
    boot_s = time.time() - t0
    spans = Spans() if args.trace else None
    if args.mode == "stream":
        run_stream(spark, args, spans, boot_s)
    else:
        run_catalog(spark, args, spans, boot_s)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
