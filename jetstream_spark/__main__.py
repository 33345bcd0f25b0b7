"""`python -m jetstream_spark` — the server binary surface.

Mirrors the reference's cmd/jetstream flags (main.go:31-89: --ws-url /
--listen-addr / --data-dir / --event-ttl / --max-sub-rate /
--override-relay-cursor / --worker-count) on the Spark engine, so a user
of the reference can run the same lifecycle:

    python -m jetstream_spark serve  --data-dir ./data --listen-addr :6008
    python -m jetstream_spark ingest --data-dir ./data --ws-url wss://host:port
    python -m jetstream_spark replay --data-dir ./data --cursor 0
    python -m jetstream_spark trim   --data-dir ./data --event-ttl-hours 24
    python -m jetstream_spark compact --data-dir ./data
    python -m jetstream_spark sql "SELECT collection, count(*) FROM events_log GROUP BY 1" --data-dir ./data

`serve` runs the /subscribe + /metrics edge fed by the shared LiveTailHub;
`ingest` runs the standing exactly-once pipeline from either a frames drop
directory or the relay's subscribeRepos websocket; `replay` prints wire
frames from a cursor (the debugging read path).
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def _spark(cpus: int | None):
    from jetstream_spark.session import get_spark

    return get_spark("jetstream_spark_cli", cpus=cpus)


def _parse_listen(addr: str) -> tuple[str, int]:
    host, _, port = addr.rpartition(":")
    return host or "127.0.0.1", int(port)


def cmd_serve(args) -> int:
    import asyncio

    from jetstream_spark.serving.edge import SubscribeServer
    from jetstream_spark.serving.hub import LiveTailHub

    spark = _spark(args.cpus)
    host, port = _parse_listen(args.listen_addr)
    hub = LiveTailHub(spark, args.data_dir, os.path.join(args.data_dir, "_hub_ckpt"))
    hub.start()
    server = SubscribeServer(
        spark, args.data_dir, host=host, port=port, max_sub_rate=args.max_sub_rate, hub=hub
    )

    async def run() -> None:
        await server.start()
        print(f"serving /subscribe and /metrics on {server.host}:{server.port}", flush=True)
        while True:  # lifetime owned by the operator (Ctrl-C / SIGTERM)
            await asyncio.sleep(3600)

    try:
        asyncio.run(run())
    except KeyboardInterrupt:
        pass
    finally:
        hub.stop()
    return 0


def cmd_ingest(args) -> int:
    from jetstream_spark.streaming.pipeline import read_frame_stream, start_ingest

    spark = _spark(args.cpus)
    ckpt = os.path.join(args.data_dir, "_ingest_ckpt")
    if args.ws_url:
        from jetstream_spark.streaming.firehose import FirehoseDataSource

        spark.dataSource.register(FirehoseDataSource)
        frames = (
            spark.readStream.format("atproto_firehose")
            .option("ws_url", args.ws_url)
            .option("numPartitions", str(args.worker_count))
            .load()
        )
    else:
        from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA

        frames = read_frame_stream(spark, RAW_FRAME_SCHEMA, args.frames_dir)
    q = start_ingest(frames, args.data_dir, ckpt)
    # the reference trims expired events on a ticker INSIDE the consumer
    # process (main.go:188-205 → persist.go TrimEvents every 15 s); the
    # writer owns retention + sealed-bucket compaction here for the same
    # reason — exactly one maintenance loop per log
    maint = None
    if args.event_ttl_hours > 0:
        from jetstream_spark.atproto.maintenance import MaintenanceLoop

        maint = MaintenanceLoop(
            spark,
            args.data_dir,
            ttl_us=args.event_ttl_hours * 3_600_000_000,
            interval_s=args.maintenance_interval,
        ).start()
    # the reference's consumer process serves its own /metrics (including
    # the liveness-ticker health the trim runs under, main.go:216-218);
    # --metrics-addr gives the ingest process the same scrape, with the
    # standing maintenance counters joined in
    if args.metrics_addr:
        from jetstream_spark.serving.edge import run_server_in_thread

        mhost, mport = _parse_listen(args.metrics_addr)
        mserver, _ = run_server_in_thread(
            spark, args.data_dir, host=mhost, port=mport, maintenance=maint
        )
        print(f"serving /metrics on {mserver.host}:{mserver.port}", flush=True)
    print(f"ingesting into {args.data_dir} (checkpoint {ckpt})", flush=True)
    try:
        q.awaitTermination()
    except KeyboardInterrupt:
        q.stop()
    finally:
        if maint is not None and maint.stop() == "hung":
            print(
                "warning: maintenance loop did not stop within 60 s (wedged tick)",
                flush=True,
            )
    return 0


def cmd_replay(args) -> int:
    from jetstream_spark.atproto.log import replay
    from jetstream_spark.atproto.wire import to_wire

    spark = _spark(args.cpus)
    df = replay(
        spark,
        args.data_dir,
        cursor=args.cursor,
        wanted_collections=args.wanted_collections or None,
        wanted_dids=args.wanted_dids or None,
    )
    for row in to_wire(df).orderBy("time_us").limit(args.limit).collect():
        print(row["value"])
    return 0


def _claim_for_oneshot(data_dir: str, force: bool) -> str | None:
    """One-shot maintenance vs the standing ticker: trim/compact are not
    safe against a SECOND maintenance actor, so the one-shot commands
    CLAIM the lease for their duration (checking without claiming left
    the contract one-directional: a standing loop starting right after
    the check would tick concurrently with the still-running one-shot —
    now it fails fast on the one-shot's fresh marker instead). Returns
    the owner token to release in a finally block, or None after
    printing the refusal. --force claims over a fresh foreign marker,
    fencing the standing loop (its next tick refuses into its error
    counter) rather than racing it."""
    from jetstream_spark.atproto.maintenance import claim_owner, new_owner_token

    owner = new_owner_token()
    try:
        claim_owner(data_dir, interval_s=0.0, owner=owner, force=force)
    except RuntimeError as e:
        print(f"refusing: {e}; or pass --force.", flush=True)
        return None
    return owner


def cmd_trim(args) -> int:
    from jetstream_spark.atproto.log import TrimPartialFailure, trim_events
    from jetstream_spark.atproto.maintenance import heartbeat_owner, release_owner

    if not os.path.isdir(args.data_dir):
        print("dropped 0 expired hour partitions")
        return 0
    owner = _claim_for_oneshot(args.data_dir, args.force)
    if owner is None:
        return 1
    hb_stop = heartbeat_owner(args.data_dir, owner)
    try:
        spark = _spark(args.cpus)
        try:
            dropped = trim_events(
                spark,
                args.data_dir,
                now_us=int(time.time() * 1_000_000),
                ttl_us=args.event_ttl_hours * 3_600_000_000,
            )
        except TrimPartialFailure as e:
            # the removals that DID land are real, irreversible work — the
            # standing loop credits them (maintenance.py tick); the CLI
            # must report them, not lose them in a traceback (ADVICE r12 #2)
            print(
                f"partial trim: dropped {e.dropped} expired hour partitions, "
                f"then failed to remove: {e.failed}"
            )
            return 1
        print(f"dropped {dropped} expired hour partitions")
        return 0
    finally:
        hb_stop.set()
        release_owner(args.data_dir, owner)


def cmd_compact(args) -> int:
    import threading

    from jetstream_spark.atproto.maintenance import heartbeat_owner, release_owner

    if not os.path.isdir(args.data_dir):
        print("compacted 0 partitions, skipped 0 unsafe")
        return 0
    owner = _claim_for_oneshot(args.data_dir, args.force)
    if owner is None:
        return 1
    # lease-lost signal: a forced takeover fences this one-shot mid-run;
    # the bucket loop polls it and aborts between rewrites (ADVICE r12 #1)
    lost = threading.Event()
    hb_stop = heartbeat_owner(args.data_dir, owner, lost=lost)
    try:
        return _compact_owned(args, lost)
    finally:
        hb_stop.set()
        release_owner(args.data_dir, owner)


def _compact_owned(args, lost=None) -> int:
    from jetstream_spark.atproto.log import US_PER_HOUR, compact_bucket, recover_compaction

    spark = _spark(args.cpus)
    recovered = recover_compaction(args.data_dir)
    if recovered:
        print(f"recovered {recovered} interrupted compaction(s)")
    current = int(time.time() * 1_000_000) // US_PER_HOUR
    n = skipped = 0
    for entry in sorted(os.listdir(args.data_dir)):
        if lost is not None and lost.is_set():
            # lease no longer ours (forced takeover / marker swept): stop
            # between rewrites rather than finish a full run unfenced
            print(f"aborting: maintenance lease lost after {n} compaction(s)")
            return 1
        if not entry.startswith("hour_bucket="):
            continue
        bucket = int(entry.split("=", 1)[1])
        if bucket < current:  # sealed buckets only
            before = compact_bucket(spark, args.data_dir, bucket)
            if before == -1:
                # an un-marked batch wrote here (crash between commit and
                # done-marker): compacting would break its delete-before-
                # rewrite replay and duplicate events — skipped until the
                # pipeline replays and marks it
                print(f"hour_bucket={bucket}: skipped (pending un-marked batch)")
                skipped += 1
            elif before > 1:
                print(f"hour_bucket={bucket}: {before} files -> 1")
                n += 1
    print(f"compacted {n} partitions, skipped {skipped} unsafe")
    return 0


def _run_standing(q, drain: bool, report) -> int:
    """Drive a standing query: with --drain, process the available input,
    stop and print `report()`; otherwise run until terminated. Ctrl-C
    stops the query either way."""
    try:
        if drain:
            q.processAllAvailable()
            q.stop()
            report()
        else:
            q.awaitTermination()
    except KeyboardInterrupt:
        q.stop()
    return 0


def cmd_dedup_stream(args) -> int:
    from jetstream_spark.streaming.dedup_stream import (
        init_dedup_state,
        read_pairs,
        start_streaming_dedup,
    )

    spark = _spark(args.cpus)
    init_dedup_state(spark, args.state_dir)  # idempotent over an earlier run's state
    ckpt = os.path.join(args.state_dir, "_dedup_ckpt")
    q = start_streaming_dedup(spark, args.docs_dir, args.state_dir, ckpt)
    print(f"deduping {args.docs_dir} into {args.state_dir} (checkpoint {ckpt})", flush=True)
    return _run_standing(
        q,
        args.drain,
        lambda: print(f"near-dup pairs so far: {read_pairs(spark, args.state_dir).count()}"),
    )


def cmd_ann_stream(args) -> int:
    from jetstream_spark.streaming.ann_stream import (
        init_ann_state,
        read_results,
        start_streaming_ann,
    )

    spark = _spark(args.cpus)
    init_ann_state(args.state_dir)
    ckpt = os.path.join(args.state_dir, "_ann_ckpt")
    q = start_streaming_ann(spark, args.queries_dir, args.sf_dir, args.state_dir, ckpt)
    print(f"probing {args.queries_dir} against {args.sf_dir} index (checkpoint {ckpt})", flush=True)
    return _run_standing(
        q,
        args.drain,
        lambda: print(f"result rows so far: {read_results(spark, args.state_dir).count()}"),
    )


def cmd_funnel_stream(args) -> int:
    """Standing strict-funnel monitor: per-user (stage, last_ts) in the
    Spark state store (streaming/funnel_stream.py), stage-advance
    emissions appended to parquet; --drain prints the standing step-count
    table (stages only increase, so max-per-user over emissions IS the
    current table)."""
    from pyspark.sql import functions as F

    from jetstream_spark.streaming.funnel_stream import (
        current_stages,
        funnel_counts,
        funnel_stage_stream,
    )

    spark = _spark(args.cpus)
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, event_type string")
        .json(args.events_dir)
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    )
    q = (
        funnel_stage_stream(stream)
        .writeStream.format("parquet")
        .option("path", args.out_dir)
        .outputMode("append")
        .option("checkpointLocation", args.checkpoint_dir)
        .start()
    )
    print(f"funnel monitor on {args.events_dir} (checkpoint {args.checkpoint_dir})", flush=True)

    def report() -> None:
        # an input with no funnel-step events writes no data files, so
        # the read fails schema inference — that's an all-zero funnel,
        # not an error (ADVICE r8)
        try:
            emitted = spark.read.parquet(args.out_dir)
        except Exception as e:
            if "PATH_NOT_FOUND" not in str(e) and "infer schema" not in str(e):
                raise
            from jetstream_spark.queries.eventlog import _FUNNEL_STEPS

            for i, step in enumerate(_FUNNEL_STEPS):
                print(f"step {i + 1} {step}: 0 users")
            return
        for r in funnel_counts(current_stages(emitted)).orderBy("step_no").collect():
            print(f"step {r['step_no']} {r['step_name']}: {r['n_users']} users")

    return _run_standing(q, args.drain, report)


def cmd_anomaly_stream(args) -> int:
    from jetstream_spark.streaming.anomaly_stream import (
        detect_anomalies,
        init_anomaly_state,
        start_streaming_anomaly,
    )

    spark = _spark(args.cpus)
    init_anomaly_state(args.state_dir)
    if getattr(args, "compact_state", False):
        from jetstream_spark.streaming.anomaly_stream import compact_state

        did = compact_state(spark, args.state_dir)
        print(f"state compaction: {'done' if did else 'nothing to fold'}")
        return 0
    ckpt = os.path.join(args.state_dir, "_anom_ckpt")
    q = start_streaming_anomaly(spark, args.events_dir, args.state_dir, ckpt)
    print(f"monitoring {args.events_dir} (checkpoint {ckpt})", flush=True)

    def report() -> None:
        for r in detect_anomalies(spark, args.state_dir).orderBy(
            "event_type", "hour_bucket"
        ).collect():
            print(f"{r['event_type']} {r['hour_bucket']} n={r['n']} z={r['zscore']}")
        if getattr(args, "cusum", False):
            # the drift monitor reads the SAME hourly state, one level up
            from jetstream_spark.streaming.cusum_stream import detect_drift

            for r in detect_drift(spark, args.state_dir).orderBy("event_type", "day").collect():
                flag = " DRIFT" if r["is_change"] else ""
                print(
                    f"cusum {r['event_type']} {r['day']} n={r['n']} "
                    f"s+={r['cusum_pos']} s-={r['cusum_neg']}{flag}"
                )

    return _run_standing(q, args.drain, report)


def cmd_scd2_stream(args) -> int:
    from jetstream_spark.streaming.scd2_stream import (
        check_order,
        current_scd2,
        init_scd2_state,
        start_streaming_scd2,
    )

    spark = _spark(args.cpus)
    init_scd2_state(args.state_dir)
    if getattr(args, "compact_state", False):
        from jetstream_spark.streaming.scd2_stream import compact_state

        did = compact_state(spark, args.state_dir)
        print(f"state compaction: {'done' if did else 'nothing to fold'}")
        return 0
    ckpt = os.path.join(args.state_dir, "_scd2_ckpt")
    q = start_streaming_scd2(spark, args.events_dir, args.state_dir, ckpt)
    print(f"maintaining SCD2 from {args.events_dir} (checkpoint {ckpt})", flush=True)

    def report() -> None:
        n_bad = check_order(spark, args.state_dir).count()
        if n_bad:
            print(f"WARNING: {n_bad} ordering-contract violations", flush=True)
        dim = current_scd2(spark, args.state_dir)
        cur = dim.where("is_current").count()
        print(f"dimension rows: {dim.count()} ({cur} current)")
        for r in dim.orderBy("user_id", "version").limit(args.show).collect():
            print(
                f"u{r['user_id']} v{r['version']} tier={r['tier']}"
                f" [{r['valid_from_us']}, {r['valid_to_us']}) n={r['n_events']}"
            )

    return _run_standing(q, args.drain, report)


def cmd_sql(args) -> int:
    """Ad-hoc ANSI SQL over the engine's tables — the interactive read
    surface the reference never had (its only read path is /subscribe).
    Registers the event log as `events_log` (hour-partition pruning and
    filter pushdown apply exactly as in replay) and, with --sf-dir, the
    analytics tables as views; then hands the statement to Catalyst."""
    spark = _spark(args.cpus)
    if os.path.isdir(args.data_dir):
        from jetstream_spark.atproto.log import read_log

        read_log(spark, args.data_dir).createOrReplaceTempView("events_log")
    if args.sf_dir:
        from jetstream_spark.tables import register_views

        register_views(spark, args.sf_dir)
    df = spark.sql(args.query)
    if args.limit:
        df = df.limit(args.limit)
    if args.format == "json":
        for line in df.toJSON().toLocalIterator():
            print(line)
    else:
        df.show(n=args.limit or 20, truncate=False)
    return 0


def cmd_query(args) -> int:
    """Run any declared registry query by name against an sf-dir — the
    one-line path from "I use the reference" to "I ran operator X here".
    `--list` prints the catalog (name, oracle-backed?, doc)."""
    from jetstream_spark.queries import all_queries

    reg = all_queries()
    if args.list or not args.name:
        for name, spec in reg.items():
            kind = "oracle" if spec.oracle else "rows-only"
            print(f"{name:32s} [{kind}] {spec.doc}")
        return 0
    if args.name not in reg:
        import difflib

        close = difflib.get_close_matches(args.name, reg, n=3)
        print(f"unknown query {args.name!r}" + (f"; did you mean: {', '.join(close)}" if close else ""))
        return 2
    spark = _spark(args.cpus)
    df = reg[args.name].build(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.limit:
        df = df.limit(args.limit)
    if args.format == "json":
        for line in df.toJSON().toLocalIterator():
            print(line)
    else:
        df.show(n=args.limit or 20, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="jetstream_spark")
    ap.add_argument("--cpus", type=int, default=None, help="local[N] cores (default: all)")
    sub = ap.add_subparsers(dest="cmd", required=True)

    common = {"--data-dir": dict(default="./data", help="event log directory (main.go --data-dir)")}

    p = sub.add_parser("serve", help="run the /subscribe + /metrics edge")
    p.add_argument("--data-dir", **common["--data-dir"])
    p.add_argument("--listen-addr", default=":6008", help="host:port (main.go --listen-addr)")
    p.add_argument("--max-sub-rate", type=float, default=5_000, help="frames/s per subscriber")
    p.set_defaults(fn=cmd_serve)

    p = sub.add_parser("ingest", help="run the standing exactly-once ingest pipeline")
    p.add_argument("--data-dir", **common["--data-dir"])
    p.add_argument("--ws-url", default="", help="websocket relay host:port — the real protocol (main.go --ws-url)")
    p.add_argument("--frames-dir", default="./frames", help="JSONL frames drop directory, read when --ws-url is empty")
    p.add_argument(
        "--worker-count", type=int, default=8,
        help=(
            "cap on source partitions per micro-batch (main.go --worker-count); partitions are sized "
            "by seq span, at least 5000 seqs each, so a batch of at most 1000 seqs reads in one task "
            "and the cap binds only on a first batch after a start that covers a large relay backlog"
        ),
    )
    p.add_argument(
        "--event-ttl-hours", type=int, default=24,
        help="standing retention: trim on a ticker like main.go:188-205 (0 disables maintenance)",
    )
    p.add_argument(
        "--metrics-addr", default="",
        help="host:port for an in-process /metrics scrape incl. maintenance counters (empty = off)",
    )
    p.add_argument(
        "--maintenance-interval", type=float, default=15.0,
        help="seconds between trim/compaction ticks (main.go's 15 s)",
    )
    p.set_defaults(fn=cmd_ingest)

    p = sub.add_parser("replay", help="print wire frames from a cursor")
    p.add_argument("--data-dir", **common["--data-dir"])
    p.add_argument("--cursor", type=int, default=None)
    p.add_argument("--limit", type=int, default=100)
    p.add_argument("--wanted-collections", nargs="*", default=[])
    p.add_argument("--wanted-dids", nargs="*", default=[])
    p.set_defaults(fn=cmd_replay)

    p = sub.add_parser("trim", help="drop hour partitions past the TTL")
    p.add_argument("--data-dir", **common["--data-dir"])
    p.add_argument("--event-ttl-hours", type=int, default=24, help="main.go --event-ttl")
    p.add_argument("--force", action="store_true", help="run even if a standing maintenance loop owns the log")
    p.set_defaults(fn=cmd_trim)

    p = sub.add_parser("compact", help="compact sealed hour partitions")
    p.add_argument("--data-dir", **common["--data-dir"])
    p.add_argument("--force", action="store_true", help="run even if a standing maintenance loop owns the log")
    p.set_defaults(fn=cmd_compact)

    p = sub.add_parser("sql", help="run ANSI SQL over the log (events_log) and analytics tables")
    p.add_argument("query", help="SQL statement")
    p.add_argument("--data-dir", **common["--data-dir"])
    p.add_argument("--sf-dir", default="", help="parquet tables dir to register as views")
    p.add_argument("--format", choices=("table", "json"), default="table")
    p.add_argument("--limit", type=int, default=0, help="cap output rows (0 = unlimited)")
    p.set_defaults(fn=cmd_sql)

    p = sub.add_parser("ann-stream", help="standing ANN probe of a query-vector drop dir vs the IVF index")
    p.add_argument("--queries-dir", default="./queries_in", help="ndjson {query_id, embedding} drop directory")
    p.add_argument("--sf-dir", required=True, help="corpus dir whose embeddings the index covers")
    p.add_argument("--state-dir", default="./ann_state", help="results + marker root")
    p.add_argument("--drain", action="store_true", help="process available input then exit (batch mode)")
    p.set_defaults(fn=cmd_ann_stream)

    p = sub.add_parser("anomaly-stream", help="standing hourly rate-anomaly monitor over an event drop dir")
    p.add_argument("--events-dir", default="./events_in", help="ndjson {event_id, ts, event_type} drop directory")
    p.add_argument("--state-dir", default="./anomaly_state", help="hourly-count parts + marker root")
    p.add_argument("--drain", action="store_true", help="process available input then exit (batch mode)")
    p.add_argument("--compact-state", action="store_true", help="fold per-batch state parts into one, then exit")
    p.add_argument("--cusum", action="store_true", help="with --drain: also print the CUSUM drift table (same state, day rollup)")
    p.set_defaults(fn=cmd_anomaly_stream)

    p = sub.add_parser("funnel-stream", help="standing strict-funnel monitor (per-user state-store stages) over an event drop dir")
    p.add_argument("--events-dir", default="./events_in", help="ndjson {user_id, ts, event_type} drop directory")
    p.add_argument("--out-dir", default="./funnel_out", help="appended (user_id, stage) emissions (parquet)")
    p.add_argument("--checkpoint-dir", default="./funnel_ckpt", help="state-store checkpoint (stage state survives restarts)")
    p.add_argument("--drain", action="store_true", help="process available input then exit, printing the step-count table")
    p.set_defaults(fn=cmd_funnel_stream)

    p = sub.add_parser("query", help="run a declared registry query by name")
    p.add_argument("name", nargs="?", help="query name (see --list)")
    p.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"), help="parquet table directory")
    p.add_argument("--limit", type=int, default=20, help="rows to print (0 = all)")
    p.add_argument("--format", choices=("table", "json"), default="table")
    p.add_argument("--explain", action="store_true", help="print the formatted physical plan instead of rows")
    p.add_argument("--list", action="store_true", help="list the query catalog and exit")
    p.set_defaults(fn=cmd_query)

    p = sub.add_parser("scd2-stream", help="standing changelog -> SCD2 dimension maintainer")
    p.add_argument("--events-dir", default="./events_in", help="ndjson {event_id, ts, user_id, props} drop directory")
    p.add_argument("--state-dir", default="./scd2_state", help="mini-run parts + marker root")
    p.add_argument("--drain", action="store_true", help="process available input then exit (batch mode)")
    p.add_argument("--show", type=int, default=10, help="dimension rows to print after --drain")
    p.add_argument("--compact-state", action="store_true", help="fold per-batch state parts into one, then exit")
    p.set_defaults(fn=cmd_scd2_stream)

    p = sub.add_parser("dedup-stream", help="standing near-dup detection over a doc drop dir")
    p.add_argument("--docs-dir", default="./docs_in", help="ndjson {doc_id, text} drop directory")
    p.add_argument("--state-dir", default="./dedup_state", help="index + history + pair output root")
    p.add_argument("--drain", action="store_true", help="process available input then exit (batch mode)")
    p.set_defaults(fn=cmd_dedup_stream)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
