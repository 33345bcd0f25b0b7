"""Streaming tests (SURVEY.md §5.2 item 4): checkpointed ingest with
kill/resume (S12 cursor semantics) and filtered cursor replay; the
replay→live cutover (H2) is pinned end to end in test_edge_hub.py."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
from jetstream_spark.atproto.subscribe import Subscription
from jetstream_spark.streaming.pipeline import read_frame_stream, start_ingest
from tests.fixtures import drain_via_edge, make_frames


def _write_frame_file(frames_dir: str, frames: list[dict], name: str) -> None:
    os.makedirs(frames_dir, exist_ok=True)
    with open(os.path.join(frames_dir, name), "w") as f:
        for fr in frames:
            f.write(json.dumps(fr) + "\n")


@pytest.mark.timeout(300)
def test_streaming_ingest_and_checkpoint_resume(spark, tmp_path):
    frames_dir = str(tmp_path / "frames")
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    all_frames = make_frames()
    valid = [f for f in all_frames if f["did"] not in ("did:plc:toobig", "did:plc:badcid")]
    expected_events = sum(len(f["ops"] or []) if f["kind"] == "commit" else 1 for f in valid)

    half = len(all_frames) // 2
    _write_frame_file(frames_dir, all_frames[:half], "batch1.jsonl")
    frames = read_frame_stream(spark, RAW_FRAME_SCHEMA, frames_dir)
    q = start_ingest(frames, log_dir, ckpt, wall_clock_us=1_000_000)
    q.processAllAvailable()
    q.stop()
    n1 = eventlog.read_log(spark, log_dir).count()
    assert n1 > 0

    # restart from checkpoint: only the NEW file is processed (S12 resume)
    _write_frame_file(frames_dir, all_frames[half:], "batch2.jsonl")
    q2 = start_ingest(frames, log_dir, ckpt, wall_clock_us=2_000_000)
    q2.processAllAvailable()
    q2.stop()

    log_df = eventlog.read_log(spark, log_dir)
    times = [r["time_us"] for r in log_df.select("time_us").collect()]
    assert len(times) == expected_events
    assert len(set(times)) == len(times), "strict monotonicity across restarts"


@pytest.mark.timeout(300)
def test_ingest_batch_idempotent_crash_replay(spark, tmp_path):
    """Exactly-once under foreachBatch crash-replay: if the process dies
    after the data commit but before the done-marker, the batch re-runs.
    The batch-tagged delete-before-rewrite commit must converge to ONE copy
    with strictly monotonic time_us — parquet append alone would not."""
    from jetstream_spark.atproto.normalize import normalize_frames

    log_dir = str(tmp_path / "log")
    fdf = spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    normalized = normalize_frames(fdf).cache()
    n = normalized.count()

    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)
    # stale staging dir from a hypothetical mid-stage crash must be ignored
    os.makedirs(os.path.join(log_dir, "_staging", "batch-0", "junk"), exist_ok=True)
    # crash-replay of the SAME microbatch (marker was never written)
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)
    times = [r["time_us"] for r in eventlog.read_log(spark, log_dir).select("time_us").collect()]
    assert len(times) == n, "replayed batch must not duplicate events"
    assert len(set(times)) == n

    # a DIFFERENT batch appends on top, still unique + monotonic
    last = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1, batch_id=1)
    times = [r["time_us"] for r in eventlog.read_log(spark, log_dir).select("time_us").collect()]
    assert len(times) == 2 * n
    assert len(set(times)) == 2 * n
    assert max(times) == last


@pytest.mark.timeout(300)
def test_backfill_respects_filters_and_seq(spark, tmp_path):
    from jetstream_spark.atproto.normalize import normalize_frames

    log_dir = str(tmp_path / "log")
    fdf = spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    normalized = normalize_frames(fdf)
    head = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000)

    sub = Subscription.parse(
        wanted_collections=["app.bsky.feed.post"], cursor="0", server_time_us=head
    )
    sub.cursor = 0
    got: list = []
    drain_via_edge(spark, log_dir, sub, 7, got.extend)
    assert got, "replay delivered nothing"
    times = [r["time_us"] for r in got]
    assert times == sorted(times) and len(set(times)) == len(times), "seq guard across rounds"
    assert len(got) == eventlog.replay(spark, log_dir, wanted_collections=["app.bsky.feed.post"]).count()
    for r in got:
        if r["type"] == "com":
            assert r["collection"] == "app.bsky.feed.post"
    assert {r["type"] for r in got} >= {"com", "acc", "id"}, "bypass rule must hold in backfill"


@pytest.mark.timeout(300)
def test_consumer_metrics_families(spark, tmp_path):
    """S27 parity: the ingest pipeline feeds the reference's consumer_*
    Prometheus families (pkg/consumer/metrics.go) — per-event_type and
    per-(kind, op_path) counters, a batch-duration histogram with valid
    cumulative buckets, conservation counters, and the head gauge."""
    from jetstream_spark.operators.observability import ConsumerMetrics
    from jetstream_spark.operators.tracing import StageTracer

    frames_dir = str(tmp_path / "frames")
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    all_frames = make_frames()
    valid = [f for f in all_frames if f["did"] not in ("did:plc:toobig", "did:plc:badcid")]
    expected_events = sum(len(f["ops"] or []) if f["kind"] == "commit" else 1 for f in valid)
    _write_frame_file(frames_dir, all_frames, "batch1.jsonl")

    metrics = ConsumerMetrics(socket_url="test-ingest")
    tracer = StageTracer()
    frames = read_frame_stream(spark, RAW_FRAME_SCHEMA, frames_dir)
    q = start_ingest(frames, log_dir, ckpt, wall_clock_us=1_000_000, metrics=metrics, tracer=tracer)
    q.processAllAvailable()
    q.stop()

    # one CommitBatch span per committed microbatch (consumer.go:100 parity)
    commit_spans = [s for s in tracer.recent() if s["name"] == "CommitBatch"]
    assert len(commit_spans) >= 1
    assert all(s["status"] == "OK" for s in commit_spans)
    assert commit_spans[0]["attributes"]["log_dir"] == log_dir

    assert sum(metrics.events_processed.values()) == expected_events
    assert metrics.events_sequenced_total == expected_events
    assert metrics.events_persisted_total == expected_events
    # every commit op lands in a (kind, collection) bucket; kinds are c/u/d
    assert sum(metrics.ops_processed.values()) == sum(
        len(f["ops"] or []) for f in valid if f["kind"] == "commit"
    )
    assert all(k in ("c", "u", "d") for k, _ in metrics.ops_processed)
    head = eventlog.read_log(spark, log_dir).agg(F.max("time_us")).first()[0]
    assert metrics.last_seq == head

    text = metrics.render()
    for fam in (
        "consumer_events_processed_total",
        "consumer_ops_processed_total",
        "consumer_event_processing_duration_seconds_bucket",
        "consumer_event_processing_duration_seconds_sum",
        "consumer_event_processing_duration_seconds_count",
        "consumer_last_seq",
        "consumer_last_evt_processed_at",
        "consumer_events_sequenced_total",
        "consumer_events_persisted_total",
    ):
        assert fam in text, fam
    # histogram buckets must be cumulative and end at _count on +Inf
    bucket_vals = [
        float(line.rsplit(" ", 1)[1])
        for line in text.splitlines()
        if line.startswith("consumer_event_processing_duration_seconds_bucket")
    ]
    assert bucket_vals == sorted(bucket_vals)
    assert bucket_vals[-1] == metrics.duration_count == 1  # one microbatch


def test_grafana_dashboard_targets_exposed_families():
    """Every engine metric the dashboard queries must exist on the scrape
    surface (host-exporter process_*/node_* series come from outside the
    engine, as in the reference dashboard)."""
    import json as _json
    import re

    from jetstream_spark.operators.observability import ConsumerMetrics

    dash = _json.load(open(os.path.join(os.path.dirname(__file__), "..", "grafana-dashboard.json")))
    exprs = [t["expr"] for p in dash["panels"] for t in p.get("targets", [])]
    assert len(exprs) >= 12
    engine_families = {
        "jetstream_subscribers_connected",
        "jetstream_events_emitted_total",
        "jetstream_bytes_emitted_total",
        "jetstream_events_delivered_total",
        "jetstream_bytes_delivered_total",
    }
    engine_families |= {
        line.split()[2]
        for line in ConsumerMetrics().render().splitlines()
        if line.startswith("# TYPE")
    } | {"consumer_event_processing_duration_seconds_bucket"}
    # the standing maintenance ticker's families (atproto/maintenance.py,
    # joined into the scrape via SubscribeServer(maintenance=...))
    from jetstream_spark.atproto.maintenance import MAINTENANCE_FAMILIES

    engine_families |= set(MAINTENANCE_FAMILIES.values())
    for expr in exprs:
        for name in re.findall(r"[a-z_][a-z0-9_]*(?=\{)", expr):
            if name.startswith(("process_", "node_")) or name in ("label_values",):
                continue
            assert name in engine_families, f"dashboard queries unexposed family {name}"
