"""Client library (S23) + sequential/parallel schedulers (S24/S25) against
the serving edge, and the /metrics scrape endpoint."""

from __future__ import annotations

import http.client
import threading

import pytest

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.normalize import normalize_frames
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
from jetstream_spark.client import JetstreamClient, ParallelScheduler, SequentialScheduler
from jetstream_spark.serving.edge import run_server_in_thread
from jetstream_spark.serving.hub import LiveTailHub
from tests.fixtures import make_frames


@pytest.fixture(scope="module")
def edge(spark, tmp_path_factory):
    log_dir = str(tmp_path_factory.mktemp("clientlog"))
    frames = spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    normalized = normalize_frames(frames).cache()
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000)
    hub = LiveTailHub(spark, log_dir, str(tmp_path_factory.mktemp("hubckpt")))
    hub.start()
    server, _ = run_server_in_thread(spark, log_dir, hub=hub)
    yield server, log_dir
    import asyncio

    asyncio.run_coroutine_threadsafe(server.stop(), server._loop).result(timeout=10)
    hub.stop()


def test_sequential_scheduler_stream_order(edge, spark):
    server, log_dir = edge
    total = eventlog.read_log(spark, log_dir).count()
    got: list[dict] = []
    client = JetstreamClient("127.0.0.1", server.port, SequentialScheduler(got.append))
    n = client.connect_and_read(cursor=0, max_events=total)
    assert n == total
    times = [f["time_us"] for f in got]
    assert times == sorted(times), "S24: sequential scheduler preserves stream order"
    assert client.cursor == times[-1]


def test_parallel_scheduler_per_repo_order(edge, spark):
    server, log_dir = edge
    total = eventlog.read_log(spark, log_dir).count()
    lock = threading.Lock()
    per_did: dict[str, list[int]] = {}

    def handle(frame: dict) -> None:
        with lock:
            per_did.setdefault(frame["did"], []).append(frame["time_us"])

    sched = ParallelScheduler(4, handle)
    client = JetstreamClient("127.0.0.1", server.port, sched)
    n = client.connect_and_read(cursor=0, max_events=total)
    sched.shutdown()
    assert n == total
    assert sum(len(v) for v in per_did.values()) == total, "every event exactly once"
    for did, times in per_did.items():
        assert times == sorted(times), f"S25: per-repo order broken for {did}"
    import zlib

    workers_used = {zlib.crc32(d.encode()) % 4 for d in per_did}
    assert len(workers_used) > 1, "events must actually spread across workers"


def test_client_cursor_resume(edge, spark):
    """Reconnect with cursor=self.cursor+1 resumes exactly — the client-side
    S12 contract (client.go cursor param → ?cursor=)."""
    server, log_dir = edge
    total = eventlog.read_log(spark, log_dir).count()
    got: list[dict] = []
    client = JetstreamClient("127.0.0.1", server.port, SequentialScheduler(got.append))
    k = total // 2
    client.connect_and_read(cursor=0, max_events=k)
    client.connect_and_read(cursor=client.cursor + 1, max_events=total - k)
    times = [f["time_us"] for f in got]
    assert len(times) == total
    assert len(set(times)) == total, "resume must not re-deliver"
    assert times == sorted(times)


def test_websocket_transport_matches_http(edge, spark):
    """The reference's actual wire protocol: RFC 6455 text frames. Same
    events, same order, cursor resume — byte-identical frame JSON to the
    chunked-ndjson transport."""
    server, log_dir = edge
    total = eventlog.read_log(spark, log_dir).count()
    got_ws: list[dict] = []
    ws = JetstreamClient(
        "127.0.0.1", server.port, SequentialScheduler(got_ws.append), use_websocket=True
    )
    n = ws.connect_and_read(cursor=0, max_events=total)
    assert n == total
    times = [f["time_us"] for f in got_ws]
    assert times == sorted(times) and len(set(times)) == total

    got_http: list[dict] = []
    http_client = JetstreamClient("127.0.0.1", server.port, SequentialScheduler(got_http.append))
    http_client.connect_and_read(cursor=0, max_events=total)
    assert got_ws == got_http, "same frames over both transports"

    # cursor resume over websocket
    got2: list[dict] = []
    ws2 = JetstreamClient(
        "127.0.0.1", server.port, SequentialScheduler(got2.append), use_websocket=True
    )
    k = total // 2
    ws2.connect_and_read(cursor=0, max_events=k)
    ws2.connect_and_read(cursor=ws2.cursor + 1, max_events=total - k)
    assert [f["time_us"] for f in got2] == times, "ws resume must be gapless"


def _scrape(server) -> tuple[str, dict[str, float]]:
    """Scrape /metrics; labeled series of a family SUM into the family key
    (the reference's delivered/connected metrics are per-ip_address
    CounterVec/GaugeVec — cmd/jetstream/metrics.go:8-31)."""
    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=30)
    conn.request("GET", "/metrics")
    resp = conn.getresponse()
    assert resp.status == 200
    body = resp.read().decode()
    conn.close()
    metrics: dict[str, float] = {}
    for line in body.splitlines():
        if not line or line.startswith("#"):
            continue
        fam = line.split()[0].split("{")[0]
        metrics[fam] = metrics.get(fam, 0.0) + float(line.split()[-1])
    return body, metrics


def test_metrics_endpoint(edge, spark):
    server, log_dir = edge
    body, metrics = _scrape(server)
    head = eventlog.read_log(spark, log_dir).agg({"time_us": "max"}).first()[0]
    assert metrics["consumer_last_seq"] == head
    assert metrics.get("jetstream_events_delivered_total", 0) >= 0
    assert metrics.get("jetstream_events_emitted_total", 0) >= 0


def test_metrics_per_ip_delivery_accounting(edge, spark):
    """After a delivery, the per-IP labeled series must appear with the
    client's address and count every delivered frame and its bytes."""
    server, log_dir = edge
    total = eventlog.read_log(spark, log_dir).count()
    got: list[dict] = []
    client = JetstreamClient("127.0.0.1", server.port, SequentialScheduler(got.append))
    n = client.connect_and_read(cursor=0, max_events=total)
    assert n == total
    body, metrics = _scrape(server)
    assert 'jetstream_events_delivered_total{ip_address="127.0.0.1"}' in body
    assert 'jetstream_bytes_delivered_total{ip_address="127.0.0.1"}' in body
    assert server.registry.events_by_ip.get("127.0.0.1", 0) >= total
    assert server.registry.bytes_by_ip.get("127.0.0.1", 0) > 0
    # enqueued >= delivered: every written frame was first enqueued
    assert metrics["jetstream_subscriber_events_enqueued_total"] >= metrics["jetstream_events_delivered_total"]
    assert metrics["jetstream_subscriber_bytes_enqueued_total"] >= metrics["jetstream_bytes_delivered_total"]
    # server.go:62-80 semantics: cursor replays of pre-server history are
    # NOT emissions — only events advancing past the fan-out head count,
    # and every read in this module replays history ingested before start
    assert metrics["jetstream_events_emitted_total"] == 0
    assert metrics["jetstream_bytes_emitted_total"] == 0


def test_metrics_include_maintenance_counters(spark, tmp_path):
    """S27 symmetry (VERDICT r10 ask #3): the standing retention ticker's
    counters join the /metrics scrape the way the reference's trim runs
    under the scraped liveness ticker (main.go:188-218) — a tick that
    trims and compacts must be visible to the scraper, not just
    in-process."""
    import asyncio

    from jetstream_spark.atproto.log import US_PER_HOUR, mark_batch_done
    from jetstream_spark.atproto.maintenance import MaintenanceLoop

    log_dir = str(tmp_path / "log")
    frames = spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    normalized = normalize_frames(frames)
    # bucket 1: expired (trim target); bucket 30, two batches: sealed +
    # fragmented (compaction target); now = hour 31
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1 * US_PER_HOUR + 1, batch_id=0)
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=30 * US_PER_HOUR + 1, batch_id=1)
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=30 * US_PER_HOUR + 2, batch_id=2)
    for b in (0, 1, 2):
        mark_batch_done(log_dir, b)
    now = 31 * US_PER_HOUR + 1
    loop = MaintenanceLoop(spark, log_dir, ttl_us=24 * US_PER_HOUR, now_fn=lambda: now)
    server, _ = run_server_in_thread(spark, log_dir, maintenance=loop)
    try:
        loop.tick()
        body, metrics = _scrape(server)
        assert f'jetstream_maintenance_ticks_total{{log_dir="{log_dir}"}} 1' in body
        assert metrics["jetstream_maintenance_partitions_trimmed_total"] == 1
        assert metrics["jetstream_maintenance_buckets_compacted_total"] == 1
        assert metrics["jetstream_maintenance_tick_errors_total"] == 0
        assert metrics["jetstream_maintenance_buckets_skipped_unsafe_total"] == 0
    finally:
        asyncio.run_coroutine_threadsafe(server.stop(), server._loop).result(timeout=10)
