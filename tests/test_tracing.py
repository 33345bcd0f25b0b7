"""S27 tracing/profiling parity: OTEL-shaped stage spans and the
/debug/pprof analogues (pkg/consumer/consumer.go:100 spans;
cmd/jetstream/main.go:218 pprof mux)."""

from __future__ import annotations

import http.client
import json
import threading
import time

import pytest

from jetstream_spark.operators import tracing
from jetstream_spark.operators.tracing import StageTracer


@pytest.fixture(scope="module")
def edge(spark, tmp_path_factory):
    from jetstream_spark.atproto import log as eventlog
    from jetstream_spark.atproto.normalize import normalize_frames
    from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
    from jetstream_spark.serving.edge import run_server_in_thread
    from jetstream_spark.serving.hub import LiveTailHub
    from tests.fixtures import make_frames

    log_dir = str(tmp_path_factory.mktemp("tracelog"))
    frames = spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    eventlog.ingest_batch(normalize_frames(frames), log_dir, wall_clock_us=1_000_000)
    hub = LiveTailHub(spark, log_dir, str(tmp_path_factory.mktemp("hubckpt")))
    hub.start()
    server, _ = run_server_in_thread(spark, log_dir, hub=hub)
    yield server, log_dir
    import asyncio

    asyncio.run_coroutine_threadsafe(server.stop(), server._loop).result(timeout=10)
    hub.stop()


def test_span_nesting_and_error_status():
    t = StageTracer()
    with t.span("outer", stage="ingest") as outer:
        with t.span("inner") as inner:
            pass
    assert inner.parent_id == outer.span_id
    assert inner.trace_id == outer.trace_id, "children share the trace"
    assert outer.parent_id is None
    spans = t.recent()
    assert [s["name"] for s in spans] == ["inner", "outer"]  # close order
    assert all(s["endTimeUnixNano"] >= s["startTimeUnixNano"] for s in spans)
    assert spans[1]["attributes"] == {"stage": "ingest"}

    try:
        with t.span("boom"):
            raise ValueError("x")
    except ValueError:
        pass
    assert t.recent()[-1]["status"] == "ERROR: ValueError"


def test_span_ring_is_bounded():
    t = StageTracer()
    for i in range(tracing.MAX_SPANS + 50):
        with t.span("s", i=i):
            pass
    spans = t.recent(limit=tracing.MAX_SPANS + 100)
    assert len(spans) == tracing.MAX_SPANS
    assert spans[-1]["attributes"]["i"] == tracing.MAX_SPANS + 49  # newest kept


def test_cpu_profile_catches_busy_thread():
    stop = threading.Event()

    def busy_loop_for_profiler():
        while not stop.is_set():
            sum(range(1000))

    th = threading.Thread(target=busy_loop_for_profiler, daemon=True)
    th.start()
    try:
        folded = tracing.cpu_profile(seconds=0.4, hz=200)
    finally:
        stop.set()
        th.join()
    assert "busy_loop_for_profiler" in folded
    # collapsed format: "frame;frame;... count"
    top = folded.splitlines()[0]
    assert top.rsplit(" ", 1)[1].isdigit()


def test_thread_dump_and_heap_profile():
    dump = tracing.thread_dump()
    assert "test_thread_dump_and_heap_profile" in dump  # sees the caller
    heap = tracing.heap_profile()
    assert "gc live-object histogram" in heap or "top allocations" in heap

    import tracemalloc

    tracemalloc.start()
    try:
        _ballast = [bytes(1000) for _ in range(100)]
        assert "top allocations" in tracing.heap_profile()
        del _ballast
    finally:
        tracemalloc.stop()


def _get(port: int, path: str) -> tuple[int, str]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    conn.request("GET", path)
    resp = conn.getresponse()
    body = resp.read().decode()
    conn.close()
    return resp.status, body


def test_debug_endpoints(edge):
    server, _ = edge
    status, body = _get(server.port, "/debug/pprof/")
    assert status == 200 and "profile" in body

    status, body = _get(server.port, "/debug/pprof/heap")
    assert status == 200 and "histogram" in body or "allocations" in body

    status, body = _get(server.port, "/debug/pprof/goroutine")
    assert status == 200 and "thread" in body

    status, body = _get(server.port, "/debug/pprof/profile?seconds=0.2")
    assert status == 200  # may be "(no samples)" on an idle server

    # no tracer attached → well-formed empty span list
    status, body = _get(server.port, "/debug/traces")
    assert status == 200 and json.loads(body)["spans"] == []

    status, _ = _get(server.port, "/debug/nope")
    assert status == 404


def test_traces_endpoint_serves_recorded_spans(edge):
    server, _ = edge
    tracer = StageTracer()
    server.tracer = tracer
    with tracer.span("CommitBatch", batch_id=7):
        time.sleep(0.01)
    status, body = _get(server.port, "/debug/traces?limit=10")
    assert status == 200
    spans = json.loads(body)["spans"]
    assert spans and spans[-1]["name"] == "CommitBatch"
    assert spans[-1]["attributes"]["batch_id"] == 7
    assert spans[-1]["endTimeUnixNano"] - spans[-1]["startTimeUnixNano"] >= 10_000_000
