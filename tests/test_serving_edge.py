"""The serving edge (H4): /subscribe over websocket text frames —
validation, cursor replay, filters, live tail, registry."""

from __future__ import annotations

import http.client
from itertools import islice

import pytest
from pyspark.sql import functions as F

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.normalize import normalize_frames
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
from jetstream_spark.serving.edge import run_server_in_thread
from jetstream_spark.serving.hub import LiveTailHub
from tests.fixtures import make_frames, read_subscribe, subscribe_ws


@pytest.fixture(scope="module")
def edge(spark, tmp_path_factory):
    log_dir = str(tmp_path_factory.mktemp("edgelog"))
    frames = spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    normalized = normalize_frames(frames).cache()
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000)
    hub = LiveTailHub(spark, log_dir, str(tmp_path_factory.mktemp("hubckpt")))
    hub.start()
    server, _ = run_server_in_thread(spark, log_dir, hub=hub)
    yield server, log_dir, normalized
    import asyncio

    asyncio.run_coroutine_threadsafe(server.stop(), server._loop).result(timeout=10)
    hub.stop()


def test_subscribe_replay_from_cursor(edge, spark):
    server, log_dir, _ = edge
    total = eventlog.read_log(spark, log_dir).count()
    frames = read_subscribe(server.port, "cursor=0", total)
    assert len(frames) == total
    times = [f["time_us"] for f in frames]
    assert times == sorted(times) and len(set(times)) == total
    assert {"did", "time_us", "type"}.issubset(frames[0])


def test_subscribe_filters_and_bypass(edge, spark):
    server, log_dir, _ = edge
    df = eventlog.replay(spark, log_dir, wanted_collections=["app.bsky.feed.like"])
    expected = df.count()
    frames = read_subscribe(server.port, "cursor=0&wantedCollections=app.bsky.feed.like", expected)
    assert len(frames) == expected
    kinds = {f["type"] for f in frames}
    assert {"acc", "id"} <= kinds, "account/identity must bypass collection filters"
    for f in frames:
        if f["type"] == "com":
            assert f["commit"]["collection"] == "app.bsky.feed.like"


def test_subscribe_invalid_params_rejected(edge):
    server, _, _ = edge
    for q in ("wantedCollections=banana", "wantedDids=nope", "cursor=abc"):
        conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=30)
        conn.request("GET", f"/subscribe?{q}")
        resp = conn.getresponse()
        assert resp.status == 400, q
        resp.read()
        conn.close()


def test_plain_get_subscribe_is_400_while_metrics_stays_http(edge):
    """/subscribe speaks only websocket, like the reference (gorilla's
    Upgrader answers a GET without `Upgrade: websocket` with 400); the
    scrape and debug routes stay plain HTTP."""
    server, _, _ = edge
    for path, status in (("/subscribe?cursor=0", 400), ("/subscribe", 400), ("/metrics", 200)):
        conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=30)
        conn.request("GET", path)
        resp = conn.getresponse()
        assert resp.status == status, path
        resp.read()
        conn.close()
    assert _wait_registry_empty(server), "a refused GET must not register a subscriber"


def test_live_tail_receives_new_events(edge, spark):
    server, log_dir, normalized = edge
    with subscribe_ws(server.port) as live:  # no cursor = live tail
        head_before = eventlog.read_log(spark, log_dir).agg(F.max("time_us")).first()[0]
        # append new events while subscribed
        eventlog.ingest_batch(normalized, log_dir, wall_clock_us=head_before + 1)
        new_count = eventlog.read_log(spark, log_dir).where(F.col("time_us") > head_before).count()
        frames = list(islice(live, new_count))
    assert len(frames) == new_count
    assert all(f["time_us"] > head_before for f in frames), "live tail must skip history"


def test_emitted_counts_once_per_event_across_subscribers(edge, spark):
    """server.go:62-80 semantics (ADVICE r6): emitted increments once per
    event entering the fan-out, regardless of subscriber count; per-sub
    enqueues live under the engine-specific subscriber_*_enqueued names."""
    import threading

    server, log_dir, normalized = edge
    emitted_before = server.events_emitted_total
    enqueued_before = server.events_enqueued_total

    results: list[list[dict]] = [[], []]
    ready = threading.Barrier(3, timeout=60)

    head_before = eventlog.read_log(spark, log_dir).agg(F.max("time_us")).first()[0]

    def tail(slot: int, expect: list[int]) -> None:
        with subscribe_ws(server.port) as live:  # live tail
            ready.wait()
            for frame in live:
                results[slot].append(frame)
                if len(results[slot]) >= expect[0]:
                    break

    expect = [1 << 30]  # patched once new_count is known
    threads = [threading.Thread(target=tail, args=(i, expect)) for i in range(2)]
    for t in threads:
        t.start()
    ready.wait()
    import time as _time

    deadline = _time.time() + 30
    while len(server.registry.subscribers) != 2 and _time.time() < deadline:
        _time.sleep(0.1)  # earlier tests' subscribers must finish deregistering
    assert len(server.registry.subscribers) == 2
    # known before the batch lands: the hub can deliver it before a
    # count of the log would return, and a tail still waiting for more
    # frames than the batch holds would sit until its socket times out
    new_count = normalized.count()
    expect[0] = new_count
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=head_before + 1)
    assert eventlog.read_log(spark, log_dir).where(F.col("time_us") > head_before).count() == new_count
    for t in threads:
        t.join(timeout=120)
    assert [len(r) for r in results] == [new_count, new_count]
    # once per event — NOT once per subscriber-enqueue
    assert server.events_emitted_total - emitted_before == new_count
    assert server.events_enqueued_total - enqueued_before == 2 * new_count


def _wait_registry_empty(server, timeout: float = 15.0) -> bool:
    import time

    deadline = time.time() + timeout
    while server.registry.subscribers and time.time() < deadline:
        time.sleep(0.2)
    return not server.registry.subscribers


def test_registry_tracks_and_clears(edge, spark):
    server, log_dir, _ = edge
    assert _wait_registry_empty(server), "stale subscribers from earlier tests not cleaned"
    total = eventlog.read_log(spark, log_dir).count()
    read_subscribe(server.port, "cursor=0", total)
    assert _wait_registry_empty(server), "registry must clear on disconnect"


def test_cursor_replay_paced_at_playback_rate(spark, tmp_path):
    """S20 on the edge (server.go:307): frames replayed from a cursor are
    written at max_sub_rate × PLAYBACK_MULT (burst = one second), not at
    the live rate, and pacing drops nothing. The rate is set so the whole
    log is two seconds' worth of playback, i.e. twenty of live."""
    import asyncio
    import time

    from jetstream_spark.serving.edge import PLAYBACK_MULT

    log_dir = str(tmp_path / "log")
    frames_df = spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    eventlog.ingest_batch(normalize_frames(frames_df), log_dir, wall_clock_us=1_000_000)
    total = eventlog.read_log(spark, log_dir).count()
    assert total >= 20
    live_rate = total / (2 * PLAYBACK_MULT)
    playback_rate = live_rate * PLAYBACK_MULT

    hub = LiveTailHub(spark, log_dir, str(tmp_path / "hubckpt"))
    hub.start()
    server, _ = run_server_in_thread(spark, log_dir, hub=hub, max_sub_rate=live_rate)
    try:
        got, stamps = [], []
        with subscribe_ws(server.port, "cursor=0", timeout=120) as frames:
            for frame in islice(frames, total):
                got.append(frame)
                stamps.append(time.monotonic())
    finally:
        asyncio.run_coroutine_threadsafe(server.stop(), server._loop).result(timeout=10)
        hub.stop()

    times = [f["time_us"] for f in got]
    assert len(got) == total, "pacing must not drop events"
    assert times == sorted(times) and len(set(times)) == total
    # first frame -> last frame excludes the replay fetch: the burst covers
    # one second's worth, the rest waits for refill
    elapsed = stamps[-1] - stamps[0]
    assert elapsed >= (total - playback_rate) / playback_rate * 0.8, (
        f"replay of {total} at {playback_rate}/s finished in {elapsed:.2f}s — not paced"
    )
    assert elapsed < (total - live_rate) / live_rate * 0.5, (
        f"replay of {total} took {elapsed:.2f}s — paced at the live rate, not playback"
    )


def test_subscribe_without_hub_is_503(edge, spark):
    """A listener built without a LiveTailHub (ingest --metrics-addr) has
    no live tail to serve: /subscribe answers 503 while /metrics and the
    debug surface keep working."""
    import asyncio

    _, log_dir, _ = edge
    server, _ = run_server_in_thread(spark, log_dir)
    try:
        for path, status in (("/subscribe?cursor=0", 503), ("/subscribe", 503), ("/metrics", 200)):
            conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=30)
            conn.request("GET", path)
            resp = conn.getresponse()
            assert resp.status == status, path
            resp.read()
            conn.close()
        assert not server.registry.subscribers
    finally:
        asyncio.run_coroutine_threadsafe(server.stop(), server._loop).result(timeout=10)
