"""E2E: serving edge fed by the SHARED streaming live tail (LiveTailHub) —
S15 replay→live cutover + S18 monotonic guard, exercised under concurrent
writes (the reference's single-live-pipeline topology, server.go:187-238)."""

from __future__ import annotations

import threading
import time
from itertools import islice

import pytest

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.normalize import normalize_frames
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
from jetstream_spark.serving.edge import run_server_in_thread
from jetstream_spark.serving.hub import LiveTailHub
from tests.fixtures import make_frames, read_subscribe, subscribe_ws


@pytest.mark.timeout(300)
def test_edge_hub_cutover_no_dup_no_gap_under_concurrent_writes(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    frames = spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    normalized = normalize_frames(frames).cache()
    n = normalized.count()
    head = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)

    hub = LiveTailHub(spark, log_dir, str(tmp_path / "hubckpt"))
    hub.start()
    server, _ = run_server_in_thread(spark, log_dir, hub=hub)
    try:
        with subscribe_ws(server.port, "cursor=0", timeout=120) as frames:

            def writer() -> None:
                h = head
                for i in range(1, 4):
                    h = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1, batch_id=i)
                    time.sleep(0.5)

            wt = threading.Thread(target=writer)
            wt.start()

            total = 4 * n
            got = list(islice(frames, total))
            wt.join()

        times = [f["time_us"] for f in got]
        assert len(got) == total, f"gap across cutover: delivered {len(got)}/{total}"
        assert times == sorted(times), "delivery must be time-ordered"
        assert len(set(times)) == total, "duplicates across replay→live cutover"
        # server.go:62-80: emitted counts each event once at the shared
        # fan-out point — the 3 live batches, never the cursor-replayed
        # pre-start batch, no matter how many slices/subscribers saw them
        assert server.events_emitted_total == 3 * n
    finally:
        import asyncio

        asyncio.run_coroutine_threadsafe(server.stop(), server._loop).result(timeout=10)
        hub.stop()


@pytest.mark.timeout(300)
def test_edge_hub_drops_slow_consumer(spark, tmp_path):
    """S19 on the hub path: a live subscriber whose buffer overflows is
    dropped (non-blocking enqueue) — the reference closes the websocket on
    a full channel (server.go:168-175)."""
    log_dir = str(tmp_path / "log")
    frames = spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    normalized = normalize_frames(frames).cache()
    head = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)

    hub = LiveTailHub(spark, log_dir, str(tmp_path / "hubckpt"))
    hub.start()
    # tiny buffer: the first live batch (hundreds of events) must overflow it
    server, _ = run_server_in_thread(spark, log_dir, hub=hub, sub_buffer=5)
    try:
        with subscribe_ws(server.port):  # live tail, starts at head
            deadline = time.time() + 60
            while time.time() < deadline and not server.registry.subscribers:
                time.sleep(0.1)
            assert server.registry.subscribers, "subscriber never registered"
            # do NOT read: the subscriber is slow; append a burst
            eventlog.ingest_batch(normalized, log_dir, wall_clock_us=head + 1, batch_id=1)
            dropped = False
            while time.time() < deadline:
                infos = list(server.registry.subscribers.values())
                if not infos or any(i.dropped for i in infos):
                    dropped = True  # flagged, or already dropped AND unregistered
                    break
                time.sleep(0.2)
            assert dropped, "slow consumer must be dropped when its buffer overflows"
    finally:
        import asyncio

        asyncio.run_coroutine_threadsafe(server.stop(), server._loop).result(timeout=10)
        hub.stop()


@pytest.mark.timeout(300)
def test_hub_fanout_soak_no_drops_across_ten_subscribers(spark):
    """Sustained shared-tail fan-out (the bench's delivery metric): ten
    concurrent subscribers each receive EVERY event exactly once, in time
    order — zero drops — and aggregate delivery stays well above one
    subscriber's worth of the reference's 5k events/s live ceiling (the
    per-subscriber ceiling comparison is recorded by bench.py at the
    bench SF, where the one-time tick cost amortizes)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import bench_delivery_fanout

    r = bench_delivery_fanout(spark, "/root/testdata/sf0.01", n_subs=10, cap=10000)
    assert r["complete"], f"dropped events: {r}"
    assert r["ordered"], f"out-of-order delivery: {r}"
    assert r["events_per_sec_total"] >= 5000, r


@pytest.mark.timeout(300)
def test_edge_hub_filters_applied_at_emit(spark, tmp_path):
    """Per-subscriber predicates are evaluated at hub emit time (S17
    semantics incl. account/identity bypass) — one shared slice, N filtered
    deliveries."""
    log_dir = str(tmp_path / "log")
    frames = spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    normalized = normalize_frames(frames).cache()
    head = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)

    hub = LiveTailHub(spark, log_dir, str(tmp_path / "hubckpt"))
    hub.start()
    server, _ = run_server_in_thread(spark, log_dir, hub=hub)
    try:
        expected = eventlog.replay(
            spark, log_dir, wanted_collections=["app.bsky.feed.like"]
        ).count()
        got = read_subscribe(server.port, "cursor=0&wantedCollections=app.bsky.feed.like", expected, timeout=120)
        assert len(got) == expected
        kinds = {f["type"] for f in got}
        assert {"acc", "id"} <= kinds, "account/identity must bypass collection filters"
        for f in got:
            if f["type"] == "com":
                assert f["commit"]["collection"] == "app.bsky.feed.like"
    finally:
        import asyncio

        asyncio.run_coroutine_threadsafe(server.stop(), server._loop).result(timeout=10)
        hub.stop()


@pytest.mark.timeout(300)
def test_hub_register_unregister_never_block_on_a_slow_collect(spark, tmp_path, monkeypatch):
    """ADVICE r10: a delivery round's slice collect can spend seconds in
    replay_rows' maintenance-race retries — subscriber connect/disconnect
    must not block on the hub lock for that budget, and a subscriber
    unregistered while a slice is in flight must not be emitted to."""
    from jetstream_spark.atproto.subscribe import Subscription
    from jetstream_spark.serving import hub as hub_mod

    log_dir = str(tmp_path / "log")
    frames = spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    normalized = normalize_frames(frames).cache()
    head = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)
    n = normalized.count()

    hub = LiveTailHub(spark, log_dir, str(tmp_path / "hubckpt"))
    real_replay_rows = hub_mod.replay_rows
    in_collect, release = threading.Event(), threading.Event()
    slow_done = {"calls": 0}

    def slow_first_collect(spark_, log_dir_, build):
        slow_done["calls"] += 1
        if slow_done["calls"] == 1:
            in_collect.set()
            assert release.wait(60), "test deadlock: release never set"
        return real_replay_rows(spark_, log_dir_, build)

    monkeypatch.setattr(hub_mod, "replay_rows", slow_first_collect)

    got1, got2, got3 = [], [], []
    # a pre-registered subscriber is behind head -> the tick round collects
    hub._subs[0] = hub_mod._HubSub(Subscription(cursor=0), got1.extend)
    t = threading.Thread(target=lambda: hub._on_tick(None, 0))
    t.start()
    assert in_collect.wait(30), "delivery round never reached the collect"
    # while the collect is wedged: register (with its own catch-up round)
    # and unregister must complete quickly
    t0 = time.time()
    id2 = hub.register(Subscription(cursor=0), got2.extend)
    register_s = time.time() - t0
    id3 = hub.register(Subscription(cursor=0), got3.extend)
    hub.unregister(id3)
    # also drop the wedged round's own target before its slice lands
    hub._subs.pop(0).active = False
    release.set()
    t.join(120)
    assert not t.is_alive()
    assert register_s < 30, f"register blocked {register_s:.1f}s behind a wedged collect"
    # the mid-flight registrations were caught up to head by their own
    # rounds, while the first round's collect was still wedged
    assert len(got2) == n and got2[-1]["time_us"] == head
    assert len(got3) == n  # catch-up delivered before the unregister
    # the subscriber dropped while the first round's slice was in flight
    # must not be emitted to when that slice finally lands
    assert got1 == []


@pytest.mark.timeout(300)
def test_cursor_past_last_match_never_backfills_history(spark, tmp_path):
    """A filtered cursor subscriber whose first replay round comes back
    empty (nothing matching at or after the cursor) joins the hub with the
    cursor as its watermark: it must receive only events at or after the
    cursor, never the matching history the cursor excluded."""
    from pyspark.sql import functions as F

    log_dir = str(tmp_path / "log")
    frames = spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    normalized = normalize_frames(frames).cache()
    head = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)
    log = eventlog.read_log(spark, log_dir)
    head_did = log.where(F.col("time_us") == head).first()["did"]
    did = sorted({r["did"] for r in log.select("did").distinct().collect()} - {head_did})[0]
    assert log.where(F.col("did") == did).count() > 0  # history the cursor excludes

    hub = LiveTailHub(spark, log_dir, str(tmp_path / "hubckpt"))
    hub.start()
    server, _ = run_server_in_thread(spark, log_dir, hub=hub)
    try:
        with subscribe_ws(server.port, f"cursor={head}&wantedDids={did}", timeout=120) as frames:
            deadline = time.time() + 60
            while time.time() < deadline and not hub._subs:
                time.sleep(0.1)
            assert hub._subs, "subscriber never reached the hub"
            head2 = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=head + 1, batch_id=1)
            expected = eventlog.replay(spark, log_dir, cursor=head, wanted_dids=[did]).count()
            assert expected > 0
            got = list(islice(frames, expected))
    finally:
        import asyncio

        asyncio.run_coroutine_threadsafe(server.stop(), server._loop).result(timeout=10)
        hub.stop()

    assert len(got) == expected
    assert all(head < f["time_us"] <= head2 and f["did"] == did for f in got), (
        "history before the cursor leaked through the hub"
    )
