"""MaintenanceLoop — the in-process retention + compaction ticker
(reference: main.go:188-205 trims every 15 s inside the consumer;
persist.go:120-137 is the DeleteRange; Pebble's own LSM compaction is the
compact_bucket analogue). Deterministic: tests drive tick() directly with
an injected clock; only the lifecycle test exercises the real thread.
"""

from __future__ import annotations

import os
import threading

import pytest

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto import maintenance as maint_mod
from jetstream_spark.atproto.log import US_PER_HOUR
from jetstream_spark.atproto.maintenance import MaintenanceLoop
from jetstream_spark.atproto.normalize import normalize_frames
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
from tests.fixtures import make_frames


@pytest.fixture(scope="module")
def normalized(spark):
    return normalize_frames(
        spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    ).cache()


def _ingest(spark, log_dir, normalized, bucket: int, batch_id: int, mark=True):
    eventlog.ingest_batch(
        normalized, log_dir, wall_clock_us=bucket * US_PER_HOUR + 1_000 * (batch_id + 1),
        batch_id=batch_id,
    )
    if mark:
        eventlog.mark_batch_done(log_dir, batch_id)


def _n_files(log_dir, bucket) -> int:
    part = os.path.join(log_dir, f"hour_bucket={bucket}")
    if not os.path.isdir(part):
        return 0
    return sum(1 for f in os.listdir(part) if f.endswith(".parquet"))


def test_tick_trims_expired_and_compacts_one_sealed_per_tick(spark, tmp_path, normalized):
    """One tick = trim everything expired + compact the OLDEST fragmented
    sealed bucket; the active (head) bucket is never touched however
    fragmented it is."""
    log_dir = str(tmp_path / "log")
    # buckets 24..27; 25, 26 and 27 fragmented (2 batches each)
    _ingest(spark, log_dir, normalized, bucket=24, batch_id=0)
    for i, b in enumerate((25, 25, 26, 26, 27, 27)):
        _ingest(spark, log_dir, normalized, bucket=b, batch_id=10 + i)
    assert _n_files(log_dir, 25) >= 2 and _n_files(log_dir, 27) >= 2

    now = 27 * US_PER_HOUR + 30 * 60 * 1_000_000  # mid-hour 27 = the active bucket
    loop = MaintenanceLoop(
        spark, log_dir, ttl_us=2 * US_PER_HOUR, now_fn=lambda: now
    )  # cutoff bucket = floor(25.5) = 25 -> bucket 24 fully expired; sealed = 25, 26

    loop.tick()
    assert loop.counters["partitions_trimmed"] == 1  # bucket 24
    assert _n_files(log_dir, 24) == 0
    assert loop.counters["buckets_compacted"] == 1  # oldest fragmented: 25
    assert _n_files(log_dir, 25) == 1
    assert _n_files(log_dir, 26) >= 2, "one rewrite per tick, not a backlog drain"
    assert _n_files(log_dir, 27) >= 2, "active bucket touched"

    loop.tick()
    assert loop.counters["buckets_compacted"] == 2  # next oldest: 26
    assert _n_files(log_dir, 26) == 1
    assert _n_files(log_dir, 27) >= 2, "active bucket touched"
    assert loop.counters["ticks"] == 2
    # log content is trim-only different: 24 gone, everything else intact
    got = {(r["time_us"], r["did"]) for r in eventlog.replay(spark, log_dir).collect()}
    assert got and all(t >= 25 * US_PER_HOUR for t, _ in got)


def test_tick_skips_unsafe_bucket_and_compacts_next(spark, tmp_path, normalized):
    """A sealed bucket with an UNMARKED batch (crash between commit and
    marker: replay could still append there) is ineligible — the tick
    records the skip and moves to the next fragmented bucket instead of
    stalling the whole compaction lane."""
    log_dir = str(tmp_path / "log")
    _ingest(spark, log_dir, normalized, bucket=25, batch_id=0)
    _ingest(spark, log_dir, normalized, bucket=25, batch_id=1, mark=False)  # unsafe
    _ingest(spark, log_dir, normalized, bucket=26, batch_id=2)
    _ingest(spark, log_dir, normalized, bucket=26, batch_id=3)

    now = 27 * US_PER_HOUR + 1
    loop = MaintenanceLoop(spark, log_dir, ttl_us=24 * US_PER_HOUR, now_fn=lambda: now)
    loop.tick()
    assert loop.counters["buckets_skipped_unsafe"] == 1
    assert _n_files(log_dir, 25) >= 2, "unsafe bucket must not be compacted"
    assert loop.counters["buckets_compacted"] == 1
    assert _n_files(log_dir, 26) == 1

    # once the pipeline marks the batch, the bucket becomes eligible
    eventlog.mark_batch_done(log_dir, 1)
    loop.tick()
    assert _n_files(log_dir, 25) == 1
    assert loop.counters["buckets_compacted"] == 2


def test_loop_thread_survives_tick_failures(spark, tmp_path, normalized, monkeypatch):
    """A transient tick failure is counted and the ticker keeps running —
    retention must not silently end on one bad Spark job (the reference
    couples trim to the liveness ticker for the same reason)."""
    log_dir = str(tmp_path / "log")
    _ingest(spark, log_dir, normalized, bucket=25, batch_id=0)

    real_trim = maint_mod.trim_events
    fail_once = {"left": 1}

    def flaky_trim(*a, **kw):
        if fail_once["left"]:
            fail_once["left"] -= 1
            raise RuntimeError("transient maintenance failure")
        return real_trim(*a, **kw)

    monkeypatch.setattr(maint_mod, "trim_events", flaky_trim)
    now = 26 * US_PER_HOUR
    loop = MaintenanceLoop(
        spark, log_dir, ttl_us=24 * US_PER_HOUR, interval_s=0.05,
        compact=False, now_fn=lambda: now,
    ).start()
    try:
        assert loop.wait_for_tick(30)
        # keep ticking until a SUCCESSFUL tick lands after the failure
        deadline_ticks = 100
        while loop.counters["ticks"] == 0 and deadline_ticks:
            assert loop.wait_for_tick(30)
            deadline_ticks -= 1
    finally:
        loop.stop()
    assert loop.counters["errors"] == 1
    assert loop.counters["ticks"] >= 1, "loop died after the transient failure"
    assert loop._thread is None


def test_loop_runs_beside_a_draining_consumer(spark, tmp_path, normalized):
    """The standing shape: the maintenance thread ticks on a real interval
    while a cursor-paced consumer drains — the conservation invariant of
    the churn soak, but through the production MaintenanceLoop."""
    from jetstream_spark.atproto.subscribe import Subscription
    from tests.fixtures import drain_via_edge

    log_dir = str(tmp_path / "log")
    for b in range(4):
        _ingest(spark, log_dir, normalized, bucket=24 + b, batch_id=b)
    all_keys = sorted(
        (r["time_us"], r["did"]) for r in eventlog.replay(spark, log_dir).collect()
    )
    by_bucket = {
        b: {k for k in all_keys if k[0] // US_PER_HOUR == b} for b in range(24, 28)
    }

    # clock advances one hour per tick, CAPPED so only buckets 24 and 25
    # can ever expire (cutoff = now - 24h): 49h -> drop 24, 50h -> drop 25
    clock = {"now": 49 * US_PER_HOUR + 1}
    lock = threading.Lock()

    def now_fn():
        with lock:
            t = clock["now"]
            clock["now"] = min(clock["now"] + US_PER_HOUR, 50 * US_PER_HOUR + 1)
            return t

    loop = MaintenanceLoop(
        spark, log_dir, ttl_us=24 * US_PER_HOUR, interval_s=0.5, now_fn=now_fn
    ).start()
    delivered: list = []
    try:
        drain_via_edge(spark, log_dir, Subscription(cursor=0), 7, delivered.extend)
    finally:
        loop.stop()
    assert loop.counters["errors"] == 0

    got = [(r["time_us"], r["did"]) for r in delivered]
    assert len(set(got)) == len(got)
    times = [t for t, _ in got]
    assert times == sorted(times)
    missed = set(all_keys) - set(got)
    # ticks expire 24 then 25 (clock stops mattering once the drain ends);
    # buckets 26-27 can never have expired
    assert missed <= by_bucket[24] | by_bucket[25], "maintenance lost unexpired events"
    assert by_bucket[26] | by_bucket[27] <= set(got)


def test_stop_reports_hang_without_raising(spark, tmp_path, monkeypatch):
    """ADVICE r10: stop() runs in shutdown paths (cmd_ingest's finally) —
    a wedged Spark tick must yield a "hung" status, not a raise that masks
    the original exception; the kept thread handle still blocks a second
    start() (single-owner contract), and a later drain stops cleanly."""
    loop = MaintenanceLoop(spark, str(tmp_path / "log"), interval_s=3600)
    entered, release = threading.Event(), threading.Event()

    def wedged_tick():
        entered.set()
        release.wait(30)

    monkeypatch.setattr(loop, "tick", wedged_tick)
    loop.start()
    assert entered.wait(10), "ticker never entered the wedged tick"
    assert loop.stop(join_timeout_s=0.5) == "hung"
    with pytest.raises(AssertionError):
        loop.start()  # the hung thread still owns the log
    release.set()
    assert loop.stop(join_timeout_s=30) == "stopped"


def test_trim_counts_only_removed_partitions(spark, tmp_path, normalized, monkeypatch):
    """ADVICE r10: an expired partition rmtree fails to remove must not be
    counted as dropped (it still serves data); the failure surfaces AFTER
    the sweep so other expired entries still go, and the standing loop's
    tick routes it to the error counter for retry."""
    import shutil as real_shutil

    log_dir = str(tmp_path / "log")
    _ingest(spark, log_dir, normalized, bucket=1, batch_id=0)
    _ingest(spark, log_dir, normalized, bucket=2, batch_id=1)
    stuck = os.path.join(log_dir, "hour_bucket=1")
    orig_rmtree = real_shutil.rmtree

    def sticky_rmtree(path, ignore_errors=False, **kw):
        if os.path.abspath(str(path)) == os.path.abspath(stuck):
            return  # simulated partial-delete failure (permissions/open handles)
        orig_rmtree(path, ignore_errors=ignore_errors, **kw)

    monkeypatch.setattr(eventlog.shutil, "rmtree", sticky_rmtree)
    now = 100 * US_PER_HOUR
    with pytest.raises(OSError, match="hour_bucket=1"):
        eventlog.trim_events(spark, log_dir, now_us=now, ttl_us=US_PER_HOUR)
    # the failing entry was not counted, the rest of the sweep still ran
    assert _n_files(log_dir, 1) > 0, "stuck partition should survive"
    assert _n_files(log_dir, 2) == 0, "later expired entries must still drop"
    # the raise reaches the ticker thread's per-tick catch (the error
    # counter + next-tick retry — test_loop_thread_survives_tick_failures
    # pins that path); once the interference clears, the retry drops it
    monkeypatch.undo()
    assert eventlog.trim_events(spark, log_dir, now_us=now, ttl_us=US_PER_HOUR) == 1
    assert _n_files(log_dir, 1) == 0


def test_compact_failure_with_live_partition_propagates(spark, tmp_path, normalized, monkeypatch):
    """ADVICE r10: a FileNotFoundError while the partition still EXISTS
    (e.g. the tmp stage swept out from under the swap by a concurrent
    one-shot trim) is a real failure — it must propagate, not report a
    silent no-op while the bucket stays fragmented."""
    log_dir = str(tmp_path / "log")
    _ingest(spark, log_dir, normalized, bucket=5, batch_id=0)
    _ingest(spark, log_dir, normalized, bucket=5, batch_id=1)
    before = _n_files(log_dir, 5)
    assert before >= 2

    def vanished_stage(src, dst):
        raise FileNotFoundError(src)

    monkeypatch.setattr(eventlog.os, "rename", vanished_stage)
    with pytest.raises(FileNotFoundError):
        eventlog.compact_bucket(spark, log_dir, bucket=5)
    monkeypatch.undo()
    assert _n_files(log_dir, 5) == before, "failed compaction must leave the bucket intact"
    # and the bucket is still compactable once the interference is gone
    assert eventlog.compact_bucket(spark, log_dir, bucket=5) == before
    assert _n_files(log_dir, 5) == 1
