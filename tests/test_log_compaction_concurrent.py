"""Concurrent readers during log compaction (VERDICT r7 #6).

compact_bucket's dir-rename swap is crash-point-tested elsewhere; at
100 TB a replay scan OVERLAPPING a compaction is routine, and the
dangerous failure is silent: a reader planned in the instant between the
two renames would see a log without the bucket, deliver later buckets,
and advance its cursor past the hidden events forever. The reference
analogue is free of this by construction (Pebble iterators are
snapshot-isolated during DeleteRange, persist.go:120-137); here the
guarantees are (a) read_log's aside-fallback — the swap protocol keeps a
complete copy at `hour_bucket=N` or `_compact_old_N` at every instant,
and readers look in both — and (b) replay_rows' re-plan retry for the
listing-to-execution race, exactly-once because consumers advance their
cursor only after a delivered chunk.

Coverage: every mid-swap state pinned DETERMINISTICALLY (no timing
luck), then a threaded soak interleaving the edge's cursor-paced replay
rounds with live swap cycles.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import pytest

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.normalize import normalize_frames
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
from jetstream_spark.atproto.subscribe import Subscription
from tests.fixtures import drain_via_edge, make_frames


@pytest.fixture(scope="module")
def normalized(spark):
    return normalize_frames(
        spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    ).cache()


def _mk_log(spark, tmp_path, normalized, n_batches=3) -> str:
    log_dir = str(tmp_path / "log")
    h = 1_000_000
    for b in range(n_batches):
        h = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1, batch_id=b)
        eventlog.mark_batch_done(log_dir, b)
    return log_dir


def _replay_keys(spark, log_dir) -> list:
    return sorted(
        (r["time_us"], r["did"]) for r in eventlog.replay(spark, log_dir).collect()
    )


def test_read_log_sees_every_mid_swap_state(spark, tmp_path, normalized):
    """Deterministic pins: readers get the complete, single-copy log in
    EVERY intermediate state of compact_bucket's swap protocol."""
    log_dir = _mk_log(spark, tmp_path, normalized)
    part = os.path.join(log_dir, "hour_bucket=0")
    tmp = os.path.join(log_dir, "_compact_tmp_0")
    aside = os.path.join(log_dir, "_compact_old_0")
    want = _replay_keys(spark, log_dir)
    assert want

    # state 1: staged rewrite exists, live partition untouched — the tmp
    # dir must be invisible (reading it would double-count)
    spark.read.parquet(part).coalesce(1).write.parquet(tmp)
    assert _replay_keys(spark, log_dir) == want, "tmp dir leaked into the log"

    # state 2: THE window — live partition renamed aside, replacement not
    # yet in place. A plain directory read would silently drop the bucket;
    # the aside-fallback must serve it.
    os.rename(part, aside)
    assert _replay_keys(spark, log_dir) == want, (
        "mid-swap bucket vanished from the log (permanent-gap hazard)"
    )

    # state 3: replacement renamed in, old copy not yet deleted — exactly
    # one copy must be read (live wins; aside ignored while live exists)
    os.rename(tmp, part)
    assert _replay_keys(spark, log_dir) == want, "aside copy double-counted"

    # state 4: cleanup done — and recover_compaction on any leftover state
    # converges to the same log
    shutil.rmtree(aside)
    assert _replay_keys(spark, log_dir) == want
    eventlog.recover_compaction(log_dir)
    assert _replay_keys(spark, log_dir) == want


def test_read_log_mid_swap_after_crash_then_recover(spark, tmp_path, normalized):
    """Crashed between the renames (aside holds the data, live absent):
    readers keep working BEFORE recovery runs, and recover_compaction
    restores the canonical layout with an identical log."""
    log_dir = _mk_log(spark, tmp_path, normalized)
    part = os.path.join(log_dir, "hour_bucket=0")
    aside = os.path.join(log_dir, "_compact_old_0")
    want = _replay_keys(spark, log_dir)
    os.rename(part, aside)  # crash here: no tmp, no live dir
    assert _replay_keys(spark, log_dir) == want
    assert eventlog.recover_compaction(log_dir) == 1
    assert os.path.isdir(part) and not os.path.isdir(aside)
    assert _replay_keys(spark, log_dir) == want


def _swap_cycle(spark, log_dir: str, bucket: int = 0) -> None:
    """One content-preserving run of compact_bucket's exact swap sequence
    (stage → rename-aside → rename-in → drop-old), so the soak can cycle
    the swap window indefinitely without needing fresh fragmentation."""
    part = os.path.join(log_dir, f"hour_bucket={bucket}")
    tmp = os.path.join(log_dir, f"_compact_tmp_{bucket}")
    aside = os.path.join(log_dir, f"_compact_old_{bucket}")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(aside, ignore_errors=True)
    (
        spark.read.parquet(part)
        .coalesce(1)
        .sortWithinPartitions("time_us")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    os.rename(part, aside)
    os.rename(tmp, part)
    shutil.rmtree(aside)
    spark.catalog.refreshByPath(part)  # the post-commit refresh compact_bucket does


def test_backfill_interleaved_with_live_compaction(spark, tmp_path, normalized):
    """The edge's cursor-paced replay rounds drain the log while a
    compactor thread cycles the swap concurrently (first the real
    compact_bucket, then repeated content-preserving swap cycles):
    delivery must be complete, duplicate-free, and time-ordered."""
    log_dir = _mk_log(spark, tmp_path, normalized, n_batches=4)
    expected = _replay_keys(spark, log_dir)

    stop = threading.Event()
    compactor_error: list = []

    def compactor():
        try:
            assert eventlog.compact_bucket(spark, log_dir, bucket=0) >= 4
            while not stop.is_set():
                _swap_cycle(spark, log_dir)
                eventlog.recover_compaction(log_dir)  # idempotent no-op here
                time.sleep(1.2)  # swap cadence: several swaps across the
                # drain without starving the consumer's retry budget on a
                # loaded host (0.5 s flaked under full-suite contention)
        except Exception as e:  # surfaced to the main thread
            compactor_error.append(e)

    delivered: list = []
    t = threading.Thread(target=compactor, daemon=True)
    t.start()
    try:
        time.sleep(0.2)  # let the first swap cycles start
        # many small rounds -> many listing windows
        n = drain_via_edge(spark, log_dir, Subscription(cursor=0), 7, delivered.extend)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not compactor_error, compactor_error

    assert n == len(expected)
    got = [(r["time_us"], r["did"]) for r in delivered]
    assert sorted(got) == expected, "missed or duplicated events under compaction"
    times = [t_ for t_, _ in got]
    assert times == sorted(times), "delivery order broke under compaction"
    assert len(set(times)) == len(times)


def test_hub_delivery_survives_mid_slice_swap(spark, tmp_path, normalized):
    """The shared LiveTailHub slice loop, deterministically pinned: a
    compaction swap lands right
    after the FIRST slice frame's file listing, so its collect fails on
    the vanished pre-swap files. The hub must retry with a rebuilt frame
    and deliver the COMPLETE log (the swap keeps a full copy at every
    instant) — one unretried slice here kills the single streaming query
    every subscriber shares."""
    from jetstream_spark.serving import hub as hubmod

    log_dir = _mk_log(spark, tmp_path, normalized, n_batches=3)
    expected = _replay_keys(spark, log_dir)

    real_replay = hubmod.replay
    swapped: list = []

    def racy_replay(spark_, log_dir_, **kw):
        df = real_replay(spark_, log_dir_, **kw)
        if not swapped:  # first slice frame only
            swapped.append(1)
            _swap_cycle(spark, log_dir)
        return df

    delivered: list = []
    hub = hubmod.LiveTailHub(spark, log_dir, str(tmp_path / "hubckpt"), batch_limit=7)
    hubmod.replay = racy_replay
    try:
        # register's synchronous catch-up drives _deliver through the race
        hub.register(Subscription(), lambda rows: delivered.extend(rows))
    finally:
        hubmod.replay = real_replay

    assert swapped, "the race was never injected"
    got = [(r["time_us"], r["did"]) for r in delivered]
    assert sorted(got) == expected, "hub lost or duplicated events across the swap"
    times = [t_ for t_, _ in got]
    assert times == sorted(times), "hub delivery order broke across the swap"


def test_swap_retryable_matches_error_class_and_java_shapes():
    """ADVICE r9 #4: the mid-swap retry must recognize BOTH the Java
    exception name and Spark's structured error-class markers — a Spark
    bump that surfaces the task failure as FAILED_READ_FILE.FILE_NOT_EXIST
    without the Java class name in str(e) must not silently stop the
    compaction-swap retry (live consumers would crash on a transient
    race). Genuine planning errors stay non-retryable."""
    retryable = eventlog._is_swap_retryable
    assert retryable("java.io.FileNotFoundException: File file:/x/part-0 does not exist")
    assert retryable("It is possible the underlying files have been updated.")
    assert retryable("[FAILED_READ_FILE.FILE_NOT_EXIST] Error while reading file ...")
    assert retryable("FILE_NOT_EXIST")
    # not swap shapes: virgin/missing dir and arbitrary analysis errors
    assert not retryable("[PATH_NOT_FOUND] Path does not exist: file:/x/log")
    assert not retryable("[UNRESOLVED_COLUMN] A column cannot be resolved")
