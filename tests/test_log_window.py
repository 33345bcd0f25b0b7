"""The hub's driver-side window read (log.py::LogWindow).

A live slice (lo, hi] is read from the files whose footer time_us range
meets the window, with pyarrow, and handed to `to_wire` as a local
relation. These tests pin that the window is the replay scan's slice
byte for byte, that it reads only the files it needs and starts no Spark
job, and that every layout change landing between its listing and its
reads (compaction swap, TTL trim, crash-replay rewrite) still leaves the
hub delivering the log exactly once and in order, with the default
`batch_limit` that keeps the hub on the window path.
"""

from __future__ import annotations

import os
import random

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.log import US_PER_HOUR, LogWindow
from jetstream_spark.atproto.normalize import normalize_frames
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
from jetstream_spark.atproto.sequencer import SequencerState
from jetstream_spark.atproto.subscribe import Subscription
from jetstream_spark.atproto.wire import to_wire
from jetstream_spark.serving import hub as hubmod
from tests.fixtures import make_frames


@pytest.fixture(scope="module")
def normalized(spark):
    return normalize_frames(spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)).cache()


def _ingest(normalized, log_dir: str, wall_us: int, batch_id: int) -> int:
    last = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=wall_us, batch_id=batch_id)
    eventlog.mark_batch_done(log_dir, batch_id)
    return last


def _keys(rows) -> list:
    return [(r["time_us"], r["did"]) for r in rows]


def _replay_slice(spark, log_dir: str, lo: int, hi: int, limit: int) -> list:
    """The Spark path's slice: exactly what the hub collected before the
    window existed."""
    return (
        to_wire(eventlog.replay(spark, log_dir, cursor=lo + 1).where(F.col("time_us") <= hi))
        .orderBy("time_us")
        .limit(limit)
        .collect()
    )


@pytest.fixture(scope="module")
def mixed_log(spark, normalized, tmp_path_factory):
    """Bucket 0 compacted by Spark into one file; buckets 1 and 2 hold two
    per-batch files each."""
    log_dir = str(tmp_path_factory.mktemp("mixed") / "log")
    bid = 0
    for bucket in range(3):
        for k in range(3 if bucket == 0 else 2):
            _ingest(normalized, log_dir, bucket * US_PER_HOUR + 1_000 + k * 1_000_000, bid)
            bid += 1
    assert eventlog.compact_bucket(spark, log_dir, 0) == 3
    return log_dir


def test_window_matches_replay_byte_for_byte(spark, mixed_log):
    times = [r["time_us"] for r in eventlog.replay(spark, mixed_log).select("time_us").collect()]
    window = LogWindow(mixed_log)
    rng = random.Random(7)
    served = declined = 0
    for _ in range(10):
        a, b = sorted(rng.sample(range(len(times)), 2))
        lo, hi = times[a] - rng.choice((0, 1)), times[b]
        limit = rng.choice((50, 200, 10_000))
        got = window.read(lo, hi, limit)
        if got is None:  # more candidate rows than the limit
            declined += 1
            continue
        served += 1
        want = _replay_slice(spark, mixed_log, lo, hi, limit)
        assert [tuple(r) for r in to_wire(spark.createDataFrame(got)).collect()] == [tuple(r) for r in want]
    # one window across the compacted bucket and both per-batch buckets
    got = window.read(0, times[-1], 10_000)
    assert got is not None and got.num_rows == len(times)
    assert [tuple(r) for r in to_wire(spark.createDataFrame(got)).collect()] == [
        tuple(r) for r in _replay_slice(spark, mixed_log, 0, times[-1], 10_000)
    ]
    assert served and declined, (served, declined)
    # past the head no file is a candidate
    empty = window.read(times[-1], times[-1] + 10, 10_000)
    assert empty.num_rows == 0 and to_wire(spark.createDataFrame(empty)).collect() == []


def test_one_batch_window_reads_one_file_among_many(spark, normalized, tmp_path, monkeypatch):
    """200 older batch files sit in the live bucket; the window of the
    batch just committed opens its footer and its data once, and no other
    file's."""
    log_dir = str(tmp_path / "log")
    last = _ingest(normalized, log_dir, 1_000_000, 0)
    part = os.path.join(log_dir, "hour_bucket=0")
    src = pq.read_table(os.path.join(part, "b0-0.parquet"))
    n = src.num_rows
    col = src.schema.get_field_index("time_us")
    for i in range(1, 200):
        shifted = src.set_column(col, "time_us", pc.add(src["time_us"], i * n))
        pq.write_table(shifted, os.path.join(part, f"b{i}-0.parquet"))
    SequencerState(last + 199 * n).save(log_dir)
    lo = SequencerState.load(log_dir).last_time_us
    window = LogWindow(log_dir)
    assert window.read(0, lo, 1_000_000).num_rows == 200 * n  # warms every footer

    hi = _ingest(normalized, log_dir, 1_000_000, 200)
    reads, footers = [], []
    real_read, real_footer = eventlog._read_file, eventlog._footer
    monkeypatch.setattr(eventlog, "_read_file", lambda p, k: reads.append(p) or real_read(p, k))
    monkeypatch.setattr(eventlog, "_footer", lambda p: footers.append(p) or real_footer(p))
    got = window.read(lo, hi, 1_000)
    new_file = os.path.join(part, "b200-0.parquet")
    assert reads == [new_file] and footers == [new_file]
    assert got.num_rows == hi - lo


def test_live_hub_slice_runs_no_spark_job(spark, normalized, tmp_path):
    log_dir = str(tmp_path / "log")
    head = _ingest(normalized, log_dir, 1_000_000, 0)
    hub = hubmod.LiveTailHub(spark, log_dir, str(tmp_path / "hubckpt"))
    delivered: list = []
    hub.register(Subscription(), delivered.extend)
    assert len(delivered) == head - 1_000_000 + 1
    head2 = _ingest(normalized, log_dir, head + 1, 1)

    sc = spark.sparkContext
    group = f"hub-slice-{tmp_path.name}"
    sc.setJobGroup(group, "one live hub tick")
    try:
        hub._on_tick(None, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [r["time_us"] for r in delivered] == list(range(1_000_000, head2 + 1))
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def _hub_drain(spark, log_dir: str, tmp_path, monkeypatch, race) -> tuple:
    """Register a subscriber from seq 0 on a default-limit hub, running
    `race` once, between the window's listing and its first file read.
    Returns the hub and what the subscriber received."""
    fired: list = []
    real_read = eventlog._read_file

    def racy_read(path, key):
        if not fired:
            fired.append(path)
            race()
        return real_read(path, key)

    monkeypatch.setattr(eventlog, "_read_file", racy_read)
    hub = hubmod.LiveTailHub(spark, log_dir, str(tmp_path / "hubckpt"))
    delivered: list = []
    hub.register(Subscription(), delivered.extend)
    assert fired, "the window path was never taken"
    return hub, delivered


def _assert_once_in_order(delivered: list, expected: list) -> None:
    got = _keys(delivered)
    assert sorted(got) == sorted(expected), "lost or duplicated events"
    times = [t for t, _ in got]
    assert times == sorted(times) and len(set(times)) == len(times)


def test_window_survives_compaction_swap_between_listing_and_reads(spark, normalized, tmp_path, monkeypatch):
    log_dir = str(tmp_path / "log")
    h = 1_000_000
    for b in range(3):
        h = _ingest(normalized, log_dir, h + 1, b)
    expected = _keys(eventlog.replay(spark, log_dir).collect())

    swapped: list = []
    _, delivered = _hub_drain(
        spark, log_dir, tmp_path, monkeypatch, lambda: swapped.append(eventlog.compact_bucket(spark, log_dir, 0))
    )
    assert swapped == [3]
    _assert_once_in_order(delivered, expected)


def test_window_survives_ttl_trim_of_a_bucket_in_range(spark, normalized, tmp_path, monkeypatch):
    log_dir = str(tmp_path / "log")
    for b in range(3):
        _ingest(normalized, log_dir, b * US_PER_HOUR + 1_000, b)
    surviving = [k for k in _keys(eventlog.replay(spark, log_dir).collect()) if k[0] >= US_PER_HOUR]

    trimmed: list = []
    now = US_PER_HOUR + eventlog.DEFAULT_TTL_US
    _, delivered = _hub_drain(
        spark, log_dir, tmp_path, monkeypatch, lambda: trimmed.append(eventlog.trim_events(spark, log_dir, now_us=now))
    )
    assert trimmed == [1]
    _assert_once_in_order(delivered, surviving)


def test_window_serves_crash_replay_rewrite_of_a_cached_file(spark, normalized, tmp_path, monkeypatch):
    """Batch 2 committed and saved its state but crashed before its done
    marker, and the hub has already delivered it (its footer is cached).
    The replay rewrites `b2-0.parquet` under the same name with later
    time_us: the next live window must see the new file version, not the
    cached footer of the old one."""
    log_dir = str(tmp_path / "log")
    h = 1_000_000
    for b in range(3):
        h = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1, batch_id=b)
        if b < 2:
            eventlog.mark_batch_done(log_dir, b)
    before = _keys(eventlog.replay(spark, log_dir).collect())
    hub = hubmod.LiveTailHub(spark, log_dir, str(tmp_path / "hubckpt"))
    delivered: list = []
    hub.register(Subscription(), delivered.extend)
    assert _keys(delivered) == before

    path = os.path.join(log_dir, "hour_bucket=0", "b2-0.parquet")
    inode = os.stat(path).st_ino
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1_000, batch_id=2)
    assert os.stat(path).st_ino != inode
    rewritten = [k for k in _keys(eventlog.replay(spark, log_dir).collect()) if k[0] > h]
    assert rewritten

    reads: list = []
    real_read = eventlog._read_file
    monkeypatch.setattr(eventlog, "_read_file", lambda p, k: reads.append(p) or real_read(p, k))
    hub._on_tick(None, 0)
    assert reads == [path]
    _assert_once_in_order(delivered, before + rewritten)


def test_window_survives_crash_replay_rewrite_between_listing_and_reads(spark, normalized, tmp_path, monkeypatch):
    """Batch 2's files moved into the log but its state save never landed,
    so no subscriber can have seen them; its replay rewrites `b2-0.parquet`
    while a window is between its listing and its reads. The hub delivers
    the log as it ends up, exactly once and in order."""
    log_dir = str(tmp_path / "log")
    h = 1_000_000
    for b in range(2):
        h = _ingest(normalized, log_dir, h + 1, b)
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1, batch_id=2)
    SequencerState(h).save(log_dir)  # the crash: files in, state not saved

    def crash_replay():
        eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1_000, batch_id=2)

    hub, delivered = _hub_drain(spark, log_dir, tmp_path, monkeypatch, crash_replay)
    assert _keys(delivered)[-1][0] == h  # the register round's hi
    hub._on_tick(None, 0)
    _assert_once_in_order(delivered, _keys(eventlog.replay(spark, log_dir).collect()))
