"""The hub's tick stream runs over the sequencer head
(atproto/sequencer.py::SequencerHeadSource): one micro-batch per head
move, none for files the log gains without one, and a checkpoint written
by the older file-source tick stream resumes cleanly."""

from __future__ import annotations

import os
import time

import pytest

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.normalize import normalize_frames
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
from jetstream_spark.atproto.sequencer import SequencerState, sequence_events
from jetstream_spark.atproto.subscribe import Subscription
from jetstream_spark.serving.hub import LiveTailHub
from tests.fixtures import make_frames


@pytest.fixture(scope="module")
def normalized(spark):
    return normalize_frames(spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)).cache()


def _committed(ckpt: str) -> list[int]:
    """The batch ids in a query checkpoint's commit log."""
    return sorted(int(f) for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit())


def _wait_for(cond, timeout_s: float = 60.0) -> None:
    deadline = time.time() + timeout_s
    while not cond():
        assert time.time() < deadline, "timed out"
        time.sleep(0.05)


def _keys(rows) -> list:
    return sorted((r["time_us"], r["did"]) for r in rows)


@pytest.mark.timeout(300)
def test_hub_ticks_on_head_move_not_on_log_files(spark, tmp_path, normalized):
    """A batch file that lands without a state save (the crash window
    between the commit and the save) moves no head, so it runs no tick:
    neither `_on_tick` nor a new batch of the tick query. The state save
    that follows runs exactly one tick, which delivers the batch."""
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "hubckpt")
    head = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)

    hub = LiveTailHub(spark, log_dir, ckpt)
    ticks: list[int] = []
    on_tick = hub._on_tick

    def counted(batch_df, batch_id):
        ticks.append(batch_id)
        on_tick(batch_df, batch_id)

    hub._on_tick = counted
    delivered: list = []
    hub.register(Subscription(seq=head), delivered.extend)
    q = hub.start()
    try:
        q.processAllAvailable()
        n_ticks, n_batches = len(ticks), len(_committed(ckpt))

        sequenced, last, _ = sequence_events(normalized, head, wall_clock_us=head + 1)
        eventlog._commit_batch(sequenced, log_dir, 1)
        q.processAllAvailable()
        time.sleep(2.0)  # ~200 polls of the tick query
        q.processAllAvailable()
        assert q.exception() is None, q.exception()
        assert len(ticks) == n_ticks, "a file without a head move ticked the hub"
        assert len(_committed(ckpt)) == n_batches
        assert delivered == []

        SequencerState(last).save(log_dir)
        _wait_for(lambda: len(_committed(ckpt)) > n_batches)
        q.processAllAvailable()
        assert q.exception() is None, q.exception()
        assert len(ticks) == n_ticks + 1
        assert len(_committed(ckpt)) == n_batches + 1
    finally:
        hub.stop()
    assert _keys(delivered) == _keys(sequenced.to_pylist())


@pytest.mark.timeout(300)
def test_hub_resumes_on_a_file_source_checkpoint(spark, tmp_path, normalized):
    """A `_hub_ckpt` written by the file-source tick stream (offsets
    `{"logOffset": n}`, a seen-files log under sources/0) is resumed, not
    refused: the hub comes up clean on it, goes on numbering its batches,
    and delivers the next ingest_batch exactly once."""
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "hubckpt")
    head = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)
    old = (
        spark.readStream.schema("time_us bigint, hour_bucket bigint")
        .option("maxFilesPerTrigger", 1000)
        .option("ignoreMissingFiles", "true")
        .parquet(log_dir)
        .writeStream.foreachBatch(lambda df, batch_id: None)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        old.processAllAvailable()
        head = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=head + 1, batch_id=1)
        old.processAllAvailable()
        assert old.exception() is None, old.exception()
    finally:
        old.stop()
    old_batches = _committed(ckpt)
    assert old_batches == [0, 1]
    assert os.listdir(os.path.join(ckpt, "sources", "0"))

    delivered: list = []
    hub = LiveTailHub(spark, log_dir, ckpt)
    hub.register(Subscription(seq=head), delivered.extend)
    q = hub.start()
    try:
        q.processAllAvailable()
        assert q.exception() is None, f"hub refused the file-source checkpoint: {q.exception()}"
        resumed = len(_committed(ckpt))
        last = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=head + 1, batch_id=2)
        _wait_for(lambda: len(_committed(ckpt)) > resumed)
        q.processAllAvailable()
        assert q.exception() is None, q.exception()
    finally:
        hub.stop()
    assert _committed(ckpt)[: len(old_batches)] == old_batches
    assert _committed(ckpt)[-1] > old_batches[-1]
    new_keys = [k for k in _keys(eventlog.replay(spark, log_dir).collect()) if head < k[0] <= last]
    assert len(new_keys) == normalized.count()
    assert _keys(delivered) == new_keys, "the next batch must arrive exactly once"
