"""The custom firehose data source (S1): the golden frame set over the
relay's websocket, composed with the normalize→sequence→log pipeline,
and partition sizing and coverage."""

from __future__ import annotations

import os

import pytest

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
from jetstream_spark.streaming.firehose import FirehoseDataSource, FirehoseStreamReader
from jetstream_spark.streaming.pipeline import start_ingest
from tests.fixtures import (
    WsRelay,
    commit_frame_bytes,
    identity_frame_bytes,
    make_frames,
    wire_frame,
)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(FirehoseDataSource)
    return spark


def _golden_relay(frames: list[dict]) -> WsRelay:
    relay = WsRelay()
    for frame in frames:
        relay.append(frame["seq"], wire_frame(frame))
    return relay


def _firehose_stream(spark, relay: WsRelay):
    return (
        spark.readStream.format("atproto_firehose")
        .option("ws_url", f"127.0.0.1:{relay.port}")
        .option("numPartitions", "4")
        .load()
    )


def test_stream_without_ws_url_raises():
    """The relay's websocket is the source's only wire: a stream without
    (or with a malformed) ws_url fails when the reader is built, naming
    the option, instead of reading nothing forever."""
    for options in ({}, {"ws_url": ""}, {"ws_url": "no-port"}, {"replay_dir": "/tmp/frames"}):
        with pytest.raises(ValueError, match="ws_url"):
            FirehoseDataSource(options).streamReader(RAW_FRAME_SCHEMA)


@pytest.mark.timeout(300)
def test_firehose_source_end_to_end(registered, tmp_path):
    spark = registered
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    frames = make_frames()
    relay = _golden_relay(frames)
    try:
        stream = _firehose_stream(spark, relay)
        assert stream.isStreaming
        q = start_ingest(stream, log_dir, ckpt, wall_clock_us=1_000_000)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        relay.stop()

    valid = [f for f in frames if f["did"] not in ("did:plc:toobig", "did:plc:badcid")]
    expected = sum(len(f["ops"] or []) if f["kind"] == "commit" else 1 for f in valid)
    log_df = eventlog.read_log(spark, log_dir)
    assert log_df.count() == expected
    times = [r["time_us"] for r in log_df.select("time_us").collect()]
    assert len(set(times)) == len(times)


@pytest.mark.timeout(300)
def test_firehose_ingest_marks_batches_done_and_bucket_compacts(registered, tmp_path):
    """The firehose ingest path writes a done-marker for every batch it
    commits, so a bucket it filled is compactable: with no marker every
    batch-tagged file stays pending and compact_bucket refuses (-1).

    Two runs on one checkpoint make the two batches: `batch_size` bounds
    only the batches after a start's first, which reads the whole backlog
    the relay holds, and a restart's first plan waits for the relay to go
    quiet, so neither run can finish before its frames arrive."""
    spark = registered
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    frames = make_frames()
    half = len(frames) // 2
    relay = WsRelay()
    try:
        for part in (frames[:half], frames[half:]):
            for frame in part:
                relay.append(frame["seq"], wire_frame(frame))
            q = start_ingest(_firehose_stream(spark, relay), log_dir, ckpt, wall_clock_us=1_000_000)
            try:
                q.processAllAvailable()
            finally:
                q.stop()
    finally:
        relay.stop()

    # every batch Spark committed is done-marked, and so is every batch
    # that left a file in the (single) hour bucket
    committed = {int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()}
    done = eventlog.load_done_batches(log_dir)
    assert len(committed) >= 2 and committed <= done
    part = os.path.join(log_dir, "hour_bucket=0")
    files = [f for f in os.listdir(part) if f.endswith(".parquet")]
    writers = {eventlog._batch_id_of(f) for f in files}
    assert len(writers) >= 2 and writers <= done

    before = sorted(r["time_us"] for r in eventlog.read_log(spark, log_dir).select("time_us").collect())
    assert eventlog.compact_bucket(spark, log_dir, 0) == len(files)
    assert len([f for f in os.listdir(part) if f.endswith(".parquet")]) == 1
    after = sorted(r["time_us"] for r in eventlog.read_log(spark, log_dir).select("time_us").collect())
    assert after == before


# --- partition sizing (S2): seq span, capped by numPartitions ----------------
def _ranges(n_partitions: str, lo: int, hi: int) -> list[tuple[int, int]]:
    reader = FirehoseStreamReader({"ws_url": "h:1", "numPartitions": n_partitions})
    return [(p.start, p.end) for p in reader.partitions({"seq": lo}, {"seq": hi})]


def _assert_tiles(ranges: list[tuple[int, int]], lo: int, hi: int) -> None:
    """Contiguous, gap-free, non-overlapping cover of (lo, hi]."""
    assert ranges[0][0] == lo and ranges[-1][1] == hi
    assert all(a_end == b_start for (_, a_end), (b_start, _) in zip(ranges, ranges[1:]))
    assert all(start < end for start, end in ranges)


def test_partitions_sized_by_seq_span():
    from jetstream_spark.streaming.firehose import MIN_SEQS_PER_PARTITION

    small = _ranges("8", 1_000, 1_200)
    assert small == [(1_000, 1_200)]
    big = _ranges("8", 0, 100_000)
    assert len(big) == 8
    _assert_tiles(big, 0, 100_000)
    odd_hi = 7 + 3 * MIN_SEQS_PER_PARTITION + 101  # 3 partitions, last one short
    odd = _ranges("8", 7, odd_hi)
    assert len(odd) == 3 and odd[-1][1] - odd[-1][0] < odd[0][1] - odd[0][0]
    _assert_tiles(odd, 7, odd_hi)
    assert _ranges("8", 50, 50) == [(50, 50)] and _ranges("8", 50, 40) == [(50, 50)]


@pytest.fixture(params=["ws_url"])
def transport(request):
    """(options, head) for a relay holding seqs 1..head."""
    from jetstream_spark.streaming.firehose import MIN_SEQS_PER_PARTITION

    head = 100 + 2 * MIN_SEQS_PER_PARTITION + 200  # 2 partitions over (100, head]
    relay = WsRelay()
    for s in range(1, head + 1):
        did = f"did:plc:u{s % 5}"
        relay.append(s, commit_frame_bytes(s, did, f"post {s}") if s % 3 else identity_frame_bytes(s, did))
    try:
        yield {request.param: f"127.0.0.1:{relay.port}"}, head
    finally:
        relay.stop()


@pytest.mark.timeout(120)
def test_partition_reads_cover_each_frame_once(transport):
    """Reading every partition of a multi-partition batch yields each frame
    of (lo, hi] exactly once: the first partition stops before the relay
    head and the next resumes mid-stream by cursor."""
    options, head = transport
    reader = FirehoseStreamReader({**options, "numPartitions": "8"})
    parts = reader.partitions({"seq": 100}, {"seq": head})
    assert len(parts) == 2 and parts[0].end < head
    seqs = [row[2] for p in parts for row in reader.read(p)]
    assert sorted(seqs) == list(range(101, head + 1))
