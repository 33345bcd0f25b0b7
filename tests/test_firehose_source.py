"""The custom firehose data source (S1): the golden frame set over the
relay's websocket, composed with the normalize→sequence→log pipeline;
the `batch_size` bound on every batch, crash replay by re-dial, and an
error frame failing the query."""

from __future__ import annotations

import json
import os

import pytest

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.carcbor import cbor_encode
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
from jetstream_spark.streaming.firehose import FirehoseDataSource
from jetstream_spark.streaming.pipeline import start_ingest
from tests.fixtures import WsRelay, commit_frame_bytes, make_frames, wire_frame


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(FirehoseDataSource)
    return spark


def _golden_relay(frames: list[dict]) -> WsRelay:
    relay = WsRelay()
    for frame in frames:
        relay.append(frame["seq"], wire_frame(frame))
    return relay


def _commit_relay(n: int) -> WsRelay:
    """A relay holding seqs 1..n, one #commit each, record key `rk{seq}`."""
    relay = WsRelay()
    for s in range(1, n + 1):
        relay.append(s, commit_frame_bytes(s, f"did:plc:u{s % 5}", f"post {s}"))
    return relay


def _firehose_stream(spark, relay: WsRelay, batch_size: int | None = None):
    reader = spark.readStream.format("atproto_firehose").option("ws_url", f"127.0.0.1:{relay.port}")
    if batch_size is not None:
        reader = reader.option("batch_size", str(batch_size))
    return reader.load()


def _ingest_until_drained(spark, relay: WsRelay, log_dir: str, ckpt: str, batch_size: int) -> None:
    q = start_ingest(_firehose_stream(spark, relay, batch_size), log_dir, ckpt, wall_clock_us=1_000_000)
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _source_offsets(ckpt: str) -> dict[int, int]:
    """batch id → the end seq the offset log planned for it."""
    out = {}
    for name in os.listdir(os.path.join(ckpt, "offsets")):
        if name.isdigit():
            with open(os.path.join(ckpt, "offsets", name)) as f:
                out[int(name)] = json.loads(f.read().splitlines()[-1])["seq"]
    return out


def _committed(ckpt: str) -> set[int]:
    return {int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit()}


def _assert_each_commit_once(spark, log_dir: str, n: int) -> None:
    rows = eventlog.read_log(spark, log_dir).select("time_us", "commit.rkey").collect()
    assert sorted(r["rkey"] for r in rows) == sorted(f"rk{s}" for s in range(1, n + 1))
    assert len({r["time_us"] for r in rows}) == n


def test_stream_without_ws_url_raises():
    """The relay's websocket is the source's only wire: a stream without
    (or with a malformed) ws_url fails when the reader is built, naming
    the option, instead of reading nothing forever."""
    for options in ({}, {"ws_url": ""}, {"ws_url": "no-port"}, {"replay_dir": "/tmp/frames"}):
        with pytest.raises(ValueError, match="ws_url"):
            FirehoseDataSource(options).simpleStreamReader(RAW_FRAME_SCHEMA)


@pytest.mark.timeout(120)
def test_reads_take_each_frame_once_across_a_redial():
    """The relay connection's thread fills the buffer while `read` drains
    it, with the interpreter switching threads as often as it can. The
    test relay closes a connection after 2 s without new frames, so a
    pause in reading makes the connection re-dial from the last seq read,
    dropping what it had buffered past it, and the second half of the
    frames arrives on the new connection. The batches still hold each
    seq once, in order, at most `batch_size` frames each."""
    import sys
    import time

    half, batch_size = 150, 7
    relay = _commit_relay(half)
    options = {"ws_url": f"127.0.0.1:{relay.port}", "batch_size": str(batch_size)}
    reader = FirehoseDataSource(options).simpleStreamReader(RAW_FRAME_SCHEMA)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    seqs, offset, paused = [], reader.initialOffset(), False
    deadline = time.monotonic() + 60
    try:
        while offset["seq"] < 2 * half and time.monotonic() < deadline:
            rows, end = reader.read(offset)
            batch = [row[2] for row in rows]
            assert len(batch) <= batch_size
            assert end["seq"] == (batch[-1] if batch else offset["seq"])
            seqs += batch
            offset = end
            if not batch:
                time.sleep(0.01)
            if not paused and len(seqs) >= 10 * batch_size:
                paused = True
                time.sleep(2.5)  # the relay closes the idle connection
            if offset["seq"] == half and len(relay.frames) == half:
                for s in range(half + 1, 2 * half + 1):
                    relay.append(s, commit_frame_bytes(s, "did:plc:late", f"post {s}"))
    finally:
        sys.setswitchinterval(interval)
        reader.stop()
        relay.stop()
    assert seqs == list(range(1, 2 * half + 1))
    assert len(relay.dials) >= 2 and 0 < relay.dials[1] <= half, relay.dials


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
    A `batch_size` below the golden set's frame count makes the batches."""
    spark = registered
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    relay = _golden_relay(make_frames())
    try:
        _ingest_until_drained(spark, relay, log_dir, ckpt, batch_size=20)
    finally:
        relay.stop()

    # every batch Spark committed is done-marked, and so is every batch
    # that left a file in the (single) hour bucket
    committed = _committed(ckpt)
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


@pytest.mark.timeout(300)
def test_first_batch_bounded_by_batch_size(registered, tmp_path):
    """A relay backlog of 2.5 × `batch_size` frames waiting before the
    query starts is read in batches of at most `batch_size` seqs, the
    first batch included, and every frame lands in the log once."""
    spark = registered
    batch_size = 40
    n = batch_size * 5 // 2
    log_dir, ckpt = str(tmp_path / "log"), str(tmp_path / "ckpt")
    relay = _commit_relay(n)
    try:
        _ingest_until_drained(spark, relay, log_dir, ckpt, batch_size)
    finally:
        relay.stop()

    ends = _source_offsets(ckpt)
    assert sorted(ends) == sorted(_committed(ckpt)) and len(ends) >= 3
    starts = [0] + [ends[b] for b in sorted(ends)][:-1]
    spans = [ends[b] - lo for b, lo in zip(sorted(ends), starts)]
    assert all(0 < span <= batch_size for span in spans), spans
    assert ends[max(ends)] == n
    _assert_each_commit_once(spark, log_dir, n)


@pytest.mark.timeout(300)
def test_crash_replay_rereads_batch_by_redial(registered, tmp_path):
    """A batch in the offset log but not committed (a crash after its log
    append, before its commit and done-marker) is re-read on restart by
    readBetweenOffsets, which dials the relay from the batch's start
    seq, and its delete-before-rewrite leaves every event once."""
    spark = registered
    batch_size = 40
    n = batch_size * 5 // 2
    log_dir, ckpt = str(tmp_path / "log"), str(tmp_path / "ckpt")
    relay = _commit_relay(n)
    try:
        _ingest_until_drained(spark, relay, log_dir, ckpt, batch_size)
        ends = _source_offsets(ckpt)
        last = max(ends)
        assert last >= 1 and _committed(ckpt) == set(ends)
        for name in (str(last), f".{last}.crc"):  # the commit and its checksum
            os.remove(os.path.join(ckpt, "commits", name))
        done = sorted(eventlog.load_done_batches(log_dir) - {last})
        with open(os.path.join(log_dir, eventlog.BATCH_STATE_FILE), "w") as f:
            json.dump(done, f)
        dials_before = len(relay.dials)

        _ingest_until_drained(spark, relay, log_dir, ckpt, batch_size)
        redials = relay.dials[dials_before:]
    finally:
        relay.stop()

    assert ends[last - 1] in redials, (ends, redials)
    assert _source_offsets(ckpt) == ends, "the replay re-planned nothing new"
    assert set(ends) <= _committed(ckpt) <= eventlog.load_done_batches(log_dir)
    _assert_each_commit_once(spark, log_dir, n)


@pytest.mark.timeout(300)
def test_error_frame_fails_the_query(registered, tmp_path):
    """An error frame (op = -1) mid-stream fails the ingest query, as it
    fails the reference's consumer (consumer.go:156-159): the frames
    before it land, and none after it is read past it."""
    from pyspark.errors import StreamingQueryException

    spark = registered
    batch_size = 10
    log_dir, ckpt = str(tmp_path / "log"), str(tmp_path / "ckpt")
    relay = _commit_relay(batch_size)
    relay.append(batch_size + 1, cbor_encode({"op": -1}) + cbor_encode({"error": "FutureCursor", "message": "nope"}))
    for s in range(batch_size + 2, batch_size + 6):
        relay.append(s, commit_frame_bytes(s, "did:plc:late", f"post {s}"))
    try:
        with pytest.raises(StreamingQueryException, match="error frame from firehose"):
            _ingest_until_drained(spark, relay, log_dir, ckpt, batch_size)
    finally:
        relay.stop()
    _assert_each_commit_once(spark, log_dir, batch_size)
