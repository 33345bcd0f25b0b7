"""The custom firehose data source (S1): offset progression, resume, and
composition with the normalize→sequence→log pipeline."""

from __future__ import annotations

import json
import os

import pytest

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.normalize import normalize_frames
from jetstream_spark.streaming.firehose import FirehoseDataSource
from tests.fixtures import make_frames


def _write_replay_files(replay_dir: str, frames: list[dict], per_file: int = 25) -> None:
    os.makedirs(replay_dir, exist_ok=True)
    for i in range(0, len(frames), per_file):
        chunk = frames[i : i + per_file]
        hi = max(f["seq"] for f in chunk)
        with open(os.path.join(replay_dir, f"frames_{hi}.jsonl"), "w") as f:
            for fr in chunk:
                f.write(json.dumps(fr) + "\n")


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(FirehoseDataSource)
    return spark


@pytest.mark.timeout(300)
def test_firehose_source_end_to_end(registered, tmp_path):
    spark = registered
    replay_dir = str(tmp_path / "replay")
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    frames = make_frames()
    _write_replay_files(replay_dir, frames)

    stream = (
        spark.readStream.format("atproto_firehose")
        .option("replay_dir", replay_dir)
        .option("numPartitions", "4")
        .load()
    )
    assert stream.isStreaming
    normalized = normalize_frames(stream)

    def handle(batch_df, batch_id):
        if not batch_df.isEmpty():
            eventlog.ingest_batch(batch_df, log_dir, wall_clock_us=1_000_000)

    q = (
        normalized.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    valid = [f for f in frames if f["did"] not in ("did:plc:toobig", "did:plc:badcid")]
    expected = sum(len(f["ops"] or []) if f["kind"] == "commit" else 1 for f in valid)
    log_df = eventlog.read_log(spark, log_dir)
    assert log_df.count() == expected
    times = [r["time_us"] for r in log_df.select("time_us").collect()]
    assert len(set(times)) == len(times)


@pytest.mark.timeout(300)
def test_firehose_source_resume_from_checkpoint(registered, tmp_path):
    """New replay files after restart are picked up from the checkpointed
    seq offset — no reprocessing (the S12 cursor-resume contract)."""
    spark = registered
    replay_dir = str(tmp_path / "replay")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    frames = make_frames()
    half = len(frames) // 2
    _write_replay_files(replay_dir, frames[:half])

    def run_until_drained():
        stream = (
            spark.readStream.format("atproto_firehose")
            .option("replay_dir", replay_dir)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_until_drained()
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == half

    _write_replay_files(replay_dir, frames[half:])
    run_until_drained()
    df = spark.read.parquet(out_dir)
    assert df.count() == len(frames), "resume must process exactly the new frames"
    assert df.select("seq").distinct().count() == len(frames), "no duplicate seqs"


# --- partition sizing (S2): seq span, capped by numPartitions ----------------
def _ranges(n_partitions: str, lo: int, hi: int) -> list[tuple[int, int]]:
    from jetstream_spark.streaming.firehose import FirehoseStreamReader

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


def _identity_frame(seq: int) -> dict:
    did = f"did:plc:u{seq % 5}"
    return {"kind": "identity", "did": did, "seq": seq,
            "identity": {"did": did, "handle": "h.test", "seq": seq, "time": "t"}}


@pytest.fixture(params=["replay_dir", "ws_url", "socket_url"])
def transport(request, tmp_path):
    """(options, head) for a relay holding seqs 1..head on one transport."""
    from jetstream_spark.streaming.firehose import MIN_SEQS_PER_PARTITION

    head = 100 + 2 * MIN_SEQS_PER_PARTITION + 200  # 2 partitions over (100, head]
    if request.param == "replay_dir":
        replay_dir = str(tmp_path / "replay")
        _write_replay_files(replay_dir, [_identity_frame(s) for s in range(1, head + 1)], per_file=400)
        yield {"replay_dir": replay_dir}, head
        return
    if request.param == "ws_url":
        from tests.test_firehose_ws import _commit_frame_bytes, _identity_frame_bytes, _WsRelay

        relay = _WsRelay()
        for s in range(1, head + 1):
            did = f"did:plc:u{s % 5}"
            relay.append(s, _commit_frame_bytes(s, did, f"post {s}") if s % 3 else _identity_frame_bytes(s, did))
    else:
        from tests.test_firehose_socket import _Relay

        relay = _Relay()
        relay.append([_identity_frame(s) for s in range(1, head + 1)])
    try:
        yield {request.param: f"127.0.0.1:{relay.port}"}, head
    finally:
        relay.stop()


@pytest.mark.timeout(120)
def test_partition_reads_cover_each_frame_once(transport):
    """Reading every partition of a multi-partition batch yields each frame
    of (lo, hi] exactly once: the first partition stops before the relay
    head and the next resumes mid-stream by cursor."""
    from jetstream_spark.streaming.firehose import FirehoseStreamReader

    options, head = transport
    reader = FirehoseStreamReader({**options, "numPartitions": "8"})
    parts = reader.partitions({"seq": 100}, {"seq": head})
    assert len(parts) == 2 and parts[0].end < head
    seqs = [row[2] for p in parts for row in reader.read(p)]
    assert sorted(seqs) == list(range(101, head + 1))
