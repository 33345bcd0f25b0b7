"""The REAL upstream protocol end-to-end: a local websocket relay serving
`com.atproto.sync.subscribeRepos`-style BINARY frames (DAG-CBOR header+body,
commits carrying genuine CAR archives), consumed by the firehose DataSource
via its ws_url transport — RFC 6455 dial, cursor semantics, CAR/CBOR decode
of the frames the driver's relay connection received."""

from __future__ import annotations

import json

import pytest

from jetstream_spark.atproto.carcbor import cbor_encode, decode_xrpc_frame
from jetstream_spark.streaming.firehose import FirehoseDataSource
from tests.fixtures import (
    WsRelay,
    account_frame_bytes,
    commit_frame_bytes,
    identity_frame_bytes,
    wire_frame,
)


def test_decode_xrpc_frame_kinds():
    f = decode_xrpc_frame(commit_frame_bytes(7, "did:plc:x", "hello"))
    assert f["kind"] == "commit" and f["seq"] == 7 and f["did"] == "did:plc:x"
    op = f["ops"][0]
    assert op["cid"] == op["record_cid"] and op["cid"].startswith("baf")
    assert json.loads(op["record_json"])["text"] == "hello"

    record = {"$type": "app.bsky.feed.post", "text": "kept"}
    two_ops = {
        "kind": "commit", "did": "did:plc:x", "seq": 10, "rev": "rev10", "too_big": False,
        "ops": [
            {"action": "create", "path": "app.bsky.feed.post/rk1", "cid": "c1",
             "record_json": json.dumps(record), "record_cid": "c1"},
            {"action": "delete", "path": "app.bsky.feed.post/rk2", "cid": None,
             "record_json": None, "record_cid": None},
        ],
    }
    created, deleted = decode_xrpc_frame(wire_frame(two_ops))["ops"]
    assert json.loads(created["record_json"]) == record
    assert deleted["action"] == "delete" and deleted["cid"] is None
    assert deleted["record_json"] is None, "deletes carry no record"

    a = decode_xrpc_frame(account_frame_bytes(8, "did:plc:a"))
    assert a["kind"] == "account" and a["account"]["active"] is True

    i = decode_xrpc_frame(identity_frame_bytes(9, "did:plc:i"))
    assert i["kind"] == "identity" and i["identity"]["handle"] == "user9.test"

    info = cbor_encode({"op": 1, "t": "#info"}) + cbor_encode({"name": "OutdatedCursor"})
    assert decode_xrpc_frame(info) is None, "unknown frames are skipped"

    err = cbor_encode({"op": -1}) + cbor_encode({"error": "FutureCursor", "message": "nope"})
    with pytest.raises(RuntimeError):
        decode_xrpc_frame(err)


@pytest.mark.timeout(300)
def test_firehose_ws_binary_cbor_end_to_end(spark, tmp_path):
    from pyspark.sql import functions as F

    from jetstream_spark.atproto.normalize import normalize_frames

    spark.dataSource.register(FirehoseDataSource)
    relay = WsRelay()
    n_commits, dids = 12, 3
    for i in range(1, n_commits + 1):
        relay.append(i, commit_frame_bytes(i, f"did:plc:user{i % dids}", f"ws post {i}"))
    relay.append(n_commits + 1, account_frame_bytes(n_commits + 1, "did:plc:acct"))
    relay.append(n_commits + 2, identity_frame_bytes(n_commits + 2, "did:plc:iden"))

    out_dir = str(tmp_path / "out")
    try:
        stream = (
            spark.readStream.format("atproto_firehose")
            .option("ws_url", f"127.0.0.1:{relay.port}")
            .load()
        )
        q = (
            normalize_frames(stream).writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        relay.stop()

    df = spark.read.parquet(out_dir)
    assert df.count() == n_commits + 2
    kinds = {r["type"] for r in df.select("type").distinct().collect()}
    assert kinds == {"com", "acc", "id"}
    texts = {
        json.loads(r["record"])["text"]
        for r in df.where(F.col("type") == "com")
        .select(F.col("commit.record").alias("record"))
        .collect()
    }
    assert texts == {f"ws post {i}" for i in range(1, n_commits + 1)}

    # every ws connection was pinged on connect; the client must have
    # answered each with a MASKED pong echoing the ping payload
    assert relay.pongs, "client never answered the relay's ping"
    assert all(masked and body == b"hb" for masked, body in relay.pongs)

    # the relay served ONLY the subscribe socket: the source must not have
    # probed /head (or any other plain-HTTP route) — every batch came from
    # the driver's one relay connection, the reference's own information
    # source
    assert relay.non_ws_requests == [], relay.non_ws_requests


@pytest.mark.timeout(300)
def test_firehose_ws_checkpoint_resume_without_head_route(spark, tmp_path):
    """Stop the query mid-stream, append more frames, restart on the same
    checkpoint: every event exactly once, against a relay that serves
    nothing but the subscribe socket (no /head)."""
    from jetstream_spark.atproto.normalize import normalize_frames

    spark.dataSource.register(FirehoseDataSource)
    relay = WsRelay()
    for i in range(1, 9):
        relay.append(i, commit_frame_bytes(i, f"did:plc:u{i % 2}", f"resume post {i}"))

    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_until_drained():
        stream = (
            spark.readStream.format("atproto_firehose")
            .option("ws_url", f"127.0.0.1:{relay.port}")
            .load()
        )
        q = (
            normalize_frames(stream).writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    try:
        run_until_drained()
        assert spark.read.parquet(out_dir).count() == 8
        for i in range(9, 15):
            relay.append(i, commit_frame_bytes(i, "did:plc:late", f"resume post {i}"))
        run_until_drained()
    finally:
        relay.stop()

    df = spark.read.parquet(out_dir)
    assert df.count() == 14, "resume must deliver the new frames exactly once"
    import json as _json

    texts = sorted(
        _json.loads(r["record"])["text"]
        for r in df.selectExpr("commit.record as record").collect()
    )
    assert texts == sorted(f"resume post {i}" for i in range(1, 15))
    assert relay.non_ws_requests == [], relay.non_ws_requests
