"""wss:// (TLS) firehose transport end-to-end: a TLS-wrapped local relay
with a self-signed cert, dialed via the `wss://host:port` URL form + a
`tls_ca` bundle — the real relay's (wss://bsky.network) connection shape."""

from __future__ import annotations

import ssl
import subprocess

import pytest
from pyspark.sql import functions as F

from jetstream_spark.streaming.firehose import FirehoseDataSource, _ws_fetch
from tests.fixtures import WsRelay, commit_frame_bytes


@pytest.fixture(scope="module")
def certs(tmp_path_factory):
    d = tmp_path_factory.mktemp("certs")
    key, crt = str(d / "key.pem"), str(d / "cert.pem")
    subprocess.run(
        [
            "openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
            "-keyout", key, "-out", crt, "-days", "1",
            "-subj", "/CN=127.0.0.1",
            "-addext", "subjectAltName=IP:127.0.0.1",
        ],
        check=True,
        capture_output=True,
    )
    return key, crt


class _TlsWsRelay(WsRelay):
    """The plaintext test relay with its listening socket TLS-wrapped."""

    def __init__(self, key: str, crt: str):
        super().__init__()
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ctx.load_cert_chain(crt, key)
        self.server.socket = ctx.wrap_socket(self.server.socket, server_side=True)


@pytest.mark.timeout(300)
def test_wss_fetch_over_tls(certs, spark):
    key, crt = certs
    relay = _TlsWsRelay(key, crt)
    try:
        for i in range(1, 6):
            relay.append(i, commit_frame_bytes(i, f"did:plc:user{i}", f"tls post {i}"))
        frames = list(_ws_fetch(f"wss://127.0.0.1:{relay.port}", 0, 5, tls_ca=crt))
        assert [f["seq"] for f in frames] == [1, 2, 3, 4, 5]
        assert all(f["kind"] == "commit" for f in frames)
        # the ping sent on connect must still get its masked pong through TLS
        assert relay.pongs and all(m for m, _ in relay.pongs)
    finally:
        relay.stop()


@pytest.mark.timeout(300)
def test_wss_rejects_untrusted_cert(certs):
    key, crt = certs
    relay = _TlsWsRelay(key, crt)
    try:
        relay.append(1, commit_frame_bytes(1, "did:plc:u", "x"))
        with pytest.raises(ssl.SSLError):
            # no tls_ca → system trust → self-signed must be REJECTED
            list(_ws_fetch(f"wss://127.0.0.1:{relay.port}", 0, 1))
    finally:
        relay.stop()


@pytest.mark.timeout(300)
def test_wss_streaming_source_end_to_end(certs, spark, tmp_path):
    from jetstream_spark.atproto.normalize import normalize_frames

    key, crt = certs
    spark.dataSource.register(FirehoseDataSource)
    relay = _TlsWsRelay(key, crt)
    n = 8
    for i in range(1, n + 1):
        relay.append(i, commit_frame_bytes(i, f"did:plc:user{i % 3}", f"wss post {i}"))
    out_dir = str(tmp_path / "out")
    try:
        stream = (
            spark.readStream.format("atproto_firehose")
            .option("ws_url", f"wss://127.0.0.1:{relay.port}")
            .option("tls_ca", crt)
            .option("numPartitions", "2")
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
    assert df.count() == n
    assert df.where(F.col("type") == "com").count() == n
