"""The engine's one RFC 6455 websocket client (stdlib only).

Both websocket clients run on it: the firehose source dialing the relay's
`com.atproto.sync.subscribeRepos` (streaming/firehose.py, binary frames)
and the subscriber client library dialing the edge's `/subscribe`
(client.py, text frames). It does three things:

  - `dial`: TCP connect (TLS-wrapped for `wss://`, with an optional CA
    bundle) and the client handshake, up to the server's 101;
  - `read_messages`: the frame-read loop, yielding the payloads of one
    data opcode;
  - masked control replies: client-to-server frames MUST be masked
    (RFC 6455 §5.1: a server closes the connection on an unmasked client
    frame), so pings get masked pongs (§5.5.3) and a server close gets a
    masked close. A spec-conforming upstream that pings idle clients (the
    real relay does) keeps the connection alive instead of timing it out.

The server side (handshake accept, unmasked frames) lives in
serving/edge.py.
"""

from __future__ import annotations

import base64
import os
import socket

TEXT, BINARY, CLOSE, PING, PONG = 0x1, 0x2, 0x8, 0x9, 0xA


def parse_url(url: str) -> tuple[bool, str, int]:
    """`[ws://|wss://]host:port` → (tls, host, port). A `wss://` scheme
    turns on TLS — the real relay (wss://bsky.network) is TLS-only."""
    tls = False
    if url.startswith("wss://"):
        tls, url = True, url[len("wss://"):]
    elif url.startswith("ws://"):
        url = url[len("ws://"):]
    host, port = url.rsplit(":", 1)
    return tls, host, int(port)


def dial(url: str, path: str, tls_ca: str | None = None, timeout: float = 60.0):
    """Connect to `url` and upgrade `GET path` → (socket, buffered reader
    positioned after the handshake headers). `tls_ca` points at a CA
    bundle for private relays/tests; default = system trust + hostname
    verification (ssl.create_default_context). A refused upgrade raises
    ConnectionError."""
    tls, host, port = parse_url(url)
    sock = socket.create_connection((host, port), timeout=timeout)
    try:
        if tls:
            import ssl

            ctx = ssl.create_default_context(cafile=tls_ca or None)
            sock = ctx.wrap_socket(sock, server_hostname=host)
        key = base64.b64encode(os.urandom(16)).decode()
        sock.sendall(
            (
                f"GET {path} HTTP/1.1\r\nHost: {host}\r\nUpgrade: websocket\r\n"
                f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        f = sock.makefile("rb")
        status = f.readline().decode()
        if "101" not in status:
            raise ConnectionError(f"websocket upgrade rejected: {status.strip()}")
        while f.readline().strip():
            pass  # drain handshake headers
    except BaseException:
        sock.close()
        raise
    return sock, f


def read_messages(sock, f, opcode: int):
    """Yield the payloads of `opcode` frames (TEXT or BINARY) from one
    connection until the server closes or the stream ends. Pings are
    answered with masked pongs and a server close with a masked close;
    frames of any other opcode are drained and ignored."""

    def read_exact(k: int) -> bytes:
        buf = f.read(k)
        if buf is None or len(buf) < k:
            raise EOFError
        return buf

    while True:
        try:
            h = read_exact(2)
        except EOFError:
            return
        op = h[0] & 0x0F
        ln = h[1] & 0x7F
        if ln == 126:
            ln = int.from_bytes(read_exact(2), "big")
        elif ln == 127:
            ln = int.from_bytes(read_exact(8), "big")
        payload = read_exact(ln) if ln else b""
        if op == PING:
            send_masked_frame(sock, PONG, payload)
        elif op == CLOSE:
            try:
                send_masked_frame(sock, CLOSE)
            except OSError:
                pass
            return
        elif op == opcode:
            yield payload


def send_masked_frame(sock, opcode: int, payload: bytes = b"") -> None:
    """One masked, FIN-flagged client frame."""
    mask = os.urandom(4)
    n = len(payload)
    head = bytearray([0x80 | (opcode & 0x0F)])
    if n < 126:
        head.append(0x80 | n)
    elif n < 1 << 16:
        head.append(0x80 | 126)
        head += n.to_bytes(2, "big")
    else:
        head.append(0x80 | 127)
        head += n.to_bytes(8, "big")
    head += mask
    sock.sendall(bytes(head) + bytes(b ^ mask[i & 3] for i, b in enumerate(payload)))
