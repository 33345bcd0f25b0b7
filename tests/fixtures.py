"""Synthetic firehose frames for golden pipeline tests (FIXTURES.md §A),
and the two wires they travel.

`make_frames` is deterministic (seed=7). It includes everything §A.3
requires: creates, updates, deletes (no record/cid), interleaved
account/identity events, one TooBig commit, one CID-mismatch op — the
latter two must be absent from normalized output (consumer.go:105-108,
229-231). `wire_frame` encodes them as subscribeRepos frames and `WsRelay`
serves such frames, as the relay does; `subscribe_ws` reads the edge's
`/subscribe` websocket, as the reference's clients do.
"""

from __future__ import annotations

import contextlib
import json
import random
import socketserver
import threading
import time
from itertools import islice

from jetstream_spark import wsutil
from jetstream_spark.atproto.carcbor import cbor_encode, cid_for_block, encode_car, link, mst_build
from jetstream_spark.serving.edge import SubscribeServer

COLLECTIONS = ["app.bsky.feed.post", "app.bsky.feed.like", "app.bsky.graph.follow"]


def make_frames(n_commits: int = 40, seed: int = 7) -> list[dict]:
    rng = random.Random(seed)
    frames: list[dict] = []
    seq = 1000
    for i in range(n_commits):
        did = f"did:plc:user{i % 7:03d}"
        coll = COLLECTIONS[i % len(COLLECTIONS)]
        action = ["create", "update", "delete"][i % 3]
        cid = f"bafyrei{i:05d}"
        record = json.dumps({"$type": coll, "text": f"msg {i}", "n": rng.randrange(100)})
        op = {
            "action": action,
            "path": f"{coll}/rkey{i:04d}",
            "cid": cid if action != "delete" else None,
            "record_json": record if action != "delete" else None,
            "record_cid": cid if action != "delete" else None,
        }
        frames.append(
            {
                "kind": "commit",
                "did": did,
                "seq": seq,
                "rev": f"rev{i:04d}",
                "too_big": False,
                "ops": [op],
                "account": None,
                "identity": None,
            }
        )
        seq += 1
        if i % 10 == 3:  # interleave account events
            frames.append(
                {
                    "kind": "account",
                    "did": did,
                    "seq": seq,
                    "rev": None,
                    "too_big": None,
                    "ops": None,
                    "account": {"active": True, "did": did, "seq": seq, "time": "2024-01-01T00:00:00Z", "status": None},
                    "identity": None,
                }
            )
            seq += 1
        if i % 10 == 6:  # interleave identity events
            frames.append(
                {
                    "kind": "identity",
                    "did": did,
                    "seq": seq,
                    "rev": None,
                    "too_big": None,
                    "ops": None,
                    "account": None,
                    "identity": {"did": did, "handle": f"user{i}.bsky.social", "seq": seq, "time": "2024-01-01T00:00:00Z"},
                }
            )
            seq += 1

    # a TooBig commit — must be dropped (consumer.go:105-108)
    frames.append(
        {
            "kind": "commit",
            "did": "did:plc:toobig",
            "seq": seq,
            "rev": "revbig",
            "too_big": True,
            "ops": [
                {
                    "action": "create",
                    "path": "app.bsky.feed.post/rkeybig",
                    "cid": "bafybig",
                    "record_json": "{}",
                    "record_cid": "bafybig",
                }
            ],
            "account": None,
            "identity": None,
        }
    )
    seq += 1
    # a CID-mismatch op — must be dropped (consumer.go:229-231)
    frames.append(
        {
            "kind": "commit",
            "did": "did:plc:badcid",
            "seq": seq,
            "rev": "revbad",
            "too_big": False,
            "ops": [
                {
                    "action": "create",
                    "path": "app.bsky.feed.post/rkeybad",
                    "cid": "bafyclaimed",
                    "record_json": "{}",
                    "record_cid": "bafyactual",
                }
            ],
            "account": None,
            "identity": None,
        }
    )
    return frames


def commit_frame_bytes(seq: int, did: str, text: str) -> bytes:
    """One subscribeRepos #commit wire frame: CBOR header + CBOR body with a
    real CAR in `blocks` and a tag-42 CID link in ops."""
    record = {"$type": "app.bsky.feed.post", "text": text}
    block = cbor_encode(record)
    cid = cid_for_block(block)
    body = {
        "seq": seq,
        "repo": did,
        "rev": f"rev{seq}",
        "time": "2024-01-01T00:00:00Z",
        "blocks": encode_car([block]),
        "ops": [{"action": "create", "path": f"app.bsky.feed.post/rk{seq}", "cid": link(cid)}],
        "tooBig": False,
    }
    return cbor_encode({"op": 1, "t": "#commit"}) + cbor_encode(body)


def account_frame_bytes(seq: int, did: str) -> bytes:
    body = {"seq": seq, "did": did, "time": "2024-01-01T00:00:00Z", "active": True}
    return cbor_encode({"op": 1, "t": "#account"}) + cbor_encode(body)


def identity_frame_bytes(seq: int, did: str) -> bytes:
    body = {"seq": seq, "did": did, "handle": f"user{seq}.test", "time": "2024-01-01T00:00:00Z"}
    return cbor_encode({"op": 1, "t": "#identity"}) + cbor_encode(body)


def wire_frame(frame: dict) -> bytes:
    """A make_frames() dict as the subscribeRepos wire frame a relay would
    send. A commit's CAR holds a commit block (the root), the repo MST over
    its records and the record blocks; each op links its record's real CID.
    An op whose `cid` differs from its `record_cid` (the CID-mismatch op)
    instead claims a CID that names no block in the CAR, so the decoder
    finds its record only by walking the MST by path."""
    kind = frame["kind"]
    if kind == "account":
        acct = frame["account"]
        body = {"seq": frame["seq"], "did": frame["did"], "time": acct["time"], "active": acct["active"]}
        return cbor_encode({"op": 1, "t": "#account"}) + cbor_encode(body)
    if kind == "identity":
        ident = frame["identity"]
        body = {"seq": frame["seq"], "did": frame["did"], "handle": ident["handle"], "time": ident["time"]}
        return cbor_encode({"op": 1, "t": "#identity"}) + cbor_encode(body)
    records, ops = {}, []
    for op in frame["ops"]:
        cid = None
        if op["record_json"] is not None:
            block = cbor_encode(json.loads(op["record_json"]))
            records[op["path"]] = block
            cid = cid_for_block(block)
            if op["cid"] != op["record_cid"]:
                cid = cid_for_block(cbor_encode({"claimed": op["cid"]}))
        ops.append({"action": op["action"], "path": op["path"], "cid": link(cid) if cid else None})
    root, blocks = mst_build(records)
    commit = cbor_encode({"did": frame["did"], "version": 3, "data": link(root), "rev": frame["rev"]})
    body = {
        "seq": frame["seq"],
        "repo": frame["did"],
        "rev": frame["rev"],
        "time": "2024-01-01T00:00:00Z",
        "blocks": encode_car([commit, *blocks.values()], roots=[cid_for_block(commit)]),
        "ops": ops,
        "tooBig": bool(frame["too_big"]),
    }
    return cbor_encode({"op": 1, "t": "#commit"}) + cbor_encode(body)


class WsRelay:
    """Local subscribeRepos stand-in: websocket upgrade on the xrpc path,
    binary CBOR frames with seq > cursor — and NOTHING else. Like the real
    relay (cmd/jetstream/main.go:294-328) it serves no `/head` or other
    out-of-band planning route: any non-upgrade request gets a 404 and is
    counted, so tests can assert the client never needed one."""

    def __init__(self):
        self.frames: list[tuple[int, bytes]] = []  # (seq, wire bytes)
        self.pongs: list[tuple[bool, bytes]] = []  # (was_masked, payload)
        self.non_ws_requests: list[str] = []  # paths probed without upgrade
        self.dials: list[int] = []  # the cursor of every subscribe upgrade
        self.lock = threading.Lock()
        outer = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self) -> None:
                try:
                    request_line = self.rfile.readline().decode()
                    headers = {}
                    while True:
                        line = self.rfile.readline().decode()
                        if not line.strip():
                            break
                        k, _, v = line.partition(":")
                        headers[k.strip().lower()] = v.strip()
                    path = request_line.split()[1]
                    if headers.get("upgrade", "").lower() != "websocket":
                        with outer.lock:
                            outer.non_ws_requests.append(path)
                        self.wfile.write(b"HTTP/1.1 404 Not Found\r\n\r\n")
                        return
                    key = headers.get("sec-websocket-key", "")
                    accept = SubscribeServer._ws_accept(key)
                    self.wfile.write(
                        (
                            "HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
                            f"Connection: Upgrade\r\nSec-WebSocket-Accept: {accept}\r\n\r\n"
                        ).encode()
                    )
                    cursor = 0
                    if "cursor=" in path:
                        cursor = int(path.split("cursor=")[1].split("&")[0])
                    with outer.lock:
                        outer.dials.append(cursor)
                    # a spec-conforming relay pings idle clients; the client
                    # MUST answer with a MASKED pong (RFC 6455 §5.1/§5.5.3)
                    self.wfile.write(SubscribeServer._ws_frame(b"hb", opcode=0x9))
                    self.wfile.flush()
                    self.connection.settimeout(10)
                    h = self.rfile.read(2)
                    if len(h) == 2 and (h[0] & 0x0F) == 0xA:
                        masked = bool(h[1] & 0x80)
                        ln = h[1] & 0x7F
                        mask = self.rfile.read(4) if masked else b""
                        body = self.rfile.read(ln)
                        if masked:
                            body = bytes(b ^ mask[i & 3] for i, b in enumerate(body))
                        with outer.lock:
                            outer.pongs.append((masked, body))
                    sent = cursor
                    idle = 0
                    while idle < 40:
                        with outer.lock:
                            out = [(s, w) for s, w in outer.frames if s > sent]
                        if out:
                            idle = 0
                            for s, wire in out:
                                self.wfile.write(SubscribeServer._ws_frame(wire, opcode=0x2))
                                sent = s
                            self.wfile.flush()
                        else:
                            idle += 1
                            time.sleep(0.05)
                except (BrokenPipeError, ConnectionResetError):
                    pass

        self.server = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.port = self.server.server_address[1]
        threading.Thread(target=self.server.serve_forever, daemon=True).start()

    def append(self, seq: int, wire: bytes) -> None:
        with self.lock:
            self.frames.append((seq, wire))

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()


@contextlib.contextmanager
def subscribe_ws(port: int, query: str = "", timeout: float = 60.0):
    """Dial the edge's /subscribe over websocket, as the reference's
    clients do; yields an iterator of the decoded event frames."""
    sock, f = wsutil.dial(f"127.0.0.1:{port}", "/subscribe" + (f"?{query}" if query else ""), timeout=timeout)
    try:
        yield (json.loads(payload) for payload in wsutil.read_messages(sock, f, wsutil.TEXT))
    finally:
        sock.close()


def read_subscribe(port: int, query: str, n: int, timeout: float = 60.0) -> list[dict]:
    """The first `n` frames of one /subscribe connection (fewer if the
    server closes it first)."""
    with subscribe_ws(port, query, timeout) as frames:
        return list(islice(frames, n))


def drain_via_edge(spark, log_dir: str, sub, limit: int, deliver) -> int:
    """A cursor subscriber's replay rounds as the serving edge runs them —
    SubscribeServer._fetch_batch, deliver, sub.advance — but drained until
    a round comes back empty instead of stopping once caught up, so a test
    sees the whole log (or what maintenance left of it). Returns the
    delivered count."""
    from jetstream_spark.serving.edge import SubscribeServer

    server = SubscribeServer(spark, log_dir)
    delivered = 0
    while batch := server._fetch_batch(sub, limit):
        deliver(batch)
        delivered += len(batch)
        sub.advance(batch[-1]["time_us"])
    return delivered


def commit_batch_once(body, state_dir: str, batch_df, batch_id: int) -> None:
    """One micro-batch through the shared exactly-once handler, with a
    stream module's commit body `body(state_dir, batch_df, batch_id)` —
    what its standing query runs per batch, minus Structured Streaming."""
    from functools import partial

    from jetstream_spark.streaming.pipeline import commit_once

    commit_once(state_dir, partial(body, state_dir), batch_df, batch_id)
