"""S1/S2 — the firehose as a Spark 4 Python data source.

The reference dials `com.atproto.sync.subscribeRepos` over a websocket and
fans frames to a worker pool (cmd/jetstream/main.go:294-328, worker pool
main.go:150). Here that becomes a `DataSource`/`DataSourceStreamReader`:

  * offsets = the upstream relay `seq` (the reference's cursor unit for
    the *upstream* connection — persist.go:19-23): `{"seq": N}`
  * partitions = contiguous seq sub-ranges per microbatch, sized by the
    batch's seq span: at least MIN_SEQS_PER_PARTITION seqs each, at most
    `numPartitions` of them (the cap plays the role of --worker-count; a
    small batch reads in one task, since each extra partition costs a
    relay dial and a Python-worker round trip). Every batch after the
    first spans at most `batch_size` seqs (default 1000: one partition),
    so several partitions, and the `numPartitions` cap, apply only to the
    first batch after a start, which `batch_size` does not limit and
    which can cover a relay backlog. Per-partition reads are independent,
    matching the pool's per-repo independence guarantee, S2/P5
  * each partition's `read()` yields RAW_FRAME_SCHEMA rows, running
    CAR/CBOR decode (S5/S8) inline via the pure-Python DAG-CBOR/CAR
    reader (atproto/carcbor.py — no libipld needed): frames carrying
    `blocks_b64` have their ops' records resolved from the CAR block
    index and transcoded to JSON; pre-decoded JSONL frames pass through.
    The transport is pluggable. Three transports exist:

    - `ws_url` ("host:port", "ws://host:port", or "wss://host:port" for
      TLS — the real relay's form; `tls_ca` option for private CAs): the
      REAL upstream protocol — RFC 6455 websocket dial (stdlib
      implementation) to `/xrpc/com.atproto.sync.subscribeRepos?cursor=N`,
      BINARY frames of DAG-CBOR header+body events with CAR blocks,
      decoded per partition by carcbor.decode_xrpc_frame
      (tests/test_firehose_ws.py and test_firehose_wss.py drive it against
      local plaintext and TLS relays end-to-end);
    - `socket_url` ("host:port"): the same dial/cursor semantics over
      HTTP-flavored ndjson lines (a simpler bridge wire;
      tests/test_firehose_socket.py, incl. checkpoint resume);
    - `replay_dir`: JSONL files (one per seq range, as a websocket→file
      bridge would produce), optionally carrying CAR via `blocks_b64`.

Register + use:

    spark.dataSource.register(FirehoseDataSource)
    spark.readStream.format("atproto_firehose")
         .option("replay_dir", path).option("batch_size", 500).load()
    # or .option("socket_url", "127.0.0.1:9944") for the live dial

The stream composes with normalize_frames → sequencer → log exactly like
the file-backed pipeline (tested in tests/test_firehose_source.py).
"""

from __future__ import annotations

import json
import os
import socket

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from jetstream_spark.atproto.carcbor import (
    CborError,
    decode_frame,
    decode_xrpc_frame,
    decode_xrpc_frame_seq,
)
from jetstream_spark.wsutil import send_masked_frame
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA


# Source partitions are sized by the batch's seq span: `numPartitions` is
# a cap, and a partition covers at least this many seqs, because each
# extra partition is one more relay dial and Python-worker task. Measured
# on 4 cores with the perfbench relay frames through the ingest handler,
# one partition was as fast or faster up to 5,000 seqs (a 1,000-seq batch
# took 1.2 s in one or two, 1.8 s in eight), and about 5,000 seqs per
# partition was fastest at 10,000-20,000 (numbers under ROADMAP item 2).
MIN_SEQS_PER_PARTITION = 5000


def _parse_dial_url(url: str) -> tuple[bool, str, int]:
    """`[ws://|wss://]host:port` → (tls, host, port). A `wss://` scheme
    turns on TLS — the real relay (wss://bsky.network) is TLS-only."""
    tls = False
    if url.startswith("wss://"):
        tls, url = True, url[len("wss://"):]
    elif url.startswith("ws://"):
        url = url[len("ws://"):]
    host, port = url.rsplit(":", 1)
    return tls, host, int(port)


def _dial(url: str, tls_ca: str = "") -> tuple[socket.socket, str]:
    """Connect (optionally TLS-wrapped) → (socket, host). `tls_ca` points
    at a CA bundle for private relays/tests; default = system trust +
    hostname verification (ssl.create_default_context)."""
    tls, host, port = _parse_dial_url(url)
    conn = socket.create_connection((host, port), timeout=60)
    if tls:
        import ssl

        ctx = ssl.create_default_context(cafile=tls_ca or None)
        conn = ctx.wrap_socket(conn, server_hostname=host)
    return conn, host


def _socket_request(socket_url: str, path: str, tls_ca: str = ""):
    """Dial `host:port`, send a GET, return a text file object positioned
    after the response headers (the body)."""
    conn, host = _dial(socket_url, tls_ca)
    conn.sendall(f"GET {path} HTTP/1.1\r\nHost: {host}\r\n\r\n".encode())
    f = conn.makefile("r", encoding="utf-8")
    f.readline()  # status line
    while f.readline().strip():  # drain headers
        pass
    return conn, f


def _socket_head(socket_url: str, tls_ca: str = "") -> int:
    """Relay head seq — the upstream equivalent of 'how far can this
    microbatch go'."""
    conn, f = _socket_request(socket_url, "/head", tls_ca)
    try:
        return int(f.readline().strip() or 0)
    finally:
        conn.close()


def _socket_fetch(socket_url: str, start: int, end: int):
    """The reference's dial semantics (main.go:294-328): connect with
    `?cursor=start`, receive frames with seq > start in seq order, detach
    after passing `end`. Each partition dials independently — the S2
    worker-pool shape."""
    conn, f = _socket_request(socket_url, f"/subscribe?cursor={start}")
    try:
        for line in f:
            if not line.strip():
                continue
            frame = json.loads(line)
            seq = frame["seq"]
            if seq > end:
                break
            if seq > start:
                yield frame
            if seq >= end:
                break
    finally:
        conn.close()


def _ws_dial(ws_url: str, path: str, tls_ca: str = ""):
    """RFC 6455 client handshake → (socket, buffered reader past headers).
    A `wss://` scheme in ws_url dials through TLS (the real relay's form)."""
    import base64 as _b64
    import os as _os

    key = _b64.b64encode(_os.urandom(16)).decode()
    conn, host = _dial(ws_url, tls_ca)
    conn.sendall(
        (
            f"GET {path} HTTP/1.1\r\nHost: {host}\r\nUpgrade: websocket\r\n"
            f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode()
    )
    f = conn.makefile("rb")
    status = f.readline().decode()
    if "101" not in status:
        conn.close()
        raise ConnectionError(f"websocket upgrade rejected: {status.strip()}")
    while f.readline().strip():
        pass
    return conn, f


def _ws_binary_payloads(conn, f):
    """Yield the BINARY payloads of one websocket connection, answering
    pings with masked pongs (RFC 6455 §5.5.3) and stopping on close/EOF."""
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
        opcode = h[0] & 0x0F
        ln = h[1] & 0x7F
        if ln == 126:
            ln = int.from_bytes(read_exact(2), "big")
        elif ln == 127:
            ln = int.from_bytes(read_exact(8), "big")
        payload = read_exact(ln) if ln else b""
        if opcode == 0x9:  # relay ping → masked pong (RFC 6455 §5.5.3)
            send_masked_frame(conn, 0xA, payload)
            continue
        if opcode == 0x8:  # server close
            return
        if opcode != 0x2:  # subscribeRepos frames are binary
            continue
        yield payload


def _ws_fetch(ws_url: str, start: int, end: int, tls_ca: str = ""):
    """The REAL upstream protocol (cmd/jetstream/main.go:294-328):
    websocket dial with `?cursor=start`, each BINARY frame a DAG-CBOR
    header+body event (`com.atproto.sync.subscribeRepos`), decoded by
    carcbor.decode_xrpc_frame — CAR blocks and all. Detach past `end`."""
    conn, f = _ws_dial(ws_url, f"/xrpc/com.atproto.sync.subscribeRepos?cursor={start}", tls_ca)
    try:
        for payload in _ws_binary_payloads(conn, f):
            try:
                frame = decode_xrpc_frame(payload)
            except CborError:
                # one corrupt wire frame is data, not a task-killing event:
                # skip it exactly like unknown event types (the reference's
                # HandleRepoStream default case); error FRAMES (op = -1)
                # still raise via decode_xrpc_frame itself.
                continue
            if frame is None:
                continue
            seq = frame["seq"]
            if seq > end:
                return
            if seq > start:
                yield frame
            if seq >= end:
                return
    finally:
        conn.close()


class _WsTail:
    """Planning-side head tracker for the ws transport. The real
    `com.atproto.sync.subscribeRepos` relay serves NOTHING but the
    subscribe socket (cmd/jetstream/main.go:294-328), so microbatch
    planning can't ask an out-of-band route how far it may read. Instead
    the driver keeps ONE persistent tail subscription and uses the highest
    seq it has observed on the wire as `latestOffset` — exactly the
    information the reference's consumer loop has. The tail decodes only
    each frame's seq (decode_xrpc_frame_seq — no CAR walk); full decode
    stays in the executor partitions. Reconnects with `?cursor=<last
    seen>` on any socket error, so planning survives relay restarts."""

    def __init__(self, ws_url: str, cursor: int, tls_ca: str = ""):
        import threading

        self.ws_url = ws_url
        self.tls_ca = tls_ca
        self.seq = cursor
        self._seen_frame = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, name="firehose-ws-tail", daemon=True
        )
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            conn = None
            try:
                conn, f = _ws_dial(
                    self.ws_url,
                    f"/xrpc/com.atproto.sync.subscribeRepos?cursor={self.seq}",
                    self.tls_ca,
                )
                for payload in _ws_binary_payloads(conn, f):
                    try:
                        seq = decode_xrpc_frame_seq(payload)
                    except CborError:
                        continue
                    if seq is not None and seq > self.seq:
                        self.seq = seq
                        self._seen_frame.set()
                    if self._stop.is_set():
                        return
            except (OSError, EOFError, ConnectionError):
                pass
            finally:
                if conn is not None:
                    conn.close()
            self._stop.wait(0.2)  # backoff before re-dial

    def head(self, wait_first: float = 0.0) -> int:
        """Current head. `wait_first` (cold start only) blocks until the
        tail has both seen a frame AND gone quiet for one poll interval —
        i.e. the reconnect replay of the relay's backlog has drained — so
        the first plan after a (re)start sees the real head, not whatever
        prefix the thread happened to have replayed when asked. Capped at
        `wait_first` seconds: on a relay that never goes quiet (a live
        firehose) any snapshot is valid, the next microbatch plans further."""
        if wait_first > 0:
            import time

            deadline = time.monotonic() + wait_first
            last = -1
            while time.monotonic() < deadline:
                cur = self.seq
                if cur == last and self._seen_frame.is_set():
                    break
                last = cur
                time.sleep(0.25)
        return self.seq

    def stop(self) -> None:
        self._stop.set()


class SeqRange(InputPartition):
    def __init__(
        self,
        start: int,
        end: int,
        replay_dir: str,
        socket_url: str = "",
        ws_url: str = "",
        tls_ca: str = "",
    ):
        self.start = start
        self.end = end
        self.replay_dir = replay_dir
        self.socket_url = socket_url
        self.ws_url = ws_url
        self.tls_ca = tls_ca


class FirehoseStreamReader(DataSourceStreamReader):
    """Offsets are upstream seq numbers; progress is monotone and resumes
    from the checkpointed offset exactly like the reference's
    `override-relay-cursor`/cursor-resume logic (main.go:280-297)."""

    def __init__(self, options: dict):
        self.replay_dir = options.get("replay_dir", "")
        self.socket_url = options.get("socket_url", "")
        self.ws_url = options.get("ws_url", "")
        self.batch_size = int(options.get("batch_size", "1000"))
        self.num_partitions = int(options.get("numPartitions", "4"))
        self.tls_ca = options.get("tls_ca", "")
        self._last_end: int | None = None
        self._tail: _WsTail | None = None

    def _head_seq(self) -> int:
        """Highest seq available from the transport (relay head).

        ws_url: derived from a persistent tail subscription (_WsTail) — the
        ONLY thing a real `com.atproto.sync.subscribeRepos` relay offers is
        the subscribe socket itself (cmd/jetstream/main.go:294-328), so
        planning needs no out-of-band route. socket_url (the ndjson bridge
        wire, our own protocol) keeps its plain HTTP GET `/head` probe."""
        if self.ws_url:
            if self._tail is None:
                self._tail = _WsTail(self.ws_url, 0, self.tls_ca)
                # cold start: give the tail one chance to observe the
                # backlog before the first plan, else an empty relay (or a
                # slow dial) would make batch 0 a no-op and
                # processAllAvailable could return before any data flows
                return self._tail.head(wait_first=5.0)
            return self._tail.head()
        if self.socket_url:
            return _socket_head(self.socket_url, self.tls_ca)
        head = 0
        if os.path.isdir(self.replay_dir):
            for name in os.listdir(self.replay_dir):
                if name.endswith(".jsonl"):
                    try:
                        head = max(head, int(name.split(".")[0].split("_")[-1]))
                    except ValueError:
                        continue
        return head

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def latestOffset(self) -> dict:
        # advance at most batch_size seqs per microbatch — the ingest
        # throttle (the reference's queue cap, main.go:49-54 / P6-P7;
        # maxOffsetsPerTrigger in Spark terms)
        head = self._head_seq()
        if self._last_end is not None:
            head = min(head, self._last_end + self.batch_size)
        self._last_end = head
        return {"seq": head}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["seq"], end["seq"]
        if hi <= lo:
            return [SeqRange(lo, lo, self.replay_dir, self.socket_url, self.ws_url, self.tls_ca)]
        n = max(1, min(self.num_partitions, (hi - lo) // MIN_SEQS_PER_PARTITION))
        step = -(-(hi - lo) // n)  # ceil div
        return [
            SeqRange(s, min(s + step, hi), self.replay_dir, self.socket_url, self.ws_url, self.tls_ca)
            for s in range(lo, hi, step)
        ]

    def read(self, partition: SeqRange):
        """Yield frames with start < seq <= end. Decode (S5/S8) happens
        here in a real transport; the JSONL stand-in is already decoded."""
        if partition.ws_url:
            for frame in _ws_fetch(partition.ws_url, partition.start, partition.end, partition.tls_ca):
                yield tuple(
                    _to_row_value(frame.get(field.name), field.name)
                    for field in RAW_FRAME_SCHEMA.fields
                )
            return
        if partition.socket_url:
            for frame in _socket_fetch(partition.socket_url, partition.start, partition.end):
                frame = decode_frame(frame)  # S5/S8: CAR blocks → record JSON
                yield tuple(
                    _to_row_value(frame.get(field.name), field.name)
                    for field in RAW_FRAME_SCHEMA.fields
                )
            return
        if not os.path.isdir(partition.replay_dir):
            return
        for name in sorted(os.listdir(partition.replay_dir)):
            if not name.endswith(".jsonl"):
                continue
            with open(os.path.join(partition.replay_dir, name)) as f:
                for line in f:
                    frame = json.loads(line)
                    seq = frame["seq"]
                    if partition.start < seq <= partition.end:
                        frame = decode_frame(frame)  # S5/S8: CAR → record JSON
                        yield tuple(
                            _to_row_value(frame.get(field.name), field.name)
                            for field in RAW_FRAME_SCHEMA.fields
                        )

    def commit(self, end: dict) -> None:
        # offsets live in the Spark checkpoint (the S12 analogue); the
        # transport needs no server-side ack (websocket replay is by cursor)
        pass

    def stop(self) -> None:
        if self._tail is not None:
            self._tail.stop()
            self._tail = None


def _to_row_value(value, field_name: str):
    if value is None:
        return None
    if field_name == "ops":
        return [
            (op.get("action"), op.get("path"), op.get("cid"), op.get("record_json"), op.get("record_cid"))
            for op in value
        ]
    if field_name == "account":
        return (value.get("active"), value.get("did"), value.get("seq"), value.get("time"), value.get("status"))
    if field_name == "identity":
        return (value.get("did"), value.get("handle"), value.get("seq"), value.get("time"))
    return value


class FirehoseDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "atproto_firehose"

    def schema(self):
        return RAW_FRAME_SCHEMA

    def streamReader(self, schema) -> FirehoseStreamReader:
        return FirehoseStreamReader(self.options)
