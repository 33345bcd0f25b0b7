"""S1/S2 — the firehose as a Spark 4 Python data source.

The reference dials `com.atproto.sync.subscribeRepos` over a websocket and
hands each frame to its worker queue, capped at 1,000 frames
(cmd/jetstream/main.go:294-328, queue cap main.go:49-54). Here that
becomes a `SimpleDataSourceStreamReader` on the same wire, and only that
wire:

  * `ws_url` ("host:port", "ws://host:port", or "wss://host:port" for
    TLS, the real relay's form; `tls_ca` names a CA bundle for private
    relays): an RFC 6455 dial (wsutil.py) to
    `/xrpc/com.atproto.sync.subscribeRepos?cursor=N`, BINARY frames of
    DAG-CBOR header+body events with CAR blocks. A stream without it
    raises ValueError.
  * offsets = the upstream relay `seq` (the reference's cursor unit for
    the *upstream* connection — persist.go:19-23): `{"seq": N}`.
  * reading: the driver keeps ONE relay connection (_WsTail). It puts
    each frame it receives into a buffer of at most `batch_size` frames
    (default 1000, the reference's queue cap) and stops reading while
    the buffer is full, so memory stays bounded behind any backlog. Each
    micro-batch's `read(start)` takes at most `batch_size` buffered
    frames, decodes them (S5/S8: CAR/CBOR via the pure-Python reader,
    atproto/carcbor.py::decode_xrpc_frame — no libipld needed) and
    returns the rows with `{"seq": <last seq>}`. Spark ships those rows
    with the batch's plan and serves every read of the batch from its
    block manager: no Python worker task and no second dial per batch.
    `batch_size` is also the ingest throttle (maxOffsetsPerTrigger in
    Spark terms, S20), and it bounds every batch, the first after a
    restart included.
  * crash replay: a batch that is in the offset log but not committed is
    re-read by `readBetweenOffsets`, which dials by cursor (_ws_fetch).

Register + use:

    spark.dataSource.register(FirehoseDataSource)
    spark.readStream.format("atproto_firehose")
         .option("ws_url", "wss://bsky.network:443").option("batch_size", 500).load()

The stream composes with normalize_frames → sequencer → log exactly like
the file-backed pipeline (tests/test_firehose_source.py,
test_firehose_ws.py and test_firehose_wss.py drive it against local
plaintext and TLS relays).
"""

from __future__ import annotations

import collections
import threading
import time

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from jetstream_spark import wsutil
from jetstream_spark.atproto.carcbor import CborError, decode_xrpc_frame
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA

SUBSCRIBE_REPOS = "/xrpc/com.atproto.sync.subscribeRepos"


def _decode(payload: bytes) -> dict | None:
    """One wire frame → its RAW_FRAME_SCHEMA dict, or None for a frame to
    skip. A corrupt frame is data, not a query-killing event: it is
    skipped like an unknown event type (the reference's HandleRepoStream
    default case); an error FRAME (op = -1) still raises via
    decode_xrpc_frame itself (consumer.go:156-159)."""
    try:
        return decode_xrpc_frame(payload)
    except CborError:
        return None


def _ws_fetch(ws_url: str, start: int, end: int, tls_ca: str = ""):
    """The reference's dial semantics (cmd/jetstream/main.go:294-328):
    websocket dial with `?cursor=start`, each BINARY frame decoded, and
    the frames with start < seq <= end yielded. Detach past `end`."""
    conn, f = wsutil.dial(ws_url, f"{SUBSCRIBE_REPOS}?cursor={start}", tls_ca)
    try:
        for payload in wsutil.read_messages(conn, f, wsutil.BINARY):
            frame = _decode(payload)
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
    """The driver's one relay connection. The real
    `com.atproto.sync.subscribeRepos` relay serves NOTHING but the
    subscribe socket (cmd/jetstream/main.go:294-328), so the frames a
    micro-batch reads are the frames this connection has received. It
    buffers at most `capacity` raw frames and blocks while the buffer is
    full, which stops reading the socket (the reference's bounded queue).
    On any socket error it re-dials with `?cursor=<last seq read>`,
    dropping what it had buffered past that seq (the new connection
    sends it again), so reading survives relay restarts."""

    def __init__(self, ws_url: str, cursor: int, capacity: int, tls_ca: str = ""):
        self.ws_url = ws_url
        self.tls_ca = tls_ca
        self.capacity = capacity
        self.cursor = cursor  # highest seq the reader has taken
        self._frames: collections.deque[bytes] = collections.deque()
        self._cv = threading.Condition()
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, name="firehose-ws-tail", daemon=True
        )
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            with self._cv:
                self._frames.clear()
                cursor = self.cursor
            conn = None
            try:
                conn, f = wsutil.dial(self.ws_url, f"{SUBSCRIBE_REPOS}?cursor={cursor}", self.tls_ca)
                for payload in wsutil.read_messages(conn, f, wsutil.BINARY):
                    with self._cv:
                        while len(self._frames) >= self.capacity and not self._stop.is_set():
                            self._cv.wait(0.2)
                        self._frames.append(payload)
                    if self._stop.is_set():
                        return
            except (OSError, EOFError, ConnectionError):
                pass
            finally:
                if conn is not None:
                    conn.close()
            self._stop.wait(0.2)  # backoff before re-dial

    def settle(self, timeout: float) -> None:
        """Cold start only: block until the buffer is full, or has frames
        and received none for one poll interval — i.e. the relay's backlog up
        to the buffer's capacity has arrived — so the first batch after a
        (re)start is not whatever prefix the connection happened to have
        read. Capped at `timeout` seconds: on a relay that never goes
        quiet (a live firehose) any prefix is valid, the next batch reads
        further."""
        deadline = time.monotonic() + timeout
        last = -1
        while time.monotonic() < deadline:
            n = len(self._frames)
            if n >= self.capacity or (n > 0 and n == last):
                return
            last = n
            time.sleep(0.25)

    def take(self, n: int) -> list[bytes]:
        """Up to `n` buffered frames, oldest first."""
        with self._cv:
            out = [self._frames.popleft() for _ in range(min(n, len(self._frames)))]
            self._cv.notify()
        return out

    def stop(self) -> None:
        self._stop.set()


class FirehoseStreamReader(SimpleDataSourceStreamReader):
    """Offsets are upstream seq numbers; progress is monotone and resumes
    from the checkpointed offset exactly like the reference's
    `override-relay-cursor`/cursor-resume logic (main.go:280-297). The
    offsets live in the Spark checkpoint (the S12 analogue), so the relay
    needs no ack: its replay is by cursor."""

    def __init__(self, options: dict):
        self.ws_url = options.get("ws_url", "")
        # checked here: a missing or malformed URL would otherwise fail
        # only inside the relay connection's thread, and the query would
        # silently read nothing
        try:
            wsutil.parse_url(self.ws_url)
        except ValueError:
            raise ValueError(
                f"atproto_firehose needs a ws_url option of the form [ws://|wss://]host:port, got {self.ws_url!r}"
            ) from None
        self.batch_size = int(options.get("batch_size", "1000"))
        self.tls_ca = options.get("tls_ca", "")
        self._tail: _WsTail | None = None

    def initialOffset(self) -> dict:
        return {"seq": 0}

    def read(self, start: dict):
        """The next micro-batch: at most `batch_size` of the frames the
        relay connection has received past `start`, decoded here on the
        driver, and the seq of the last one as the batch's end offset."""
        hi = start["seq"]
        if self._tail is None:
            # the connection opens at the first read, from the offset
            # Spark resumes at; the cold start gives it one chance to
            # receive the backlog, else an empty relay (or a slow dial)
            # would make batch 0 a no-op and processAllAvailable could
            # return before any data flows
            self._tail = _WsTail(self.ws_url, hi, self.batch_size, self.tls_ca)
            self._tail.settle(timeout=5.0)
        rows = []
        for payload in self._tail.take(self.batch_size):
            frame = _decode(payload)
            # a re-dial sends again what was taken before it
            if frame is not None and frame["seq"] > hi:
                rows.append(_to_row(frame))
                hi = frame["seq"]
        self._tail.cursor = hi
        return iter(rows), {"seq": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Crash replay of a batch in the offset log but not committed:
        re-dial the relay by cursor for start < seq <= end."""
        return (_to_row(frame) for frame in _ws_fetch(self.ws_url, start["seq"], end["seq"], self.tls_ca))

    def stop(self) -> None:
        # for callers that drive the reader themselves: Spark does not
        # forward stop to a simple reader, and the connection's daemon
        # thread ends with the query's planner process
        if self._tail is not None:
            self._tail.stop()
            self._tail = None


def _to_row(frame: dict) -> tuple:
    return tuple(_to_row_value(frame.get(field.name), field.name) for field in RAW_FRAME_SCHEMA.fields)


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

    def simpleStreamReader(self, schema) -> FirehoseStreamReader:
        return FirehoseStreamReader(self.options)
