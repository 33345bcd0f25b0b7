"""S1/S2 — the firehose as a Spark 4 Python data source.

The reference dials `com.atproto.sync.subscribeRepos` over a websocket and
fans frames to a worker pool (cmd/jetstream/main.go:294-328, worker pool
main.go:150). Here that becomes a `DataSource`/`DataSourceStreamReader`
on the same wire, and only that wire:

  * `ws_url` ("host:port", "ws://host:port", or "wss://host:port" for
    TLS, the real relay's form; `tls_ca` names a CA bundle for private
    relays): an RFC 6455 dial (wsutil.py) to
    `/xrpc/com.atproto.sync.subscribeRepos?cursor=N`, BINARY frames of
    DAG-CBOR header+body events with CAR blocks. A stream without it
    raises ValueError.
  * offsets = the upstream relay `seq` (the reference's cursor unit for
    the *upstream* connection — persist.go:19-23): `{"seq": N}`. The
    relay serves nothing but the subscribe socket, so the driver learns
    the head from one persistent tail subscription (_WsTail).
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
  * each partition's `read()` dials by cursor and yields RAW_FRAME_SCHEMA
    rows, running CAR/CBOR decode (S5/S8) inline via the pure-Python
    DAG-CBOR/CAR reader (atproto/carcbor.py::decode_xrpc_frame — no
    libipld needed).

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

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from jetstream_spark import wsutil
from jetstream_spark.atproto.carcbor import CborError, decode_xrpc_frame, decode_xrpc_frame_seq
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA

SUBSCRIBE_REPOS = "/xrpc/com.atproto.sync.subscribeRepos"

# Source partitions are sized by the batch's seq span: `numPartitions` is
# a cap, and a partition covers at least this many seqs, because each
# extra partition is one more relay dial and Python-worker task. Measured
# on 4 cores with the perfbench relay frames through the ingest handler,
# one partition was as fast or faster up to 5,000 seqs (a 1,000-seq batch
# took 1.2 s in one or two, 1.8 s in eight), and about 5,000 seqs per
# partition was fastest at 10,000-20,000 (numbers under ROADMAP item 2).
MIN_SEQS_PER_PARTITION = 5000


def _ws_fetch(ws_url: str, start: int, end: int, tls_ca: str = ""):
    """The reference's dial semantics (cmd/jetstream/main.go:294-328):
    websocket dial with `?cursor=start`, each BINARY frame a DAG-CBOR
    header+body event, decoded by carcbor.decode_xrpc_frame — CAR blocks
    and all. Detach past `end`. Each partition dials independently — the
    S2 worker-pool shape."""
    conn, f = wsutil.dial(ws_url, f"{SUBSCRIBE_REPOS}?cursor={start}", tls_ca)
    try:
        for payload in wsutil.read_messages(conn, f, wsutil.BINARY):
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
    """Planning-side head tracker. The real
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
                conn, f = wsutil.dial(self.ws_url, f"{SUBSCRIBE_REPOS}?cursor={self.seq}", self.tls_ca)
                for payload in wsutil.read_messages(conn, f, wsutil.BINARY):
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
    def __init__(self, start: int, end: int, ws_url: str, tls_ca: str = ""):
        self.start = start
        self.end = end
        self.ws_url = ws_url
        self.tls_ca = tls_ca


class FirehoseStreamReader(DataSourceStreamReader):
    """Offsets are upstream seq numbers; progress is monotone and resumes
    from the checkpointed offset exactly like the reference's
    `override-relay-cursor`/cursor-resume logic (main.go:280-297)."""

    def __init__(self, options: dict):
        self.ws_url = options.get("ws_url", "")
        # checked here: a missing or malformed URL would otherwise fail
        # only inside the planning tail's thread, and the query would
        # silently read nothing
        try:
            wsutil.parse_url(self.ws_url)
        except ValueError:
            raise ValueError(
                f"atproto_firehose needs a ws_url option of the form [ws://|wss://]host:port, got {self.ws_url!r}"
            ) from None
        self.batch_size = int(options.get("batch_size", "1000"))
        self.num_partitions = int(options.get("numPartitions", "4"))
        self.tls_ca = options.get("tls_ca", "")
        self._last_end: int | None = None
        self._tail: _WsTail | None = None

    def _head_seq(self) -> int:
        """Highest seq the relay has shown, from a persistent tail
        subscription (_WsTail): the ONLY thing a real
        `com.atproto.sync.subscribeRepos` relay offers is the subscribe
        socket itself (cmd/jetstream/main.go:294-328), so planning needs
        no out-of-band route."""
        if self._tail is None:
            self._tail = _WsTail(self.ws_url, 0, self.tls_ca)
            # cold start: give the tail one chance to observe the backlog
            # before the first plan, else an empty relay (or a slow dial)
            # would make batch 0 a no-op and processAllAvailable could
            # return before any data flows
            return self._tail.head(wait_first=5.0)
        return self._tail.head()

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
            return [SeqRange(lo, lo, self.ws_url, self.tls_ca)]
        n = max(1, min(self.num_partitions, (hi - lo) // MIN_SEQS_PER_PARTITION))
        step = -(-(hi - lo) // n)  # ceil div
        return [
            SeqRange(s, min(s + step, hi), self.ws_url, self.tls_ca)
            for s in range(lo, hi, step)
        ]

    def read(self, partition: SeqRange):
        """Yield frames with start < seq <= end, decoded (S5/S8) here in
        the executor."""
        for frame in _ws_fetch(partition.ws_url, partition.start, partition.end, partition.tls_ca):
            yield tuple(_to_row_value(frame.get(field.name), field.name) for field in RAW_FRAME_SCHEMA.fields)

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
