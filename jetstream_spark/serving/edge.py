"""H4 — the serving edge: `/subscribe` as websocket text frames (the
reference's wire protocol) or HTTP chunked ndjson.

The reference serves websocket text frames (cmd/jetstream/server.go:240-356,
upgrade at server.go:244). The edge implements RFC 6455 directly on the
stdlib (SHA1 handshake, unmasked server frames, ping→pong, close) — a GET
with `Upgrade: websocket` gets the reference's exact framing, one JSON text
frame per event; a plain GET gets HTTP/1.1 chunked ndjson. Same query
semantics and per-subscriber policies either way:

  S19  bounded buffer + drop-slow-consumer: per-sub asyncio.Queue(10_000);
       live enqueue is non-blocking — full queue closes the connection
       (server.go:136-176, buffer size server.go:204)
  S20  token-bucket rate limit, default 5_000 frames/s, replay 10×
       (main.go:79-84, server.go:307)
  S21  param validation via Subscription.parse — invalid NSID/DID/cursor
       ⇒ HTTP 400 (server.go:250-287)
  S22  subscriber registry with ids + counts (server.go:187-238)
  S15/S18  replay→live cutover: a cursor subscriber runs replay rounds
       (Subscription.replay_batch, monotonic seq guard) until caught up,
       then joins the shared LiveTailHub — the one live pipeline

Spark work (replay scans) runs in worker threads; the event loop only
shuttles frames. A server built without a hub (the ingest process's
metrics listener) serves /metrics and /debug/* and answers /subscribe
with 503.
"""

from __future__ import annotations

import asyncio
import threading
import time
import urllib.parse
from dataclasses import dataclass, field
from http import HTTPStatus

from pyspark.sql import SparkSession

from jetstream_spark.atproto.log import replay_rows
from jetstream_spark.operators.observability import prom_label
from jetstream_spark.atproto.sequencer import SequencerState
from jetstream_spark.atproto.subscribe import Subscription, SubscriptionError
from jetstream_spark.atproto.wire import to_wire

MAX_SUB_RATE = 5_000  # frames/s (main.go:79-84)
PLAYBACK_MULT = 10  # server.go:307
SUB_BUFFER = 10_000  # server.go:204
POLL_INTERVAL_S = 0.2


class TokenBucket:
    """rate.NewLimiter analogue: `rate` tokens/s, burst = rate."""

    def __init__(self, rate: float):
        self.rate = rate
        self.tokens = rate
        self.last = time.monotonic()

    async def wait(self, n: int = 1) -> None:
        while True:
            now = time.monotonic()
            self.tokens = min(self.rate, self.tokens + (now - self.last) * self.rate)
            self.last = now
            if self.tokens >= n:
                self.tokens -= n
                return
            await asyncio.sleep((n - self.tokens) / self.rate)


@dataclass
class SubscriberInfo:
    sub_id: int
    sub: Subscription
    ip: str = ""
    delivered: int = 0
    bytes_delivered: int = 0
    dropped: bool = False


@dataclass
class Registry:
    """S22: mutex-guarded id→subscriber map, with per-IP delivery
    accounting matching the reference's CounterVec/GaugeVec label
    (cmd/jetstream/metrics.go:8-31: ip_address)."""

    _next_id: int = 0
    subscribers: dict[int, SubscriberInfo] = field(default_factory=dict)
    # per-IP delivered counters OUTLIVE the subscriber entries (counters
    # never reset on disconnect, like the reference's CounterVec)
    events_by_ip: dict[str, int] = field(default_factory=dict)
    bytes_by_ip: dict[str, int] = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def add(self, sub: Subscription, ip: str = "") -> SubscriberInfo:
        with self._lock:
            self._next_id += 1
            info = SubscriberInfo(self._next_id, sub, ip=ip)
            self.subscribers[info.sub_id] = info
            return info

    def remove(self, sub_id: int) -> None:
        with self._lock:
            self.subscribers.pop(sub_id, None)

    def note_delivered(self, info: SubscriberInfo, nbytes: int) -> None:
        info.delivered += 1
        info.bytes_delivered += nbytes
        with self._lock:
            self.events_by_ip[info.ip] = self.events_by_ip.get(info.ip, 0) + 1
            self.bytes_by_ip[info.ip] = self.bytes_by_ip.get(info.ip, 0) + nbytes

    def connected_by_ip(self) -> dict[str, int]:
        with self._lock:
            out: dict[str, int] = {}
            for s in self.subscribers.values():
                out[s.ip] = out.get(s.ip, 0) + 1
            return out


class SubscribeServer:
    def __init__(
        self,
        spark: SparkSession,
        log_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        max_sub_rate: float = MAX_SUB_RATE,
        hub=None,
        sub_buffer: int = SUB_BUFFER,
        consumer_metrics=None,
        tracer=None,
        maintenance=None,
    ):
        self.spark = spark
        self.log_dir = log_dir
        self.host = host
        self.port = port
        self.max_sub_rate = max_sub_rate
        self.sub_buffer = sub_buffer
        # LiveTailHub (serving/hub.py): the ONE shared streaming tail every
        # live phase attaches to — the reference's single-live-pipeline
        # topology (server.go:187-238). None = metrics-only listener.
        self.hub = hub
        self.registry = Registry()
        # server-level counters (cmd/jetstream/metrics.go names). The
        # reference increments emitted ONCE per event entering Server.Emit,
        # regardless of subscriber count and before per-subscriber filters
        # (cmd/jetstream/server.go:62-80) — NOT per enqueue. Here that is
        # the hub's slice hook, gated "once per distinct time_us advanced
        # past the fan-out head": history at or below the server-start head
        # never counts, and cursor replay rounds never count. Per-subscriber
        # enqueues live under the engine-specific *_enqueued_total names.
        # delivered = frames actually written to a subscriber.
        self.events_delivered_total = 0
        self.bytes_delivered_total = 0
        self.events_emitted_total = 0
        self.bytes_emitted_total = 0
        self.events_enqueued_total = 0
        self.bytes_enqueued_total = 0
        self._emit_lock = threading.Lock()
        # baseline: events already persisted when the server came up are
        # history (replay-only), mirroring a consumer that starts feeding
        # Emit at attach time
        self._emitted_head_us = SequencerState.load(log_dir).last_time_us
        if hub is not None:
            # the hub's per-tick slice is THE single fan-out point in the
            # reference topology — count there, pre-filter, once per slice
            hub.on_slice = self._note_slice_emitted
        # optional operators.observability.ConsumerMetrics: when the ingest
        # pipeline runs in-process (the reference's topology — one process
        # serves consumer + server families from one registry,
        # cmd/jetstream/main.go:216), its families join this scrape
        self.consumer_metrics = consumer_metrics
        # optional atproto.maintenance.MaintenanceLoop: the standing
        # retention ticker's counters join the scrape (the reference's
        # trim runs under the liveness ticker whose health is served from
        # the same metrics listener, cmd/jetstream/main.go:188-218)
        self.maintenance = maintenance
        # optional operators.tracing.StageTracer serving /debug/traces
        self.tracer = tracer
        self._server: asyncio.AbstractServer | None = None

    # --- engine-side helpers (run in threads) ------------------------------

    def _head(self) -> int:
        return SequencerState.load(self.log_dir).last_time_us

    def _fetch_batch(self, sub: Subscription, limit: int) -> list:
        # replay_rows, frame rebuilt per attempt: a compaction swap or TTL
        # trim landing between this fetch's file listing and its collect
        # must not drop the subscriber's connection (same contract as the
        # hub slice loop; the seq watermark advances only after a
        # delivered batch)
        return replay_rows(
            self.spark,
            self.log_dir,
            lambda: to_wire(sub.replay_batch(self.spark, self.log_dir).limit(limit)).orderBy("time_us"),
        )

    async def _live_via_hub(self, info: "SubscriberInfo", sub: Subscription, queue: "asyncio.Queue[bytes]") -> None:
        """Attach to the shared LiveTailHub for the live phase. The hub's
        emit callback runs on its tick thread — frames hop to the event loop
        and enqueue non-blocking: a full buffer drops the subscriber (S19,
        server.go:168-175)."""
        loop = asyncio.get_running_loop()

        def emit(rows: list) -> None:
            def _push() -> None:
                if info.dropped:
                    return
                for row in rows:
                    frame = row["value"].encode() + b"\n"
                    try:
                        queue.put_nowait(frame)
                        self._note_enqueued(frame)  # emitted noted by on_slice
                    except asyncio.QueueFull:
                        info.dropped = True
                        return

            loop.call_soon_threadsafe(_push)

        def unregister(registered: asyncio.Future) -> None:
            if registered.exception() is None:
                self.hub.unregister(registered.result())

        # shielded: a client that leaves during register's catch-up round
        # cancels this task, but the round runs on in its thread — the
        # subscriber is unregistered once it returns instead of leaking
        registration = asyncio.ensure_future(asyncio.to_thread(self.hub.register, sub, emit))
        try:
            await asyncio.shield(registration)
            while not info.dropped:
                await asyncio.sleep(POLL_INTERVAL_S)
        finally:
            registration.add_done_callback(unregister)

    # --- HTTP + websocket plumbing ------------------------------------------

    async def _handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        try:
            request_line = (await reader.readline()).decode()
            headers: dict[str, str] = {}
            while True:
                line = (await reader.readline()).decode()
                if not line.strip():
                    break
                k, _, v = line.partition(":")
                headers[k.strip().lower()] = v.strip()
            parts = request_line.split()
            if len(parts) < 2 or parts[0] != "GET":
                await self._respond(writer, 405, "method not allowed")
                return
            url = urllib.parse.urlparse(parts[1])
            if url.path == "/metrics":
                await self._respond(writer, 200, self._metrics_text())
                return
            if url.path.startswith("/debug/"):
                await self._handle_debug(writer, url)
                return
            if url.path != "/subscribe":
                await self._respond(writer, 404, "not found")
                return
            if self.hub is None:
                await self._respond(writer, 503, "no live tail on this listener")
                return
            params = urllib.parse.parse_qs(url.query)
            try:
                sub = Subscription.parse(
                    wanted_collections=params.get("wantedCollections"),
                    wanted_dids=params.get("wantedDids"),
                    cursor=params.get("cursor", [None])[0],
                    server_time_us=self._head(),
                )
            except SubscriptionError as e:
                await self._respond(writer, 400, str(e))
                return
            # the reference's actual wire protocol is websocket text frames
            # (server.go:244 upgrade); plain GETs keep the chunked-ndjson form
            ws_key = (
                headers.get("sec-websocket-key")
                if "websocket" in headers.get("upgrade", "").lower()
                else None
            )
            peer = writer.get_extra_info("peername")
            ip = peer[0] if peer else ""
            await self._stream(reader, writer, sub, ws_key=ws_key, ip=ip)
        except (ConnectionResetError, BrokenPipeError, asyncio.IncompleteReadError):
            pass
        finally:
            writer.close()

    @staticmethod
    def _ws_accept(key: str) -> str:
        import base64
        import hashlib

        guid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"  # RFC 6455 §1.3
        return base64.b64encode(hashlib.sha1((key + guid).encode()).digest()).decode()

    @staticmethod
    def _ws_frame(payload: bytes, opcode: int = 0x1) -> bytes:
        """One server→client frame: FIN set, unmasked (RFC 6455 §5.2)."""
        head = bytes([0x80 | opcode])
        n = len(payload)
        if n < 126:
            head += bytes([n])
        elif n < (1 << 16):
            head += bytes([126]) + n.to_bytes(2, "big")
        else:
            head += bytes([127]) + n.to_bytes(8, "big")
        return head + payload

    @staticmethod
    async def _ws_read_frame(reader: asyncio.StreamReader) -> tuple[int, bytes]:
        """Read one client→server frame (masked per RFC 6455 §5.1)."""
        h = await reader.readexactly(2)
        opcode = h[0] & 0x0F
        masked = bool(h[1] & 0x80)
        n = h[1] & 0x7F
        if n == 126:
            n = int.from_bytes(await reader.readexactly(2), "big")
        elif n == 127:
            n = int.from_bytes(await reader.readexactly(8), "big")
        mask = await reader.readexactly(4) if masked else b"\x00" * 4
        data = await reader.readexactly(n)
        if masked:
            data = bytes(b ^ mask[i % 4] for i, b in enumerate(data))
        return opcode, data

    def _note_enqueued(self, frame: bytes) -> None:
        """Per-subscriber enqueue accounting (engine-specific metric — the
        reference has no per-enqueue counter)."""
        self.events_enqueued_total += 1
        self.bytes_enqueued_total += len(frame)

    def _note_slice_emitted(self, rows: list) -> None:
        """Hub hook: count each event entering the fan-out ONCE
        (server.go:62-80 semantics), before per-subscriber filters and
        independent of how many subscribers the slice fans out to. A
        monotonic head gate drops slices re-collected for a catching-up
        subscriber and anything at or below the server-start head. Lock
        because registration catch-up and the tick thread both call this."""
        with self._emit_lock:
            for row in rows:
                if row["time_us"] > self._emitted_head_us:
                    self._emitted_head_us = row["time_us"]
                    self.events_emitted_total += 1
                    self.bytes_emitted_total += len(row["value"].encode()) + 1

    def _metrics_text(self) -> str:
        """Prometheus text exposition — the scrape surface the reference
        serves from its metrics listener (cmd/jetstream/main.go:216-218),
        with the same metric names AND label sets
        (cmd/jetstream/metrics.go:8-31: the connected gauge and the
        delivered counters carry ip_address; emitted totals are unlabeled;
        pkg/consumer/metrics.go consumer_last_seq). Per-IP delivered
        counters never reset on disconnect, like a CounterVec."""
        lines = ["# TYPE jetstream_subscribers_connected gauge"]
        for ip, n in sorted(self.registry.connected_by_ip().items()):
            lines.append(f'jetstream_subscribers_connected{{ip_address="{prom_label(ip)}"}} {n}')
        lines += [
            "# TYPE jetstream_events_emitted_total counter",
            f"jetstream_events_emitted_total {self.events_emitted_total}",
            "# TYPE jetstream_bytes_emitted_total counter",
            f"jetstream_bytes_emitted_total {self.bytes_emitted_total}",
            # engine-specific (no reference analogue): per-subscriber
            # enqueues — scales with subscriber count and includes replays
            "# TYPE jetstream_subscriber_events_enqueued_total counter",
            f"jetstream_subscriber_events_enqueued_total {self.events_enqueued_total}",
            "# TYPE jetstream_subscriber_bytes_enqueued_total counter",
            f"jetstream_subscriber_bytes_enqueued_total {self.bytes_enqueued_total}",
            "# TYPE jetstream_events_delivered_total counter",
        ]
        for ip, n in sorted(self.registry.events_by_ip.items()):
            lines.append(f'jetstream_events_delivered_total{{ip_address="{prom_label(ip)}"}} {n}')
        lines.append("# TYPE jetstream_bytes_delivered_total counter")
        for ip, n in sorted(self.registry.bytes_by_ip.items()):
            lines.append(f'jetstream_bytes_delivered_total{{ip_address="{prom_label(ip)}"}} {n}')
        if self.consumer_metrics is not None:
            lines.append(self.consumer_metrics.render())
        else:
            lines += [
                "# TYPE consumer_last_seq gauge",
                f'consumer_last_seq{{socket_url="{prom_label(self.log_dir)}"}} {self._head()}',
            ]
        if self.maintenance is not None:
            lines.append(self.maintenance.render())
        return "\n".join(lines) + "\n"

    async def _handle_debug(self, writer: asyncio.StreamWriter, url) -> None:
        """The reference's profiling surface (cmd/jetstream/main.go:218
        `/debug/pprof/*`) with Python analogues, plus `/debug/traces` for
        the span ring (the reference exports spans to an OTEL collector;
        headless deployments read this endpoint instead). The CPU profile
        samples in a worker thread so the event loop keeps serving."""
        from jetstream_spark.operators import tracing

        params = urllib.parse.parse_qs(url.query)
        if url.path in ("/debug/pprof", "/debug/pprof/"):
            await self._respond(
                writer,
                200,
                "jetstream-spark pprof: profile?seconds=N (collapsed stacks), "
                "heap, goroutine; /debug/traces?limit=N (OTEL-shape spans)",
            )
        elif url.path == "/debug/pprof/profile":
            try:
                seconds = min(max(float(params.get("seconds", ["1"])[0]), 0.0), 30.0)
            except ValueError:
                await self._respond(writer, 400, "seconds must be a number")
                return
            text = await asyncio.get_running_loop().run_in_executor(
                None, tracing.cpu_profile, seconds
            )
            await self._respond(writer, 200, text or "(no samples)")
        elif url.path == "/debug/pprof/heap":
            await self._respond(writer, 200, tracing.heap_profile())
        elif url.path in ("/debug/pprof/goroutine", "/debug/pprof/threads"):
            await self._respond(writer, 200, tracing.thread_dump())
        elif url.path == "/debug/traces":
            try:
                limit = max(int(params.get("limit", ["100"])[0]), 0)
            except ValueError:
                await self._respond(writer, 400, "limit must be an integer")
                return
            body = self.tracer.render_json(limit) if self.tracer is not None else '{"spans": []}'
            await self._respond(writer, 200, body)
        else:
            await self._respond(writer, 404, "not found")

    async def _respond(self, writer: asyncio.StreamWriter, code: int, msg: str) -> None:
        reason = HTTPStatus(code).phrase
        body = msg.encode() + b"\n"
        writer.write(
            f"HTTP/1.1 {code} {reason}\r\nContent-Length: {len(body)}\r\n"
            f"Content-Type: text/plain\r\nConnection: close\r\n\r\n".encode() + body
        )
        await writer.drain()

    async def _stream(
        self,
        reader: asyncio.StreamReader,
        writer: asyncio.StreamWriter,
        sub: Subscription,
        ws_key: str | None = None,
        ip: str = "",
    ) -> None:
        if sub.cursor is None:
            # live tail: start at the current head (server.go:274-287 —
            # no cursor ⇒ only new events), the S18 guard does the rest
            sub.seq = self._head()
        else:
            # cursor-inclusive: everything below the cursor counts as seen,
            # so the hub never backfills history the cursor excluded
            sub.advance(sub.cursor - 1)
        info = self.registry.add(sub, ip=ip)
        limiter = TokenBucket(self.max_sub_rate * PLAYBACK_MULT)
        # replay frames queued but not yet written: they all precede the
        # first live frame in the FIFO, so each is paced at the playback
        # rate and everything after at the live rate (server.go:307)
        replayed = 0
        queue: asyncio.Queue[bytes] = asyncio.Queue(maxsize=self.sub_buffer)
        if ws_key is not None:
            writer.write(
                (
                    "HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n"
                    f"Connection: Upgrade\r\nSec-WebSocket-Accept: {self._ws_accept(ws_key)}\r\n\r\n"
                ).encode()
            )
        else:
            writer.write(
                b"HTTP/1.1 200 OK\r\nContent-Type: application/x-ndjson\r\n"
                b"Transfer-Encoding: chunked\r\nConnection: close\r\n\r\n"
            )
        await writer.drain()

        async def producer() -> None:
            """Replay rounds (cursor set) until caught up or a round comes
            back empty, then the shared live tail (S15 cutover onto the hub;
            its registration catch-up closes any gap, the S18 guard drops
            any overlap)."""
            nonlocal replayed
            try:
                while sub.cursor is not None and not info.dropped:
                    batch = await asyncio.to_thread(self._fetch_batch, sub, self.sub_buffer)
                    if not batch:
                        break
                    for row in batch:
                        frame = row["value"].encode() + b"\n"
                        replayed += 1
                        await queue.put(frame)  # replay: blocking = backpressure
                        self._note_enqueued(frame)
                    sub.advance(batch[-1]["time_us"])
                    if sub.caught_up(self._head()):
                        break
                if not info.dropped:
                    await self._live_via_hub(info, sub, queue)
            finally:
                await queue.put(b"")  # sentinel

        async def read_pump() -> None:
            """server.go:291-300: client close/EOF cancels the subscription
            even when nothing is being delivered (idle live tail). In
            websocket mode, control frames are honored: ping → pong,
            close → cancel; other frames are drained and ignored."""
            try:
                if ws_key is None:
                    await reader.read(1)
                else:
                    while True:
                        opcode, data = await self._ws_read_frame(reader)
                        if opcode == 0x8:  # close
                            break
                        if opcode == 0x9:  # ping → pong
                            writer.write(self._ws_frame(data, opcode=0xA))
                            await writer.drain()
            except (ConnectionResetError, BrokenPipeError, asyncio.IncompleteReadError):
                pass
            info.dropped = True
            await queue.put(b"")

        task = asyncio.create_task(producer())
        pump = asyncio.create_task(read_pump())
        try:
            while True:
                frame = await queue.get()
                if not frame:
                    break
                if replayed:
                    replayed -= 1
                else:
                    limiter.rate = self.max_sub_rate
                await limiter.wait()
                if ws_key is not None:
                    # the reference's framing: one JSON text frame per event
                    writer.write(self._ws_frame(frame.rstrip(b"\n")))
                else:
                    writer.write(f"{len(frame):x}\r\n".encode() + frame + b"\r\n")
                await writer.drain()
                self.registry.note_delivered(info, len(frame))
                self.events_delivered_total += 1
                self.bytes_delivered_total += len(frame)
        except (ConnectionResetError, BrokenPipeError):
            info.dropped = True
        finally:
            info.dropped = True
            task.cancel()
            pump.cancel()
            self.registry.remove(info.sub_id)
            try:
                writer.write(self._ws_frame(b"", opcode=0x8) if ws_key is not None else b"0\r\n\r\n")
                await writer.drain()
            except (ConnectionResetError, BrokenPipeError):
                pass

    async def start(self) -> None:
        self._server = await asyncio.start_server(self._handle, self.host, self.port)
        self.port = self._server.sockets[0].getsockname()[1]

    async def stop(self) -> None:
        if self._server:
            self._server.close()
            await self._server.wait_closed()


def run_server_in_thread(spark: SparkSession, log_dir: str, **kw) -> tuple[SubscribeServer, threading.Thread]:
    """Test/demo helper: run the edge on a daemon thread with its own loop."""
    server = SubscribeServer(spark, log_dir, **kw)
    started = threading.Event()
    loop_holder: dict = {}

    def runner() -> None:
        loop = asyncio.new_event_loop()
        loop_holder["loop"] = loop
        asyncio.set_event_loop(loop)
        loop.run_until_complete(server.start())
        started.set()
        loop.run_forever()

    t = threading.Thread(target=runner, daemon=True)
    t.start()
    started.wait(timeout=30)
    server._loop = loop_holder["loop"]  # for clean shutdown from tests
    return server, t
