"""The load generator's network side, all on one asyncio loop: the relay
the engine ingests from, the websocket subscribers that read from the
engine's edge, and a /proc sampler for the engine's memory.

The subscriber is a small RFC 6455 reader of its own, not
`jetstream_spark.client`, so a change to the client library cannot move
the numbers measured here.
"""

from __future__ import annotations

import asyncio
import base64
import os
import time


def ws_frame(payload: bytes, opcode: int = 0x2) -> bytes:
    """One unmasked server frame with FIN set."""
    n = len(payload)
    if n < 126:
        head = bytes([0x80 | opcode, n])
    elif n < 1 << 16:
        head = bytes([0x80 | opcode, 126]) + n.to_bytes(2, "big")
    else:
        head = bytes([0x80 | opcode, 127]) + n.to_bytes(8, "big")
    return head + payload


def _masked_frame(payload: bytes, opcode: int) -> bytes:
    mask = os.urandom(4)
    body = bytes(b ^ mask[i & 3] for i, b in enumerate(payload))
    return bytes([0x80 | opcode, 0x80 | len(payload)]) + mask + body


def _ws_accept(key: str) -> str:
    import hashlib

    guid = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"
    return base64.b64encode(hashlib.sha1((key + guid).encode()).digest()).decode()


async def _read_headers(reader: asyncio.StreamReader) -> tuple[str, dict[str, str]]:
    first = (await reader.readline()).decode()
    headers = {}
    while True:
        line = (await reader.readline()).decode()
        if not line.strip():
            return first, headers
        k, _, v = line.partition(":")
        headers[k.strip().lower()] = v.strip()


class Relay:
    """A `com.atproto.sync.subscribeRepos` relay over a fixed frame list.

    Frame `i` has seq `first_seq + i`. Only the first `visible` frames are
    served; `expose` and `play` move that mark. Each connection gets every
    visible frame with seq above its `?cursor=`, as binary websocket frames,
    and then waits for more."""

    def __init__(self, frames: list[bytes], first_seq: int):
        self.wire = [ws_frame(f) for f in frames]
        self.first_seq = first_seq
        self.visible = 0
        self.lateness_s: list[float] = []
        self._changed = asyncio.Event()
        self._server: asyncio.AbstractServer | None = None
        self._conns: set[asyncio.Task] = set()
        self._closing = False
        self.port = 0

    async def start(self) -> int:
        self._server = await asyncio.start_server(self._handle, "127.0.0.1", 0)
        self.port = self._server.sockets[0].getsockname()[1]
        return self.port

    def expose(self, n: int) -> None:
        self.visible = max(self.visible, min(n, len(self.wire)))
        self._changed.set()
        self._changed = asyncio.Event()

    async def play(self, start: int, due: list[float]) -> None:
        """Open loop: frame `start + k` becomes visible at wall time
        `due[k]`, whatever the engine does. Records each frame's lateness."""
        k = 0
        while k < len(due):
            now = time.time()
            j = k
            while j < len(due) and due[j] <= now:
                self.lateness_s.append(now - due[j])
                j += 1
            if j > k:
                self.expose(start + j)
                k = j
            if k < len(due):
                await asyncio.sleep(max(0.0, min(due[k] - time.time(), 0.05)))

    async def _handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter) -> None:
        task = asyncio.current_task()
        self._conns.add(task)
        try:
            request, headers = await _read_headers(reader)
            if headers.get("upgrade", "").lower() != "websocket":
                writer.write(b"HTTP/1.1 404 Not Found\r\nContent-Length: 0\r\n\r\n")
                await writer.drain()
                return
            writer.write(
                (
                    "HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n"
                    f"Sec-WebSocket-Accept: {_ws_accept(headers.get('sec-websocket-key', ''))}\r\n\r\n"
                ).encode()
            )
            path = request.split()[1]
            cursor = int(path.split("cursor=")[1].split("&")[0]) if "cursor=" in path else 0
            pos = max(0, cursor - self.first_seq + 1)
            while True:
                while pos >= self.visible:
                    if self._closing:
                        return
                    await self._changed.wait()
                end = self.visible
                for i in range(pos, end):
                    if writer.transport.is_closing():
                        return  # a partition reader detaches once past its range
                    writer.write(self.wire[i])
                    if i % 256 == 255:
                        await writer.drain()
                pos = end
                await writer.drain()
        except (ConnectionError, asyncio.IncompleteReadError, IndexError, ValueError):
            pass
        finally:
            self._conns.discard(task)
            writer.close()

    async def stop(self) -> None:
        """Close the listener and let every connection handler return (a
        cancelled handler task trips asyncio's stream callback)."""
        if self._server is not None:
            self._server.close()
        self._closing = True
        self._changed.set()
        if self._conns:
            await asyncio.wait(list(self._conns), timeout=10)


class Subscriber:
    """One websocket client of the engine's `/subscribe`. It only records
    (receive wall time, payload) per text frame; parsing happens after the
    timed window."""

    def __init__(self, name: str, query: str):
        self.name = name
        self.query = query
        self.log: list[tuple[float, bytes]] = []
        self.connected_at = 0.0
        self.closed_by_server = False
        self._writer: asyncio.StreamWriter | None = None
        self._task: asyncio.Task | None = None

    def start(self, port: int) -> None:
        self._task = asyncio.create_task(self._run(port))

    async def _run(self, port: int) -> None:
        reader, writer = await asyncio.open_connection("127.0.0.1", port)
        self._writer = writer
        key = base64.b64encode(os.urandom(16)).decode()
        self.connected_at = time.time()
        writer.write(
            (
                f"GET /subscribe?{self.query} HTTP/1.1\r\nHost: 127.0.0.1\r\nUpgrade: websocket\r\n"
                f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        await writer.drain()
        status, _ = await _read_headers(reader)
        if " 101 " not in status:
            raise ConnectionError(f"{self.name}: upgrade refused: {status.strip()}")
        log = self.log
        try:
            while True:
                h = await reader.readexactly(2)
                opcode, n = h[0] & 0x0F, h[1] & 0x7F
                if n == 126:
                    n = int.from_bytes(await reader.readexactly(2), "big")
                elif n == 127:
                    n = int.from_bytes(await reader.readexactly(8), "big")
                payload = await reader.readexactly(n)
                if opcode == 0x1:
                    log.append((time.time(), payload))
                elif opcode == 0x9:
                    writer.write(_masked_frame(payload, 0xA))
                elif opcode == 0x8:
                    self.closed_by_server = True
                    return
        except (asyncio.IncompleteReadError, ConnectionError):
            self.closed_by_server = True

    async def stop(self) -> None:
        writer, task = self._writer, self._task
        self._writer = self._task = None
        if writer is not None and not writer.transport.is_closing():
            writer.write(_masked_frame(b"", 0x8))
            writer.close()
        if task is not None:
            task.cancel()
            try:
                await task
            except (asyncio.CancelledError, ConnectionError):
                pass


async def http_get(port: int, path: str) -> str:
    reader, writer = await asyncio.open_connection("127.0.0.1", port)
    writer.write(f"GET {path} HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n".encode())
    await writer.drain()
    body = await reader.read()
    writer.close()
    return body.decode(errors="replace").split("\r\n\r\n", 1)[-1]


def prom_sum(text: str, family: str) -> float:
    """Sum of every sample of one Prometheus family in a text scrape."""
    total = 0.0
    for line in text.splitlines():
        if line.startswith(family) and (line[len(family)] in " {"):
            total += float(line.rsplit(" ", 1)[1])
    return total


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs from /proc/stat: time a
    hypervisor gave this machine's CPUs to other guests, and all time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def tree_rss_mb(pid: int) -> float:
    """Resident memory of a process and all its descendants, from /proc."""
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
    return total_kb / 1024.0


async def sample_rss(pid: int, peak: list[float], period_s: float = 0.25) -> None:
    """Keep `peak[0]` at the highest tree RSS seen until cancelled."""
    while True:
        peak[0] = max(peak[0], tree_rss_mb(pid))
        await asyncio.sleep(period_s)
