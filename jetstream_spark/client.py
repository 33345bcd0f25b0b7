"""S23/S24/S25 — the consumer client library.

Reference: pkg/client/client.go:60-141 (ConnectAndRead: dial /subscribe
with cursor + filters, feed every decoded frame to a Scheduler) plus the
two scheduler implementations:

  - sequential (pkg/client/schedulers/sequential): one event at a time,
    stream order (S24);
  - parallel (pkg/client/schedulers/parallel/parallel.go:1-3): "Events for
    the same repository will be processed sequentially, but events for
    different repositories can be processed concurrently" (S25).

The parallel scheduler here partitions repos to workers by DID hash —
static assignment gives the same guarantee (per-repo sequential, cross-repo
concurrent) as the reference's dynamic active-map without its bookkeeping;
the trade-off is that a single hot repo can head-of-line block its worker's
other repos, which the reference shares via its per-repo pending queues.

Transport: the reference client's protocol, one JSON websocket text frame
per event, read through the engine's one RFC 6455 client (wsutil.py).
"""

from __future__ import annotations

import json
import queue
import threading
from collections.abc import Callable
from itertools import islice

from jetstream_spark import wsutil


class SequentialScheduler:
    """S24: caller-thread, in-order delivery — the sequential scheduler."""

    def __init__(self, handle_event: Callable[[dict], None]):
        self.handle_event = handle_event

    def add_work(self, did: str, event: dict) -> None:
        self.handle_event(event)

    def shutdown(self) -> None:
        pass


class ParallelScheduler:
    """S25: fixed worker pool; same DID always lands on the same worker
    queue, so per-repo order is preserved while distinct repos run
    concurrently (parallel.go:36-152 semantics)."""

    _SENTINEL = None

    def __init__(self, num_workers: int, handle_event: Callable[[dict], None]):
        self.handle_event = handle_event
        self.num_workers = num_workers
        self._queues: list[queue.Queue] = [queue.Queue() for _ in range(num_workers)]
        self._workers = [
            threading.Thread(target=self._worker, args=(q,), daemon=True) for q in self._queues
        ]
        for w in self._workers:
            w.start()

    def _worker(self, q: queue.Queue) -> None:
        while True:
            item = q.get()
            if item is self._SENTINEL:
                return
            self.handle_event(item)

    def add_work(self, did: str, event: dict) -> None:
        # stable hash — Python's str hash is salted per process, which would
        # break cross-run determinism in tests
        import zlib

        idx = zlib.crc32(did.encode()) % self.num_workers
        self._queues[idx].put(event)

    def shutdown(self) -> None:
        for q in self._queues:
            q.put(self._SENTINEL)
        for w in self._workers:
            w.join(timeout=30)


class JetstreamClient:
    """ConnectAndRead (client.go:60-141): dial /subscribe with cursor and
    filters, hand each frame to the scheduler, track the cursor for
    reconnect-resume."""

    def __init__(
        self,
        host: str,
        port: int,
        scheduler,
        wanted_collections: list[str] | None = None,
        wanted_dids: list[str] | None = None,
        use_tls: bool = False,
        tls_ca: str | None = None,
    ):
        self.host = host
        self.port = port
        self.scheduler = scheduler
        self.wanted_collections = wanted_collections or []
        self.wanted_dids = wanted_dids or []
        self.use_tls = use_tls  # wss:// upstreams; system trust unless tls_ca given
        self.tls_ca = tls_ca
        self.cursor: int | None = None  # last delivered time_us

    def _path(self, cursor: int | None) -> str:
        params = []
        if cursor is not None:
            params.append(f"cursor={cursor}")
        params += [f"wantedCollections={c}" for c in self.wanted_collections]
        params += [f"wantedDids={d}" for d in self.wanted_dids]
        return "/subscribe" + ("?" + "&".join(params) if params else "")

    def connect_and_read(
        self,
        cursor: int | None = None,
        max_events: int | None = None,
        timeout: float = 60.0,
    ) -> int:
        """Read frames until the connection closes or max_events arrive.
        Returns the number of events scheduled; self.cursor advances per
        frame, so a reconnect with cursor=self.cursor + 1 resumes exactly
        (the client-side S12 analogue)."""
        if cursor is not None:
            self.cursor = cursor if cursor == 0 else cursor - 1
        scheme = "wss" if self.use_tls else "ws"
        sock, f = wsutil.dial(f"{scheme}://{self.host}:{self.port}", self._path(cursor), self.tls_ca, timeout)
        n = 0
        try:
            for payload in islice(wsutil.read_messages(sock, f, wsutil.TEXT), max_events):
                frame = json.loads(payload)
                self.scheduler.add_work(frame["did"], frame)
                self.cursor = frame["time_us"]
                n += 1
        finally:
            sock.close()
        return n
