"""M-loop — the ingest process's standing retention + compaction ticker.

The reference runs retention CONTINUOUSLY inside the server process: the
liveness-checker goroutine calls TrimEvents every 15 seconds
(cmd/jetstream/main.go:188-205 → pkg/consumer/persist.go:120-137, a
Pebble DeleteRange over expired keys). Pebble also compacts its own LSM
in the background, so the reference never accumulates small files. This
engine's log needs both jobs made explicit:

  * TRIM — drop hour partitions (and expired compaction leftovers) past
    the TTL (log.trim_events, the DeleteRange analogue);
  * COMPACT — rewrite SEALED fragmented hour buckets (every micro-batch
    appends a file; a day of 5 s batches is 17k files/partition at scale)
    into few time-sorted files (log.compact_bucket, the LSM-compaction
    analogue). At most one bucket per tick, so a compaction backlog can
    never starve retention.

The loop is safe to run beside live readers and the ingest writer: trim
vs reader/compactor races and compaction-swap vs reader races are each
absorbed by the engine (replay_rows' rebuilt-frame retry, read_log's
aside-fallback, compact_bucket's vanished-partition no-op — pinned in
tests/test_trim_concurrent.py and tests/test_log_compaction_concurrent.py).
Exactly one maintenance actor per log: trim and compaction are not
concurrency-safe against a SECOND maintenance actor, so the standing loop
and the one-shot `trim`/`compact` commands each hold the log's
MaintenanceLock (an exclusive flock) for their whole life, the same
single-owner contract as the reference's embedded store. The loop takes
it in start() and then resolves any interrupted compaction swap
(log.recover_compaction), the one point where no actor can be mid-swap.

A tick failure is counted and retried next tick, never raised out of the
thread — transient Spark failures must not silently end retention (the
reference couples trim to the liveness checker for the same reason: the
ticker survives as long as the process does).
"""

from __future__ import annotations

import contextlib
import fcntl
import os
import threading
import time
from collections.abc import Callable

from pyspark.sql import SparkSession

from jetstream_spark.atproto.log import (
    DEFAULT_TTL_US,
    US_PER_HOUR,
    TrimPartialFailure,
    compact_bucket,
    recover_compaction,
    trim_events,
)
from jetstream_spark.operators.observability import prom_label


def _now_us() -> int:
    return time.time_ns() // 1_000


# --- the maintenance lock ---------------------------------------------------
#
# Trim and compaction are concurrency-safe against READERS and the ingest
# WRITER, but not against a SECOND maintenance actor over the same log
# (a one-shot `trim` beside the standing ticker could sweep the ticker's
# _compact_tmp_ stage mid-swap). The reference cannot hit this: Pebble
# lets one process open a data dir at a time. Here every actor holds an
# exclusive flock on `<log_dir>/_maintenance.lock` for its whole life.
# The kernel drops the lock when the process dies, so a crashed actor's
# log is adoptable at once, and a live one (however slow its tick) keeps
# it. The `_` prefix keeps the file out of Spark's listings; the file is
# never removed, because a flock on an unlinked file stops excluding.

LOCK_FILE = "_maintenance.lock"


class MaintenanceLock:
    """The log's maintenance lock, taken in the constructor (RuntimeError
    naming the holder's pid when another actor has it) and released by
    ``release()`` or on leaving a ``with`` block. ``os.open`` fds are not
    inheritable, so an exec'd child never holds the lock."""

    def __init__(self, log_dir: str):
        os.makedirs(log_dir, exist_ok=True)
        fd = os.open(os.path.join(log_dir, LOCK_FILE), os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            os.ftruncate(fd, 0)
            os.pwrite(fd, str(os.getpid()).encode(), 0)
        except BlockingIOError:
            holder = os.pread(fd, 32, 0).decode(errors="replace").strip() or "unknown"
            os.close(fd)
            raise RuntimeError(
                f"{log_dir} is held by another maintenance actor (pid {holder}); "
                "exactly one maintenance actor per log"
            ) from None
        except BaseException:
            os.close(fd)
            raise
        self._fd: int | None = fd

    def release(self) -> None:
        if self._fd is not None:
            os.close(self._fd)  # closing the last fd drops the flock
            self._fd = None

    def __enter__(self) -> "MaintenanceLock":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def sealed_buckets(log_dir: str, now_us: int) -> list[int]:
    """The log's sealed hour buckets, oldest first. Sealed = strictly
    before the active hour: the writer only appends at the head, matching
    the sequencer's monotonic clock, so a sealed bucket never grows."""
    if not os.path.isdir(log_dir):
        return []
    names = (e.split("=", 1)[1] for e in os.listdir(log_dir) if e.startswith("hour_bucket="))
    active = now_us // US_PER_HOUR
    return sorted(b for b in (int(n) for n in names if n.lstrip("-").isdigit()) if b < active)


# Prometheus families for the loop's counters (S27: the reference's trim
# runs under the liveness ticker whose health is scraped from the same
# /metrics listener, cmd/jetstream/main.go:188-218 — a standing loop whose
# failures are only visible in-process is unobservable exactly where the
# reference is observable). Keys match MaintenanceLoop.counters.
MAINTENANCE_FAMILIES = {
    "ticks": "jetstream_maintenance_ticks_total",
    "partitions_trimmed": "jetstream_maintenance_partitions_trimmed_total",
    "buckets_compacted": "jetstream_maintenance_buckets_compacted_total",
    "buckets_skipped_unsafe": "jetstream_maintenance_buckets_skipped_unsafe_total",
    "errors": "jetstream_maintenance_tick_errors_total",
}


class MaintenanceLoop:
    """Background retention + sealed-bucket compaction on a ticker.

    ``now_fn`` is injectable so tests drive the clock; production uses
    wall micros — the same clock the sequencer assigns time_us from, so
    "expired" means the same thing to the trimmer and the data.
    """

    def __init__(
        self,
        spark: SparkSession,
        log_dir: str,
        ttl_us: int = DEFAULT_TTL_US,
        interval_s: float = 15.0,  # the reference's ticker (main.go:188)
        compact: bool = True,
        now_fn: Callable[[], int] = _now_us,
    ):
        self.spark = spark
        self.log_dir = log_dir
        self.ttl_us = ttl_us
        self.interval_s = interval_s
        self.compact = compact
        self.now_fn = now_fn
        # observability: scraped by callers the same way the consumer
        # metrics families are (S27) — counts, not gauges, so deltas
        # survive scrape gaps
        self.counters = {
            "ticks": 0,
            "partitions_trimmed": 0,
            "buckets_compacted": 0,
            "buckets_skipped_unsafe": 0,  # compact_bucket -1: unmarked batch
            "errors": 0,
        }
        self._stop = threading.Event()
        self._woke = threading.Event()  # test hook: set after every tick
        self._thread: threading.Thread | None = None
        self._lock: MaintenanceLock | None = None  # held from start() to a clean stop()

    # --- one tick (public so tests and operators can drive it directly) ----

    def tick(self) -> None:
        """One trim + compaction pass. The started loop runs it under the
        lock start() took; on an unstarted loop it takes the lock itself."""
        with contextlib.nullcontext() if self._lock else MaintenanceLock(self.log_dir):
            now = self.now_fn()
            try:
                self.counters["partitions_trimmed"] += trim_events(
                    self.spark, self.log_dir, now_us=now, ttl_us=self.ttl_us
                )
            except TrimPartialFailure as e:
                # the removals that DID land this pass are real work —
                # credit them before the error surfaces to the counter
                self.counters["partitions_trimmed"] += e.dropped
                raise
            if self.compact:
                self._compact_one_sealed(now)
            self.counters["ticks"] += 1

    def _compact_one_sealed(self, now_us: int) -> None:
        """Compact the OLDEST fragmented sealed bucket, at most one per
        tick; the active bucket is never touched."""
        for b in sealed_buckets(self.log_dir, now_us):
            got = compact_bucket(self.spark, self.log_dir, bucket=b)
            if got == -1:
                # an unmarked batch is still replayable into this bucket —
                # ineligible until the pipeline marks it; try the next one
                self.counters["buckets_skipped_unsafe"] += 1
            elif got > 1:
                self.counters["buckets_compacted"] += 1
                return  # one Spark rewrite per tick

    # --- lifecycle ----------------------------------------------------------

    def start(self) -> "MaintenanceLoop":
        assert self._thread is None, "maintenance loop already started"
        # lock BEFORE the thread exists: a second actor (same or another
        # process) fails fast here instead of racing this ticker
        lock = MaintenanceLock(self.log_dir)
        try:
            # with the lock held no actor is mid-swap, so a leftover
            # _compact_old_/_compact_tmp_ is a crashed compaction's
            recover_compaction(self.log_dir)
        except BaseException:
            lock.release()
            raise
        self._lock = lock
        self._thread = threading.Thread(target=self._run, daemon=True, name="jetstream-maintenance")
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            try:
                self.tick()
            except Exception:
                self.counters["errors"] += 1
            self._woke.set()
            self._stop.wait(self.interval_s)

    def stop(self, join_timeout_s: float = 60.0) -> str:
        """Signal the ticker and join it. Returns ``"stopped"``, or
        ``"hung"`` when the thread is still alive after the join timeout
        (a wedged Spark tick). A hang is REPORTED, not raised: stop() runs
        in shutdown paths (cmd_ingest's finally), where a raise would
        mask the original exception and turn a clean Ctrl-C into a
        traceback. On a hang the thread handle and the lock are both
        kept: the wedged tick may still be mid-trim/compact, so neither a
        later start() nor another actor may run beside it until a later
        stop() finds the thread gone, or the process exits."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=join_timeout_s)
            if self._thread.is_alive():
                return "hung"
            self._thread = None
        if self._lock is not None:
            self._lock.release()
            self._lock = None
        return "stopped"

    def render(self) -> str:
        """Prometheus text exposition of the loop's counters — joined into
        the edge's /metrics scrape the same way the consumer families are
        (serving/edge.py wires `maintenance=`)."""
        lines = []
        label = prom_label(self.log_dir)
        for key, family in MAINTENANCE_FAMILIES.items():
            lines.append(f"# TYPE {family} counter")
            lines.append(f'{family}{{log_dir="{label}"}} {self.counters[key]}')
        return "\n".join(lines)

    def wait_for_tick(self, timeout: float = 30.0) -> bool:
        """Test hook: block until at least one full tick has completed
        since the last call."""
        self._woke.clear()
        return self._woke.wait(timeout)
