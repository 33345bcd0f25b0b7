"""H5 — LiveTailHub: ONE shared streaming tail of the log fanned out to
every connected subscriber.

This is the reference's live topology (cmd/jetstream/server.go:187-238
Subscribers registry + server.go:118-176 emitToSubscribers): one firehose
consumer feeds N per-subscriber buffers, with per-subscriber predicates
evaluated at emit time against envelope fields — never re-serializing
(serialize-once, P3: wire frames are prebuilt by to_wire upstream).

Spark shape: a Structured Streaming tick query runs over the sequencer
head (atproto/sequencer.py::SequencerHeadSource, whose offset is
last_time_us), so it ticks exactly when a commit moves the head and never
lists the log. Each tick computes ONE ordered incremental slice (min
subscriber watermark, sequencer head] and the Python fan-out loop routes
rows by the S17 filter semantics + each subscriber's S18 monotonic guard.
The slice is read on the driver (log.py::LogWindow: only the files whose
footer time_us range meets the slice, usually the one batch file just
committed) and handed to to_wire as a local relation, so a live slice
runs no Spark job — the analogue of the reference emitting from memory
right after the persist (server.go:62-116). When the window cannot be
served (a compaction or trim in motion, a file replaced under the
listing, or more candidate rows than batch_limit) the slice is the Spark
replay scan, with replay_rows' re-plan retry. Per-round driver
materialization is bounded by batch_limit either way (the 10×-sub-rate
replay contract, persist.go:149) — a subscriber far behind head never
forces an unbounded collect.

Registration does an inline catch-up round so a subscriber attaching
between ticks (the replay→live cutover instant, server.go:305-337) is
brought to head immediately — the S18 guard makes the handover gapless and
duplicate-free regardless of how the catch-up and the next tick interleave:
emits are serialized under the hub lock and re-filtered against the
subscriber's CURRENT watermark at emit time, while slice collects (which
can spend seconds retrying through maintenance races) run outside the
lock so connect/disconnect never blocks on a delivery round.
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from jetstream_spark.atproto.log import LogWindow, replay, replay_rows
from jetstream_spark.atproto.sequencer import SequencerHeadSource, SequencerState
from jetstream_spark.atproto.subscribe import Subscription
from jetstream_spark.atproto.wire import to_wire
from jetstream_spark.serving.edge import MAX_SUB_RATE, PLAYBACK_MULT


def _matches(row, collections: frozenset[str], dids: frozenset[str]) -> bool:
    """S17 emit-time predicate (server.go:118-129): DID filter always
    applies; collection filter applies only to rows that HAVE a collection
    (account/identity bypass); empty set = match-all."""
    if dids and row["did"] not in dids:
        return False
    if collections and row["collection"] is not None and row["collection"] not in collections:
        return False
    return True


@dataclass
class _HubSub:
    sub: Subscription
    emit: Callable[[list], None]
    collections: frozenset[str] = field(default_factory=frozenset)
    dids: frozenset[str] = field(default_factory=frozenset)
    # cleared by unregister: a delivery round that snapshotted this sub
    # before the unregister must not emit to it afterwards
    active: bool = True


class LiveTailHub:
    def __init__(
        self,
        spark: SparkSession,
        log_dir: str,
        checkpoint_dir: str,
        batch_limit: int | None = None,
    ):
        self.spark = spark
        self.log_dir = log_dir
        self.checkpoint_dir = checkpoint_dir
        # one second of replay at the contract rate (persist.go:149's 10×
        # playback multiplier over main.go:79-84's 5k/s live ceiling)
        self.batch_limit = batch_limit or MAX_SUB_RATE * PLAYBACK_MULT
        self._subs: dict[int, _HubSub] = {}
        self._next_id = 0
        # optional observer called ONCE per collected slice, before the
        # per-subscriber filter loop — the edge wires its emitted counters
        # here (server.go:62-80: Emit increments pre-filter, per event,
        # regardless of subscriber count)
        self.on_slice: Callable[[list], None] | None = None
        # serializes all delivery (ticks + registration catch-up) — the
        # analogue of the reference's Subscribers RWMutex
        self._lock = threading.Lock()
        self._query: StreamingQuery | None = None
        self._window = LogWindow(log_dir)

    # --- subscriber lifecycle -------------------------------------------------

    def register(self, sub: Subscription, emit: Callable[[list], None]) -> int:
        """Attach a subscriber and synchronously bring it to the current
        head (catch-up round), so a cutover between ticks leaves no gap."""
        hs = _HubSub(
            sub,
            emit,
            frozenset(sub.wanted_collections or ()),
            frozenset(sub.wanted_dids or ()),
        )
        with self._lock:
            self._next_id += 1
            hub_id = self._next_id
            self._subs[hub_id] = hs
        # catch-up runs OUTSIDE the lock (its collect can take seconds
        # under a maintenance-race retry storm); the emit-time watermark
        # check inside _deliver keeps it exactly-once against a
        # concurrent tick delivering to the same subscriber
        self._deliver([hs], SequencerState.load(self.log_dir).last_time_us)
        return hub_id

    def unregister(self, hub_id: int) -> None:
        with self._lock:
            hs = self._subs.pop(hub_id, None)
            if hs is not None:
                hs.active = False

    # --- streaming tail -------------------------------------------------------

    def start(self) -> StreamingQuery:
        # the tick stream's offset is the sequencer head: one micro-batch
        # per head move, whatever the log holds — it never lists the log,
        # so a trim or compaction under it cannot fail it. Its batch is
        # row-less; delivery lives in the seq-guarded slice read (_on_tick)
        self.spark.dataSource.register(SequencerHeadSource)
        tick = (
            self.spark.readStream.format(SequencerHeadSource.name())
            .option("log_dir", self.log_dir)
            .load()
        )
        self._query = (
            tick.writeStream.foreachBatch(self._on_tick)
            .option("checkpointLocation", self.checkpoint_dir)
            .start()
        )
        return self._query

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
            self._query = None

    def _on_tick(self, batch_df, batch_id: int) -> None:
        hi = SequencerState.load(self.log_dir).last_time_us
        with self._lock:
            subs = list(self._subs.values())
        self._deliver(subs, hi)

    def _slice(self, lo: int, hi: int) -> DataFrame:
        """The wire frame of (lo, hi], at most batch_limit rows in time
        order: the driver-read window as a local relation when LogWindow
        can serve it, the Spark replay scan otherwise."""
        window = self._window.read(lo, hi, self.batch_limit)
        if window is not None:
            return to_wire(self.spark.createDataFrame(window))
        return (
            to_wire(replay(self.spark, self.log_dir, cursor=lo + 1).where(F.col("time_us") <= hi))
            .orderBy("time_us")
            .limit(self.batch_limit)
        )

    def _deliver(self, subs: list[_HubSub], hi: int) -> None:
        """Bounded rounds: each round collects ONE ordered slice
        (min watermark, hi] of ≤ batch_limit rows and fans it out.

        Locking: the slice COLLECT runs outside the hub lock — under a
        maintenance-race retry storm replay_rows can spend seconds in
        capped-backoff retries, and holding the lock for that budget
        would block subscriber connect/disconnect for the duration. The
        lock is held only around watermark reads and the emit loop, and
        each subscriber's exactly-once/monotonic guarantee comes from the
        emit-time re-check under the lock (filter strictly above the
        CURRENT watermark, then advance — Subscription.advance is
        monotonic-max), not from serializing whole delivery rounds:
        concurrent rounds for the same subscriber (tick vs registration
        catch-up) may collect overlapping slices, but whichever emits
        second drops everything at or below the watermark the first one
        advanced."""
        while True:
            with self._lock:
                behind = [h for h in subs if h.active and h.sub.seq < hi]
                if not behind:
                    return
                lo = min(h.sub.seq for h in behind)
            # replay_rows, frame rebuilt per attempt: a compaction swap or
            # TTL trim landing between this slice's file listing and its
            # collect must not kill the ONE query every subscriber shares
            # (same contract as the edge's replay rounds; watermarks
            # advance only after a delivered slice, so the retry is
            # exactly-once)
            rows = replay_rows(self.spark, self.log_dir, lambda: self._slice(lo, hi))
            if not rows:
                return
            if self.on_slice is not None:
                self.on_slice(rows)
            slice_hi = rows[-1]["time_us"]
            with self._lock:
                for h in behind:
                    if not h.active:
                        continue  # unregistered while the slice collected
                    out = [
                        r
                        for r in rows
                        if r["time_us"] > h.sub.seq and _matches(r, h.collections, h.dids)
                    ]
                    if out:
                        h.emit(out)
                    # watermark advances over non-matching rows too — the
                    # slice was fully examined up to slice_hi
                    h.sub.advance(slice_hi)
            if len(rows) < self.batch_limit:
                return
