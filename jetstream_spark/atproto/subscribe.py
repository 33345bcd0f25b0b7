"""S21/S18/S15 — subscriptions: the engine's client-issued queries.

A Subscription is the reference's "physical plan" (server.go:26-39): a
validated predicate set + cursor + per-subscriber monotonic sequence.
HandleSubscribe's parse/validate stage (server.go:240-300) becomes
`Subscription.parse`; the replay→live cutover loop (server.go:305-337)
becomes `replay_batch` rounds in the serving edge followed by the attach
to the shared live tail (serving/hub.py).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from jetstream_spark.atproto import log as eventlog

# NSID: ≥3 dot-separated segments, alnum/hyphen, last segment a name
# (syntax.ParseNSID, server.go:254). Wildcards like `app.bsky.*` are NOT
# in the reference snapshot — rejected here too.
NSID_RE = re.compile(
    r"^[a-zA-Z]([a-zA-Z0-9-]{0,62})?(\.[a-zA-Z0-9]([a-zA-Z0-9-]{0,62})?){1,}\.[a-zA-Z]([a-zA-Z0-9]{0,62})?$"
)
# DID: did:method:identifier (syntax.ParseDID, server.go:266)
DID_RE = re.compile(r"^did:[a-z]+:[a-zA-Z0-9._:%-]*[a-zA-Z0-9._-]$")

MAX_WANTED_COLLECTIONS = 100
MAX_WANTED_DIDS = 10_000
CUTOVER_THRESHOLD_US = 1_000_000  # server.go:60


class SubscriptionError(ValueError):
    """Invalid subscription parameters — the request is rejected
    (server.go:256-259, 268-271)."""


@dataclass
class Subscription:
    wanted_collections: list[str] = field(default_factory=list)
    wanted_dids: list[str] = field(default_factory=list)
    cursor: int | None = None  # None = live tail
    seq: int = 0  # per-subscriber monotonic watermark (S18, server.go:36)

    @classmethod
    def parse(
        cls,
        wanted_collections: list[str] | None = None,
        wanted_dids: list[str] | None = None,
        cursor: str | int | None = None,
        server_time_us: int | None = None,
    ) -> "Subscription":
        """Validate exactly like HandleSubscribe (server.go:250-287):
        bad NSID/DID → reject; future cursor → live tail (cursor=None)."""
        collections = list(wanted_collections or [])
        dids = list(wanted_dids or [])
        if len(collections) > MAX_WANTED_COLLECTIONS:
            raise SubscriptionError(f"too many wantedCollections (max {MAX_WANTED_COLLECTIONS})")
        if len(dids) > MAX_WANTED_DIDS:
            raise SubscriptionError(f"too many wantedDids (max {MAX_WANTED_DIDS})")
        for c in collections:
            if not NSID_RE.match(c):
                raise SubscriptionError(f"invalid NSID: {c!r}")
        for d in dids:
            if not DID_RE.match(d):
                raise SubscriptionError(f"invalid DID: {d!r}")
        parsed_cursor: int | None = None
        if cursor is not None and cursor != "":
            try:
                parsed_cursor = int(cursor)
            except (TypeError, ValueError) as e:
                raise SubscriptionError(f"invalid cursor: {cursor!r}") from e
            # future cursor ⇒ live tail (server.go:283-286)
            if server_time_us is not None and parsed_cursor > server_time_us:
                parsed_cursor = None
        return cls(collections, dids, parsed_cursor)

    # --- delivery -----------------------------------------------------------

    def replay_batch(self, spark: SparkSession, log_dir: str) -> DataFrame:
        """One replay round (S14+S17+S18): cursor-inclusive scan, filters,
        and the per-subscriber monotonic guard time_us > self.seq
        (server.go:131-134) that makes overlapping rounds duplicate-free."""
        df = eventlog.replay(
            spark,
            log_dir,
            cursor=self.cursor,
            wanted_collections=self.wanted_collections or None,
            wanted_dids=self.wanted_dids or None,
        )
        if self.seq > 0:
            from pyspark.sql import functions as F

            df = df.where(F.col("time_us") > self.seq)
        return df

    def advance(self, delivered_max_time_us: int) -> None:
        """Advance the monotonic watermark after a delivered batch
        (server.go:150,165); cursor moves to last+1 like server.go:327-330."""
        if delivered_max_time_us > self.seq:
            self.seq = delivered_max_time_us
            self.cursor = delivered_max_time_us + 1

    def caught_up(self, server_head_us: int) -> bool:
        """Replay→live cutover test (server.go:322): within ½·threshold of
        the live head ⇒ switch to live tail."""
        return self.seq > server_head_us - CUTOVER_THRESHOLD_US // 2
