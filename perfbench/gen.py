"""Seeded, deterministic stream inputs for the benchmark.

The rows of the engine's sf0.1 `events` test table (data/stream/
events.parquet, 100k rows over 1,500 users) are mapped, with the seed,
onto `com.atproto.sync.subscribeRepos` wire frames. The seed picks the
starting row (the stream wraps around the table) and the `event_type` →
collection NSID assignment; `user_id` maps to a seeded DID, and a seeded
draw per event picks create/update/delete commits plus some `#account` /
`#identity` frames. Every frame carries one event; event `g` has relay seq
`g + 1` and, for commits, record key `e{g}`, so a subscriber can map each
frame it receives back to the generated event.

The same seed gives byte-identical frames.
"""

from __future__ import annotations

import functools
import hashlib
import os
import random
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
STREAM_TABLE = os.path.join(HERE, "data", "stream", "events.parquet")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
NSIDS = (
    "app.bsky.feed.post",
    "app.bsky.feed.like",
    "app.bsky.graph.follow",
    "app.bsky.feed.repost",
    "app.bsky.actor.profile",
)
FRAME_TIME = "2024-01-01T00:00:00Z"


@dataclass(frozen=True)
class Event:
    g: int  # generation index; relay seq is g + 1
    kind: str  # "commit" | "account" | "identity"
    did: str
    collection: str | None = None
    action: str | None = None  # create | update | delete
    value: float = 0.0

    @property
    def seq(self) -> int:
        return self.g + 1


def did_for(seed: int, user_id: int) -> str:
    h = hashlib.sha256(f"{seed}:{user_id}".encode()).hexdigest()
    return f"did:plc:{h[:24]}"


@functools.lru_cache(maxsize=1)
def stream_rows() -> tuple[tuple[int, str, float], ...]:
    """(user_id, event_type, value) of every row of the stream table, in
    file order."""
    import pyarrow.parquet as pq

    t = pq.read_table(STREAM_TABLE, columns=["user_id", "event_type", "value"])
    cols = [t.column(c).to_pylist() for c in ("user_id", "event_type", "value")]
    return tuple(zip(*cols))


def make_events(seed: int, n: int) -> list[Event]:
    """The first `n` events of the seed's stream. Each event draws from its
    own seeded generator, so a shorter stream is a prefix of a longer one."""
    rows = stream_rows()
    rng0 = random.Random(seed)
    start = rng0.randrange(len(rows))
    order = list(NSIDS)
    rng0.shuffle(order)
    nsid_of = dict(zip(EVENT_TYPES, order))
    out = []
    for g in range(n):
        user_id, etype, value = rows[(start + g) % len(rows)]
        rng = random.Random(seed * 1_000_003 + g)
        did = did_for(seed, user_id)
        r = rng.random()
        if r < 0.02:
            out.append(Event(g, "account", did, value=value))
        elif r < 0.04:
            out.append(Event(g, "identity", did, value=value))
        else:
            action = "create" if r < 0.72 else "update" if r < 0.90 else "delete"
            out.append(Event(g, "commit", did, nsid_of[etype], action, value))
    return out


def frame_bytes(ev: Event) -> bytes:
    """One subscribeRepos binary frame: DAG-CBOR header + body, commits
    carrying a CAR archive with the record block and a tag-42 CID link."""
    from jetstream_spark.atproto.carcbor import cbor_encode, cid_for_block, encode_car, link

    if ev.kind == "account":
        body = {"seq": ev.seq, "did": ev.did, "time": FRAME_TIME, "active": True}
        return cbor_encode({"op": 1, "t": "#account"}) + cbor_encode(body)
    if ev.kind == "identity":
        body = {"seq": ev.seq, "did": ev.did, "handle": f"u{ev.g}.test", "time": FRAME_TIME}
        return cbor_encode({"op": 1, "t": "#identity"}) + cbor_encode(body)
    path = f"{ev.collection}/e{ev.g}"
    blocks: list[bytes] = []
    op = {"action": ev.action, "path": path, "cid": None}
    if ev.action != "delete":
        block = cbor_encode(
            {"$type": ev.collection, "text": f"event {ev.g}", "value": str(ev.value), "createdAt": FRAME_TIME}
        )
        blocks.append(block)
        op["cid"] = link(cid_for_block(block))
    body = {
        "seq": ev.seq,
        "repo": ev.did,
        "rev": f"r{ev.g}",
        "time": FRAME_TIME,
        "blocks": encode_car(blocks),
        "ops": [op],
        "tooBig": False,
    }
    return cbor_encode({"op": 1, "t": "#commit"}) + cbor_encode(body)
