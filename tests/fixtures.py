"""Synthetic firehose frames for golden pipeline tests (FIXTURES.md §A).

Deterministic (seed=7). Includes everything §A.3 requires: creates,
updates, deletes (no record/cid), interleaved account/identity events,
one TooBig commit, one CID-mismatch op — the latter two must be absent
from normalized output (consumer.go:105-108, 229-231).
"""

from __future__ import annotations

import json
import random

COLLECTIONS = ["app.bsky.feed.post", "app.bsky.feed.like", "app.bsky.graph.follow"]


def make_frames(n_commits: int = 40, seed: int = 7) -> list[dict]:
    rng = random.Random(seed)
    frames: list[dict] = []
    seq = 1000
    for i in range(n_commits):
        did = f"did:plc:user{i % 7:03d}"
        coll = COLLECTIONS[i % len(COLLECTIONS)]
        action = ["create", "update", "delete"][i % 3]
        cid = f"bafyrei{i:05d}"
        record = json.dumps({"$type": coll, "text": f"msg {i}", "n": rng.randrange(100)})
        op = {
            "action": action,
            "path": f"{coll}/rkey{i:04d}",
            "cid": cid if action != "delete" else None,
            "record_json": record if action != "delete" else None,
            "record_cid": cid if action != "delete" else None,
        }
        frames.append(
            {
                "kind": "commit",
                "did": did,
                "seq": seq,
                "rev": f"rev{i:04d}",
                "too_big": False,
                "ops": [op],
                "account": None,
                "identity": None,
            }
        )
        seq += 1
        if i % 10 == 3:  # interleave account events
            frames.append(
                {
                    "kind": "account",
                    "did": did,
                    "seq": seq,
                    "rev": None,
                    "too_big": None,
                    "ops": None,
                    "account": {"active": True, "did": did, "seq": seq, "time": "2024-01-01T00:00:00Z", "status": None},
                    "identity": None,
                }
            )
            seq += 1
        if i % 10 == 6:  # interleave identity events
            frames.append(
                {
                    "kind": "identity",
                    "did": did,
                    "seq": seq,
                    "rev": None,
                    "too_big": None,
                    "ops": None,
                    "account": None,
                    "identity": {"did": did, "handle": f"user{i}.bsky.social", "seq": seq, "time": "2024-01-01T00:00:00Z"},
                }
            )
            seq += 1

    # a TooBig commit — must be dropped (consumer.go:105-108)
    frames.append(
        {
            "kind": "commit",
            "did": "did:plc:toobig",
            "seq": seq,
            "rev": "revbig",
            "too_big": True,
            "ops": [
                {
                    "action": "create",
                    "path": "app.bsky.feed.post/rkeybig",
                    "cid": "bafybig",
                    "record_json": "{}",
                    "record_cid": "bafybig",
                }
            ],
            "account": None,
            "identity": None,
        }
    )
    seq += 1
    # a CID-mismatch op — must be dropped (consumer.go:229-231)
    frames.append(
        {
            "kind": "commit",
            "did": "did:plc:badcid",
            "seq": seq,
            "rev": "revbad",
            "too_big": False,
            "ops": [
                {
                    "action": "create",
                    "path": "app.bsky.feed.post/rkeybad",
                    "cid": "bafyclaimed",
                    "record_json": "{}",
                    "record_cid": "bafyactual",
                }
            ],
            "account": None,
            "identity": None,
        }
    )
    return frames


def drain_via_edge(spark, log_dir: str, sub, limit: int, deliver) -> int:
    """A cursor subscriber's replay rounds as the serving edge runs them —
    SubscribeServer._fetch_batch, deliver, sub.advance — but drained until
    a round comes back empty instead of stopping once caught up, so a test
    sees the whole log (or what maintenance left of it). Returns the
    delivered count."""
    from jetstream_spark.serving.edge import SubscribeServer

    server = SubscribeServer(spark, log_dir)
    delivered = 0
    while batch := server._fetch_batch(sub, limit):
        deliver(batch)
        delivered += len(batch)
        sub.advance(batch[-1]["time_us"])
    return delivered


def commit_batch_once(body, state_dir: str, batch_df, batch_id: int) -> None:
    """One micro-batch through the shared exactly-once handler, with a
    stream module's commit body `body(state_dir, batch_df, batch_id)` —
    what its standing query runs per batch, minus Structured Streaming."""
    from functools import partial

    from jetstream_spark.streaming.pipeline import commit_once

    commit_once(state_dir, partial(body, state_dir), batch_df, batch_id)
