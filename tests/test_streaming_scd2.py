"""Streaming SCD2 maintainer: the re-collapsed dimension equals the batch
operator over all events seen (including runs that merge across batch
boundaries), exactly-once replay, and ordering-violation detection."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from jetstream_spark.streaming.scd2_stream import (
    _batch_runs,
    _commit_batch,
    _stored_runs,
    check_order,
    current_scd2,
    init_scd2_state,
    start_streaming_scd2,
)
from jetstream_spark.queries.eventlog import scd2_chain
from tests.fixtures import commit_batch_once

SCHEMA = "event_id long, ts timestamp, user_id long, props string"


def _row(event_id: int, minute: int, user_id: int, k: int) -> dict:
    return {
        "event_id": event_id,
        "ts": f"2024-03-01T10:{minute:02d}:00",
        "user_id": user_id,
        "props": json.dumps({"k": k}),
    }


# user 1: tier 0 run spanning the batch boundary (k=5 then k=10 — both
# tier 0 — across b1/b2: the cross-part merge case), then tier 3.
# user 2: tier changes inside one batch, stable in the next.
BATCH1 = [_row(1, 0, 1, 5), _row(2, 5, 1, 7), _row(3, 1, 2, 30), _row(4, 6, 2, 80)]
BATCH2 = [_row(5, 10, 1, 10), _row(6, 15, 1, 90), _row(7, 11, 2, 85)]
BATCH3 = [_row(8, 20, 1, 95), _row(9, 21, 2, 10)]


def _write(events_dir: str, tag: str, rows: list[dict]) -> None:
    with open(os.path.join(events_dir, f"{tag}.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _drain(spark, events_dir, state_dir, ck) -> None:
    q = start_streaming_scd2(spark, events_dir, state_dir, str(ck))
    q.processAllAvailable()
    q.stop()


def _events_df(spark, rows: list[dict]):
    return spark.createDataFrame(
        [(r["event_id"], r["ts"].replace("T", " "), r["user_id"], r["props"]) for r in rows],
        "event_id long, ts string, user_id long, props string",
    ).withColumn("ts", F.to_timestamp("ts"))


def _table(df) -> set:
    return {tuple(r) for r in df.collect()}


def test_stream_equals_batch_operator(spark, tmp_path):
    events_dir, state_dir = str(tmp_path / "drop"), str(tmp_path / "state")
    os.makedirs(events_dir)
    init_scd2_state(state_dir)
    ck = tmp_path / "ck"

    seen: list[dict] = []
    for tag, batch in (("b1", BATCH1), ("b2", BATCH2), ("b3", BATCH3)):
        _write(events_dir, tag, batch)
        seen += batch
        _drain(spark, events_dir, state_dir, ck)
        got = _table(current_scd2(spark, state_dir))
        want = _table(scd2_chain(_batch_runs(_events_df(spark, seen))))
        assert got == want, tag
    # cross-boundary merge actually happened: stored mini-runs outnumber
    # the merged dimension's rows (user 1's tier-0 run spans b1/b2)
    n_parts_runs = _stored_runs(spark, state_dir).count()
    n_merged = current_scd2(spark, state_dir).count()
    assert n_merged < n_parts_runs
    # and user 1's first interval covers events from both batches
    u1 = sorted(
        (r for r in current_scd2(spark, state_dir).collect() if r["user_id"] == 1),
        key=lambda r: r["version"],
    )
    assert u1[0]["tier"] == 0 and u1[0]["n_events"] == 3
    assert check_order(spark, state_dir).isEmpty()


def test_exactly_once_replay(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    init_scd2_state(state_dir)
    df = _events_df(spark, BATCH1)
    commit_batch_once(_commit_batch, state_dir, df, 0)
    before = _table(current_scd2(spark, state_dir))
    # marker present: replay is a no-op
    commit_batch_once(_commit_batch, state_dir, df, 0)
    assert _table(current_scd2(spark, state_dir)) == before
    # crash window: part written but marker lost -> rerun converges
    # (delete-before-rewrite replaces the part)
    os.remove(os.path.join(state_dir, "_ingest_batches.json"))
    commit_batch_once(_commit_batch, state_dir, df, 0)
    assert _table(current_scd2(spark, state_dir)) == before


def test_check_order_flags_interleaved_parts(spark, tmp_path):
    """Out-of-order arrival of DISJOINT earlier windows is fine (the
    re-collapse sorts by valid_from, not arrival); only a late event that
    lands INSIDE an already-stored run span is a contract violation."""
    state_dir = str(tmp_path / "state")
    init_scd2_state(state_dir)
    # disjoint late arrival: batch2-time first, then batch1-time -> clean
    commit_batch_once(_commit_batch, state_dir, _events_df(spark, BATCH2), 0)
    commit_batch_once(_commit_batch, state_dir, _events_df(spark, BATCH1), 1)
    assert check_order(spark, state_dir).isEmpty()

    state2 = str(tmp_path / "state2")
    init_scd2_state(state2)
    # run span [0, 10] for user 7 (same tier), then a late event at
    # minute 5 with a different tier: lands inside the stored span
    early = _events_df(spark, [_row(1, 0, 7, 5), _row(2, 10, 7, 7)])
    commit_batch_once(_commit_batch, state2, early, 0)
    commit_batch_once(_commit_batch, state2, _events_df(spark, [_row(3, 5, 7, 90)]), 1)
    bad = check_order(spark, state2)
    assert {r["user_id"] for r in bad.collect()} == {7}


def test_random_batch_splits_equal_batch_operator(spark, tmp_path):
    """Any cursor-ordered batching of a random event stream yields the
    same dimension as the one-shot batch operator (fixed seeds)."""
    import random

    for seed in (7, 23):
        rng = random.Random(seed)
        events = [
            _row(i, i, rng.randrange(1, 4), rng.randrange(100))
            for i in range(40)  # minute == event ordinal: globally ordered
        ]
        state = str(tmp_path / f"s{seed}")
        init_scd2_state(state)
        # split into 2-5 ordered chunks at random boundaries
        cuts = sorted(rng.sample(range(1, 40), rng.randrange(1, 4)))
        chunks = [events[a:b] for a, b in zip([0] + cuts, cuts + [40])]
        for bid, chunk in enumerate(chunks):
            commit_batch_once(_commit_batch, state, _events_df(spark, chunk), bid)
        got = _table(current_scd2(spark, state))
        want = _table(scd2_chain(_batch_runs(_events_df(spark, events))))
        assert got == want, f"seed={seed} cuts={cuts}"
        assert check_order(spark, state).isEmpty()


def test_collapse_idempotent_on_runs(spark):
    """scd2_collapse must be a projection: re-collapsing a collapsed runs
    frame reproduces it exactly (the property both the streaming read
    side and state compaction rely on)."""
    from jetstream_spark.streaming.scd2_stream import _batch_runs, _merge_runs

    runs = _batch_runs(_events_df(spark, BATCH1 + BATCH2 + BATCH3)).select(
        "user_id", "version", "tier", "valid_from_us", "last_us", "n_events", "first_tie"
    )
    once = _merge_runs(runs)
    twice = _merge_runs(once)
    assert _table(once.select(*runs.columns)) == _table(twice.select(*runs.columns))


def test_equal_timestamp_boundary_ties_match_batch(spark, tmp_path):
    """Two runs STARTING at the identical microsecond across a batch
    boundary (allowed by the at-or-after contract) must merge in the batch
    operator's (ts, event_id) order — the stored first_tie carries the
    tie-break that ord_tie=0 used to lose."""
    state = str(tmp_path / "state")
    init_scd2_state(state)
    # user 9: batch 0 has ONE event at minute 5 (tier 0, id 1); batch 1
    # has events at the SAME minute 5 (tier 9, id 2) then minute 6
    b0 = [_row(1, 5, 9, 5)]
    b1 = [_row(2, 5, 9, 95), _row(3, 6, 9, 97)]
    commit_batch_once(_commit_batch, state, _events_df(spark, b0), 0)
    commit_batch_once(_commit_batch, state, _events_df(spark, b1), 1)
    got = _table(current_scd2(spark, state))
    want = _table(scd2_chain(_batch_runs(_events_df(spark, b0 + b1))))
    assert got == want
    # the current tier is the HIGHER event_id's tier, deterministically
    from jetstream_spark.queries.eventlog import TIER_WIDTH

    cur = [r for r in current_scd2(spark, state).collect() if r["is_current"]]
    assert len(cur) == 1 and cur[0]["tier"] == 95 // TIER_WIDTH != 5 // TIER_WIDTH
