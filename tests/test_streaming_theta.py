"""Streaming theta/KMV sketch: merged per-batch bottom-k == one-shot
bottom-k (KMV mergeability), estimator agreement with the batch rules,
exactly-once replay, and compaction invariance."""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import functions as F

from jetstream_spark.queries.sketches import _KMV_SCALE, KMV_K
from jetstream_spark.streaming.theta_stream import (
    EVENT_STREAM_SCHEMA,
    _batch_sketch,
    _commit_batch,
    compact_state,
    distinct_estimates,
    init_theta_state,
    read_sketch,
    start_streaming_theta,
)
from tests.fixtures import commit_batch_once


def _write_batch(events_dir: str, tag: str, rows: list[tuple[int, str, str]]) -> None:
    with open(os.path.join(events_dir, f"{tag}.json"), "w") as f:
        for user_id, event_type, day in rows:
            f.write(
                json.dumps({"user_id": user_id, "event_type": event_type, "day": day})
                + "\n"
            )


def _drain(spark, events_dir, state_dir, ckpt) -> None:
    q = start_streaming_theta(spark, events_dir, state_dir, str(ckpt))
    q.processAllAvailable()
    q.stop()


def _mk_rows(n0: int, n1: int, et: str, day: str) -> list[tuple[int, str, str]]:
    return [(u, et, day) for u in range(n0, n1)]


# enough distinct user-days to saturate K=256 in the click set
BATCH1 = (
    _mk_rows(0, 300, "click", "2026-01-01")
    + _mk_rows(0, 40, "purchase", "2026-01-01")
    + _mk_rows(0, 10, "view", "2026-01-01")  # filtered out
)
BATCH2 = (
    _mk_rows(100, 400, "click", "2026-01-02")
    + _mk_rows(20, 80, "purchase", "2026-01-01")  # overlaps batch 1's purchases
)


def _one_shot(spark):
    all_rows = BATCH1 + BATCH2
    df = spark.createDataFrame(all_rows, EVENT_STREAM_SCHEMA)
    return _batch_sketch(df)


def test_merged_sketch_equals_one_shot(spark, tmp_path):
    events_dir, state_dir = str(tmp_path / "drop"), str(tmp_path / "state")
    os.makedirs(events_dir)
    init_theta_state(state_dir)
    _write_batch(events_dir, "b1", BATCH1)
    _drain(spark, events_dir, state_dir, tmp_path / "ckpt")
    _write_batch(events_dir, "b2", BATCH2)
    _drain(spark, events_dir, state_dir, tmp_path / "ckpt")

    merged = sorted(map(tuple, read_sketch(spark, state_dir).collect()))
    one_shot = sorted(map(tuple, _one_shot(spark).collect()))
    assert merged == one_shot
    # the click set saturates K, purchase does not
    by_set = {}
    for s, _h in merged:
        by_set[s] = by_set.get(s, 0) + 1
    assert by_set["click"] == KMV_K
    assert by_set["purchase"] < KMV_K


def test_estimates_match_batch_rules_and_truth(spark, tmp_path):
    events_dir, state_dir = str(tmp_path / "drop"), str(tmp_path / "state")
    os.makedirs(events_dir)
    init_theta_state(state_dir)
    _write_batch(events_dir, "b1", BATCH1)
    _write_batch(events_dir, "b2", BATCH2)
    _drain(spark, events_dir, state_dir, tmp_path / "ckpt")

    est = {r["s"]: r for r in distinct_estimates(spark, state_dir).collect()}
    # purchase: 80 distinct user-days < K -> exact
    assert est["purchase"]["n_sketch"] == 80
    assert est["purchase"]["theta"] == _KMV_SCALE
    assert est["purchase"]["kmv_estimate"] == 80.0
    # click: 300 + 300 user-days (disjoint days) = 600 true; saturated
    r = est["click"]
    assert r["n_sketch"] == KMV_K and r["theta"] < _KMV_SCALE
    bound = 5.0 / math.sqrt(KMV_K - 1)
    assert abs(r["kmv_estimate"] - 600) / 600 <= bound


def test_exactly_once_replay_and_compaction(spark, tmp_path):
    events_dir, state_dir = str(tmp_path / "drop"), str(tmp_path / "state")
    os.makedirs(events_dir)
    init_theta_state(state_dir)
    _write_batch(events_dir, "b1", BATCH1)
    _drain(spark, events_dir, state_dir, tmp_path / "ckpt")
    _write_batch(events_dir, "b2", BATCH2)
    _drain(spark, events_dir, state_dir, tmp_path / "ckpt")  # two parts
    before = sorted(map(tuple, read_sketch(spark, state_dir).collect()))

    # crash-replay of an already-marked batch is a no-op
    replay = spark.createDataFrame(BATCH1, EVENT_STREAM_SCHEMA)
    commit_batch_once(_commit_batch, state_dir, replay, 0)
    assert sorted(map(tuple, read_sketch(spark, state_dir).collect())) == before

    # compaction folds parts by the read-side merge: estimates unchanged
    est_before = sorted(map(tuple, distinct_estimates(spark, state_dir).collect()))
    assert compact_state(spark, state_dir)
    assert sorted(map(tuple, read_sketch(spark, state_dir).collect())) == before
    assert (
        sorted(map(tuple, distinct_estimates(spark, state_dir).collect()))
        == est_before
    )
