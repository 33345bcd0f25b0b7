"""State compaction for the standing monitors: merged state identical
before/after, every crash window of the manifest swap, replay safety."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from jetstream_spark.streaming import anomaly_stream as anom
from jetstream_spark.streaming import scd2_stream as scd2
from jetstream_spark.streaming.state_compact import (
    MANIFEST,
    TMP,
    compact,
    list_parts,
    recover,
)
from tests.fixtures import commit_batch_once
from tests.test_streaming_scd2 import BATCH1, BATCH2, BATCH3, _events_df


def _anom_df(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))


def _counts(spark, state):
    return sorted(map(tuple, anom.read_hourly_counts(spark, state).collect()))


def _mk_anom_state(spark, tmp_path, n_batches=3):
    state = str(tmp_path / "anom")
    anom.init_anomaly_state(state)
    for b in range(n_batches):
        rows = [
            (b * 100 + i, f"2024-03-01T{(b + i) % 24:02d}:05:00", "click")
            for i in range(20)
        ]
        commit_batch_once(anom._commit_batch, state, _anom_df(spark, rows), b)
    return state


def test_anomaly_compaction_preserves_counts(spark, tmp_path):
    state = _mk_anom_state(spark, tmp_path)
    before = _counts(spark, state)
    assert anom.compact_state(spark, state)
    assert _counts(spark, state) == before
    d = os.path.join(state, "counts")
    assert [e for e in os.listdir(d) if e.startswith("b")] == []
    assert len(list_parts(d)) == 1

    # new batches land after compaction; a second compaction folds c + b
    rows = [(900 + i, "2024-03-01T03:05:00", "view") for i in range(5)]
    commit_batch_once(anom._commit_batch, state, _anom_df(spark, rows), 7)
    mid = _counts(spark, state)
    assert anom.compact_state(spark, state)
    assert _counts(spark, state) == mid
    # replay of an absorbed batch is marker-skipped: state unchanged
    commit_batch_once(anom._commit_batch, state, _anom_df(spark, rows), 7)
    assert _counts(spark, state) == mid


def test_compaction_crash_windows(spark, tmp_path):
    state = _mk_anom_state(spark, tmp_path)
    d = os.path.join(state, "counts")
    before = _counts(spark, state)

    # (a) tmp written, no manifest: reader unaffected; recover drops tmp
    os.makedirs(os.path.join(d, TMP))
    assert _counts(spark, state) == before
    recover(d)
    assert not os.path.exists(os.path.join(d, TMP))
    assert _counts(spark, state) == before

    # (b) manifest written, merged dir missing: nothing committed
    parts = [os.path.basename(p) for p in list_parts(d)]
    with open(os.path.join(d, MANIFEST), "w") as f:
        json.dump({"absorbed": parts, "merged": "c99"}, f)
    assert _counts(spark, state) == before
    recover(d)
    assert not os.path.exists(os.path.join(d, MANIFEST))
    assert _counts(spark, state) == before

    # (c) merged dir committed, absorbed deletes interrupted: the reader
    # must NOT double-count, and recover finishes the deletes
    anom._merge_counts(spark.read.parquet(*list_parts(d))).write.parquet(
        os.path.join(d, "c99")
    )
    with open(os.path.join(d, MANIFEST), "w") as f:
        json.dump({"absorbed": parts, "merged": "c99"}, f)
    # all absorbed dirs still on disk alongside the merged one
    assert _counts(spark, state) == before
    recover(d)
    assert _counts(spark, state) == before
    assert [e for e in os.listdir(d) if e.startswith("b")] == []


def test_scd2_compaction_preserves_dimension(spark, tmp_path):
    state = str(tmp_path / "scd2")
    scd2.init_scd2_state(state)
    for i, batch in enumerate((BATCH1, BATCH2, BATCH3)):
        commit_batch_once(scd2._commit_batch, state, _events_df(spark, batch), i)
    before = sorted(map(tuple, scd2.current_scd2(spark, state).collect()))
    assert scd2.compact_state(spark, state)
    after = sorted(map(tuple, scd2.current_scd2(spark, state).collect()))
    assert after == before
    assert len(list_parts(os.path.join(state, "runs"))) == 1
    # the compacted part holds FEWER rows than the three raw parts did
    # (cross-boundary runs merged by the collapse)
    assert scd2._stored_runs(spark, state).count() == len(before)


def test_compaction_skips_undone_inflight_batch(spark, tmp_path):
    """A b-dir whose batch is NOT done-marked (a concurrent stream's write
    could still be in flight) must survive compaction untouched; only
    done-marked batches and committed c-parts are absorbed."""
    from jetstream_spark.atproto.log import load_done_batches

    state = _mk_anom_state(spark, tmp_path)  # batches 0..2, all done-marked
    # simulate an in-flight batch: parquet present, marker absent
    inflight_rows = [(900 + i, "2024-03-01T09:05:00", "click") for i in range(5)]
    anom._commit_batch(state, _anom_df(spark, inflight_rows), 99)

    assert anom.compact_state(spark, state)
    names = {os.path.basename(p) for p in list_parts(os.path.join(state, "counts"))}
    assert "b99" in names, names  # not absorbed, not deleted
    assert any(n.startswith("c") for n in names)
    assert 99 not in load_done_batches(state)
