"""Streaming rate-anomaly monitor: merged hourly counts == one-shot counts
(additivity), anomaly set == the batch operator's flagging core over all
events seen, exactly-once replay."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from jetstream_spark.streaming.anomaly_stream import (
    detect_anomalies,
    init_anomaly_state,
    read_hourly_counts,
    start_streaming_anomaly,
)


def _write_batch(events_dir: str, tag: str, rows: list[tuple[int, str, str]]) -> None:
    with open(os.path.join(events_dir, f"{tag}.json"), "w") as f:
        for event_id, ts, event_type in rows:
            f.write(
                json.dumps({"event_id": event_id, "ts": ts, "event_type": event_type})
                + "\n"
            )


def _drain(spark, events_dir, state_dir, ckpt) -> None:
    q = start_streaming_anomaly(spark, events_dir, state_dir, str(ckpt))
    q.processAllAvailable()
    q.stop()


def _mk_rows(start_id: int, hour: int, event_type: str, n: int):
    return [
        (start_id + i, f"2024-03-01T{hour:02d}:{i % 60:02d}:00", event_type)
        for i in range(n)
    ]


# steady one-per-hour 'click' baseline over many hours, plus one burst hour —
# the burst must come out flagged, the baseline must not
BATCH1 = (
    [r for h in range(0, 8) for r in _mk_rows(100 * h, h, "click", 2)]
    + _mk_rows(900, 8, "click", 12)  # burst
)
BATCH2 = [r for h in range(9, 16) for r in _mk_rows(2000 + 100 * h, h, "click", 2)]


def test_merged_counts_equal_one_shot_and_flags_match_batch_core(spark, tmp_path):
    events_dir, state_dir = str(tmp_path / "drop"), str(tmp_path / "state")
    os.makedirs(events_dir)
    init_anomaly_state(state_dir)
    ck = tmp_path / "ck"

    _write_batch(events_dir, "b1", BATCH1)
    _drain(spark, events_dir, state_dir, ck)
    _write_batch(events_dir, "b2", BATCH2)
    _drain(spark, events_dir, state_dir, ck)

    # additivity: merged streaming counts == one-shot hourly counts
    all_rows = spark.createDataFrame(
        BATCH1 + BATCH2, "event_id long, ts string, event_type string"
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    one_shot = {
        (r["event_type"], r["hb"]): r["n"]
        for r in all_rows.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hb")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    merged = {
        (r["event_type"], r["hb"]): r["n"]
        for r in read_hourly_counts(spark, state_dir).collect()
    }
    assert merged == one_shot

    # the standing monitor flags exactly what the batch core would flag:
    # the burst hour, and nothing else
    anoms = detect_anomalies(spark, state_dir).collect()
    assert [(r["event_type"], r["hour_bucket"], r["n"]) for r in anoms] == [
        ("click", "2024-03-01 08:00:00", 12)
    ]
    from jetstream_spark.queries.eventlog import ANOM_Z

    assert all(abs(r["zscore"]) >= ANOM_Z for r in anoms)


def test_anomaly_stream_exactly_once_replay(spark, tmp_path):
    """Re-running an already-marked batch must not duplicate its counts
    (marker skip), and a crash AFTER the part write but BEFORE the marker
    converges to one copy via delete-before-rewrite."""
    from jetstream_spark.streaming.anomaly_stream import _commit_batch
    from tests.fixtures import commit_batch_once

    events_dir, state_dir = str(tmp_path / "drop"), str(tmp_path / "state")
    os.makedirs(events_dir)
    init_anomaly_state(state_dir)

    rows = spark.createDataFrame(
        BATCH1, "event_id long, ts string, event_type string"
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")

    commit_batch_once(_commit_batch, state_dir, rows, 0)
    before = sorted(
        (r["event_type"], r["hb"], r["n"])
        for r in read_hourly_counts(spark, state_dir).collect()
    )
    # marked-done replay: no-op
    commit_batch_once(_commit_batch, state_dir, rows, 0)
    # crash-window replay: marker lost, part present -> rewrite, not append
    from jetstream_spark.atproto.log import BATCH_STATE_FILE, load_done_batches

    assert 0 in load_done_batches(state_dir)
    os.remove(os.path.join(state_dir, BATCH_STATE_FILE))
    commit_batch_once(_commit_batch, state_dir, rows, 0)
    after = sorted(
        (r["event_type"], r["hb"], r["n"])
        for r in read_hourly_counts(spark, state_dir).collect()
    )
    assert after == before


def test_smoothed_rates_match_batch_ewma_core(spark, tmp_path):
    """The monitor's EWMA baseline over its merged state equals the batch
    smoothing core applied to one-shot dense hourly counts."""
    from jetstream_spark.queries.eventlog import ewma_over
    from jetstream_spark.streaming.anomaly_stream import smoothed_rates

    events_dir, state_dir = str(tmp_path / "drop"), str(tmp_path / "state")
    os.makedirs(events_dir)
    init_anomaly_state(state_dir)
    ck = tmp_path / "ck"
    _write_batch(events_dir, "b1", BATCH1)
    _drain(spark, events_dir, state_dir, ck)
    _write_batch(events_dir, "b2", BATCH2)
    _drain(spark, events_dir, state_dir, ck)
    late = _mk_rows(5000, 20, "click", 3)  # hours 16-19 become gaps
    _write_batch(events_dir, "b3", late)
    _drain(spark, events_dir, state_dir, ck)

    got = sorted(map(tuple, smoothed_rates(spark, state_dir).collect()))
    rows = [(eid, ts, et) for eid, ts, et in BATCH1 + BATCH2 + late]
    ev = spark.createDataFrame(rows, "event_id long, ts string, event_type string").selectExpr(
        "event_type", "date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hb"
    )
    hourly = ev.groupBy("event_type", "hb").agg(F.count(F.lit(1)).alias("n"))
    span = hourly.groupBy("event_type").agg(F.min("hb").alias("lo"), F.max("hb").alias("hi"))
    dense = (
        span.select("event_type", F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hb"))
        .join(hourly, ["event_type", "hb"], "left")
        .select("event_type", "hb", F.coalesce("n", F.lit(0)).alias("n"))
    )
    want = sorted(map(tuple, ewma_over(dense).collect()))
    assert got == want
    # smoothing actually spans a gap (BATCH1/2 leave empty hours between)
    assert any(r[2] == 0 for r in got), "dense baseline must include gap hours"
