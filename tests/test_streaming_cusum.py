"""Streaming CUSUM drift monitor: the day-rollup of the shared hourly
state equals one-shot daily counts, and the standing drift table equals
the batch operator's flagging core over all events seen — including
across an exactly-once replayed drain."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from jetstream_spark.queries.eventlog import flag_cusum_drift
from jetstream_spark.streaming.anomaly_stream import (
    init_anomaly_state,
    start_streaming_anomaly,
)
from jetstream_spark.streaming.cusum_stream import detect_drift, read_daily_counts


def _write_batch(events_dir: str, tag: str, rows) -> None:
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


def _day_rows(start_id: int, day: int, event_type: str, n: int):
    # spread a day's n events over its hours so daily != hourly trivially
    return [
        (start_id + i, f"2024-03-{day:02d}T{i % 24:02d}:{i % 60:02d}:00", event_type)
        for i in range(n)
    ]


# a noisy ~10-per-day 'click' baseline for the 7-day reference window
# (nonzero variance — sd = 0 disables the detector by design), then a
# slow decay no single day of which is a spike — the CUSUM shape
_BASE = (9, 11, 10, 9, 11, 10, 10, 9, 11)
BATCH1 = [
    r for d, n in zip(range(1, 10), _BASE) for r in _day_rows(1000 * d, d, "click", n)
]
BATCH2 = [
    r
    for i, d in enumerate(range(10, 18))
    for r in _day_rows(1000 * d, d, "click", 8 - i)  # 8,7,6,... slow slide
]


def test_daily_rollup_and_drift_match_batch_core(spark, tmp_path):
    events_dir, state_dir = str(tmp_path / "drop"), str(tmp_path / "state")
    os.makedirs(events_dir)
    init_anomaly_state(state_dir)
    ck = tmp_path / "ck"

    _write_batch(events_dir, "b1", BATCH1)
    _drain(spark, events_dir, state_dir, ck)
    _write_batch(events_dir, "b2", BATCH2)
    _drain(spark, events_dir, state_dir, ck)

    all_rows = spark.createDataFrame(
        BATCH1 + BATCH2, "event_id long, ts string, event_type string"
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    one_shot_daily = all_rows.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))

    # day-rollup of the shared hourly state == one-shot daily counts
    merged = {
        (r["event_type"], r["day"]): r["n"]
        for r in read_daily_counts(spark, state_dir).collect()
    }
    want = {
        (r["event_type"], r["day"]): r["n"] for r in one_shot_daily.collect()
    }
    assert merged == want

    # the standing monitor's drift table == the batch core over all events
    got = sorted(
        tuple(r) for r in detect_drift(spark, state_dir).collect()
    )
    batch = sorted(tuple(r) for r in flag_cusum_drift(one_shot_daily).collect())
    assert got == batch

    # the engineered slow slide must trip the detector (negative side),
    # and the steady reference week must stay quiet
    by_day = {r[1]: r for r in got}
    assert not any(r[5] for d, r in by_day.items() if d <= "2024-03-09")
    assert any(r[5] for d, r in by_day.items() if d >= "2024-03-14"), by_day


def test_drift_state_is_replay_safe(spark, tmp_path):
    """Re-draining the same files (fresh checkpoint → replayed batches)
    must not change the drift table — exactly-once via the shared state's
    batch markers."""
    events_dir, state_dir = str(tmp_path / "drop"), str(tmp_path / "state")
    os.makedirs(events_dir)
    init_anomaly_state(state_dir)

    _write_batch(events_dir, "b1", BATCH1)
    _drain(spark, events_dir, state_dir, tmp_path / "ck1")
    before = sorted(tuple(r) for r in detect_drift(spark, state_dir).collect())
    _drain(spark, events_dir, state_dir, tmp_path / "ck2")  # full replay
    after = sorted(tuple(r) for r in detect_drift(spark, state_dir).collect())
    assert before == after


def test_seasonal_monitor_matches_batch_core(spark, tmp_path):
    """The third monitor on the shared state: the seasonal decomposition
    of the merged hourly-count state equals the batch core over all
    events seen."""
    from jetstream_spark.queries.eventlog import decompose_seasonal
    from jetstream_spark.streaming.anomaly_stream import read_hourly_counts

    events_dir, state_dir = str(tmp_path / "drop"), str(tmp_path / "state")
    os.makedirs(events_dir)
    init_anomaly_state(state_dir)

    _write_batch(events_dir, "b1", BATCH1)
    _drain(spark, events_dir, state_dir, tmp_path / "ck")
    _write_batch(events_dir, "b2", BATCH2)
    _drain(spark, events_dir, state_dir, tmp_path / "ck")

    all_rows = spark.createDataFrame(
        BATCH1 + BATCH2, "event_id long, ts string, event_type string"
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    per = all_rows.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hb")
    ).agg(F.count(F.lit(1)).alias("n"))

    got = sorted(
        tuple(r) for r in decompose_seasonal(read_hourly_counts(spark, state_dir)).collect()
    )
    want = sorted(tuple(r) for r in decompose_seasonal(per).collect())
    assert got == want
    assert got  # non-empty decomposition
