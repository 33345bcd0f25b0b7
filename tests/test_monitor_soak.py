"""Soak test for ALL FOUR standing monitors in one interleaving.

The three count-state monitors — rate z-score (anomaly_stream), CUSUM
drift (cusum_stream), seasonal decomposition (`decompose_seasonal` over
`read_hourly_counts`) — consume ONE hourly-count state, and each is e2e-tested in isolation elsewhere
(VERDICT r7 #5). The fourth monitor — the strict funnel
(funnel_stream.py) — holds ORDER-DEPENDENT per-user state in the Spark
state store, not the shared count state; it joins the soak (VERDICT r8
#7) fed the SAME batches through a real checkpointed streaming query.
This soak runs the production interleaving: six batches land, compaction
fires repeatedly (≥3 cycles, including one in a simulated crash window
with a half-committed batch on disk), a count-state crash-replay
converges via delete-before-rewrite, the funnel query is KILLED and
restarted from its checkpoint inside the same crash window — and after
EVERY step all four monitor-equals-batch identities are asserted
SIMULTANEOUSLY, so a state bug that one probe's aggregation happens to
mask cannot hide from the others.

Count-state handling runs one batch at a time through the shared
exactly-once handler with the anomaly stream's commit body (what the
standing query's foreachBatch runs — the same code path the per-monitor
e2e drains exercise through Structured Streaming); the crash window is
the commit body alone, cut exactly between the part write and the
done-marker. The funnel has no
batch-level entry (its state lives in the state store), so it runs as
the real applyInPandasWithState query over a file source, one file per
soak batch."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from jetstream_spark.atproto.log import BATCH_STATE_FILE, load_done_batches
from jetstream_spark.queries.eventlog import (
    decompose_seasonal,
    flag_cusum_drift,
    flag_rate_anomalies,
)
from jetstream_spark.streaming.anomaly_stream import (
    _commit_batch,
    compact_state,
    detect_anomalies,
    init_anomaly_state,
    read_hourly_counts,
)
from jetstream_spark.queries.eventlog import funnel_user_stages
from jetstream_spark.streaming.cusum_stream import detect_drift, read_daily_counts
from jetstream_spark.streaming.funnel_stream import current_stages, funnel_stage_stream
from jetstream_spark.streaming.state_compact import list_parts
from tests.fixtures import commit_batch_once

# the funnel's user dimension over the soak's event stream: a bounded
# pool so most users see many events and some complete view->click->
# purchase across batches (days increase batch-to-batch, so each user's
# funnel-step events arrive in time order ACROSS batches — the monitor's
# documented arrival-order contract)
_FUNNEL_USERS = 40


def _day_rows(start_id: int, day: int, event_type: str, n: int):
    return [
        (start_id + i, f"2024-03-{day:02d}T{i % 24:02d}:{i % 60:02d}:00", event_type)
        for i in range(n)
    ]


def _batches():
    """Six batches: a steady two-type baseline, then a click decay (the
    CUSUM shape) while views spike (the z-score shape) — so by the end
    every monitor has something real to say."""
    base = (9, 11, 10, 9, 11, 10, 10, 9, 11)
    out = []
    days = list(range(1, 19))
    for b in range(6):
        rows = []
        for d in days[b * 3 : (b + 1) * 3]:
            clicks = base[d % len(base)] if d <= 9 else max(1, 10 - (d - 9))
            views = 10 if d != 17 else 60  # one engineered view spike
            rows += _day_rows(10_000 * d, d, "click", clicks)
            rows += _day_rows(10_000 * d + 5_000, d, "view", views)
            # a thin purchase stream so the funnel's last step is
            # reachable; a third event type leaves the engineered
            # click/view signals untouched
            rows += _day_rows(10_000 * d + 8_000, d, "purchase", 3)
        out.append(rows)
    return out


def _frame(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts string, event_type string"
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")


def _user_events(frame):
    """The funnel view of a soak frame: a bounded user pool keyed off
    event_id. Both the monitor feed and the batch reference derive users
    through THIS map, so the identity compares like with like."""
    return frame.select(
        (F.col("event_id") % _FUNNEL_USERS).alias("user_id"), "ts", "event_type"
    )


def _write_funnel_batch(src_dir: str, tag: str, rows) -> None:
    """One soak batch as one funnel-source file (maxFilesPerTrigger=1)."""
    with open(os.path.join(src_dir, f"{tag}.jsonl"), "w") as f:
        for event_id, ts, et in rows:
            f.write(
                json.dumps(
                    {"user_id": event_id % _FUNNEL_USERS, "ts": ts, "event_type": et}
                )
                + "\n"
            )


def _start_funnel(spark, src, ck, out):
    stream = (
        spark.readStream.schema("user_id bigint, ts string, event_type string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    )
    return (
        funnel_stage_stream(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
        .option("checkpointLocation", ck)
        .start()
    )


def _assert_funnel_identity(spark, funnel_out, seen_frame) -> None:
    """Monitor 4: the state-store funnel's standing table == the batch
    operator's per-user stages over every event seen."""
    got = {
        r["user_id"]: r["stage"]
        for r in current_stages(spark.read.parquet(funnel_out)).collect()
    }
    want = {
        r["user_id"]: r["stage"]
        for r in funnel_user_stages(_user_events(seen_frame)).collect()
    }
    assert got == want, "funnel monitor != batch core"


def _assert_all_three_identities(spark, state_dir, seen_frame) -> None:
    """Every monitor's standing table == its batch core over one-shot
    aggregates of every event seen, from the SAME shared state."""
    one_shot_hourly = seen_frame.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hb")
    ).agg(F.count(F.lit(1)).alias("n"))
    one_shot_daily = seen_frame.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))

    merged = sorted(tuple(r) for r in read_hourly_counts(spark, state_dir).collect())
    want = sorted(tuple(r) for r in one_shot_hourly.collect())
    assert merged == want, "shared hourly state diverged from one-shot counts"

    daily = sorted(tuple(r) for r in read_daily_counts(spark, state_dir).collect())
    want_daily = sorted(tuple(r) for r in one_shot_daily.collect())
    assert daily == want_daily, "day rollup diverged"

    # monitor 1: rate z-score
    got = sorted(tuple(r) for r in detect_anomalies(spark, state_dir).collect())
    ref = sorted(tuple(r) for r in flag_rate_anomalies(one_shot_hourly).collect())
    assert got == ref, "rate monitor != batch core"
    # monitor 2: CUSUM drift
    got = sorted(tuple(r) for r in detect_drift(spark, state_dir).collect())
    ref = sorted(tuple(r) for r in flag_cusum_drift(one_shot_daily).collect())
    assert got == ref, "cusum monitor != batch core"
    # monitor 3: seasonal decomposition
    got = sorted(
        tuple(r) for r in decompose_seasonal(read_hourly_counts(spark, state_dir)).collect()
    )
    ref = sorted(tuple(r) for r in decompose_seasonal(one_shot_hourly).collect())
    assert got == ref, "seasonal monitor != batch core"


def test_four_monitors_one_state_soak(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    init_anomaly_state(state_dir)
    fsrc = str(tmp_path / "funnel_src")
    fck = str(tmp_path / "funnel_ck")
    fout = str(tmp_path / "funnel_out")
    os.makedirs(fsrc)
    batches = _batches()
    seen_rows: list = []
    compactions = 0

    q = _start_funnel(spark, fsrc, fck, fout)
    try:
        for i, rows in enumerate(batches):
            frame = _frame(spark, rows)

            if i == 3:
                # funnel crash window: the query dies, THEN the batch file
                # lands (stop-before-write pins the scenario — written
                # before the stop, a fast poll could commit the batch
                # pre-crash and the restart would have nothing to replay),
                # and the restarted query must resume from the checkpoint
                # and fold it exactly once
                q.stop()
                _write_funnel_batch(fsrc, f"b{i}", rows)
                q = _start_funnel(spark, fsrc, fck, fout)
                q.processAllAvailable()
                # count-state crash window: the commit body runs (the
                # batch's part lands) but the handler never marks it.
                _commit_batch(state_dir, frame, i)
                assert i not in load_done_batches(state_dir)
                # a compaction cycle fired exactly in the window must NOT
                # absorb the unmarked part (else its replay would
                # double-count)
                compactions += int(compact_state(spark, state_dir))
                assert os.path.isdir(os.path.join(state_dir, "counts", f"b{i}")), (
                    "compaction absorbed a half-committed batch"
                )
                # readers between crash and replay already see the part's
                # (write-once, true) counts: ALL FOUR identities must hold
                # NOW — the funnel restart has already folded this batch
                seen_rows += rows
                mid = _frame(spark, seen_rows)
                _assert_all_three_identities(spark, state_dir, mid)
                _assert_funnel_identity(spark, fout, mid)
                seen_rows = seen_rows[: -len(rows)]
                # replay converges by delete-before-rewrite, then marks
                commit_batch_once(_commit_batch, state_dir, frame, i)
                assert i in load_done_batches(state_dir)
            else:
                _write_funnel_batch(fsrc, f"b{i}", rows)
                q.processAllAvailable()
                commit_batch_once(_commit_batch, state_dir, frame, i)

            seen_rows += rows
            if i % 2 == 1:
                compactions += int(compact_state(spark, state_dir))
            step = _frame(spark, seen_rows)
            _assert_all_three_identities(spark, state_dir, step)
            _assert_funnel_identity(spark, fout, step)

        # final cycle so the run crosses >=3 compactions, then re-verify
        compactions += int(compact_state(spark, state_dir))
        assert compactions >= 3, f"soak only exercised {compactions} compaction cycles"
        all_frame = _frame(spark, seen_rows)
        _assert_all_three_identities(spark, state_dir, all_frame)
        _assert_funnel_identity(spark, fout, all_frame)

        # compaction actually folded state: one committed part holds everything
        assert len(list_parts(os.path.join(state_dir, "counts"))) == 1

        # a full marker-loss replay of EVERY batch after final compaction is
        # out of contract (absorbed parts would double) — but a fresh-
        # checkpoint replay of MARKED batches is a no-op by the marker gate;
        # likewise re-draining the funnel source is a no-op by its checkpoint
        for i, rows in enumerate(batches):
            commit_batch_once(_commit_batch, state_dir, _frame(spark, rows), i)
        q.processAllAvailable()
        _assert_all_three_identities(spark, state_dir, all_frame)
        _assert_funnel_identity(spark, fout, all_frame)
    finally:
        q.stop()

    # the engineered signals surfaced: the view spike trips the z-score
    # monitor, the click decay trips CUSUM
    anoms = detect_anomalies(spark, state_dir).collect()
    assert any(r["event_type"] == "view" for r in anoms), "spike not flagged"
    drift = detect_drift(spark, state_dir).collect()
    assert any(tuple(r)[5] for r in drift if r["event_type"] == "click"), (
        "decay not flagged"
    )
