"""Streaming strict-funnel monitor — the per-user stateful twin of the
batch `funnel_steps_strict` operator (queries/eventlog.py).

Unlike the count-shaped monitors (rate/CUSUM share ONE additive
hourly-count state), funnel progress is an ORDER-dependent per-user fold:
stage i advances only on the next step's event type STRICTLY AFTER the
event that satisfied stage i−1. That state is not additive, so this
monitor holds it where Spark holds order-dependent state — the state
store, via `applyInPandasWithState` keyed on user: per user a (stage,
last_us) pair, exactly the accumulator of the batch operator's
sorted-array fold.

Arrival-order contract: the fold is correct when each user's events
arrive in time order ACROSS batches (within a batch the kernel sorts).
The standing pipeline guarantees this — the sequencer's total order is
the log's file order (§3.1), so a monitor fed from the log tick sees
per-user history in time order. A source without that guarantee needs
the watermark/buffer treatment, not this monitor.

Each microbatch APPENDS (user_id, stage) rows whenever a user's stage
advances (and once on first sight, so stage-0 users are represented).
Stages only increase, so the standing funnel table is max(stage) per
user over everything emitted — asserted equal to the batch
`funnel_user_stages` over all events seen (monitor-equals-batch,
tests/test_streaming_funnel.py), including across a query restart from
the checkpoint.

At 100 TB: state is |active users| × 12 bytes in the state store
(RocksDB-backed on a real cluster), per batch one user-keyed exchange of
the batch's funnel-step rows only; emissions are bounded by stage
advances (≤ |steps| per user EVER), so the standing table stays
user-bounded no matter how many events flow through.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from jetstream_spark.queries.eventlog import _FUNNEL_STEPS

_STATE_SCHEMA = "stage int, last_us bigint"
_OUT_SCHEMA = "user_id bigint, stage int"


def _funnel_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Advance one user's (stage, last_us) through this batch's events —
    the batch fold's accumulator carried in the state store. Sorting by
    (ts_us, event_type) inside the batch mirrors the batch operator's
    sort_array key, and the strict ts_us > last_us guard carries the
    strict-sequencing contract across batch boundaries."""
    stage, last = state.get if state.exists else (0, -1)
    first_sight = not state.exists
    before = stage
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_type"])
        for ts, et in zip(pdf["ts_us"], pdf["event_type"]):
            if stage < len(_FUNNEL_STEPS) and et == _FUNNEL_STEPS[stage] and ts > last:
                stage += 1
                last = int(ts)
    if first_sight or stage > before:
        yield pd.DataFrame({"user_id": [key[0]], "stage": [stage]})
    state.update((stage, last))


def funnel_stage_stream(stream: DataFrame) -> DataFrame:
    """stream(user_id long, ts timestamp, event_type string) → appended
    (user_id, stage) rows on every stage advance (plus first sight).
    Non-funnel event types are filtered before the state exchange."""
    keyed = stream.where(F.col("event_type").isin(*_FUNNEL_STEPS)).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def current_stages(emitted: DataFrame) -> DataFrame:
    """The standing funnel table from everything the monitor has emitted:
    stages only increase, so latest = max per user."""
    return emitted.groupBy("user_id").agg(F.max("stage").alias("stage"))


def funnel_counts(stages: DataFrame) -> DataFrame:
    """Step counts from a (user_id, stage) table — same shape as the batch
    operator's report (n_users monotone over step_no)."""
    wide = stages.agg(
        *[
            # coalesce: an empty stages table (no funnel-step events yet)
            # sums to NULL — the standing report must say 0, not None
            F.coalesce(
                F.sum((F.col("stage") >= i + 1).cast("long")), F.lit(0)
            ).alias(f"n{i + 1}")
            for i in range(len(_FUNNEL_STEPS))
        ]
    )
    stack = ", ".join(
        f"{i + 1}, '{s}', n{i + 1}" for i, s in enumerate(_FUNNEL_STEPS)
    )
    return wide.selectExpr(
        f"stack({len(_FUNNEL_STEPS)}, {stack}) AS (step_no, step_name, n_users)"
    )
