"""Streaming SCD2 maintainer — incremental changelog→dimension upsert.

Each micro-batch collapses ITS OWN events into per-user mini-runs (the
same `scd2_collapse` core as the batch `scd2_user_tiers` operator) and
writes them under a batch-tagged directory. The current dimension is the
re-collapse of all stored mini-runs: `scd2_collapse` is idempotent and
level-agnostic (runs flow through it exactly like events), so adjacent
same-tier runs that span a batch boundary merge at read time and the
result is IDENTICAL to running the batch operator over every event seen
— asserted run-for-run in tests/test_streaming_scd2.py.

Ordering contract: batches must be event-time ordered per user (a batch's
events for a user all at-or-after the previous batch's last event for
that user) — exactly what the engine's own log replay provides (the S10
sequencer's monotonic time_us cursor). Late data violating the contract
is DETECTED at read: `check_order(...)` reports users whose stored run
spans interleave across parts, rather than silently mis-merging.

Exactly-once through the shared handler (pipeline.py::commit_once):
batch-id markers + delete-before-rewrite of each batch's own part
directory.

At 100 TB: per batch ONE user_id shuffle over the batch (not the
history); state grows with run count (bounded by tier-change frequency,
not event count) and old parts compact by the same re-collapse.
"""

from __future__ import annotations

import os
import shutil
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from jetstream_spark.atproto.log import load_done_batches
from jetstream_spark.queries.eventlog import scd2_chain, scd2_collapse, scd2_tier_expr
from jetstream_spark.streaming.pipeline import read_frame_stream, start_exactly_once

SCD2_STREAM_SCHEMA = "event_id long, ts timestamp, user_id long, props string"

_RUNS_SCHEMA = (
    "user_id long, version long, tier long, valid_from_us long,"
    " last_us long, n_events long, first_tie long"
)


def init_scd2_state(state_dir: str) -> None:
    os.makedirs(os.path.join(state_dir, "runs"), exist_ok=True)


def _batch_runs(batch_df: DataFrame) -> DataFrame:
    base = batch_df.select(
        "user_id",
        F.unix_micros("ts").alias("ord_us"),
        F.col("event_id").alias("ord_tie"),
        scd2_tier_expr().alias("tier"),
        F.lit(1).cast("long").alias("n"),
        F.unix_micros("ts").alias("from_us"),
        F.unix_micros("ts").alias("last_us"),
    )
    return scd2_collapse(base)


def _commit_batch(state_dir: str, batch_df: DataFrame, batch_id: int) -> None:
    out = os.path.join(state_dir, "runs", f"b{batch_id}")
    shutil.rmtree(out, ignore_errors=True)  # delete-before-rewrite
    _batch_runs(batch_df).write.parquet(out)


def _stored_runs(spark: SparkSession, state_dir: str) -> DataFrame:
    from jetstream_spark.streaming.state_compact import list_parts

    parts = list_parts(os.path.join(state_dir, "runs"))
    if not parts:
        return spark.createDataFrame([], _RUNS_SCHEMA)
    return spark.read.parquet(*parts)


def _merge_runs(df: DataFrame) -> DataFrame:
    """Re-collapse stored mini-runs — scd2_collapse is idempotent, so the
    merged part re-collapses at read exactly like the parts it replaces.
    Runs order by (valid_from_us, first_tie): first_tie is the run's first
    event's tie-break, so two runs starting at the identical microsecond
    across a batch boundary merge in the batch operator's event_id order,
    not a nondeterministic one."""
    runs = df.select(
        "user_id",
        F.col("valid_from_us").alias("ord_us"),
        F.col("first_tie").alias("ord_tie"),
        "tier",
        F.col("n_events").alias("n"),
        F.col("valid_from_us").alias("from_us"),
        "last_us",
    )
    return scd2_collapse(runs).select(
        "user_id", "version", "tier", "valid_from_us", "last_us", "n_events", "first_tie"
    )


def compact_state(spark: SparkSession, state_dir: str) -> bool:
    """Fold accumulated mini-run parts into one collapsed part; the live
    dimension is identical before/after (collapse idempotence)."""
    from jetstream_spark.streaming.state_compact import compact

    return compact(
        spark,
        os.path.join(state_dir, "runs"),
        _merge_runs,
        done_batches=load_done_batches(state_dir),
    )


def current_scd2(spark: SparkSession, state_dir: str) -> DataFrame:
    """The live dimension: re-collapse of all stored mini-runs + interval
    chaining — equal to the batch operator over all events seen."""
    runs = _stored_runs(spark, state_dir).select(
        "user_id",
        F.col("valid_from_us").alias("ord_us"),
        F.col("first_tie").alias("ord_tie"),
        "tier",
        F.col("n_events").alias("n"),
        F.col("valid_from_us").alias("from_us"),
        "last_us",
    )
    return scd2_chain(scd2_collapse(runs))


def check_order(spark: SparkSession, state_dir: str) -> DataFrame:
    """Ordering-contract violations: users where a stored run STARTS
    before the previous run (by valid_from) has ENDED (last event ts) —
    i.e. run spans interleave across batch parts, so a plain re-collapse
    would misorder events. Empty frame == contract held."""
    from pyspark.sql.window import Window

    runs = _stored_runs(spark, state_dir)
    w = Window.partitionBy("user_id").orderBy("valid_from_us", "last_us")
    prev_last = F.lag("last_us").over(w)
    return (
        runs.withColumn("prev_last_us", prev_last)
        .where(F.col("prev_last_us").isNotNull() & (F.col("valid_from_us") < F.col("prev_last_us")))
        .select("user_id", "valid_from_us", "prev_last_us")
    )


def start_streaming_scd2(
    spark: SparkSession,
    events_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    return start_exactly_once(
        read_frame_stream(spark, SCD2_STREAM_SCHEMA, events_dir),
        state_dir,
        checkpoint_dir,
        partial(_commit_batch, state_dir),
    )
