"""Streaming rate-anomaly monitor — mergeable hourly-count state over an
event stream.

Hourly counts are ADDITIVE: the count of a union is the sum of the counts
of its parts. Each micro-batch therefore writes only its OWN per-(type,
hour) partial counts under a batch-tagged directory, and the merged state
(sum per key across parts) is IDENTICAL to the hourly counts a one-shot
batch query would compute over every event seen so far — asserted
key-for-key in tests. The anomaly probe runs the SAME z-score flagging
core as the batch `rate_anomaly` query (queries/eventlog.py::
flag_rate_anomalies) over the merged counts, so the standing monitor and
the declared operator can never disagree.

Exactly-once through the shared handler (pipeline.py::commit_once):
batch-id markers + delete-before-rewrite of each batch's own part
directory, so a crash-replayed batch converges to one copy.

At 100 TB: per batch one (type, hour) count shuffle whose key space is
|types| x |hours-touched-by-batch| (tiny); merged state grows with
distinct hours, not events, and old parts are compactable by the same
sum (hour buckets older than the monitoring horizon can be dropped like
the S13 TTL trim drops log partitions).
"""

from __future__ import annotations

import os
import shutil
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from jetstream_spark.atproto.log import load_done_batches
from jetstream_spark.queries.eventlog import flag_rate_anomalies
from jetstream_spark.streaming.pipeline import read_frame_stream, start_exactly_once

EVENT_STREAM_SCHEMA = "event_id long, ts timestamp, event_type string"


def init_anomaly_state(state_dir: str) -> None:
    os.makedirs(os.path.join(state_dir, "counts"), exist_ok=True)


def _commit_batch(state_dir: str, batch_df: DataFrame, batch_id: int) -> None:
    out = os.path.join(state_dir, "counts", f"b{batch_id}")
    shutil.rmtree(out, ignore_errors=True)  # delete-before-rewrite
    (
        batch_df.groupBy("event_type", F.date_trunc("hour", "ts").alias("hb"))
        .agg(F.count(F.lit(1)).alias("n"))
        .write.parquet(out)
    )


def _merge_counts(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type", "hb").agg(F.sum("n").alias("n"))


def read_hourly_counts(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged (event_type, hb, n) — equal to one-shot hourly counts of
    every event seen (count additivity across batch parts)."""
    from jetstream_spark.streaming.state_compact import list_parts

    parts = list_parts(os.path.join(state_dir, "counts"))
    if not parts:
        return spark.createDataFrame([], "event_type string, hb timestamp, n long")
    return _merge_counts(spark.read.parquet(*parts))


def compact_state(spark: SparkSession, state_dir: str) -> bool:
    """Fold accumulated per-batch count parts into one — the merge is the
    reader's own sum, so the monitor's state is identical before/after;
    crash-safe via the shared manifest swap (state_compact.py)."""
    from jetstream_spark.streaming.state_compact import compact

    return compact(
        spark,
        os.path.join(state_dir, "counts"),
        _merge_counts,
        done_batches=load_done_batches(state_dir),
    )


def detect_anomalies(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current anomaly set over everything the monitor has seen — the
    batch `rate_anomaly` semantics applied to the merged counts."""
    return flag_rate_anomalies(read_hourly_counts(spark, state_dir))


def start_streaming_anomaly(
    spark: SparkSession,
    events_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    return start_exactly_once(
        read_frame_stream(spark, EVENT_STREAM_SCHEMA, events_dir),
        state_dir,
        checkpoint_dir,
        partial(_commit_batch, state_dir),
    )


def smoothed_rates(spark: SparkSession, state_dir: str) -> DataFrame:
    """EWMA-smoothed hourly baseline over everything the monitor has seen
    — the SAME smoothing core as the batch `ewma_hourly` query, applied to
    the merged counts state. Missing hours are treated as observed zeros
    by densifying each type's min..max hour span first (the gap-fill
    contract), so a quiet hour pulls the baseline down instead of being
    skipped."""
    counts = read_hourly_counts(spark, state_dir)
    span = counts.groupBy("event_type").agg(
        F.min("hb").alias("lo"), F.max("hb").alias("hi")
    )
    grid = span.select(
        "event_type",
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hb"),
    )
    dense = grid.join(counts, ["event_type", "hb"], "left").select(
        "event_type", "hb", F.coalesce("n", F.lit(0)).alias("n")
    )
    from jetstream_spark.queries.eventlog import ewma_over

    return ewma_over(dense)
