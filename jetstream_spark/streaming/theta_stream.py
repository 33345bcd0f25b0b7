"""Streaming theta/KMV sketch — mergeable distinct-count state over an
event stream.

KMV is a MERGEABLE sketch: bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪
bottom-k(B)) — any hash in the global bottom-k is necessarily in its own
batch's bottom-k. So the streaming form is EXACT with respect to the
batch form: each micro-batch writes its own per-set bottom-k part
(≤ |sets|·K rows) under a batch-tagged directory, and the merged sketch
(bottom-k per set across parts) is IDENTICAL to the one-shot sketch the
batch operator (queries/sketches.py::q_sketch_theta_setops) would build
over every event seen so far — asserted sketch-row-for-sketch-row in
tests. Distinct estimates and the union/intersection/difference algebra
read off the merged sketch with the same integer-theta rules as the
batch operator.

Outputs are exactly-once through the shared handler every standing
pipeline runs on (pipeline.py::commit_once): batch-id markers + delete-before-rewrite
of each batch's own part directory, so a crash-replayed batch converges
to one copy. Parts are compactable by the read side's own merge
(distinct + per-set bottom-k), via the shared manifest-swap protocol.

At 100 TB: per batch one distinct-collapse + bottom-k over the BATCH
(never the history); state stays ≤ |sets|·K rows per part regardless of
stream length and ≤ |sets|·K after compaction; estimate reads touch
≤ parts·|sets|·K rows.
"""

from __future__ import annotations

import os
import shutil
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from jetstream_spark.atproto.log import load_done_batches
from jetstream_spark.queries.sketches import _KMV_A, _KMV_B, _KMV_SCALE, KMV_K, _kmv_hash
from jetstream_spark.streaming.pipeline import read_frame_stream, start_exactly_once

EVENT_STREAM_SCHEMA = "user_id long, event_type string, day string"
_SETS = (_KMV_A, _KMV_B)


def init_theta_state(state_dir: str) -> None:
    os.makedirs(os.path.join(state_dir, "sketch"), exist_ok=True)


def _bottom_k(hashed: DataFrame) -> DataFrame:
    """Per-set bottom-K of a distinct (s, h) frame."""
    from pyspark.sql import Window

    w = Window.partitionBy("s").orderBy("h")
    return (
        hashed.select("s", "h", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= KMV_K)
        .select("s", "h")
    )


def _batch_sketch(events: DataFrame) -> DataFrame:
    """(s, h) bottom-K sketch rows for one batch of events."""
    keyed = (
        events.filter(F.col("event_type").isin(*_SETS))
        .select(
            F.col("event_type").alias("s"),
            F.concat_ws(
                ":", F.col("user_id").cast("string"), F.col("day")
            ).alias("key"),
        )
        .distinct()
    )
    hashed = keyed.select("s", _kmv_hash(F.col("key")).alias("h")).distinct()
    return _bottom_k(hashed)


def _commit_batch(state_dir: str, batch_df: DataFrame, batch_id: int) -> None:
    out = os.path.join(state_dir, "sketch", f"b{batch_id}")
    shutil.rmtree(out, ignore_errors=True)  # delete-before-rewrite
    _batch_sketch(batch_df).write.parquet(out)


def _parts(state_dir: str) -> list[str]:
    from jetstream_spark.streaming.state_compact import list_parts

    return list_parts(os.path.join(state_dir, "sketch"))


def read_sketch(spark: SparkSession, state_dir: str) -> DataFrame:
    """The merged sketch: distinct + per-set bottom-K across parts —
    equal to the one-shot sketch of every event seen (KMV mergeability)."""
    parts = _parts(state_dir)
    if not parts:
        return spark.createDataFrame([], "s string, h long")
    return _bottom_k(spark.read.parquet(*parts).distinct())


def compact_state(spark: SparkSession, state_dir: str) -> bool:
    """Fold sketch parts by the read side's own merge, so estimates are
    identical before/after; crash-safe via the shared manifest swap."""
    from jetstream_spark.streaming.state_compact import compact

    return compact(
        spark,
        os.path.join(state_dir, "sketch"),
        lambda df: _bottom_k(df.distinct()),
        done_batches=load_done_batches(state_dir),
    )


def distinct_estimates(spark: SparkSession, state_dir: str) -> DataFrame:
    """(s, n_sketch, theta, kmv_estimate): the batch operator's estimator
    — theta = k-th smallest hash when saturated else SCALE, estimate =
    |{h < theta}| * SCALE / theta — over the merged sketch."""
    sk = read_sketch(spark, state_dir)
    agg = sk.groupBy("s").agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("mx"))
    th = agg.select(
        "s",
        F.col("n").alias("n_sketch"),
        F.when(F.col("n") == KMV_K, F.col("mx"))
        .otherwise(F.lit(_KMV_SCALE))
        .cast("long")
        .alias("theta"),
    )
    cnt = (
        sk.join(th, "s")
        .groupBy("s")
        .agg(
            F.max("n_sketch").alias("n_sketch"),
            F.max("theta").alias("theta"),
            F.sum(F.when(F.col("h") < F.col("theta"), 1).otherwise(0)).alias("cnt"),
        )
    )
    return cnt.select(
        "s",
        "n_sketch",
        "theta",
        F.round((F.col("cnt") * F.lit(_KMV_SCALE)) / F.col("theta"), 4).alias(
            "kmv_estimate"
        ),
    )


def start_streaming_theta(
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
