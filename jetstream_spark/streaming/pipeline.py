"""M3 — the standing ingest query (SURVEY.md §3.1, Spark shape), and the
one exactly-once micro-batch handler every standing query runs on.

  source (S1/S2) → normalize (S3-S9) → foreachBatch: sequence (S10/H1)
  → hour-partitioned log append (S11); checkpointLocation = cursor (S12).

`start_ingest` takes the raw-frame stream, so both sources share it: a
drop directory of decoded JSONL frames (`read_frame_stream` with
RAW_FRAME_SCHEMA, Spark's built-in JSON file source) and the firehose
source, streaming/firehose.py's DataSourceStreamReader, which dials the
relay's subscribeRepos websocket (`ws_url`) and decodes CAR/CBOR frames
per partition (S5/S8, atproto/carcbor.py). The CLI's `ingest` builds one
or the other and hands it to `start_ingest`.

Exactly-once: Spark checkpoints source offsets per microbatch; the
sequencer state file carries last_time_us. foreachBatch can re-run a
batch after a crash (offsets committed after the batch), so the write
itself is made idempotent: log.py's _commit_batch stages the batch under
a batch-id directory and moves it in under batch-tagged file names,
deleting the batch's own files first on re-run (delete-before-rewrite).
Any crash point — mid-stage, mid-move, before or after the done-marker —
converges to exactly one copy, matching the overwrite-idempotent recovery
the reference gets from Pebble key overwrites (P8, persist.go:110 vs 57).
The done-marker (`commit_once`) is a fast-skip for the commit, and it is
what makes a sealed log bucket compactable (log.py::compact_bucket) and a
monitor part absorbable (state_compact.py). The standing monitors in this
package commit the same way: each supplies only its commit body, which
must accept an empty batch (the handler never reads the batch itself).
"""

from __future__ import annotations

import contextlib
import time
from collections.abc import Callable
from functools import partial
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from jetstream_spark.atproto.log import ingest_batch, load_done_batches, mark_batch_done
from jetstream_spark.atproto.normalize import normalize_frames

if TYPE_CHECKING:
    from jetstream_spark.operators.observability import ConsumerMetrics
    from jetstream_spark.operators.tracing import StageTracer

Commit = Callable[[DataFrame, int], None]


def read_frame_stream(
    spark: SparkSession, schema, source_dir: str, max_files_per_trigger: int = 100
) -> DataFrame:
    """S1: a JSON drop-directory stream. maxFilesPerTrigger is the ingest
    throttle (the analogue of --max-queue-size backpressure, P6/P7)."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )


def commit_once(state_dir: str, commit: Commit, batch_df: DataFrame, batch_id: int) -> None:
    """The exactly-once batch lifecycle: skip a batch already marked done in
    `state_dir`, else run the idempotent `commit(batch_df, batch_id)` and
    then mark the batch done. A crash between the two re-runs the commit,
    whose delete-before-rewrite converges to one copy."""
    if batch_id in load_done_batches(state_dir):
        return  # fully committed earlier — fast skip
    commit(batch_df, batch_id)
    mark_batch_done(state_dir, batch_id)


def start_exactly_once(
    stream: DataFrame, state_dir: str, checkpoint_dir: str, commit: Commit
) -> StreamingQuery:
    """Run `commit` over every micro-batch of `stream` through
    `commit_once`; checkpointLocation is the source cursor (S12)."""
    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: commit_once(state_dir, commit, df, int(bid))
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _commit_ingest(
    log_dir: str,
    wall_clock_us: int | None,
    metrics: "ConsumerMetrics | None",
    tracer: "StageTracer | None",
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """start_ingest's commit body: sequence + idempotent log append, then
    the optional consumer metrics, inside the optional CommitBatch span."""
    span = (
        tracer.span("CommitBatch", batch_id=batch_id, log_dir=log_dir)
        if tracer is not None
        else contextlib.nullcontext()
    )
    with span:
        t0 = time.monotonic()
        last = ingest_batch(batch_df, log_dir, wall_clock_us=wall_clock_us, batch_id=batch_id)
        if metrics is not None:
            metrics.observe_batch(batch_df, time.monotonic() - t0, last)


def start_ingest(
    frames: DataFrame,
    log_dir: str,
    checkpoint_dir: str,
    wall_clock_us: int | None = None,
    metrics: "ConsumerMetrics | None" = None,
    tracer: "StageTracer | None" = None,
) -> StreamingQuery:
    """Launch the standing pipeline over a raw-frame stream. Blocking
    control stays with the caller (query.processAllAvailable() in tests,
    awaitTermination() in prod).

    With `metrics` set (operators.observability.ConsumerMetrics), every
    committed microbatch updates the reference's consumer_* Prometheus
    families (pkg/consumer/metrics.go) — one extra tiny agg per batch,
    nothing per-row; metrics=None leaves the hot path untouched. With
    `tracer` set, each commit runs in a CommitBatch span — the engine's
    unit of processing, the analogue of the reference's per-event
    HandleStreamEvent span (pkg/consumer/consumer.go:100). Driver-side
    only; the executors' work inside is visible through Spark's own task
    metrics."""
    return start_exactly_once(
        normalize_frames(frames),
        log_dir,
        checkpoint_dir,
        partial(_commit_ingest, log_dir, wall_clock_us, metrics, tracer),
    )
