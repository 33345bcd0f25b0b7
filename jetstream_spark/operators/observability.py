"""S26/S27 — pipeline conservation metrics and liveness supervision.

The reference instruments every stage with Prometheus counters
(pkg/consumer/metrics.go:8-57: processed → sequenced → persisted →
emitted) and crashes the process when the head stalls 15 s
(cmd/jetstream/main.go:184-214). Spark-side equivalents:

- `with_stage_metrics` — `df.observe()` named counters evaluated inline
  with the job (no extra pass), matching the reference's counter names.
- `LivenessMonitor` — a `StreamingQueryListener` that tracks per-query
  progress; `stalled()` reports queries whose head hasn't advanced
  within the window (the supervisor decides the restart policy, exactly
  as the container restart does for the reference).
"""

from __future__ import annotations

import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

STALL_LIMIT_S = 15  # main.go:188

# prometheus.ExponentialBuckets(0.0001, 2, 18) — pkg/consumer/metrics.go:21
_DURATION_BUCKETS = [0.0001 * (2**i) for i in range(18)]


def prom_label(value) -> str:
    """Escape a Prometheus text-format label VALUE: backslash, double
    quote, and newline per the exposition-format spec (shared by every
    family that interpolates runtime strings — paths, URLs, IPs — into a
    label). An unescaped quote in one label value makes the WHOLE
    /metrics page invalid text exposition, so scrapers reject all
    families, not just the bad line."""
    return (
        str(value)
        .replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
    )


class ConsumerMetrics:
    """The consumer-side Prometheus families from pkg/consumer/metrics.go,
    batch-granular where Spark's execution model differs from per-event Go:

    - consumer_events_processed_total{event_type,socket_url}
    - consumer_ops_processed_total{kind,op_path,socket_url} — kind is the
      commit op type (c/u/d), op_path the collection, matching the
      reference's per-op labels (consumer.go:194's loop).
    - consumer_event_processing_duration_seconds{socket_url} histogram —
      ONE observation per microbatch (the batch's wall seconds); the
      reference times each handleEvent call, but a microbatch is the
      engine's unit of processing, so quantiles here are batch latencies.
    - consumer_last_seq / consumer_last_evt_processed_at gauges,
      consumer_events_{sequenced,persisted}_total conservation counters.

    Per-batch label counts come from a pyarrow group_by(type, op-kind,
    collection) over the batch the sequencer already collected on the
    driver (`ingest_batch`'s `on_sequenced` hook), so attaching metrics
    adds no Spark job and nothing per-row on the executors.
    """

    def __init__(self, socket_url: str = "ingest"):
        self.socket_url = socket_url
        self.events_processed: dict[str, int] = {}
        self.ops_processed: dict[tuple[str, str], int] = {}
        self.bucket_counts = [0] * len(_DURATION_BUCKETS)
        self.duration_sum = 0.0
        self.duration_count = 0
        self.last_seq = 0
        self.last_evt_processed_at = 0.0
        self.events_sequenced_total = 0
        self.events_persisted_total = 0
        self._lock = threading.Lock()

    def observe_batch(self, batch: pa.Table, duration_s: float, last_seq: int) -> None:
        """Record one committed microbatch: `batch` is the normalized
        events as the sequencer collected them (Arrow)."""
        commit = batch["commit"]
        counts = (
            pa.table(
                {
                    "event_type": batch["type"],
                    "kind": pc.struct_field(commit, "type"),
                    "op_path": pc.struct_field(commit, "collection"),
                }
            )
            .group_by(["event_type", "kind", "op_path"])
            .aggregate([([], "count_all")])
            .to_pylist()
        )
        with self._lock:
            n = 0
            for row in counts:
                c = row["count_all"]
                n += c
                self.events_processed[row["event_type"]] = self.events_processed.get(row["event_type"], 0) + c
                if row["kind"] is not None:
                    key = (row["kind"], row["op_path"] or "")
                    self.ops_processed[key] = self.ops_processed.get(key, 0) + c
            for i, ub in enumerate(_DURATION_BUCKETS):
                if duration_s <= ub:
                    self.bucket_counts[i] += 1
                    break
            else:
                pass  # falls only into +Inf (implicit: _count - cumulative)
            self.duration_sum += duration_s
            self.duration_count += 1
            self.last_seq = max(self.last_seq, last_seq)
            self.last_evt_processed_at = time.time()
            # in this engine every processed event is sequenced and persisted
            # in the same idempotent commit (log.py:120) — the conservation
            # counters advance together; a divergence is a bug signal
            self.events_sequenced_total += n
            self.events_persisted_total += n

    def render(self) -> str:
        """Prometheus text exposition of all families."""
        u = prom_label(self.socket_url)
        with self._lock:
            lines = ["# TYPE consumer_events_processed_total counter"]
            for et, n in sorted(self.events_processed.items()):
                lines.append(
                    f'consumer_events_processed_total{{event_type="{prom_label(et)}",socket_url="{u}"}} {n}'
                )
            lines.append("# TYPE consumer_ops_processed_total counter")
            for (kind, path), n in sorted(self.ops_processed.items()):
                lines.append(
                    f'consumer_ops_processed_total{{kind="{prom_label(kind)}",op_path="{prom_label(path)}",socket_url="{u}"}} {n}'
                )
            lines.append("# TYPE consumer_event_processing_duration_seconds histogram")
            cum = 0
            for ub, c in zip(_DURATION_BUCKETS, self.bucket_counts):
                cum += c
                lines.append(
                    f'consumer_event_processing_duration_seconds_bucket{{socket_url="{u}",le="{ub}"}} {cum}'
                )
            lines.append(
                f'consumer_event_processing_duration_seconds_bucket{{socket_url="{u}",le="+Inf"}} {self.duration_count}'
            )
            lines.append(
                f'consumer_event_processing_duration_seconds_sum{{socket_url="{u}"}} {self.duration_sum}'
            )
            lines.append(
                f'consumer_event_processing_duration_seconds_count{{socket_url="{u}"}} {self.duration_count}'
            )
            lines += [
                "# TYPE consumer_last_seq gauge",
                f'consumer_last_seq{{socket_url="{u}"}} {self.last_seq}',
                "# TYPE consumer_last_evt_processed_at gauge",
                f'consumer_last_evt_processed_at{{socket_url="{u}"}} {self.last_evt_processed_at}',
                "# TYPE consumer_events_sequenced_total counter",
                f'consumer_events_sequenced_total{{socket_url="{u}"}} {self.events_sequenced_total}',
                "# TYPE consumer_events_persisted_total counter",
                f'consumer_events_persisted_total{{socket_url="{u}"}} {self.events_persisted_total}',
            ]
        return "\n".join(lines)


def with_stage_metrics(df: DataFrame, stage: str) -> tuple[DataFrame, Observation]:
    """Attach conservation counters to a batch stage. Read them after the
    action: obs.get → {'events_processed': n, 'bytes_estimate': b}."""
    obs = Observation(f"jetstream_{stage}")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("events_processed"),
        F.sum(F.length(F.to_json(F.struct(*[F.col(c) for c in df.columns])))).alias("bytes_estimate"),
    )
    return observed, obs


class LivenessMonitor(StreamingQueryListener):
    """Tracks last-progress wall time + rows/sec per streaming query."""

    def __init__(self, stall_limit_s: float = STALL_LIMIT_S):
        self.stall_limit_s = stall_limit_s
        self.last_progress: dict[str, float] = {}
        self.rows_per_sec: dict[str, float] = {}

    def onQueryStarted(self, event) -> None:
        self.last_progress[event.id] = time.time()

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.last_progress[p.id] = time.time()
        self.rows_per_sec[p.id] = p.processedRowsPerSecond or 0.0

    def onQueryIdle(self, event) -> None:
        # idle-but-alive counts as progress (no data ≠ stalled)
        self.last_progress[event.id] = time.time()

    def onQueryTerminated(self, event) -> None:
        self.last_progress.pop(event.id, None)
        self.rows_per_sec.pop(event.id, None)

    def stalled(self) -> list[str]:
        now = time.time()
        return [qid for qid, t in self.last_progress.items() if now - t > self.stall_limit_s]
