"""S10/H1 — global strictly-monotonic `time_us` assignment.

The reference creates total order with ONE goroutine and a mutex clock
(consumer.go:311-342, clock.go:34-56): every event funnels through a single
thread. That works at firehose rates but is the one non-scalable point.

Spark version — two-phase distributed sequencing, no single-partition stage:

  1. range-repartition + sort within partitions on a deterministic key
     (SURVEY §1.5 option b: the tiebreak makes assignment reproducible;
     the reference's own order is arrival order, i.e. weaker),
  2. one cheap job counts rows per partition → cumulative offsets
     (driver-side array of numPartitions longs — trivially small),
  3. an Arrow-batched pass assigns
     time_us = base + global_rank, where
     base = max(last_time_us + 1, wall_clock_us)
     — the exact clock-bump rule of clock.go:51-53 lifted from per-event
     to per-batch granularity.

State (`last_time_us`) persists to a JSON sidecar next to the log —
the analogue of the reference's cursor record (persist.go:19-23, S12) —
so monotonicity survives restart (tested in tests/test_atproto.py).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STATE_FILE = "_sequencer_state.json"


@dataclass
class SequencerState:
    last_time_us: int = 0

    @classmethod
    def load(cls, log_dir: str) -> "SequencerState":
        path = os.path.join(log_dir, STATE_FILE)
        if os.path.exists(path):
            with open(path) as f:
                return cls(**json.load(f))
        return cls()

    def save(self, log_dir: str) -> None:
        os.makedirs(log_dir, exist_ok=True)
        path = os.path.join(log_dir, STATE_FILE)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"last_time_us": self.last_time_us}, f)
        os.replace(tmp, path)  # atomic, like pebble.Sync for the cursor (persist.go:57)


def sequence_events(
    df: DataFrame,
    last_time_us: int = 0,
    order_cols: tuple[str, ...] = ("_seq", "did"),
    wall_clock_us: int | None = None,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int, DataFrame]:
    """Assign strictly monotonic `time_us` to every row.

    Returns (sequenced_df, new_last_time_us, cached_df). cached_df is the
    materialized intermediate both the count job and the assignment read —
    the shared materialization is what keeps the rank↔offset mapping from
    drifting between jobs. It is a localCheckpoint, not a persist:
    persisted blocks can be EVICTED and recomputed, and a recompute re-runs
    the range sampler over nondeterministic upstream order, which can move
    rows across partitions so time_us no longer matches the collected
    offsets — a silent ordering corruption. Checkpointed partitions are
    frozen; losing them fails the job loudly instead (on a multi-executor
    cluster swap in reliable checkpoint() if executor loss must be
    survivable, as in operators/components.py). Blocks are reclaimed by the
    ContextCleaner once the caller drops the reference; the caller's
    unpersist() remains a harmless no-op."""
    if wall_clock_us is None:
        wall_clock_us = int(time.time() * 1_000_000)
    base = max(last_time_us + 1, wall_clock_us)

    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # range partitioning runs a sampling pass over the input BEFORE the
    # shuffle pass — without a cache that evaluates the upstream lineage
    # (for ingest: the Python CBOR decode) twice. Cache the input for the
    # double read, release it as soon as `ordered` is materialized below.
    src = df.persist()
    ordered = (
        src.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        # lazy: materializes DURING the counts job (one pass, like persist
        # — measured 1.6 s vs eager's 2.0 s on the sf0.1 ingest bench,
        # which pays a separate checkpoint job before the counts read).
        # The guarantee is identical once materialized: partitions are
        # frozen, a lost block fails loudly instead of recomputing.
        .localCheckpoint(eager=False)
    )
    counts = {r["_pid"]: r["cnt"] for r in ordered.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    src.unpersist()
    if counts and max(counts.values()) >= (1 << 33):
        # the per-partition row number below is monotonically_increasing_id's
        # low-33-bit record counter; past 2^33 rows it bleeds into the
        # partition bits and silently corrupts ordering. 8.6 B rows in ONE
        # partition means the partitioner is misconfigured anyway.
        raise ValueError(
            f"sequencer partition exceeds 2^33 rows (max={max(counts.values())}); "
            f"raise num_partitions (got {n_parts})"
        )
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    total = acc
    # Assignment stays ENTIRELY JVM-side: time_us = base + offset[_pid] +
    # row-number-within-partition, where the per-partition row number is
    # monotonically_increasing_id()'s documented low-33-bit record counter
    # (upper bits carry the partition id, which _pid already pins). This
    # replaces an Arrow round trip of every column through Python workers
    # with one codegen projection — measured ~2x on the ingest pipeline.
    # Row order under the checkpointed `ordered` partitions is frozen by
    # the localCheckpoint, so the counter is exactly the sorted layout.
    offset = (
        F.coalesce(
            F.create_map(*[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))])[F.col("_pid")],
            F.lit(0),
        )
        if offsets
        else F.lit(0)  # empty batch: an empty create_map() has no key type to index
    )
    local_row = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    sequenced = ordered.withColumn(
        "time_us", (F.lit(base) + offset + local_row).cast("long")
    ).drop("_pid")
    return sequenced, base + total - 1 if total else last_time_us, ordered
