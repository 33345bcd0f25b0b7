"""S10/H1 — global strictly-monotonic `time_us` assignment.

The reference creates total order with ONE goroutine and a mutex clock
(consumer.go:311-342, clock.go:34-56): every event funnels through a single
thread. A micro-batch holds at most `batch_size` frames, so the Spark
version keeps that shape per batch — one ordered pass in one task. The
input is coalesced to one partition, so neither step below shuffles:

  1. a count of the batch gives the new last_time_us up front,
  2. the action that reads the sequenced frame (the log commit's Arrow
     collect, log.py::_commit_batch) evaluates, in a single task,
     time_us = base + row_number() over (ORDER BY _seq, did) - 1, where
     base = max(last_time_us + 1, wall_clock_us)
     — the exact clock-bump rule of clock.go:51-53 lifted from per-event
     to per-batch granularity.

Ordering by the relay seq keeps the reference's arrival order, on a
deterministic key (SURVEY §1.5 option b). The count and the collect each
read the input, so the log commit checks the collected row count against
the count (log.py::_commit_batch).

State (`last_time_us`) persists to a JSON sidecar next to the log —
the analogue of the reference's cursor record (persist.go:19-23, S12) —
so monotonicity survives restart (tested in tests/test_atproto.py).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import DataFrame, Window
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
    wall_clock_us: int | None = None,
) -> tuple[DataFrame, int, DataFrame]:
    """Assign dense, strictly monotonic `time_us` to every row.

    Returns (sequenced_df, new_last_time_us, df): the count job runs here,
    the rank is lazy and runs with whatever action reads sequenced_df. The
    third element is the input frame the count read."""
    if wall_clock_us is None:
        wall_clock_us = int(time.time() * 1_000_000)
    base = max(last_time_us + 1, wall_clock_us)
    # one partition satisfies both the count's and the rank's all-rows
    # distribution, so neither plans an Exchange
    df = df.coalesce(1)
    total = df.count()
    rank = F.row_number().over(Window.orderBy("_seq", "did"))
    # base rides as a decimal literal: Spark inlines a long literal into the
    # generated code, so every batch's new base recompiled the rank's stage
    # (2 Janino compiles, ~50 ms a batch); a decimal literal is an object
    # the generated code references, so one compiled stage serves every batch
    sequenced = df.withColumn("time_us", (F.lit(Decimal(base)) + rank - 1).cast("long"))
    return sequenced, base + total - 1 if total else last_time_us, df
