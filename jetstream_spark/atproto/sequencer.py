"""S10/H1 — global strictly-monotonic `time_us` assignment.

The reference creates total order with ONE goroutine and a mutex clock
(consumer.go:311-342, clock.go:34-56): every event funnels through a single
thread, which stamps it in memory just before persisting it. A micro-batch
holds at most `batch_size` frames, so the Spark version keeps that shape
per batch — one ordered pass on the driver, with no count job and no Spark
rank:

  1. one Arrow collect of the batch (`DataFrame.toArrow()`, the batch's
     one Spark job; the log commit writes the same table),
  2. the rows sorted by (_seq, did), nulls first — the order Spark's
     ORDER BY _seq, did gives,
  3. time_us = base + (0, 1, ..., n - 1) in that order, where
     base = max(last_time_us + 1, wall_clock_us)
     — the exact clock-bump rule of clock.go:51-53 lifted from per-event
     to per-batch granularity.

Ordering by the relay seq keeps the reference's arrival order, on a
deterministic key (SURVEY §1.5 option b). The input is read once, so the
new last_time_us is base + n - 1 of the very rows the log commit writes.

State (`last_time_us`) persists to a JSON sidecar next to the log —
the analogue of the reference's cursor record (persist.go:19-23, S12) —
so monotonicity survives restart (tested in tests/test_atproto.py).
The same sidecar is the head the live tail ticks on: `SequencerHeadSource`
is a streaming source whose offset is `last_time_us`, so a standing query
over it runs one micro-batch exactly when a commit moves the head.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

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
) -> tuple[pa.Table, int, DataFrame]:
    """Assign dense, strictly monotonic `time_us` to every row.

    Returns (sequenced, new_last_time_us, df): `sequenced` is the batch
    collected once as Arrow, without `_seq`, in time_us order; the third
    element is the input frame it was collected from."""
    if wall_clock_us is None:
        wall_clock_us = int(time.time() * 1_000_000)
    base = max(last_time_us + 1, wall_clock_us)
    table = df.toArrow()
    order = pc.sort_indices(table, [("_seq", "ascending"), ("did", "ascending")], null_placement="at_start")
    n = table.num_rows
    sequenced = table.take(order).drop_columns("_seq")
    sequenced = sequenced.append_column("time_us", pa.array(np.arange(base, base + n, dtype=np.int64)))
    return sequenced, base + n - 1 if n else last_time_us, df


class SequencerHeadReader(SimpleDataSourceStreamReader):
    """Offsets are the sequencer head, `{"last_time_us": n}`; a batch
    carries no rows. Each poll reads the state sidecar, so the query's
    cost per idle trigger is one small file read, whatever the size of
    the log. An offset written by another source (a checkpoint from an
    older hub) only differs from the head, so a restart on it runs one
    batch and goes on from there."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir

    def initialOffset(self) -> dict:
        return {"last_time_us": 0}

    def read(self, start: dict):
        return iter(()), {"last_time_us": SequencerState.load(self.log_dir).last_time_us}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(())


class SequencerHeadSource(DataSource):
    """`spark.readStream.format("sequencer_head").option("log_dir", ...)`:
    a row-less stream whose micro-batches mark head moves. It lives here,
    next to the state it reads, so Spark's source-runner process imports
    only this module's dependencies."""

    @classmethod
    def name(cls) -> str:
        return "sequencer_head"

    def schema(self) -> str:
        return "last_time_us bigint"

    def simpleStreamReader(self, schema) -> SequencerHeadReader:
        return SequencerHeadReader(self.options["log_dir"])
