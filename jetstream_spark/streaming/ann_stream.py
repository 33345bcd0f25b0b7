"""Streaming ANN probe — stream-static join of incoming query vectors
against the materialized IVF inverted file.

The retrieval-serving shape: the corpus index is STATIC (built once,
cell-partitioned parquet — operators/ann_index.py), queries ARRIVE as a
stream. Each micro-batch:

  1. collects its (small, batch-sized) query vectors to the driver — the
     same bounded-state pattern as the IVF centroid collect; a query
     micro-batch is request traffic, not corpus data;
  2. skips rows no probe can score (null query id, null or wrong-length
     embedding, non-finite or zero norm) and logs how many it skipped, so
     one bad line cannot fail the batch on every replay;
  3. assigns the rest to nprobe cells and probes ONLY those cells'
     partitions of the index (partition-pruned scan, query matrix
     broadcast) through `operators/ann_index.py::probe_ivf_with`, which
     scores on the ANN family's shared top-k core
     (`queries/similarity.py::_vector_topk`) — identical semantics to the
     batch `ann_ivf_indexed` query;
  4. appends per-query top-k results under a batch-tagged directory.

Results are exactly-once through the shared handler every stream here
runs on (pipeline.py::commit_once): batch-id markers +
delete-before-rewrite of the batch's own output directory, so a crash-
replayed batch converges to one copy.

At 100 TB the static side is the inverted file: a probe touches
nprobe/cells of it regardless of corpus size, and the per-batch work is
O(batch · probed-partition rows) — the index partitioning, not the stream,
absorbs corpus growth.
"""

from __future__ import annotations

import logging
import os
import shutil
from functools import partial

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from jetstream_spark.atproto.log import load_done_batches
from jetstream_spark.operators.ann_index import (
    ensure_ivf_index,
    ivf_centroids,
    probe_ivf_with,
)
from jetstream_spark.streaming.pipeline import read_frame_stream, start_exactly_once

QUERY_STREAM_SCHEMA = "query_id long, embedding array<float>"

log = logging.getLogger(__name__)


def init_ann_state(state_dir: str) -> None:
    os.makedirs(os.path.join(state_dir, "results"), exist_ok=True)


def _scorable(row, dim: int) -> bool:
    """A query row a probe can score: an id and a `dim`-vector with a
    finite, non-zero norm (a null element reads as NaN, so the norm test
    rules it out too)."""
    emb = row["embedding"]
    if row["query_id"] is None or emb is None or len(emb) != dim:
        return False
    norm = np.linalg.norm(np.array(emb, dtype=np.float64))
    return bool(np.isfinite(norm) and norm > 0)


def _commit_batch(
    state_dir: str, index_path: str, cents, batch_df: DataFrame, batch_id: int
) -> None:
    spark = batch_df.sparkSession
    rows = batch_df.select("query_id", "embedding").collect()
    good = [r for r in rows if _scorable(r, cents.shape[1])]
    if len(good) < len(rows):
        log.warning(
            "ann probe batch %d: skipped %d of %d query rows "
            "(null id, null or wrong-length embedding, or non-finite or zero norm)",
            batch_id,
            len(rows) - len(good),
            len(rows),
        )
    if not good:
        return
    q_ids = np.array([r["query_id"] for r in good], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in good], dtype=np.float64)
    result = probe_ivf_with(spark, cents, q_ids, q_mat, index_path)
    # delete-before-rewrite: a crashed attempt's partial output is replaced
    out_dir = os.path.join(state_dir, "results", f"b{batch_id}")
    shutil.rmtree(out_dir, ignore_errors=True)
    result.write.mode("overwrite").parquet(out_dir)


def start_streaming_ann(
    spark: SparkSession,
    queries_dir: str,
    sf_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Standing probe over an ndjson query-vector drop directory."""
    index_path = ensure_ivf_index(spark, sf_dir)
    cents = ivf_centroids(spark, sf_dir)  # static alongside the index: one collect, not per-batch
    return start_exactly_once(
        read_frame_stream(spark, QUERY_STREAM_SCHEMA, queries_dir, max_files_per_trigger=1),
        state_dir,
        checkpoint_dir,
        partial(_commit_batch, state_dir, index_path, cents),
    )


def read_results(spark: SparkSession, state_dir: str) -> DataFrame:
    done = load_done_batches(state_dir)
    dirs = [
        os.path.join(state_dir, "results", f"b{b}")
        for b in sorted(done)
        if os.path.isdir(os.path.join(state_dir, "results", f"b{b}"))
    ]
    if not dirs:
        return spark.createDataFrame(
            [], "query_id long, vec_id long, cosine double, rank int"
        )
    return spark.read.parquet(*dirs)
