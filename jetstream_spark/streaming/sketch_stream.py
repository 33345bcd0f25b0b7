"""Streaming count-min sketch — mergeable heavy-hitter state over a doc stream.

CMS is an ADDITIVE sketch: the sketch of a union is the cellwise sum of the
sketches of its parts. That makes the streaming form exact with respect to
the batch form: each micro-batch writes its own (j, b, bucket_count) part
under a batch-tagged directory, and the merged sketch (sum per cell across
parts) is IDENTICAL to the sketch the one-shot query would build over all
documents seen so far — asserted cell-for-cell in tests.

Outputs are exactly-once through the shared handler (pipeline.py::
commit_once): batch-id markers + delete-before-rewrite of each batch's own
part directories, so a crash-replayed batch converges to one copy.

Heavy-hitter probing needs a candidate term set; an unbounded stream can't
keep exact global counts, so each batch also persists its local top
CAND_PER_BATCH terms and the global probe unions those candidates — the
standard local-candidates construction. A true global heavy hitter missed
by EVERY batch's local top is the only miss mode (bounded by the usual
distributed top-k argument); every candidate's estimate is the exact CMS
value, deterministic md5 arithmetic identical to queries/sketches.py.

At 100 TB: per batch one token shuffle to <= D*W + CAND_PER_BATCH rows of
state; the merged sketch stays <= D*W rows regardless of history length
(parts are compactable by the same sum), and probing broadcasts it.
"""

from __future__ import annotations

import os
import shutil
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from jetstream_spark.atproto.log import load_done_batches
from jetstream_spark.queries.sketches import CMS_DEPTH, CMS_TOP_N, _cms_bucket
from jetstream_spark.queries.text import _tokens
from jetstream_spark.streaming.pipeline import read_frame_stream, start_exactly_once

DOC_STREAM_SCHEMA = "doc_id long, text string"
CAND_PER_BATCH = 100


def init_sketch_state(state_dir: str) -> None:
    os.makedirs(os.path.join(state_dir, "sketch"), exist_ok=True)
    os.makedirs(os.path.join(state_dir, "cands"), exist_ok=True)


def _batch_sketch(terms: DataFrame) -> DataFrame:
    js = terms.sparkSession.range(CMS_DEPTH).select(F.col("id").cast("int").alias("j"))
    return (
        terms.crossJoin(F.broadcast(js))
        .select("j", _cms_bucket(F.col("j"), F.col("term")).alias("b"))
        .groupBy("j", "b")
        .agg(F.count(F.lit(1)).alias("bucket_count"))
    )


def _commit_batch(state_dir: str, batch_df: DataFrame, batch_id: int) -> None:
    terms = batch_df.select(F.explode(_tokens()).alias("term"))

    sk_out = os.path.join(state_dir, "sketch", f"b{batch_id}")
    shutil.rmtree(sk_out, ignore_errors=True)  # delete-before-rewrite
    _batch_sketch(terms).write.parquet(sk_out)

    cand_out = os.path.join(state_dir, "cands", f"b{batch_id}")
    shutil.rmtree(cand_out, ignore_errors=True)
    (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("batch_count"))
        .orderBy(F.desc("batch_count"), "term")
        .limit(CAND_PER_BATCH)
        .write.parquet(cand_out)
    )


def _parts(state_dir: str, kind: str) -> list[str]:
    from jetstream_spark.streaming.state_compact import list_parts

    return list_parts(os.path.join(state_dir, kind))


def compact_state(spark: SparkSession, state_dir: str) -> bool:
    """Fold sketch parts by cellwise sum and candidate parts by distinct
    union — both are the read side's own merges, so heavy_hitters is
    identical before/after; crash-safe via the shared manifest swap."""
    from jetstream_spark.streaming.state_compact import compact

    done = load_done_batches(state_dir)
    a = compact(
        spark,
        os.path.join(state_dir, "sketch"),
        lambda df: df.groupBy("j", "b").agg(F.sum("bucket_count").alias("bucket_count")),
        done_batches=done,
    )
    b = compact(
        spark,
        os.path.join(state_dir, "cands"),
        lambda df: df.groupBy("term").agg(F.max("batch_count").alias("batch_count")),
        done_batches=done,
    )
    return a or b


def read_sketch(spark: SparkSession, state_dir: str) -> DataFrame:
    """The merged sketch: cellwise sum across batch parts — equal to the
    one-shot sketch of every document seen (CMS additivity)."""
    parts = _parts(state_dir, "sketch")
    if not parts:
        return spark.createDataFrame([], "j int, b long, bucket_count long")
    return (
        spark.read.parquet(*parts)
        .groupBy("j", "b")
        .agg(F.sum("bucket_count").alias("bucket_count"))
    )


def heavy_hitters(spark: SparkSession, state_dir: str, top_n: int = CMS_TOP_N) -> DataFrame:
    """(term, cms_estimate) for the top_n candidates by merged-sketch
    estimate. Estimates are the exact CMS values of the merged sketch."""
    parts = _parts(state_dir, "cands")
    if not parts:
        return spark.createDataFrame([], "term string, cms_estimate long")
    cands = spark.read.parquet(*parts).select("term").distinct()
    js = spark.range(CMS_DEPTH).select(F.col("id").cast("int").alias("j"))
    probe = cands.crossJoin(F.broadcast(js)).select(
        "term", "j", _cms_bucket(F.col("j"), F.col("term")).alias("b")
    )
    sketch = read_sketch(spark, state_dir)
    return (
        probe.join(F.broadcast(sketch), ["j", "b"])
        .groupBy("term")
        .agg(F.min("bucket_count").alias("cms_estimate"))
        .orderBy(F.desc("cms_estimate"), "term")
        .limit(top_n)
    )


def start_streaming_sketch(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    return start_exactly_once(
        read_frame_stream(spark, DOC_STREAM_SCHEMA, docs_dir),
        state_dir,
        checkpoint_dir,
        partial(_commit_batch, state_dir),
    )
