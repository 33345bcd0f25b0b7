"""The shared exactly-once handler (streaming/pipeline.py::commit_once)
over every standing query's commit body.

The handler never reads the batch (no isEmpty() pre-read), so each body
must accept a zero-row batch: the batch is marked done, the body's read
side is unchanged, and a batch after it lands exactly as if the empty
one had never run (compared against a second state fed only the
non-empty batches)."""

from __future__ import annotations

import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from jetstream_spark.atproto.log import load_done_batches
from jetstream_spark.streaming.pipeline import commit_once
from tests.fixtures import make_frames
from tests.test_streaming_ann import SF_DIR


def _ingest(spark):
    from jetstream_spark.atproto import log as eventlog
    from jetstream_spark.atproto.normalize import normalize_frames
    from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
    from jetstream_spark.operators.observability import ConsumerMetrics
    from jetstream_spark.streaming import pipeline

    frames = make_frames()
    half = len(frames) // 2

    def batch(rows):
        return normalize_frames(spark.createDataFrame(rows, schema=RAW_FRAME_SCHEMA))

    return dict(
        init=lambda d: None,
        body=lambda d: partial(pipeline._commit_ingest, d, 1_000_000, ConsumerMetrics(), None),
        batches=(batch(frames[:half]), batch([]), batch(frames[half:])),
        read=lambda d: eventlog.read_log(spark, d),
    )


def _anomaly(spark):
    from jetstream_spark.streaming import anomaly_stream as m

    def batch(rows):
        return spark.createDataFrame(rows, "event_id long, ts string, event_type string").withColumn(
            "ts", F.to_timestamp("ts")
        )

    return dict(
        init=m.init_anomaly_state,
        body=lambda d: partial(m._commit_batch, d),
        batches=(
            batch([(i, f"2024-03-01T{i % 5:02d}:05:00", "click") for i in range(20)]),
            batch([]),
            batch([(100 + i, f"2024-03-01T{i % 7:02d}:10:00", "view") for i in range(9)]),
        ),
        read=lambda d: m.read_hourly_counts(spark, d),
    )


def _scd2(spark):
    from jetstream_spark.streaming import scd2_stream as m
    from tests.test_streaming_scd2 import BATCH1, BATCH2, _events_df

    return dict(
        init=m.init_scd2_state,
        body=lambda d: partial(m._commit_batch, d),
        batches=(_events_df(spark, BATCH1), _events_df(spark, []), _events_df(spark, BATCH2)),
        read=lambda d: m.current_scd2(spark, d),
    )


def _dedup(spark):
    from jetstream_spark.streaming import dedup_stream as m
    from tests.test_streaming_dedup import NOVEL

    base = NOVEL[0].format(i=0) * 3

    def batch(rows):
        return spark.createDataFrame(rows, m.DOC_STREAM_SCHEMA)

    return dict(
        init=lambda d: m.init_dedup_state(spark, d),
        body=lambda d: partial(m._commit_batch, d),
        batches=(batch([(1, base)]), batch([]), batch([(2, base + " z")])),
        read=lambda d: m.read_pairs(spark, d),
    )


def _ann(spark):
    from jetstream_spark.operators.ann_index import ensure_ivf_index, ivf_centroids
    from jetstream_spark.streaming import ann_stream as m
    from jetstream_spark.tables import table

    index_path = ensure_ivf_index(spark, SF_DIR)
    cents = ivf_centroids(spark, SF_DIR)
    rows = (
        table(spark, SF_DIR, "embeddings")
        .where(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .collect()
    )

    def batch(rs):
        return spark.createDataFrame(
            [(r["query_id"], r["embedding"]) for r in rs], m.QUERY_STREAM_SCHEMA
        )

    return dict(
        init=m.init_ann_state,
        body=lambda d: partial(m._commit_batch, d, index_path, cents),
        batches=(batch(rows[:2]), batch([]), batch(rows[2:])),
        read=lambda d: m.read_results(spark, d),
    )


CASES = {
    "ingest": _ingest,
    "anomaly": _anomaly,
    "scd2": _scd2,
    "dedup": _dedup,
    "ann": _ann,
}


def _rows(df) -> list[str]:
    return sorted(df.toJSON().collect())


@pytest.mark.timeout(300)
@pytest.mark.parametrize("name", list(CASES))
def test_empty_batch_marks_done_and_changes_nothing(spark, tmp_path, name):
    case = CASES[name](spark)
    first, empty, last = case["batches"]
    assert empty.count() == 0 and first.count() > 0 and last.count() > 0

    state, ref = str(tmp_path / "state"), str(tmp_path / "ref")
    for d in (state, ref):
        os.makedirs(d, exist_ok=True)
        case["init"](d)
    body = case["body"](state)

    commit_once(state, body, first, 0)
    before = _rows(case["read"](state))

    commit_once(state, body, empty, 1)
    assert load_done_batches(state) == {0, 1}
    assert _rows(case["read"](state)) == before

    # a batch after the empty one lands as if the empty one never ran
    commit_once(state, body, last, 2)
    assert load_done_batches(state) == {0, 1, 2}
    ref_body = case["body"](ref)
    commit_once(ref, ref_body, first, 0)
    commit_once(ref, ref_body, last, 2)
    after = _rows(case["read"](state))
    assert after == _rows(case["read"](ref))
    assert after != before
