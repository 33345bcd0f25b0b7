"""Streaming ANN probe e2e: query vectors arrive as a stream, each batch
probes the static IVF inverted file; results equal the batch probe for the
same vectors, and crash-replayed batches converge to one copy."""

from __future__ import annotations

import json
import os

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _query_rows(spark, ids):
    from jetstream_spark.tables import table
    from pyspark.sql import functions as F

    return (
        table(spark, SF_DIR, "embeddings")
        .where(F.col("vec_id").isin(list(ids)))
        .select("vec_id", "embedding")
        .collect()
    )


def _drop(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(
                json.dumps({"query_id": r["vec_id"], "embedding": list(map(float, r["embedding"]))})
                + "\n"
            )


@pytest.mark.timeout(300)
def test_streaming_ann_matches_batch_probe(spark, tmp_path):
    from jetstream_spark.operators.ann_index import (
        ensure_ivf_index,
        ivf_centroids,
        probe_ivf_with,
    )
    from jetstream_spark.streaming.ann_stream import (
        init_ann_state,
        read_results,
        start_streaming_ann,
    )

    import numpy as np

    queries_dir = tmp_path / "queries_in"
    queries_dir.mkdir()
    state = str(tmp_path / "state")
    init_ann_state(state)

    rows = _query_rows(spark, range(8))
    _drop(queries_dir / "batch1.json", rows[:4])
    _drop(queries_dir / "batch2.json", rows[4:])

    q = start_streaming_ann(
        spark, str(queries_dir), SF_DIR, state, str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in read_results(spark, state).collect()
    }

    index_path = ensure_ivf_index(spark, SF_DIR)
    cents = ivf_centroids(spark, SF_DIR)
    q_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    want = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in probe_ivf_with(spark, cents, q_ids, q_mat, index_path).collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.timeout(300)
def test_streaming_ann_replay_converges(spark, tmp_path):
    from functools import partial

    from jetstream_spark.atproto.log import load_done_batches
    from jetstream_spark.streaming.ann_stream import (
        _commit_batch,
        init_ann_state,
        read_results,
    )
    from jetstream_spark.operators.ann_index import ensure_ivf_index, ivf_centroids
    from jetstream_spark.streaming.pipeline import commit_once

    state = str(tmp_path / "state")
    init_ann_state(state)
    index_path = ensure_ivf_index(spark, SF_DIR)
    body = partial(_commit_batch, state, index_path, ivf_centroids(spark, SF_DIR))

    rows = _query_rows(spark, range(3))
    bdf = spark.createDataFrame(
        [(r["vec_id"], r["embedding"]) for r in rows],
        "query_id long, embedding array<float>",
    )
    commit_once(state, body, bdf, 0)
    once = sorted(tuple(r) for r in read_results(spark, state).collect())
    assert once and 0 in load_done_batches(state)

    # replay of a COMPLETED batch is a no-op
    commit_once(state, body, bdf, 0)
    assert sorted(tuple(r) for r in read_results(spark, state).collect()) == once

    # crash before the marker: output exists, marker doesn't; the replay
    # rewrites the batch dir (delete-before-rewrite) and converges
    import json as _json

    from jetstream_spark.atproto.log import BATCH_STATE_FILE

    with open(os.path.join(state, BATCH_STATE_FILE), "w") as f:
        _json.dump([], f)
    commit_once(state, body, bdf, 0)
    assert sorted(tuple(r) for r in read_results(spark, state).collect()) == once
    assert 0 in load_done_batches(state)


@pytest.mark.timeout(300)
@pytest.mark.parametrize(
    "bad",
    [None, [0.5, 0.25, 0.125], [0.0] * 64],
    ids=["null", "wrong_length", "zero_norm"],
)
def test_streaming_ann_skips_unscorable_row(spark, tmp_path, bad):
    """One bad line must not poison its batch: a drop file with a null,
    wrong-length or zero-norm embedding next to a good one yields exactly
    the good row's top-k, and the batch is marked done (a failing batch
    would fail the same way on every replay, so the query never advances)."""
    import numpy as np

    from jetstream_spark.atproto.log import load_done_batches
    from jetstream_spark.operators.ann_index import (
        ensure_ivf_index,
        ivf_centroids,
        probe_ivf_with,
    )
    from jetstream_spark.streaming.ann_stream import (
        init_ann_state,
        read_results,
        start_streaming_ann,
    )

    queries_dir = tmp_path / "queries_in"
    queries_dir.mkdir()
    state = str(tmp_path / "state")
    init_ann_state(state)
    good = _query_rows(spark, [3])[0]
    with open(queries_dir / "batch.json", "w") as f:
        f.write(json.dumps({"query_id": 9001, "embedding": bad}) + "\n")
        f.write(
            json.dumps({"query_id": 3, "embedding": list(map(float, good["embedding"]))}) + "\n"
        )

    q = start_streaming_ann(spark, str(queries_dir), SF_DIR, state, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert 0 in load_done_batches(state)
    got = sorted(tuple(r) for r in read_results(spark, state).collect())
    want = sorted(
        tuple(r)
        for r in probe_ivf_with(
            spark,
            ivf_centroids(spark, SF_DIR),
            np.array([3], dtype=np.int64),
            np.array([good["embedding"]], dtype=np.float64),
            ensure_ivf_index(spark, SF_DIR),
        ).collect()
    )
    assert got == want and len(want) > 0
