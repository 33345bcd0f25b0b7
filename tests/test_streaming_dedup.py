"""Streaming incremental dedup e2e: cross-batch near-dups, history growth,
and exactly-once replay of the pair output."""

from __future__ import annotations

import json
import os

from jetstream_spark.streaming.dedup_stream import (
    init_dedup_state,
    read_pairs,
    start_streaming_dedup,
)

NOVEL = [
    "alpha beta gamma delta epsilon zeta eta theta iota kappa doc {i}",
    "one small step over the shuffle boundary and into codegen land {i}",
    "partition pruning keeps the scan honest at any scale factor {i}",
    "watermarks close sessions when the event time horizon moves {i}",
]


def _write_batch(docs_dir: str, tag: str, docs: list[tuple[int, str]]) -> None:
    with open(os.path.join(docs_dir, f"{tag}.json"), "w") as f:
        for doc_id, text in docs:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def _drain(spark, docs_dir, state_dir, ckpt) -> None:
    q = start_streaming_dedup(spark, docs_dir, state_dir, str(ckpt))
    q.processAllAvailable()
    q.stop()


def test_cross_batch_near_dup_detected_and_history_grows(spark, tmp_path):
    docs_dir, state_dir = str(tmp_path / "drop"), str(tmp_path / "state")
    os.makedirs(docs_dir)
    init_dedup_state(spark, state_dir)

    ck = tmp_path / "ck"  # ONE checkpoint: each drain resumes the file source
    batch1 = [(i, NOVEL[i % 4].format(i=i) * 3) for i in range(1, 5)]
    _write_batch(docs_dir, "b1", batch1)
    _drain(spark, docs_dir, state_dir, ck)
    # first batch has no history to match against
    assert read_pairs(spark, state_dir).count() == 0

    # batch 2: one near-copy of doc 2 (same text + tiny suffix), one novel
    dup_of_2 = batch1[1][1] + " xx"
    _write_batch(docs_dir, "b2", [(10, dup_of_2), (11, "completely different words here" * 4)])
    _drain(spark, docs_dir, state_dir, ck)
    pairs = {(r["base_doc_id"], r["new_doc_id"]) for r in read_pairs(spark, state_dir).collect()}
    assert pairs == {(2, 10)}
    got = read_pairs(spark, state_dir).collect()[0]
    assert got["jaccard"] >= 0.7

    # batch 3 matches a BATCH-2 doc: history grew past the initial corpus
    _write_batch(docs_dir, "b3", [(20, dup_of_2 + " y")])
    _drain(spark, docs_dir, state_dir, ck)
    pairs = {(r["base_doc_id"], r["new_doc_id"]) for r in read_pairs(spark, state_dir).collect()}
    assert (10, 20) in pairs and (2, 20) in pairs


def test_replay_is_exactly_once_on_pairs(spark, tmp_path):
    docs_dir, state_dir = str(tmp_path / "drop"), str(tmp_path / "state")
    os.makedirs(docs_dir)
    init_dedup_state(spark, state_dir)

    ck = tmp_path / "ck"
    base = NOVEL[0].format(i=0) * 3
    _write_batch(docs_dir, "b1", [(1, base)])
    _drain(spark, docs_dir, state_dir, ck)
    _write_batch(docs_dir, "b2", [(2, base + " z")])
    _drain(spark, docs_dir, state_dir, ck)
    first = sorted(map(tuple, read_pairs(spark, state_dir).collect()))
    assert len(first) == 1

    # a fresh checkpoint replays the whole drop directory from scratch; the
    # batch-id markers and delete-before-rewrite keep outputs single-copy
    _drain(spark, docs_dir, state_dir, tmp_path / "ck_replay")
    assert sorted(map(tuple, read_pairs(spark, state_dir).collect())) == first


def test_crash_after_state_writes_before_marker_replays_clean(spark, tmp_path):
    """The worst crash point: docs/b{id} written AND band rows appended, but
    mark_batch_done never ran. The replay must not treat the batch's own
    documents as history — no self-pairs (jaccard 1.0), no within-batch
    pairs, output identical to the uncrashed run."""
    import os as _os

    from jetstream_spark.streaming.dedup_stream import _commit_batch
    from tests.fixtures import commit_batch_once
    from jetstream_spark.atproto.log import BATCH_STATE_FILE, load_done_batches

    state_dir = str(tmp_path / "state")
    init_dedup_state(spark, state_dir)

    base = NOVEL[1].format(i=7) * 3
    b0 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    commit_batch_once(_commit_batch, state_dir, b0, 0)

    # batch 1: a near-dup of history doc 1 plus TWO near-identical docs
    # within the batch (the within-batch pair must never appear)
    b1 = spark.createDataFrame(
        [(10, base + " z"), (20, NOVEL[2].format(i=9) * 3), (21, NOVEL[2].format(i=9) * 3 + " q")],
        "doc_id long, text string",
    )
    commit_batch_once(_commit_batch, state_dir, b1, 1)
    expected = sorted(map(tuple, read_pairs(spark, state_dir).collect()))
    assert [(b, n) for b, n, _ in expected] == [(1, 10)]

    # simulate the crash window: erase the done-marker for batch 1 only,
    # leaving docs/b1 and its band rows in place, then replay
    markers = load_done_batches(state_dir)
    assert markers == {0, 1}
    import json as _json

    with open(_os.path.join(state_dir, BATCH_STATE_FILE), "w") as f:
        _json.dump([0], f)

    commit_batch_once(_commit_batch, state_dir, b1, 1)  # crash-replay
    replayed = sorted(map(tuple, read_pairs(spark, state_dir).collect()))
    assert replayed == expected, "replay emitted self- or within-batch pairs"
    assert load_done_batches(state_dir) == {0, 1}
