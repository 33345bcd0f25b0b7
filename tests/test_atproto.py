"""Golden pipeline + invariant tests for the jetstream core
(SURVEY.md §5.2 items 2-3)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.normalize import normalize_frames
from jetstream_spark.atproto.schema import ACCOUNT_STRUCT, IDENTITY_STRUCT, RAW_FRAME_SCHEMA
from jetstream_spark.atproto.sequencer import SequencerState, sequence_events
from jetstream_spark.atproto.subscribe import Subscription, SubscriptionError
from jetstream_spark.atproto.wire import to_wire
from tests.fixtures import make_frames


@pytest.fixture(scope="module")
def frames_df(spark):
    return spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)


@pytest.fixture(scope="module")
def normalized(frames_df):
    return normalize_frames(frames_df).cache()


# --- normalize (S3-S9) --------------------------------------------------------
def test_toobig_dropped(normalized):
    assert normalized.where(F.col("did") == "did:plc:toobig").count() == 0


def test_cid_mismatch_dropped(normalized):
    assert normalized.where(F.col("did") == "did:plc:badcid").count() == 0


def test_event_kinds_and_discriminator(normalized):
    rows = normalized.collect()
    for r in rows:
        populated = [k for k in ("commit", "account", "identity") if r[k] is not None]
        expected = {"com": ["commit"], "acc": ["account"], "id": ["identity"]}[r["type"]]
        assert populated == expected, f"type={r['type']} populated={populated}"


def test_action_mapping_and_delete_shape(normalized):
    commits = normalized.where(F.col("type") == "com").select("commit.*").collect()
    assert {c["type"] for c in commits} == {"c", "u", "d"}
    for c in commits:
        if c["type"] == "d":
            assert c["record"] is None and c["cid"] is None  # consumer.go:290-297
        else:
            assert c["record"] is not None and c["cid"] is not None


def test_path_split(normalized):
    c = normalized.where(F.col("type") == "com").select("commit.collection", "commit.rkey").first()
    assert c["collection"].startswith("app.bsky.")
    assert c["rkey"].startswith("rkey")


def _op(action, path, cid=None, record_json=None, record_cid=None):
    return (action, path, cid, record_json, record_cid)


# one frame of every shape normalize dispatches on (S3/S4/S6/S7)
MIXED_FRAMES = [
    ("commit", "did:a", 1, "r1", False, [
        _op("create", "app.bsky.feed.post/k1", "c1", '{"n":1}', "c1"),
        _op("update", "app.bsky.feed.like/k2", "c2", '{"n":2}', "cX"),  # CID mismatch
        _op("delete", "app.bsky.graph.follow/k3"),
    ], None, None),
    ("commit", "did:b", 2, "r2", True, [_op("create", "app.bsky.feed.post/k4", "c4", '{"n":4}', "c4")], None, None),
    ("commit", "did:c", 3, "r3", None, None, None, None),  # null ops
    ("account", "did:d", 4, None, None, None, (True, "did:d", 4, "t4", None), None),
    ("identity", "did:e", 5, None, None, None, None, ("did:e", "e.test", 5, "t5")),
    ("sync", "did:f", 6, None, None, None, None, None),  # unknown kind
    ("commit", "did:g", 7, "r7", None, [_op("update", "app.bsky.feed.post/k7", "c7", '{"n":7}', "c7")], None, None),
]

# normalize's output schema, nullability included: every nested field nullable
NORMALIZED_SCHEMA = T.StructType(
    [
        T.StructField("did", T.StringType(), False),
        T.StructField("_seq", T.LongType(), False),
        T.StructField("type", T.StringType(), False),
        T.StructField(
            "commit",
            T.StructType(
                [T.StructField(n, T.StringType(), True) for n in ("rev", "type", "collection", "rkey", "record", "cid")]
            ),
            True,
        ),
        T.StructField("account", ACCOUNT_STRUCT, True),
        T.StructField("identity", IDENTITY_STRUCT, True),
    ]
)


def test_normalize_mixed_batch_expected_rows(spark):
    out = normalize_frames(spark.createDataFrame(MIXED_FRAMES, schema=RAW_FRAME_SCHEMA))
    assert out.schema == NORMALIZED_SCHEMA
    got = sorted((tuple(r) for r in out.collect()), key=repr)
    assert got == [
        ("did:a", 1, "com", ("r1", "c", "app.bsky.feed.post", "k1", '{"n":1}', "c1"), None, None),
        ("did:a", 1, "com", ("r1", "d", "app.bsky.graph.follow", "k3", None, None), None, None),
        ("did:d", 4, "acc", None, (True, "did:d", 4, "t4", None), None),
        ("did:e", 5, "id", None, None, ("did:e", "e.test", 5, "t5")),
        ("did:g", 7, "com", ("r7", "u", "app.bsky.feed.post", "k7", '{"n":7}', "c7"), None, None),
    ]


def test_normalize_reads_frames_once(spark):
    """One leaf scan and no Union: a per-kind union re-reads the source
    (for the firehose: re-dials and re-decodes) once per branch."""
    out = normalize_frames(spark.createDataFrame(MIXED_FRAMES, schema=RAW_FRAME_SCHEMA))
    plan = out._jdf.queryExecution().sparkPlan()
    assert plan.collectLeaves().size() == 1, plan.toString()
    assert "Union" not in plan.toString(), plan.toString()


# --- sequencer (S10/H1) ---------------------------------------------------------
def test_sequencer_strictly_monotonic(normalized):
    seq_df, last, _ = sequence_events(normalized, last_time_us=0, wall_clock_us=1_700_000_000_000_000)
    times = [r["time_us"] for r in seq_df.orderBy("time_us").collect()]
    assert len(times) == normalized.count()
    assert all(b > a for a, b in zip(times, times[1:])), "time_us must be strictly increasing"
    assert last == max(times)


def test_sequencer_deterministic_order(normalized):
    """Option (b) of §1.5: ordering by (_seq, did) makes assignment reproducible."""
    a, _, _ = sequence_events(normalized, 0, wall_clock_us=10_000)
    b, _, _ = sequence_events(normalized, 0, wall_clock_us=10_000)
    ra = {(r["did"], r["_seq"]): r["time_us"] for r in a.collect()}
    rb = {(r["did"], r["_seq"]): r["time_us"] for r in b.collect()}
    assert ra == rb


def test_sequencer_restart_continuity(normalized, tmp_path):
    """Monotonicity across restart: clock bump rule max(last+1, wall)
    (clock.go:51-53) with persisted state (S12)."""
    log_dir = str(tmp_path / "log")
    last1 = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000)
    state = SequencerState.load(log_dir)
    assert state.last_time_us == last1
    # second batch with a LAGGING wall clock — must still advance
    last2 = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=500_000)
    assert last2 > last1
    spark_times = eventlog.read_log(normalized.sparkSession, log_dir).select("time_us").collect()
    times = sorted(r["time_us"] for r in spark_times)
    assert len(times) == len(set(times)), "no duplicate time_us across batches"


def test_ingest_empty_batch_writes_nothing(frames_df, tmp_path):
    """A batch the sequencer counts empty is a no-op: the unchanged
    last_time_us comes back, with no staged log files and no state save."""
    import os

    log_dir = str(tmp_path / "log")
    SequencerState(last_time_us=5_000).save(log_dir)
    state_path = os.path.join(log_dir, "_sequencer_state.json")
    before = (open(state_path).read(), os.stat(state_path).st_mtime_ns)
    empty = normalize_frames(frames_df.limit(0))
    assert eventlog.ingest_batch(empty, log_dir, wall_clock_us=1_000_000, batch_id=3) == 5_000
    assert (open(state_path).read(), os.stat(state_path).st_mtime_ns) == before
    leftovers = [p for p, _, _ in os.walk(log_dir) if "hour_bucket=" in p]
    assert leftovers == []


# --- log + replay (S11/S13/S14) ----------------------------------------------------
@pytest.fixture(scope="module")
def populated_log(normalized, tmp_path_factory):
    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_700_000_000_000_000)
    return log_dir


def test_replay_cursor_inclusive(spark, populated_log):
    """Replay begins at LowerBound = cursor INCLUSIVE (persist.go:153)."""
    all_times = [r["time_us"] for r in eventlog.replay(spark, populated_log).collect()]
    cursor = all_times[len(all_times) // 2]
    replayed = [r["time_us"] for r in eventlog.replay(spark, populated_log, cursor=cursor).collect()]
    assert replayed[0] == cursor
    assert replayed == [t for t in all_times if t >= cursor]


def test_replay_time_ordered(spark, populated_log):
    times = [r["time_us"] for r in eventlog.replay(spark, populated_log).collect()]
    assert times == sorted(times)


def test_collection_filter_bypass(spark, populated_log):
    """account/identity events pass collection filters (server.go:119-123)."""
    df = eventlog.replay(spark, populated_log, wanted_collections=["app.bsky.feed.like"])
    rows = df.collect()
    kinds = {r["type"] for r in rows}
    assert "acc" in kinds and "id" in kinds
    for r in rows:
        if r["type"] == "com":
            assert r["commit"]["collection"] == "app.bsky.feed.like"


def test_did_filter(spark, populated_log):
    df = eventlog.replay(spark, populated_log, wanted_dids=["did:plc:user001"])
    assert df.count() > 0
    assert {r["did"] for r in df.collect()} == {"did:plc:user001"}


def test_did_filter_large_set_semi_join(spark, populated_log):
    """Above the isin threshold the DID filter becomes a broadcast semi
    join — results must be identical to the literal-list path."""
    all_dids = sorted({r["did"] for r in eventlog.read_log(spark, populated_log).select("did").distinct().collect()})
    wanted = all_dids[: max(1, len(all_dids) // 2)]
    small = {r["time_us"] for r in eventlog.replay(spark, populated_log, wanted_dids=wanted).collect()}
    padded = wanted + [f"did:plc:pad{i}" for i in range(1200)]  # force the semi-join path
    large = {r["time_us"] for r in eventlog.replay(spark, populated_log, wanted_dids=padded).collect()}
    assert large == small


def test_compact_bucket(spark, normalized, tmp_path):
    """S11 maintenance: multi-batch partitions compact to one time-sorted
    file; replay output is byte-identical before/after."""
    import os

    log_dir = str(tmp_path / "log")
    h = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)
    h = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1, batch_id=1)
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1, batch_id=2)
    for b in (0, 1, 2):
        eventlog.mark_batch_done(log_dir, b)
    part = os.path.join(log_dir, "hour_bucket=0")
    before = sorted(
        (r["time_us"], r["did"]) for r in eventlog.replay(spark, log_dir).collect()
    )
    n_files = eventlog.compact_bucket(spark, log_dir, bucket=0)
    assert n_files >= 3, "each batch should have produced at least one file"
    left = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert len(left) == 1, "compaction must leave one file"
    after = sorted(
        (r["time_us"], r["did"]) for r in eventlog.replay(spark, log_dir).collect()
    )
    assert after == before, "compaction must not change replay output"


def test_compact_refuses_unmarked_batch(spark, normalized, tmp_path):
    """Exactly-once under crash-replay: a batch committed but NOT yet in the
    done-marker set makes its bucket ineligible for compaction — compacting
    would drop the batch-tagged file names its replay's delete-before-rewrite
    keys on, and the replay would then append a duplicate copy."""
    import os

    log_dir = str(tmp_path / "log")
    h = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1, batch_id=1)
    eventlog.mark_batch_done(log_dir, 0)  # batch 1 = crashed before its marker

    assert eventlog.compact_bucket(spark, log_dir, bucket=0) == -1, (
        "bucket with an un-marked batch must be refused"
    )
    part = os.path.join(log_dir, "hour_bucket=0")
    n_before = len([f for f in os.listdir(part) if f.endswith(".parquet")])

    # the crash-replay of batch 1 must converge to exactly one copy
    count_before = eventlog.read_log(spark, log_dir).count()
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1, batch_id=1)
    eventlog.mark_batch_done(log_dir, 1)
    assert eventlog.read_log(spark, log_dir).count() == count_before, (
        "replayed batch must not duplicate events"
    )
    assert len([f for f in os.listdir(part) if f.endswith(".parquet")]) == n_before

    # once every batch is marked, compaction proceeds
    assert eventlog.compact_bucket(spark, log_dir, bucket=0) >= 2


def test_ttl_trim(spark, normalized, tmp_path):
    """S13: partitions fully older than TTL are dropped (persist.go:120-137)."""
    log_dir = str(tmp_path / "log")
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000)  # hour bucket 0
    old_count = eventlog.read_log(spark, log_dir).count()
    assert old_count > 0
    now_us = 30 * 3_600_000_000  # 30h later
    dropped = eventlog.trim_events(spark, log_dir, now_us=now_us)
    assert dropped == 1
    with pytest.raises(Exception):  # log is now empty (all partitions dropped)
        eventlog.read_log(spark, log_dir).count()


# --- wire format (S16) ----------------------------------------------------------------
def test_wire_omitempty_and_raw_record(spark, normalized):
    seq_df, _, _ = sequence_events(normalized, 0, wall_clock_us=1_700_000_000_000_000)
    wire = to_wire(seq_df)
    for r in wire.collect():
        frame = json.loads(r["value"])
        assert set(frame).issubset({"did", "time_us", "type", "commit", "account", "identity"})
        populated = [k for k in ("commit", "account", "identity") if k in frame]
        assert len(populated) == 1, f"omitempty violated: {sorted(frame)}"
        if frame["type"] == "com":
            c = frame["commit"]
            if c["type"] == "d":
                assert "record" not in c and "cid" not in c
            else:
                assert isinstance(c["record"], dict), "record must be raw JSON, not a string"
                assert c["record"]["$type"] == c["collection"]


# --- subscriptions (S21/S18/S15) ---------------------------------------------------------
def test_subscription_validation():
    Subscription.parse(wanted_collections=["app.bsky.feed.post"], wanted_dids=["did:plc:abc123"])
    with pytest.raises(SubscriptionError):
        Subscription.parse(wanted_collections=["not-an-nsid"])
    with pytest.raises(SubscriptionError):
        Subscription.parse(wanted_dids=["banana"])
    with pytest.raises(SubscriptionError):
        Subscription.parse(cursor="not-a-number")


def test_future_cursor_means_live():
    sub = Subscription.parse(cursor="2000", server_time_us=1000)
    assert sub.cursor is None  # server.go:283-286
    sub2 = Subscription.parse(cursor="500", server_time_us=1000)
    assert sub2.cursor == 500


def test_subscriber_no_dup_no_gap_across_replay_rounds(spark, populated_log):
    """The S18 guarantee: replay rounds with overlapping scans deliver every
    event exactly once, in order (server.go:131-134 + 305-337)."""
    sub = Subscription.parse(cursor="0", server_time_us=None)
    sub.cursor = 0
    delivered: list[int] = []
    for _ in range(10):  # replay loop
        batch = sub.replay_batch(spark, populated_log).limit(7).collect()
        if not batch:
            break
        delivered.extend(r["time_us"] for r in batch)
        sub.advance(batch[-1]["time_us"])
        # adversarial: rewind cursor to force overlap — S18 must dedup
        sub.cursor = max(0, sub.cursor - 3)
    full = [r["time_us"] for r in eventlog.replay(spark, populated_log).collect()]
    assert delivered == full, "replay must be gapless and duplicate-free"


def test_cutover_threshold():
    sub = Subscription()
    sub.seq = 1_000_000
    assert sub.caught_up(server_head_us=1_400_000)  # within 500ms
    assert not sub.caught_up(server_head_us=1_600_000)


def test_recover_compaction_all_crash_points(spark, normalized, tmp_path):
    """Every compact_bucket crash point leaves a state recover_compaction
    resolves to exactly one intact copy of the partition."""
    import os
    import shutil

    log_dir = str(tmp_path / "log")
    h = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1, batch_id=1)
    for b in (0, 1):
        eventlog.mark_batch_done(log_dir, b)
    part = os.path.join(log_dir, "hour_bucket=0")
    baseline = sorted((r["time_us"], r["did"]) for r in eventlog.replay(spark, log_dir).collect())

    # crash point A: staged tmp exists, swap never started
    tmp_dir = os.path.join(log_dir, "_compact_tmp_0")
    os.makedirs(tmp_dir)
    assert eventlog.recover_compaction(log_dir) == 1
    assert not os.path.isdir(tmp_dir) and os.path.isdir(part)

    # crash point B: between the two renames — only the old copy exists
    aside = os.path.join(log_dir, "_compact_old_0")
    os.rename(part, aside)
    assert eventlog.recover_compaction(log_dir) == 1
    assert os.path.isdir(part) and not os.path.isdir(aside)
    after_b = sorted((r["time_us"], r["did"]) for r in eventlog.replay(spark, log_dir).collect())
    assert after_b == baseline

    # crash point C: swap done, old copy not yet dropped
    shutil.copytree(part, aside)
    assert eventlog.recover_compaction(log_dir) == 1
    assert os.path.isdir(part) and not os.path.isdir(aside)
    after_c = sorted((r["time_us"], r["did"]) for r in eventlog.replay(spark, log_dir).collect())
    assert after_c == baseline

    assert eventlog.recover_compaction(log_dir) == 0, "idempotent when clean"


# --- micro-batch write coalesce (S11 file-count control) ----------------------
def test_write_coalesce_k_thresholds(spark):
    """Small batches coalesce to ceil(rows / SMALL_BATCH_ROWS_PER_FILE)
    files; a batch big enough for full write parallelism is left alone
    (None) — the 100 TB hot path pays nothing."""
    from jetstream_spark.atproto.log import SMALL_BATCH_ROWS_PER_FILE, _write_coalesce_k

    par = spark.sparkContext.defaultParallelism
    assert _write_coalesce_k(spark, 0) == 1
    assert _write_coalesce_k(spark, 1) == 1
    assert _write_coalesce_k(spark, SMALL_BATCH_ROWS_PER_FILE) == 1
    assert _write_coalesce_k(spark, SMALL_BATCH_ROWS_PER_FILE + 1) == 2
    assert _write_coalesce_k(spark, (par - 1) * SMALL_BATCH_ROWS_PER_FILE) == par - 1
    assert _write_coalesce_k(spark, par * SMALL_BATCH_ROWS_PER_FILE) is None
    assert _write_coalesce_k(spark, 10 * par * SMALL_BATCH_ROWS_PER_FILE) is None


def test_small_batch_writes_few_files_and_stays_dense(spark, tmp_path, normalized):
    """A micro-batch append produces ONE file per bucket (not one per
    shuffle partition), and the sequencer contract survives the coalesce:
    time_us stays dense, distinct, and files time-sorted. Pins the
    RDD-boundary safety argument in ingest_batch's docstring — the
    nondeterministic time_us projection must evaluate per PARENT
    partition, not per merged task (a per-task counter would collide
    offsets across merged partitions)."""
    import os

    log_dir = str(tmp_path / "log")
    n = normalized.count()
    last = 0
    for b in range(2):
        last = eventlog.ingest_batch(
            normalized, log_dir, wall_clock_us=1_000_000 + b, batch_id=b
        )
    part = os.path.join(log_dir, "hour_bucket=0")
    files = sorted(f for f in os.listdir(part) if f.endswith(".parquet"))
    assert len(files) == 2, f"expected 1 file per micro-batch, got {files}"
    rows = eventlog.read_log(spark, log_dir)
    ts = sorted(r["time_us"] for r in rows.select("time_us").collect())
    assert len(ts) == 2 * n
    assert len(set(ts)) == 2 * n, "coalesced write duplicated time_us"
    assert ts == list(range(ts[0], ts[0] + 2 * n)), "coalesced write broke density"
    assert ts[-1] == last
