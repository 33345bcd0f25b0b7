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
    assert normalize_frames(spark.createDataFrame([], schema=RAW_FRAME_SCHEMA)).schema == NORMALIZED_SCHEMA
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
    seq, last, _ = sequence_events(normalized, last_time_us=0, wall_clock_us=1_700_000_000_000_000)
    times = seq["time_us"].to_pylist()
    assert len(times) == normalized.count()
    assert all(b > a for a, b in zip(times, times[1:])), "time_us must be strictly increasing"
    assert last == max(times)
    # relay-arrival order, as the reference's single sequencer keeps it:
    # in time_us order the rows are the input's rows in _seq order
    by_seq = normalized.orderBy("_seq", "did").drop("_seq").toArrow()
    assert seq.drop_columns("time_us").to_pylist() == by_seq.to_pylist(), (
        "_seq must be non-decreasing in time_us order"
    )


def test_sequencer_deterministic_order(normalized):
    """Option (b) of §1.5: ordering by (_seq, did) makes assignment reproducible."""
    a, _, _ = sequence_events(normalized, 0, wall_clock_us=10_000)
    b, _, _ = sequence_events(normalized, 0, wall_clock_us=10_000)
    assert a.equals(b)


def test_sequencer_order_matches_spark_row_number(spark):
    """The driver's order is Spark's ORDER BY _seq, did: null _seq (and a
    null did) first, ties on _seq broken by did, and did compared as UTF-8
    bytes — which puts U+FF5E before U+1F600, where UTF-16 order would not.
    Oracle: row_number() over (ORDER BY _seq, did), computed here."""
    from pyspark.sql import Window

    dids = [
        "did:plc:b", "did:plc:a", "did:plc:é", "did:plc:Ω", "did:plc:日本",
        "did:plc:\uff5e", "did:plc:\U0001f600", None,
    ]
    rows = [(i, seq, did) for i, (seq, did) in enumerate((s, d) for s in (7, None, 3) for d in dids)]
    batch = spark.createDataFrame(rows, "id int, _seq long, did string").repartition(3)
    base = 1_000_000
    seq, last, _ = sequence_events(batch, last_time_us=0, wall_clock_us=base)
    got = dict(zip(seq["id"].to_pylist(), seq["time_us"].to_pylist()))
    rank = F.row_number().over(Window.orderBy("_seq", "did"))
    want = {r["id"]: r["t"] for r in batch.select("id", (F.lit(base) + rank - 1).alias("t")).collect()}
    assert got == want
    assert last == base + len(rows) - 1


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
    """S11 maintenance: multi-batch partitions (tagged batch files and an
    untagged append) compact to one time-sorted file; every row survives
    unchanged and replay output is byte-identical before/after."""
    import os

    log_dir = str(tmp_path / "log")
    h = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)
    h = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1)
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1, batch_id=2)
    for b in (0, 2):
        eventlog.mark_batch_done(log_dir, b)
    part = os.path.join(log_dir, "hour_bucket=0")
    before = sorted(
        (r["time_us"], r["did"]) for r in eventlog.replay(spark, log_dir).collect()
    )
    rows_before = sorted(eventlog.read_log(spark, log_dir).toJSON().collect())
    assert len(rows_before) == 3 * normalized.count()
    n_files = eventlog.compact_bucket(spark, log_dir, bucket=0)
    assert n_files >= 3, "each batch should have produced at least one file"
    left = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert len(left) == 1, "compaction must leave one file"
    after = sorted(
        (r["time_us"], r["did"]) for r in eventlog.replay(spark, log_dir).collect()
    )
    assert after == before, "compaction must not change replay output"
    assert sorted(eventlog.read_log(spark, log_dir).toJSON().collect()) == rows_before


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
    seq, _, _ = sequence_events(normalized, 0, wall_clock_us=1_700_000_000_000_000)
    wire = to_wire(spark.createDataFrame(seq))
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


# --- micro-batch write (S11 file count, commit check) -------------------------
def test_small_batch_writes_few_files_and_stays_dense(spark, tmp_path, normalized):
    """A micro-batch append produces ONE file per bucket (not one per
    shuffle partition), and the sequencer contract survives the write:
    time_us stays dense, distinct, and files time-sorted."""
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
    assert len(set(ts)) == 2 * n, "batch write duplicated time_us"
    assert ts == list(range(ts[0], ts[0] + 2 * n)), "batch write broke density"
    assert ts[-1] == last


# the log as Spark reads it: the file columns in the sequenced frame's
# order, then the partition column; a file source reads every field nullable
LOG_SCHEMA = T.StructType(
    [
        T.StructField("did", T.StringType(), True),
        T.StructField("type", T.StringType(), True),
        T.StructField("commit", NORMALIZED_SCHEMA["commit"].dataType, True),
        T.StructField("account", ACCOUNT_STRUCT, True),
        T.StructField("identity", IDENTITY_STRUCT, True),
        T.StructField("time_us", T.LongType(), True),
        T.StructField("hour_bucket", T.IntegerType(), True),
    ]
)


def test_log_schema_matches_the_spark_layout(spark, tmp_path, normalized):
    """The driver-written log reads with the schema, column order
    included, that Spark's partitionBy write gave it."""
    log_dir = str(tmp_path / "log")
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)
    assert eventlog.read_log(spark, log_dir).schema == LOG_SCHEMA


def test_batch_file_is_time_sorted_with_tight_footer_stats(tmp_path, normalized):
    """A batch across an hour edge lands as one file per bucket. Each file
    is sorted by time_us, its footer min/max (what LogWindow prunes on) is
    its rows' range, and the hour lives in the directory name only."""
    import os

    import pyarrow.parquet as pq

    log_dir = str(tmp_path / "log")
    n = normalized.count()
    wall = 5 * eventlog.US_PER_HOUR - n // 2
    last = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=wall, batch_id=0)
    assert last == wall + n - 1
    seen = []
    for bucket in (4, 5):
        part = os.path.join(log_dir, f"hour_bucket={bucket}")
        assert os.listdir(part) == ["b0-0.parquet"]
        path = os.path.join(part, "b0-0.parquet")
        table = pq.ParquetFile(path).read()
        assert "hour_bucket" not in table.column_names
        ts = table["time_us"].to_pylist()
        assert ts == sorted(ts) and {t // eventlog.US_PER_HOUR for t in ts} == {bucket}
        _, rows, t_min, t_max = eventlog._footer(path)
        assert (rows, t_min, t_max) == (len(ts), ts[0], ts[-1])
        seen += ts
    assert seen == list(range(wall, last + 1))


def test_commit_leaves_no_staging_or_commit_protocol_files(tmp_path, normalized):
    """A tagged commit, its crash-replay re-run and an untagged append
    leave only their data files: no staged batch, and none of the
    `_temporary`/`_SUCCESS`/`.crc` litter of a Hadoop commit."""
    import os

    log_dir = str(tmp_path / "log")
    h = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)
    h = eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1, batch_id=0)
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=h + 1)
    entries = [
        os.path.relpath(os.path.join(d, name), log_dir)
        for d, dirs, files in os.walk(log_dir)
        for name in dirs + files
    ]
    litter = [
        e
        for e in entries
        if e.startswith(os.path.join("_staging", "batch-"))
        or "_temporary" in e
        or e.endswith(("_SUCCESS", ".crc"))
    ]
    assert litter == []
    data = sorted(e for e in entries if e.endswith(".parquet"))
    assert len(data) == 2 and data[0] == os.path.join("hour_bucket=0", "b0-0.parquet"), data
    assert data[1].startswith(os.path.join("hour_bucket=0", "part-"))


def test_ingest_reads_its_input_once(spark, tmp_path, normalized):
    """The sequencer's collect is the batch's one read of its input, and
    the log commit writes that same table. An input that serves fewer
    rows on any later read still commits whole: the log holds exactly
    last - base + 1 rows, time_us dense and strictly increasing, and the
    saved state is the returned last."""
    import os

    log_dir = str(tmp_path / "log")
    SequencerState(last_time_us=5_000).save(log_dir)
    marks = str(tmp_path / "reads")
    os.makedirs(marks)

    def kept(seq):
        # the first evaluation for a seq keeps its row, every later one
        # keeps only even seqs: a second read would see fewer rows
        try:
            os.close(os.open(os.path.join(marks, str(seq)), os.O_CREAT | os.O_EXCL))
            return True
        except FileExistsError:
            return seq % 2 == 0

    keep = F.udf(kept, T.BooleanType()).asNondeterministic()
    shifting = normalized.where(keep("_seq"))
    base = 1_000_000
    last = eventlog.ingest_batch(shifting, log_dir, wall_clock_us=base, batch_id=0)
    logged = eventlog.read_log(spark, log_dir).select("time_us").orderBy("time_us").collect()
    ts = [r["time_us"] for r in logged]
    assert len(ts) == last - base + 1 == normalized.count()
    assert ts == list(range(base, last + 1)), "time_us must be dense and strictly increasing"
    assert SequencerState.load(log_dir).last_time_us == last


def test_ingest_batch_runs_one_job(spark, tmp_path, normalized):
    """One non-empty batch costs one Spark job, the sequencer's Arrow
    collect: no count, sampling, checkpoint or write job. The fixture's
    cache is filled first: that job belongs to the fixture, not to the
    batch."""
    normalized.count()
    sc = spark.sparkContext
    group = f"ingest-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "one ingest_batch")
    try:
        eventlog.ingest_batch(normalized, str(tmp_path / "log"), wall_clock_us=1_000_000, batch_id=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, sorted(jobs)


def test_commit_ingest_with_metrics_runs_one_job(spark, tmp_path):
    """Consumer metrics ride on the sequencer's collect: one non-empty
    batch through the standing ingest commit with metrics attached still
    runs one Spark job, and its label counters equal Spark's
    groupBy(type, commit.type, commit.collection).count() of the batch."""
    from jetstream_spark.operators.observability import ConsumerMetrics
    from jetstream_spark.streaming.pipeline import _commit_ingest

    batch = normalize_frames(spark.createDataFrame(MIXED_FRAMES, schema=RAW_FRAME_SCHEMA)).cache()
    events: dict = {}
    ops: dict = {}
    for r in batch.groupBy("type", F.col("commit.type").alias("kind"), F.col("commit.collection")).count().collect():
        events[r["type"]] = events.get(r["type"], 0) + r["count"]
        if r["kind"] is not None:
            key = (r["kind"], r["collection"] or "")
            ops[key] = ops.get(key, 0) + r["count"]
    assert len(events) == 3 and len(ops) == 3, (events, ops)

    metrics = ConsumerMetrics()
    log_dir = str(tmp_path / "log")
    sc = spark.sparkContext
    group = f"ingest-metrics-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "one ingest commit with metrics")
    try:
        _commit_ingest(log_dir, 1_000_000, metrics, None, batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 1, sorted(jobs)
    assert metrics.events_processed == events
    assert metrics.ops_processed == ops
    n = sum(events.values())
    assert metrics.events_sequenced_total == metrics.events_persisted_total == n
    assert metrics.last_seq == SequencerState.load(log_dir).last_time_us == 1_000_000 + n - 1
    assert metrics.duration_count == 1
