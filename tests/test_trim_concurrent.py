"""TTL trim (S13) racing the other maintenance and read paths.

trim_events drops whole hour-partition directories; at 100 TB retention
runs continuously while replay consumers drain the log and the compactor
rewrites buckets, so three races are routine and must be pinned
deterministically (same discipline as test_log_compaction_concurrent):

  1. reader vs trim — a replay frame listed BEFORE the trim collects
     AFTER it: the task-time FileNotFound must be absorbed by the same
     re-plan retry the compaction swap uses, and the rebuilt frame
     legally serves only the surviving (unexpired) buckets. Vanishing
     expired events are TTL semantics, not data loss (the reference's
     analogue: a Pebble DeleteRange landing under a replay iterator,
     persist.go:120-137).
  2. compactor vs trim — trim deletes the partition between the
     compactor's staged rewrite and its rename-aside: compaction of a
     just-expired bucket is a no-op, never a crash.
  3. crash leftovers vs trim — a mid-swap crash parks the bucket's only
     copy at `_compact_old_{b}`; if trim ignored it, recover_compaction
     would rename expired data BACK into the live log forever.
"""

from __future__ import annotations

import os
import shutil

import pytest

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.log import US_PER_HOUR
from jetstream_spark.atproto.normalize import normalize_frames
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
from jetstream_spark.atproto.subscribe import Subscription
from jetstream_spark.serving.hub import LiveTailHub
from tests.fixtures import drain_via_edge, make_frames


@pytest.fixture(scope="module")
def normalized(spark):
    return normalize_frames(
        spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    ).cache()


def _mk_hourly_log(spark, tmp_path, normalized, n_hours=3) -> str:
    """One ingested batch per hour bucket, so trim has real bucket
    boundaries to cut at."""
    log_dir = str(tmp_path / "log")
    for b in range(n_hours):
        eventlog.ingest_batch(
            normalized, log_dir, wall_clock_us=b * US_PER_HOUR + 1_000, batch_id=b
        )
        eventlog.mark_batch_done(log_dir, b)
    return log_dir


def _keys(rows) -> list:
    return sorted((r["time_us"], r["did"]) for r in rows)


def test_backfill_survives_concurrent_ttl_trim(spark, tmp_path, normalized):
    """Race 1, pinned deterministically: the first replay frame the
    consumer builds gets a TTL trim injected right after its file
    listing, so its collect fails task-time on the vanished bucket-0
    files. The retry must rebuild with a fresh listing and the consumer
    must finish with exactly the surviving buckets' events, in order,
    without crashing."""
    log_dir = _mk_hourly_log(spark, tmp_path, normalized)
    all_keys = _keys(eventlog.replay(spark, log_dir).collect())
    surviving = [k for k in all_keys if k[0] >= US_PER_HOUR]  # buckets 1..2
    assert surviving and len(surviving) < len(all_keys)

    real_replay = eventlog.replay
    trimmed: list = []

    def racy_replay(spark_, log_dir_, **kw):
        df = real_replay(spark_, log_dir_, **kw)
        if not trimmed:  # first frame only: trim lands AFTER its listing
            trimmed.append(
                eventlog.trim_events(
                    spark, log_dir, now_us=US_PER_HOUR + eventlog.DEFAULT_TTL_US
                )
            )
        return df

    delivered: list = []
    eventlog.replay = racy_replay
    try:
        n = drain_via_edge(spark, log_dir, Subscription(cursor=0), 7, delivered.extend)
    finally:
        eventlog.replay = real_replay

    assert trimmed == [1], "the race was never injected (or trimmed != bucket 0)"
    got = [(r["time_us"], r["did"]) for r in delivered]
    assert sorted(got) == surviving, "lost surviving events or resurrected expired ones"
    times = [t for t, _ in got]
    assert times == sorted(times), "delivery order broke across the trim"
    assert n == len(surviving)


def test_backfill_survives_planning_time_trim_race(spark, tmp_path, normalized, monkeypatch):
    """Race 1, the PLANNING window: the trim lands between read_log's
    os.listdir and Spark's path resolution, so frame CREATION (not the
    collect) fails with PATH_NOT_FOUND naming the vanished partition.
    That shape must be retryable — only PATH_NOT_FOUND for the log dir
    itself (virgin log) is fatal. Pinned by feeding read_log a stale
    directory listing that still names the just-trimmed bucket."""
    log_dir = _mk_hourly_log(spark, tmp_path, normalized)
    all_keys = _keys(eventlog.replay(spark, log_dir).collect())
    surviving = [k for k in all_keys if k[0] >= US_PER_HOUR]

    real_listdir = os.listdir
    injected: list = []

    def stale_listdir(path):
        entries = real_listdir(path)
        if os.path.abspath(str(path)) == os.path.abspath(log_dir) and not injected:
            # the trim wins the window AFTER the listing: the caller
            # proceeds to resolve a partition that no longer exists.
            # (mark BEFORE trimming — trim_events lists log_dir itself)
            injected.append(None)
            injected[0] = eventlog.trim_events(
                spark, log_dir, now_us=US_PER_HOUR + eventlog.DEFAULT_TTL_US
            )
        return entries

    delivered: list = []
    monkeypatch.setattr(eventlog.os, "listdir", stale_listdir)
    try:
        n = drain_via_edge(spark, log_dir, Subscription(cursor=0), 7, delivered.extend)
    finally:
        monkeypatch.undo()

    assert injected == [1], "the race was never injected"
    assert sorted((r["time_us"], r["did"]) for r in delivered) == surviving
    assert n == len(surviving)


def test_vanished_subpath_classifier():
    """Planning-time retry classification: PATH_NOT_FOUND inside the log
    dir = maintenance race (retryable); the log dir itself = virgin log
    (fatal, ADVICE r8's delayed-error hazard); unrelated paths fatal."""
    is_sub = eventlog._is_vanished_subpath
    assert is_sub(
        "[PATH_NOT_FOUND] Path does not exist: file:/data/log/hour_bucket=24. SQLSTATE: 42K03",
        "/data/log",
    )
    assert not is_sub(
        "[PATH_NOT_FOUND] Path does not exist: file:/data/log. SQLSTATE: 42K03",
        "/data/log",
    )
    assert not is_sub(
        "[PATH_NOT_FOUND] Path does not exist: file:/other/place/x. SQLSTATE: 42K03",
        "/data/log",
    )
    assert not is_sub("[UNRESOLVED_COLUMN] no path here at all", "/data/log")


def test_live_subscription_survives_ttl_trim_between_ticks(spark, tmp_path, normalized):
    """Race 1 on the live-tail path: a subscriber attached to the hub keeps
    delivering across a TTL trim of already-delivered buckets — the tick
    stream must not die when buckets vanish (it ticks on the sequencer
    head, delivery is the seq-guarded replay re-read), and events ingested
    AFTER the trim must still arrive complete and in order."""
    log_dir = _mk_hourly_log(spark, tmp_path, normalized)
    all_keys = _keys(eventlog.replay(spark, log_dir).collect())

    delivered: list = []
    hub = LiveTailHub(spark, log_dir, str(tmp_path / "hubckpt"), batch_limit=7)
    hub.register(Subscription(), delivered.extend)  # live tail from seq 0
    q = hub.start()
    try:
        q.processAllAvailable()
        assert q.exception() is None, q.exception()
        assert len(delivered) == len(all_keys)

        # TTL trim drops bucket 0 while the subscriber stays attached,
        # then a fresh batch lands in a new bucket
        assert eventlog.trim_events(
            spark, log_dir, now_us=US_PER_HOUR + eventlog.DEFAULT_TTL_US
        ) == 1
        eventlog.ingest_batch(
            normalized, log_dir, wall_clock_us=3 * US_PER_HOUR + 1_000, batch_id=9
        )
        eventlog.mark_batch_done(log_dir, 9)
        q.processAllAvailable()
        assert q.exception() is None, f"hub tick died across the trim: {q.exception()}"
    finally:
        hub.stop()

    new_keys = [
        k
        for k in _keys(eventlog.replay(spark, log_dir).collect())
        if k[0] >= 3 * US_PER_HOUR
    ]
    assert new_keys
    got = [(r["time_us"], r["did"]) for r in delivered]
    assert sorted(got) == sorted(all_keys + new_keys), (
        "post-trim deliveries incomplete or duplicated"
    )
    times = [t for t, _ in got]
    assert times == sorted(times), "delivery order broke across the trim"


def test_subscription_restart_from_checkpoint_after_trim(spark, tmp_path, normalized):
    """A hub that stops, misses a TTL trim while down, and restarts from
    the SAME checkpoint (serve reuses `_hub_ckpt` across restarts): the
    checkpoint's last offset is a head whose older buckets no longer
    exist, and the restart must come up clean and deliver exactly the
    events appended since (seq guard) to the reattached subscriber, not
    crash on the vanished history. This is the reference's
    reconnect-after-downtime shape (server.go:240-356 with a cursor inside
    the retention window while older data expired)."""
    log_dir = _mk_hourly_log(spark, tmp_path, normalized)
    all_keys = _keys(eventlog.replay(spark, log_dir).collect())
    ckpt = str(tmp_path / "hubckpt")

    delivered: list = []
    sub = Subscription()  # live tail from seq 0
    hub = LiveTailHub(spark, log_dir, ckpt, batch_limit=7)
    hub.register(sub, delivered.extend)
    q = hub.start()
    try:
        q.processAllAvailable()
        assert q.exception() is None, q.exception()
    finally:
        hub.stop()
    assert len(delivered) == len(all_keys)

    # while down: retention passes, then fresh events land
    assert eventlog.trim_events(
        spark, log_dir, now_us=US_PER_HOUR + eventlog.DEFAULT_TTL_US
    ) == 1
    eventlog.ingest_batch(
        normalized, log_dir, wall_clock_us=3 * US_PER_HOUR + 1_000, batch_id=9
    )
    eventlog.mark_batch_done(log_dir, 9)

    resumed: list = []
    hub2 = LiveTailHub(spark, log_dir, ckpt, batch_limit=7)
    hub2.register(sub, resumed.extend)  # same sub: seq is its watermark
    q2 = hub2.start()
    try:
        q2.processAllAvailable()
        assert q2.exception() is None, f"restart died on trimmed history: {q2.exception()}"
        # and the restarted tail keeps delivering what lands after it
        eventlog.ingest_batch(
            normalized, log_dir, wall_clock_us=3 * US_PER_HOUR + 2_000, batch_id=10
        )
        eventlog.mark_batch_done(log_dir, 10)
        q2.processAllAvailable()
        assert q2.exception() is None, q2.exception()
    finally:
        hub2.stop()

    new_keys = [
        k
        for k in _keys(eventlog.replay(spark, log_dir).collect())
        if k[0] >= 3 * US_PER_HOUR
    ]
    assert new_keys
    got = [(r["time_us"], r["did"]) for r in resumed]
    assert sorted(got) == new_keys, "resumed delivery incomplete, duplicated, or resurrected"
    times = [t for t, _ in got]
    assert times == sorted(times)


def test_compact_bucket_tolerates_concurrent_trim(spark, tmp_path, normalized, monkeypatch):
    """Race 2, pinned deterministically: the trim wins the window between
    compact_bucket's staged rewrite and its rename-aside. Compaction must
    report a no-op (0), leave no `_compact_*` litter, and leave the
    surviving buckets readable."""
    # build the log with TWO batches inside hour 0 so bucket 0 is
    # genuinely fragmented (the micro-batch write coalesce means one
    # batch is one file now — fragmentation comes from batch COUNT)
    log_dir = str(tmp_path / "log")
    for b, wall in ((0, 1_000), (7, 2_000), (1, US_PER_HOUR + 1_000), (2, 2 * US_PER_HOUR + 1_000)):
        eventlog.ingest_batch(normalized, log_dir, wall_clock_us=wall, batch_id=b)
        eventlog.mark_batch_done(log_dir, b)
    part = os.path.join(log_dir, "hour_bucket=0")
    assert len(os.listdir(part)) > 1
    surviving = _keys(
        eventlog.replay(spark, log_dir).where(f"time_us >= {US_PER_HOUR}").collect()
    )

    real_rename = os.rename
    injected: list = []

    def racy_rename(src, dst):
        if src == part and not injected:  # the rename-aside step
            injected.append(
                eventlog.trim_events(
                    spark, log_dir, now_us=US_PER_HOUR + eventlog.DEFAULT_TTL_US
                )
            )
        return real_rename(src, dst)

    monkeypatch.setattr(eventlog.os, "rename", racy_rename)
    assert eventlog.compact_bucket(spark, log_dir, bucket=0) == 0
    monkeypatch.undo()

    assert injected == [1], "the race was never injected"
    leftovers = [e for e in os.listdir(log_dir) if e.startswith("_compact_")]
    assert not leftovers, leftovers
    assert eventlog.recover_compaction(log_dir) == 0
    assert _keys(eventlog.replay(spark, log_dir).collect()) == surviving


def test_compact_bucket_noop_when_partition_already_trimmed(spark, tmp_path, normalized):
    """Race 2, widest window: the bucket is gone before compaction even
    lists it — a plain no-op, and genuine failures on a PRESENT partition
    still propagate (the guard must not swallow real errors)."""
    log_dir = _mk_hourly_log(spark, tmp_path, normalized)
    shutil.rmtree(os.path.join(log_dir, "hour_bucket=0"))
    assert eventlog.compact_bucket(spark, log_dir, bucket=0) == 0


def test_trim_drops_expired_compaction_leftovers(spark, tmp_path, normalized):
    """Race 3: a mid-swap crash leaves `_compact_old_0` as bucket 0's only
    copy. Trim must count and drop it — otherwise recover_compaction
    renames the expired data back into the live log."""
    log_dir = _mk_hourly_log(spark, tmp_path, normalized)
    part = os.path.join(log_dir, "hour_bucket=0")
    os.rename(part, os.path.join(log_dir, "_compact_old_0"))  # crash between renames
    # an abandoned stage of the same expired bucket: removed, not counted
    os.makedirs(os.path.join(log_dir, "_compact_tmp_0"))

    dropped = eventlog.trim_events(
        spark, log_dir, now_us=US_PER_HOUR + eventlog.DEFAULT_TTL_US
    )
    assert dropped == 1  # the aside WAS the partition; the tmp stage is not
    assert not any(e.startswith("_compact_") for e in os.listdir(log_dir))
    assert eventlog.recover_compaction(log_dir) == 0, "expired data resurrected"
    got = _keys(eventlog.replay(spark, log_dir).collect())
    assert got and all(t >= US_PER_HOUR for t, _ in got)


def test_trim_counts_live_plus_aside_once_and_keeps_unexpired(spark, tmp_path, normalized):
    """Count integrity + conservatism: a live partition AND its expired
    aside (post-swap crash before cleanup) are ONE partition dropped, and
    an aside of an UNEXPIRED bucket is untouched — trim must never cut
    ahead of the TTL line, whatever shape compaction left behind."""
    log_dir = _mk_hourly_log(spark, tmp_path, normalized)
    part0 = os.path.join(log_dir, "hour_bucket=0")
    # expired bucket 0: live + aside copy (swap completed, cleanup crashed)
    shutil.copytree(part0, os.path.join(log_dir, "_compact_old_0"))
    # unexpired bucket 2: mid-swap crash shape — aside only
    os.rename(
        os.path.join(log_dir, "hour_bucket=2"), os.path.join(log_dir, "_compact_old_2")
    )

    dropped = eventlog.trim_events(
        spark, log_dir, now_us=US_PER_HOUR + eventlog.DEFAULT_TTL_US
    )
    assert dropped == 1, "live+aside double-counted or unexpired aside trimmed"
    assert not os.path.isdir(part0)
    assert os.path.isdir(os.path.join(log_dir, "_compact_old_2"))
    # recovery restores the unexpired bucket; the log is buckets 1..2
    assert eventlog.recover_compaction(log_dir) == 1
    got = _keys(eventlog.replay(spark, log_dir).collect())
    assert got and all(t >= US_PER_HOUR for t, _ in got)
    assert max(t for t, _ in got) >= 2 * US_PER_HOUR
def test_hub_delivery_survives_mid_slice_trim(spark, tmp_path, normalized):
    """Race 1 on the SHARED hub path: a TTL trim lands right after the
    first slice frame's file listing. The hub's slice loop must absorb the
    task-time FileNotFound via its rebuilt-frame retry and deliver exactly
    the surviving buckets to the catching-up subscriber — a crash here
    takes down every subscriber at once."""
    from jetstream_spark.serving import hub as hubmod

    log_dir = _mk_hourly_log(spark, tmp_path, normalized)
    all_keys = _keys(eventlog.replay(spark, log_dir).collect())
    surviving = [k for k in all_keys if k[0] >= US_PER_HOUR]

    real_replay = hubmod.replay
    trimmed: list = []

    def racy_replay(spark_, log_dir_, **kw):
        df = real_replay(spark_, log_dir_, **kw)
        if not trimmed:  # first slice frame only
            trimmed.append(
                eventlog.trim_events(
                    spark, log_dir, now_us=US_PER_HOUR + eventlog.DEFAULT_TTL_US
                )
            )
        return df

    delivered: list = []
    hub = hubmod.LiveTailHub(spark, log_dir, str(tmp_path / "hubckpt"), batch_limit=7)
    hubmod.replay = racy_replay
    try:
        hub.register(Subscription(), lambda rows: delivered.extend(rows))
    finally:
        hubmod.replay = real_replay

    assert trimmed == [1], "the race was never injected"
    got = [(r["time_us"], r["did"]) for r in delivered]
    assert sorted(got) == surviving, "hub lost surviving events or resurrected expired ones"
    times = [t for t, _ in got]
    assert times == sorted(times)


def test_edge_fetch_survives_mid_batch_trim(spark, tmp_path, normalized):
    """Race 1 on the websocket edge's replay path: _fetch_batch's frame
    (built by Subscription.replay_batch over atproto.log.replay) is listed
    pre-trim and collected post-trim. The retry must rebuild and return
    the surviving events instead of dropping the subscriber's connection."""
    from jetstream_spark.serving import edge as edgemod

    log_dir = _mk_hourly_log(spark, tmp_path, normalized)
    all_keys = _keys(eventlog.replay(spark, log_dir).collect())
    surviving = [k for k in all_keys if k[0] >= US_PER_HOUR]

    real_replay = eventlog.replay
    trimmed: list = []

    def racy_replay(spark_, log_dir_, **kw):
        df = real_replay(spark_, log_dir_, **kw)
        if not trimmed:
            trimmed.append(
                eventlog.trim_events(
                    spark, log_dir, now_us=US_PER_HOUR + eventlog.DEFAULT_TTL_US
                )
            )
        return df

    server = edgemod.SubscribeServer(spark, log_dir)
    eventlog.replay = racy_replay
    try:
        rows = server._fetch_batch(Subscription(cursor=0), limit=len(all_keys))
    finally:
        eventlog.replay = real_replay

    assert trimmed == [1], "the race was never injected"
    got = sorted((r["time_us"], r["did"]) for r in rows)
    assert got == surviving, "edge fetch lost surviving events or resurrected expired ones"


def test_consumer_drains_under_trim_and_compaction_churn(spark, tmp_path, normalized):
    """The combined maintenance soak: a cursor-paced replay consumer
    drains a 5-bucket log while ONE maintenance thread alternates real
    compaction (compact_bucket on surviving buckets) with an ADVANCING
    TTL trim (buckets expire one per cycle, youngest-first order never
    violated) plus recover_compaction sweeps. Nondeterministic by design —
    the consumer may or may not reach a bucket before it expires — so the
    assertions are the invariants that hold under EVERY interleaving:

      * neither thread crashes;
      * delivered events are duplicate-free and time-ordered;
      * conservation: every event is either delivered or belonged to a
        bucket the trim expired — maintenance can never lose an
        UNEXPIRED event, whatever the interleaving.
    """
    import threading
    import time as _time

    n_hours = 5
    log_dir = _mk_hourly_log(spark, tmp_path, normalized, n_hours=n_hours)
    all_keys = _keys(eventlog.replay(spark, log_dir).collect())
    by_bucket = {
        b: {k for k in all_keys if k[0] // US_PER_HOUR == b} for b in range(n_hours)
    }

    stop = threading.Event()
    maint_error: list = []
    trimmed_buckets: set = set()

    def maintenance():
        try:
            expire_next = 0
            while not stop.is_set() and expire_next < 3:  # buckets 0-2 expire
                for b in range(expire_next + 1, n_hours):
                    if os.path.isdir(os.path.join(log_dir, f"hour_bucket={b}")):
                        assert eventlog.compact_bucket(spark, log_dir, bucket=b) >= 0
                        break
                if eventlog.trim_events(
                    spark,
                    log_dir,
                    now_us=(expire_next + 1) * US_PER_HOUR + eventlog.DEFAULT_TTL_US,
                ):
                    trimmed_buckets.add(expire_next)
                    expire_next += 1
                eventlog.recover_compaction(log_dir)
                _time.sleep(0.8)
        except Exception as e:
            maint_error.append(e)

    delivered: list = []
    t = threading.Thread(target=maintenance, daemon=True)
    t.start()
    try:
        _time.sleep(0.2)
        drain_via_edge(spark, log_dir, Subscription(cursor=0), 7, delivered.extend)
    finally:
        stop.set()
        t.join(timeout=120)
    assert not maint_error, maint_error

    got = [(r["time_us"], r["did"]) for r in delivered]
    assert len(set(got)) == len(got), "duplicate delivery under maintenance churn"
    times = [t_ for t_, _ in got]
    assert times == sorted(times), "delivery order broke under maintenance churn"
    missed = set(all_keys) - set(got)
    expendable = set().union(*(by_bucket[b] for b in trimmed_buckets)) if trimmed_buckets else set()
    assert missed <= expendable, (
        f"maintenance lost {len(missed - expendable)} UNEXPIRED events "
        f"(trimmed buckets: {sorted(trimmed_buckets)})"
    )
    # the schedule guarantees at least the last two buckets never expire
    for b in (n_hours - 2, n_hours - 1):
        assert by_bucket[b] <= set(got), f"never-trimmed bucket {b} not fully delivered"


# --- property: trim over arbitrary maintenance layouts -------------------------


from hypothesis import given, settings
from hypothesis import strategies as st

_layout = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # bucket
        st.sampled_from(["live", "old", "tmp"]),  # entry kind
    ),
    min_size=0,
    max_size=12,
    unique=True,
)


@given(layout=_layout, cutoff=st.integers(min_value=0, max_value=6))
@settings(max_examples=60, deadline=None)
def test_trim_invariants_over_any_layout(layout, cutoff):
    """For EVERY mix of live partitions and compaction leftovers:
    trim removes exactly the expired entries (of all three kinds), never
    touches an unexpired one, and its count equals the number of expired
    PARTITIONS — a live dir, or an orphan aside standing in for one —
    regardless of duplicates or orphan stages. trim_events takes the
    session for interface symmetry but is filesystem-only, so this runs
    Spark-free."""
    import tempfile

    with tempfile.TemporaryDirectory() as log_dir:
        names = {
            "live": "hour_bucket={b}",
            "old": "_compact_old_{b}",
            "tmp": "_compact_tmp_{b}",
        }
        for b, kind in layout:
            os.makedirs(os.path.join(log_dir, names[kind].format(b=b)))
        live = {b for b, k in layout if k == "live"}
        asides = {b for b, k in layout if k == "old"}
        expired_partitions = {b for b in (live | asides) if b < cutoff}
        # an aside shadowed by its live dir is a copy, not a partition,
        # but either way each expired bucket with data counts exactly once

        dropped = eventlog.trim_events(
            None, log_dir, now_us=cutoff * US_PER_HOUR + eventlog.DEFAULT_TTL_US
        )

        assert dropped == len(expired_partitions)
        left = set(os.listdir(log_dir))
        for b, kind in layout:
            entry = names[kind].format(b=b)
            if b < cutoff:
                assert entry not in left, f"expired {entry} survived"
            else:
                assert entry in left, f"unexpired {entry} trimmed"
