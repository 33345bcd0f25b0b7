"""The enforced single-maintenance-owner contract.

Trim and compaction are safe against readers and the ingest writer but
not against a SECOND maintenance actor over the same log (a one-shot
`trim` CLI can sweep a standing ticker's _compact_tmp_ stage mid-swap).
The reference cannot hit this — its store is embedded and single-process
(cmd/jetstream/main.go:188-205 runs trim inside the consumer). Here every
maintenance actor holds an exclusive flock on `<log_dir>/_maintenance.lock`
for its whole life; the kernel drops it when the holder dies.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading

import pytest

from jetstream_spark.atproto import log as eventlog
from jetstream_spark.atproto.maintenance import LOCK_FILE, MaintenanceLock, MaintenanceLoop
from jetstream_spark.atproto.normalize import normalize_frames
from jetstream_spark.atproto.schema import RAW_FRAME_SCHEMA
from tests.fixtures import make_frames

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _quiet_loop(spark, log_dir) -> MaintenanceLoop:
    # huge interval + no compaction: the thread locks, ticks once over an
    # empty/static log, then sleeps — the test drives everything else
    return MaintenanceLoop(spark, log_dir, interval_s=3600, compact=False)


def _is_free(log_dir: str) -> bool:
    try:
        MaintenanceLock(log_dir).release()
    except RuntimeError:
        return False
    return True


def test_second_loop_refused_until_first_releases(spark, tmp_path):
    log_dir = str(tmp_path / "log")
    first = _quiet_loop(spark, log_dir).start()
    try:
        with pytest.raises(RuntimeError, match=f"held by another maintenance actor \\(pid {os.getpid()}\\)"):
            _quiet_loop(spark, log_dir).start()
    finally:
        assert first.stop() == "stopped"
    # clean stop releases the lock: the log is lockable again
    assert _is_free(log_dir)
    second = _quiet_loop(spark, log_dir).start()
    assert not _is_free(log_dir)
    assert second.stop() == "stopped"


def test_hung_loop_keeps_the_lease(spark, tmp_path, monkeypatch):
    """A wedged tick may still be mid-trim/compact: stop() reporting
    "hung" must NOT release the lock — a second actor stays refused until
    the tick returns and a later stop() completes."""
    log_dir = str(tmp_path / "log")
    loop = _quiet_loop(spark, log_dir)
    entered, release = threading.Event(), threading.Event()
    orig_tick = loop.tick

    def wedged_tick():
        orig_tick()
        entered.set()
        release.wait(30)

    monkeypatch.setattr(loop, "tick", wedged_tick)
    loop.start()
    try:
        assert entered.wait(10)
        assert loop.stop(join_timeout_s=0.5) == "hung"
        with pytest.raises(RuntimeError, match="held by another maintenance actor"):
            MaintenanceLock(log_dir)
    finally:
        release.set()
        assert loop.stop(join_timeout_s=30) == "stopped"
    assert _is_free(log_dir)


def test_oneshot_cli_refuses_under_fresh_owner(tmp_path, capsys, monkeypatch):
    """The one-shot trim/compact commands refuse while a standing loop
    holds the lock, and bail before any Spark session starts."""
    from jetstream_spark import __main__ as cli

    def no_spark(cpus):
        raise AssertionError("a refused one-shot must not start Spark")

    monkeypatch.setattr(cli, "_spark", no_spark)
    log_dir = str(tmp_path / "log")
    with MaintenanceLock(log_dir):
        assert cli.main(["trim", "--data-dir", log_dir]) == 1
        assert cli.main(["compact", "--data-dir", log_dir]) == 1
    out = capsys.readouterr().out
    assert out.count("refusing: ") == 2 and f"pid {os.getpid()}" in out
    assert _is_free(log_dir), "a refused one-shot must not leave the lock held"


def test_oneshot_holds_lease_for_duration(tmp_path, monkeypatch, capsys):
    """The one-shot holds the lock for its whole run — a standing loop
    starting mid-run must fail fast instead of ticking concurrently — and
    releases it when done."""
    from jetstream_spark import __main__ as cli

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)
    seen: dict = {}

    def observing_trim(spark, data_dir, now_us, ttl_us):
        seen["rival_refused"] = not _is_free(data_dir)
        return 0

    monkeypatch.setattr(cli, "_spark", lambda cpus: None)
    monkeypatch.setattr(eventlog, "trim_events", observing_trim)
    assert cli.main(["trim", "--data-dir", log_dir]) == 0
    assert seen["rival_refused"], "a standing loop starting mid-run must be refused"
    assert _is_free(log_dir), "one-shot must release the lock when done"


def test_claim_is_atomic_under_racing_claimants(tmp_path):
    """Actors starting in the same window must not both win: of 8 threads
    racing to take the lock, exactly one succeeds and the rest refuse."""
    log_dir = str(tmp_path / "log")
    n = 8
    barrier = threading.Barrier(n)
    locks: list = [None] * n

    def racer(i: int) -> None:
        barrier.wait()
        try:
            locks[i] = MaintenanceLock(log_dir)
        except RuntimeError:
            pass

    threads = [threading.Thread(target=racer, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    winners = [lock for lock in locks if lock is not None]
    assert len(winners) == 1, f"exactly one racing actor may win, got {len(winners)}"
    assert os.listdir(log_dir) == [LOCK_FILE]
    winners[0].release()
    assert _is_free(log_dir)


def test_kill9_owner_adopted_live_owner_fences(spark, tmp_path):
    """While a separate PROCESS holds the lock, a local loop must refuse
    to start; after kill -9 the kernel has dropped the lock and the
    restart adopts the log at once."""
    log_dir = str(tmp_path / "log")
    script = (
        "import time\n"
        "from jetstream_spark.atproto.maintenance import MaintenanceLock\n"
        f"lock = MaintenanceLock({log_dir!r})\n"
        "print('locked', flush=True)\n"
        "time.sleep(300)\n"
    )
    child = subprocess.Popen(
        [sys.executable, "-c", script], stdout=subprocess.PIPE, text=True, cwd=REPO
    )
    try:
        assert child.stdout.readline().strip() == "locked"
        with pytest.raises(RuntimeError, match=f"\\(pid {child.pid}\\)"):
            _quiet_loop(spark, log_dir).start()
        child.kill()  # SIGKILL: no release step runs
        child.wait(timeout=10)
        loop = _quiet_loop(spark, log_dir).start()
        try:
            with open(os.path.join(log_dir, LOCK_FILE)) as f:
                assert f.read() == str(os.getpid())
        finally:
            assert loop.stop() == "stopped"
    finally:
        if child.poll() is None:
            child.kill()
            child.wait(timeout=10)
        child.stdout.close()


def test_start_recovers_crashed_compaction(spark, tmp_path):
    """A crash between compact_bucket's two renames leaves the bucket only
    at `_compact_old_N`, and an abandoned `_compact_tmp_M` stage keeps a
    full copy on disk. The standing loop resolves both when it starts,
    under the lock, instead of leaving them until the TTL trim."""
    import shutil

    log_dir = str(tmp_path / "log")
    normalized = normalize_frames(
        spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    )
    eventlog.ingest_batch(
        normalized, log_dir, wall_clock_us=26 * eventlog.US_PER_HOUR + 1, batch_id=0
    )
    eventlog.mark_batch_done(log_dir, 0)
    n = eventlog.replay(spark, log_dir, cursor=0).count()
    part = os.path.join(log_dir, "hour_bucket=26")
    shutil.copytree(part, os.path.join(log_dir, "_compact_tmp_27"))
    os.rename(part, os.path.join(log_dir, "_compact_old_26"))

    now_us = 30 * eventlog.US_PER_HOUR  # nothing expired, bucket 26 sealed
    loop = MaintenanceLoop(spark, log_dir, interval_s=3600, now_fn=lambda: now_us).start()
    try:
        assert loop.wait_for_tick(60)
    finally:
        assert loop.stop() == "stopped"
    entries = os.listdir(log_dir)
    assert "hour_bucket=26" in entries, "the aside copy is the data: it must be renamed back"
    assert not [e for e in entries if e.startswith("_compact_")], entries
    assert loop.counters["errors"] == 0
    assert eventlog.replay(spark, log_dir, cursor=0).count() == n


def test_trim_partial_failure_credits_dropped(spark, tmp_path, monkeypatch):
    """Partitions removed in a partially-failed trim pass must still be
    counted — the tick credits TrimPartialFailure.dropped before the
    error surfaces."""
    log_dir = str(tmp_path / "log")
    for b in (1, 2, 3):
        os.makedirs(os.path.join(log_dir, f"hour_bucket={b}"))
    victim = os.path.join(log_dir, "hour_bucket=2")
    orig_rmtree = eventlog.shutil.rmtree

    def sticky_rmtree(path, ignore_errors=False):
        if os.path.abspath(path) == os.path.abspath(victim):
            return  # simulates EBUSY/open-handle: nothing removed
        return orig_rmtree(path, ignore_errors=ignore_errors)

    monkeypatch.setattr(eventlog.shutil, "rmtree", sticky_rmtree)
    now_us = 10_000 * 3_600_000_000  # far future: buckets 1-3 all expired
    with pytest.raises(eventlog.TrimPartialFailure) as exc:
        eventlog.trim_events(spark, log_dir, now_us=now_us)
    assert exc.value.dropped == 2
    assert exc.value.failed == ["hour_bucket=2"]

    # the loop credits the partial progress and still surfaces the error
    for b in (1, 3):  # recreate what the direct call dropped
        os.makedirs(os.path.join(log_dir, f"hour_bucket={b}"))
    loop = MaintenanceLoop(
        spark, log_dir, compact=False, interval_s=3600, now_fn=lambda: now_us
    )
    with pytest.raises(eventlog.TrimPartialFailure):
        loop.tick()
    assert loop.counters["partitions_trimmed"] == 2, (
        "the two removals that DID land must be credited despite the error"
    )
    assert loop.counters["ticks"] == 0
    assert _is_free(log_dir), "an unstarted loop's tick releases the lock it took"


def test_render_escapes_label_values(tmp_path):
    """A log_dir containing a quote/backslash/newline must render as
    VALID Prometheus text exposition (escaped label value), not take the
    whole /metrics page down."""
    import re

    from jetstream_spark.operators.observability import prom_label

    assert prom_label('a"b') == 'a\\"b'
    assert prom_label("a\\b") == "a\\\\b"
    assert prom_label("a\nb") == "a\\nb"
    weird = str(tmp_path / 'we"ird\\dir')
    loop = MaintenanceLoop(None, weird, compact=False)
    text = loop.render()
    label_value = re.compile(r'^[a-zA-Z_:][a-zA-Z0-9_:]*\{log_dir="(?:[^"\\\n]|\\["\\n])*"\} \d+$')
    for line in text.splitlines():
        if line.startswith("#"):
            continue
        assert label_value.match(line), f"invalid exposition line: {line}"


def test_marker_invisible_to_log_readers(spark, tmp_path):
    """The `_`-prefixed lock file must never surface as data: replay over
    a log whose lock is held reads exactly the ingested events (the same
    hidden-file contract the _compact_* stages rely on)."""
    log_dir = str(tmp_path / "log")
    normalized = normalize_frames(
        spark.createDataFrame(make_frames(), schema=RAW_FRAME_SCHEMA)
    )
    n = normalized.count()
    eventlog.ingest_batch(normalized, log_dir, wall_clock_us=1_000_000, batch_id=0)
    with MaintenanceLock(log_dir):
        assert eventlog.replay(spark, log_dir, cursor=0).count() == n


def test_oneshot_trim_reports_partial_failure(tmp_path, monkeypatch, capsys):
    """A partially-failed one-shot trim must print the partitions that
    DID drop and the entries that failed, exit nonzero cleanly (no
    traceback), and release the lock."""
    from jetstream_spark import __main__ as cli

    log_dir = str(tmp_path / "log")
    os.makedirs(log_dir)

    def partial_trim(spark, data_dir, now_us, ttl_us):
        raise eventlog.TrimPartialFailure(failed=["hour_bucket=2"], dropped=2)

    monkeypatch.setattr(cli, "_spark", lambda cpus: None)
    monkeypatch.setattr(eventlog, "trim_events", partial_trim)
    assert cli.main(["trim", "--data-dir", log_dir]) == 1
    out = capsys.readouterr().out
    assert "dropped 2" in out and "hour_bucket=2" in out
    assert _is_free(log_dir), "lock must be released after a partial failure"
