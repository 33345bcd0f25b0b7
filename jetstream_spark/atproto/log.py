"""S11/S13/S14 — the persisted event log.

Reference: PebbleDB KV, key `{time_us}_{did}_{collection}` (persist.go:101-108),
24 h TTL via range-delete (persist.go:120-137), replay via key-ordered
iterator from the cursor (persist.go:143-204).

Spark layout: hour-bucketed Parquet, sorted by time_us within files.

  key leads with time_us     → partition column hour_bucket = time_us/3600e6
                               (partition pruning ≈ iterator LowerBound, P2)
  key carries did/collection → top-level columns (predicate pushdown +
                               column pruning ≈ key-only filtering, P1 —
                               the value columns are never materialized for
                               filtered-out rows)
  range-delete TTL           → partition-directory drop (P9)

At 100 TB this layout is the whole ballgame: a replay from cursor touches
only the hour directories ≥ cursor's hour, reads only the envelope columns
the filters need, and streams in file order. Writing sorted-by-time_us
within partitions keeps parquet row-group min/max stats tight, so even
intra-hour seeks skip row groups.

The append runs on the driver, as the reference's one consumer stamps
each event and writes it straight into Pebble (persist.go:90-117):
`ingest_batch` takes the batch the sequencer collected once as Arrow and
sequenced in time_us order, and writes one pyarrow file per hour bucket,
with no second read of the input, no Spark write job and no Hadoop
commit protocol. Compaction and the replay scans stay in Spark.

The serving read (LogWindow) uses the same layout without Spark: the live
hub's slice (lo, hi] lists the hour dirs it spans, keeps only the files
whose footer time_us min/max meets it (footer stats cached per file
version), and reads those with pyarrow on the driver — for a live round
that is the one batch file just committed, wherever the hour's file count
stands. Anything it cannot read as a stable snapshot goes back to
`replay`.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from jetstream_spark.atproto.schema import EVENT_SCHEMA
from jetstream_spark.atproto.sequencer import SequencerState, sequence_events

US_PER_HOUR = 3_600_000_000
DEFAULT_TTL_US = 24 * US_PER_HOUR  # --event-ttl default (main.go:73-78)
_DID_ISIN_MAX = 1000  # above this, DID filtering becomes a broadcast semi join

BATCH_STATE_FILE = "_ingest_batches.json"


def load_done_batches(log_dir: str) -> set[int]:
    """Batch ids whose commit AND done-marker both landed (pipeline.py)."""
    path = os.path.join(log_dir, BATCH_STATE_FILE)
    if os.path.exists(path):
        with open(path) as f:
            return set(json.load(f))
    return set()


def mark_batch_done(log_dir: str, batch_id: int) -> None:
    done = load_done_batches(log_dir)
    done.add(batch_id)
    path = os.path.join(log_dir, BATCH_STATE_FILE)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(sorted(done), f)
    os.replace(tmp, path)


def _remove_batch_files(log_dir: str, batch_id: int) -> None:
    """Delete every log file a prior (possibly partial) commit of this batch
    produced — file names carry the batch id, so the batch's footprint is
    exactly enumerable."""
    prefix = f"b{batch_id}-"
    if not os.path.isdir(log_dir):
        return
    for entry in os.listdir(log_dir):
        if not entry.startswith("hour_bucket="):
            continue
        part_dir = os.path.join(log_dir, entry)
        for fn in os.listdir(part_dir):
            if fn.startswith(prefix):
                os.remove(os.path.join(part_dir, fn))


def _hour_slices(table: pa.Table):
    """(hour_bucket, rows) per hour the time-sorted batch spans. The batch's
    time_us is dense, so it spans one bucket, or two across an hour edge."""
    t = table["time_us"].to_numpy()
    for bucket in range(int(t[0]) // US_PER_HOUR, int(t[-1]) // US_PER_HOUR + 1):
        lo, hi = np.searchsorted(t, [bucket * US_PER_HOUR, (bucket + 1) * US_PER_HOUR])
        if hi > lo:
            yield bucket, table.slice(lo, hi - lo)


def _commit_batch(table: pa.Table, log_dir: str, batch_id: int | None) -> None:
    """Append one sequenced batch (sequencer.py::sequence_events: Arrow,
    in time_us order) to the hour-partitioned log (S11) from the driver:
    one pyarrow file per hour bucket, so each file's footer min/max is the
    batch's range there. Files hold no hour_bucket column; the directory
    name carries it, as in a Spark partitionBy layout, so Spark readers and
    LogWindow read them alike. The driver holds at most one batch, which
    the source's batch_size bounds.

    The files are staged under `_staging/batch-N`, then any files a
    previous attempt of the SAME batch left in the log are deleted, then
    the staged files move in as `b{N}-0.parquet`. Re-running any prefix of
    this sequence converges to the same final state — the parquet analogue
    of the reference's overwrite-idempotent Pebble keys (persist.go:101-108,
    P8). Readers skip `_`-prefixed entries, so the staging area is
    invisible to them. With `batch_id` None (one-shot and test appends) the
    files get untagged `part-<uuid>-0.parquet` names and nothing is deleted."""
    tag = f"part-{uuid.uuid4().hex}" if batch_id is None else f"b{batch_id}"
    staging = os.path.join(log_dir, "_staging", tag if batch_id is None else f"batch-{batch_id}")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    staged = []
    for bucket, rows in _hour_slices(table):
        path = os.path.join(staging, f"hour_bucket={bucket}.parquet")
        # no Arrow schema blob (~1.4 KB a footer): the parquet schema
        # alone reads back the same types
        pq.write_table(rows, path, store_schema=False)
        staged.append((bucket, path))
    if batch_id is not None:
        _remove_batch_files(log_dir, batch_id)
    for bucket, path in staged:
        dst_dir = os.path.join(log_dir, f"hour_bucket={bucket}")
        os.makedirs(dst_dir, exist_ok=True)
        os.replace(path, os.path.join(dst_dir, f"{tag}-0.parquet"))
    shutil.rmtree(staging, ignore_errors=True)


def ingest_batch(
    frames_normalized: DataFrame,
    log_dir: str,
    wall_clock_us: int | None = None,
    batch_id: int | None = None,
    *,
    on_sequenced: Callable[[pa.Table, int], None] | None = None,
) -> int:
    """Sequence a normalized batch and append it to the log, persisting
    sequencer state (the batch path of the standing pipeline §3.1).
    Returns the new last_time_us; an empty batch returns the unchanged
    one, with no file and no state save. `on_sequenced(table, last)`, if
    given, gets the batch as the sequencer collected it once the batch is
    durable (after the state save; at once for an empty batch), so a
    caller can count it without another Spark job.

    One Spark job: the sequencer's Arrow collect; the clock, the sort and
    the files run on the driver (sequence_events, _commit_batch).

    With batch_id set, the append is idempotent under crash-replay: a
    re-run first removes the batch's own files (delete-before-rewrite), so
    every crash point — after staging, after the move, after the state
    save — converges to exactly one copy of the batch with strictly
    monotonic time_us (a replay after the state save re-assigns from
    last+1; the old copy is deleted first). Without batch_id the write is a
    plain append (one-shot/test usage)."""
    state = SequencerState.load(log_dir)
    sequenced, last, _ = sequence_events(frames_normalized, state.last_time_us, wall_clock_us=wall_clock_us)
    if sequenced.num_rows:
        _commit_batch(sequenced, log_dir, batch_id)
        state.last_time_us = last
        state.save(log_dir)
    if on_sequenced is not None:
        on_sequenced(sequenced, last)
    return last


def read_log(spark: SparkSession, log_dir: str) -> DataFrame:
    """The full log as a frame — compaction-swap tolerant (VERDICT r7 #6).

    compact_bucket's swap is two renames: `hour_bucket=N` → `_compact_old_N`
    (old copy complete), then `_compact_tmp_N` → `hour_bucket=N`. In the
    instant between them the live partition directory does not exist; a
    plain `spark.read.parquet(log_dir)` planned in that window would
    silently return a log WITHOUT bucket N — and a cursor-paced replay
    consumer (the edge's replay rounds) that delivered bucket N+1 rows
    from such a snapshot would advance its watermark past bucket N
    forever. Pebble gets this for free (iterators are snapshot-isolated
    across DeleteRange, persist.go:120-137); here the swap protocol's own
    invariant — at every instant a COMPLETE copy of the bucket exists at
    the live path or at `_compact_old_N` — is what readers lean on: a
    bucket whose live dir is absent is read from its aside copy (with the
    partition value re-injected, since aside files carry no hour_bucket
    path component). `_compact_tmp_*` is never read (may be half-written).

    The remaining race — the aside copy being rmtree'd between this
    listing and task execution — surfaces as a task error, not silent
    loss; cursor-keyed consumers re-plan and retry (replay_rows)."""
    parts, asides = [], []
    for entry in sorted(os.listdir(log_dir)):
        if entry.startswith("hour_bucket="):
            parts.append(os.path.join(log_dir, entry))
        elif entry.startswith("_compact_old_"):
            bucket = entry[len("_compact_old_"):]
            if not os.path.isdir(os.path.join(log_dir, f"hour_bucket={bucket}")):
                asides.append((int(bucket), os.path.join(log_dir, entry)))
    if not parts and not asides:
        return spark.read.parquet(log_dir)  # empty/virgin log: native error path
    df = (
        spark.read.option("basePath", log_dir).parquet(*parts) if parts else None
    )
    for bucket, aside in asides:
        recovered = spark.read.parquet(aside).withColumn(
            "hour_bucket", F.lit(bucket).cast("long")
        )
        df = recovered if df is None else df.unionByName(recovered)
    return df


_WINDOW_COLUMNS = EVENT_SCHEMA.fieldNames()
_EMPTY_WINDOW = to_arrow_schema(EVENT_SCHEMA).empty_table()


def _file_key(st: os.stat_result) -> tuple[int, int, int]:
    """Identity of one version of a log file: a crash-replay rewrite or a
    compaction replaces the inode, an in-place change moves mtime/size."""
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _footer(path: str) -> tuple[tuple[int, int, int], int, float, float]:
    """(key, rows, min time_us, max time_us) from one file's footer. A
    file whose time_us has no stats spans everything, so it is always a
    candidate."""
    with open(path, "rb") as f:
        key = _file_key(os.fstat(f.fileno()))
        md = pq.ParquetFile(f).metadata
    t_min, t_max = float("inf"), float("-inf")
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        if rg.num_rows == 0:
            continue
        col = next(rg.column(j) for j in range(rg.num_columns) if rg.column(j).path_in_schema == "time_us")
        stats = col.statistics
        if stats is None or not stats.has_min_max:
            return key, md.num_rows, float("-inf"), float("inf")
        t_min, t_max = min(t_min, stats.min), max(t_max, stats.max)
    return key, md.num_rows, t_min, t_max


def _read_file(path: str, key: tuple[int, int, int]) -> pa.Table | None:
    """One listed file, read through a handle whose stat still matches the
    listing; None when it vanished or was replaced since."""
    try:
        with open(path, "rb") as f:
            if _file_key(os.fstat(f.fileno())) != key:
                return None
            return pq.ParquetFile(f).read(columns=_WINDOW_COLUMNS).select(_WINDOW_COLUMNS)
    except FileNotFoundError:
        return None


class LogWindow:
    """The hub's serving read: the rows lo < time_us <= hi of one log in
    time order, read on the driver with pyarrow.

    It lists the `hour_bucket=` dirs the window spans and reads only the
    files whose footer time_us range meets the window. Footer stats are
    cached per file version and pruned to the files each read lists, so a
    live round that follows a commit opens the one new batch file.

    `read` returns None, and the caller falls back to `replay`, whenever
    the layout is in motion or the read would be large: a compaction
    entry (`_compact_old_`/`_compact_tmp_`) for a bucket in range, a
    listed file that vanished or was replaced before its read (a swap, a
    TTL trim, a crash-replay rewrite), or candidate files holding more
    than `limit` rows. A served window therefore holds at most `limit`
    rows, all of (lo, hi]."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        self._footers: dict[str, tuple] = {}

    def read(self, lo: int, hi: int, limit: int) -> pa.Table | None:
        first, last = (lo + 1) // US_PER_HOUR, hi // US_PER_HOUR
        parts, footers, picked, rows = [], {}, [], 0
        try:
            for entry in os.listdir(self.log_dir):
                if entry.startswith(("_compact_old_", "_compact_tmp_")):
                    bucket = entry.rsplit("_", 1)[1]
                    if bucket.lstrip("-").isdigit() and first <= int(bucket) <= last:
                        return None
                elif entry.startswith("hour_bucket="):
                    if first <= int(entry[len("hour_bucket="):]) <= last:
                        parts.append(os.path.join(self.log_dir, entry))
            for part in parts:
                for e in os.scandir(part):
                    # the files Spark's reader would list
                    if e.name.startswith(("_", ".")) or not e.name.endswith(".parquet"):
                        continue
                    known = self._footers.get(e.path)
                    if known is None or known[0] != _file_key(e.stat()):
                        known = _footer(e.path)
                    footers[e.path] = known
                    key, n, t_min, t_max = known
                    if n and t_min <= hi and t_max > lo:
                        picked.append((e.path, key))
                        rows += n
        except FileNotFoundError:
            return None
        self._footers = footers
        if rows > limit:
            return None
        tables = []
        for path, key in picked:
            table = _read_file(path, key)
            if table is None:
                return None
            tables.append(table)
        if not tables:
            return _EMPTY_WINDOW
        window = pa.concat_tables(tables, promote_options="default")
        t = window["time_us"]
        return window.filter(pc.and_(pc.greater(t, lo), pc.less_equal(t, hi))).sort_by("time_us")


def _is_swap_retryable(msg: str) -> bool:
    """Only the mid-swap shapes are retryable: a task-time
    FileNotFoundException or Spark's explicit stale-listing marker. A
    broad "does not exist" match also caught genuine planning errors
    (e.g. a virgin/missing log dir surfaces as PATH_NOT_FOUND), delaying
    the real failure by 8 attempts and ~6 s of backoff (ADVICE r8).

    Spark's structured error-class markers (FAILED_READ_FILE.FILE_NOT_EXIST)
    are matched alongside the Java exception name (ADVICE r9): a Spark
    version bump can surface the same task failure with the error class
    but without the Java class name in str(e), and a silently-narrowed
    match would crash live consumers on a transient compaction race."""
    return any(
        marker in msg
        for marker in (
            "FileNotFoundException",
            "underlying files have been updated",
            "FILE_NOT_EXIST",
            "FAILED_READ_FILE",
        )
    )


def _is_vanished_subpath(msg: str, log_dir: str) -> bool:
    """Planning-time maintenance race: PATH_NOT_FOUND naming a path INSIDE
    the log dir means a partition vanished between read_log's directory
    listing and Spark's path resolution (a TTL trim landing in that
    window — task-time vanishing surfaces as _is_swap_retryable shapes
    instead). Retryable: the rebuild lists fresh. PATH_NOT_FOUND for the
    log dir itself (virgin/missing log) stays fatal — retrying would
    delay the real error by the whole backoff budget (ADVICE r8)."""
    if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
        return False
    return (os.path.abspath(log_dir).rstrip(os.sep) + os.sep) in msg


def replay_rows(
    spark: SparkSession,
    log_dir: str,
    build: Callable[[], DataFrame],
    attempts: int = 8,
) -> list:
    """Collect one replay chunk with compaction-swap retry: a swap that
    lands between a chunk's file listing and its task execution surfaces
    as a missing-file task error (never silent loss — see read_log). The
    chunk is re-planned from a fresh listing and retried; compaction
    preserves content, and consumers advance their cursor only after a
    successful chunk, so the retry is exactly-once by construction.

    The retry must refreshByPath first: the session-shared FileStatusCache
    keeps serving the pre-swap file names ("It is possible the underlying
    files have been updated"), so a bare re-plan would fail forever."""
    last: Exception | None = None
    for attempt in range(attempts):
        try:
            return build().collect()
        except Exception as e:  # Py4J wraps the JVM FileNotFound
            # retryable shapes: task-time (_is_swap_retryable) and
            # planning-time (_is_vanished_subpath). A missing log_dir is
            # never a maintenance window — compaction swaps files INSIDE
            # an existing dir and trim drops subdirectories of it.
            msg = str(e)
            retryable = _is_swap_retryable(msg) or _is_vanished_subpath(msg, log_dir)
            if not retryable or not os.path.isdir(log_dir):
                raise
            last = e
            spark.catalog.refreshByPath(log_dir)
            # exponential backoff (capped): under a compaction WAVE (many
            # buckets swapping back-to-back) a linear 50 ms step can lose
            # every race on a loaded host — measured as a retry-exhaustion
            # flake with an aggressive 0.5 s swap cadence under full-suite
            # CPU contention
            time.sleep(min(1.0, 0.05 * (2**attempt)))
    raise last  # persistent: not a swap window


def replay(
    spark: SparkSession,
    log_dir: str,
    cursor: int | None = None,
    wanted_collections: list[str] | None = None,
    wanted_dids: list[str] | None = None,
) -> DataFrame:
    """S14 replay scan + S17 subscription filters, cursor-inclusive
    (persist.go:153), time-ordered delivery.

    The hour_bucket >= cursor/3600e6 predicate prunes partitions before
    any file is opened; time_us >= cursor pushes into row-group stats.
    """
    df = read_log(spark, log_dir)
    if cursor is not None:
        df = df.where(
            (F.col("hour_bucket") >= cursor // US_PER_HOUR) & (F.col("time_us") >= cursor)
        )
    df = apply_subscription_filters(df, wanted_collections, wanted_dids)
    return df.drop("hour_bucket").orderBy("time_us")


def apply_subscription_filters(
    df: DataFrame,
    wanted_collections: list[str] | None = None,
    wanted_dids: list[str] | None = None,
) -> DataFrame:
    """S17 semantics (server.go:118-129): collection filter applies only to
    events that HAVE a collection — account/identity events pass regardless
    (README: 'all subscribers receive Account and Identity events');
    empty filter set = match-all.

    Large DID sets (subscriptions allow up to 10k) switch from an isin
    literal list — which bloats the plan and codegen — to a broadcast
    LEFT SEMI join against a tiny DID table: same result, scan-friendly."""
    if wanted_collections:
        df = df.where(
            F.col("commit").isNull() | F.col("commit.collection").isin(*wanted_collections)
        )
    if wanted_dids:
        if len(wanted_dids) <= _DID_ISIN_MAX:
            df = df.where(F.col("did").isin(*wanted_dids))
        else:
            dids = df.sparkSession.createDataFrame([(d,) for d in set(wanted_dids)], "did string")
            df = df.join(F.broadcast(dids), "did", "left_semi")
    return df


def recover_compaction(log_dir: str) -> int:
    """Crash recovery for compact_bucket's rename-swap: each step is one
    atomic directory rename, so the only possible leftovers are
      - `_compact_tmp_{b}`: staged rewrite never swapped in → drop it (the
        live partition is intact);
      - `_compact_old_{b}` WITH the live partition present: swap completed,
        crash before cleanup → drop the old copy;
      - `_compact_old_{b}` WITHOUT the live partition: crashed BETWEEN the
        two renames — the old copy IS the data; rename it back.
    Idempotent; returns the number of leftovers resolved. Run under the
    maintenance lock before compacting (MaintenanceLoop.start and
    cmd_compact do)."""
    resolved = 0
    if not os.path.isdir(log_dir):
        return 0
    for entry in list(os.listdir(log_dir)):
        if entry.startswith("_compact_tmp_"):
            shutil.rmtree(os.path.join(log_dir, entry), ignore_errors=True)
            resolved += 1
        elif entry.startswith("_compact_old_"):
            bucket = entry[len("_compact_old_"):]
            part = os.path.join(log_dir, f"hour_bucket={bucket}")
            aside = os.path.join(log_dir, entry)
            if os.path.isdir(part):
                shutil.rmtree(aside, ignore_errors=True)
            else:
                os.rename(aside, part)
            resolved += 1
    return resolved


def _batch_id_of(filename: str) -> int | None:
    """Batch id from a batch-tagged log file name (`b{batch_id}-{i}.parquet`,
    written by _commit_batch); None for untagged files (plain appends or
    prior compaction output, which carry no crash-replay risk)."""
    if not filename.startswith("b"):
        return None
    head = filename[1:].split("-", 1)[0]
    return int(head) if head.isdigit() else None


def compact_bucket(spark: SparkSession, log_dir: str, bucket: int) -> int:
    """S11 maintenance: rewrite one hour partition's many per-batch files
    into one time-sorted file (the small-file problem — every
    micro-batch appends a file; a day of 5 s batches is 17k files/partition
    at scale, and scan/open cost dominates).

    Safe only for SEALED buckets: every batch that wrote here must already
    be in the done-marker set (load_done_batches), because compaction drops
    the batch-tagged file names that crash-replay's delete-before-rewrite
    keys on — if an unmarked batch (crashed between commit and marker) were
    compacted and then replayed, _remove_batch_files would find nothing to
    delete and the replay would append a SECOND copy of its events. This
    precondition is ENFORCED here, not just documented: any batch-tagged
    file whose batch id is missing from the done set makes the bucket
    ineligible (returns -1, compaction skipped) until the pipeline replays
    and marks that batch. Swap protocol: stage the rewrite, rename the old
    partition aside, rename the stage in, then drop the old — each step is
    a single atomic directory rename, so a crash leaves either the old or
    the new partition intact (plus at worst a leftover `.old`/`.tmp` to
    sweep). Returns the number of files before compaction, or -1 if the
    bucket was skipped as unsafe."""
    part = os.path.join(log_dir, f"hour_bucket={bucket}")
    if not os.path.isdir(part):
        return 0
    old_files = [f for f in os.listdir(part) if f.endswith(".parquet")]
    if len(old_files) <= 1:
        return len(old_files)
    done = load_done_batches(log_dir)
    pending = {
        bid for bid in (_batch_id_of(f) for f in old_files) if bid is not None and bid not in done
    }
    if pending:
        return -1  # unsafe: un-marked batch(es) could still be crash-replayed
    # `_`-prefixed so log readers never see the in-flight dirs as partitions
    tmp = os.path.join(log_dir, f"_compact_tmp_{bucket}")
    aside = os.path.join(log_dir, f"_compact_old_{bucket}")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(aside, ignore_errors=True)
    try:
        (
            spark.read.parquet(part)
            .coalesce(1)
            .sortWithinPartitions("time_us")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        os.rename(part, aside)
    except Exception:
        # A concurrent TTL trim may legally delete this partition at any
        # point before the swap lands (trim and compaction are independent
        # maintenance loops over the same buckets at scale): expired data
        # vanishing mid-compaction is a no-op compaction, not an error.
        # The no-op claim is checked, not assumed: ANY failure while the
        # partition is still present propagates — including a
        # FileNotFoundError whose missing path was the tmp STAGE (e.g.
        # swept by a concurrent one-shot trim), which previously reported
        # a silent no-op while the bucket stayed fragmented.
        if os.path.isdir(part):
            raise
        shutil.rmtree(tmp, ignore_errors=True)
        return 0
    os.rename(tmp, part)
    shutil.rmtree(aside)
    # drop the session FileStatusCache entries for the swapped partition:
    # concurrent readers re-planning after the swap must list the NEW
    # files, not the cached pre-swap names (the replay_rows retry relies
    # on this; same contract as Delta/Iceberg post-commit refresh)
    spark.catalog.refreshByPath(part)
    return len(old_files)


class TrimPartialFailure(OSError):
    """trim_events removed `dropped` expired partitions but could not fully
    remove the entries in `failed`. An OSError subclass so existing
    handlers keep working; the partial-progress count rides ON the
    exception because discarding it made the maintenance loop's scraped
    partitions_trimmed counter permanently undercount work actually done
    (the removals are real and irreversible even when the pass fails)."""

    def __init__(self, failed: list[str], dropped: int):
        super().__init__(f"trim could not fully remove expired entries: {failed}")
        self.failed = failed
        self.dropped = dropped


def trim_events(spark: SparkSession, log_dir: str, now_us: int, ttl_us: int = DEFAULT_TTL_US) -> int:
    """S13 TTL retention: drop whole hour partitions older than now-TTL —
    the partition-drop analogue of Pebble's DeleteRange (persist.go:130, P9).
    Only FULLY expired buckets are dropped (bucket end < cutoff), matching
    the reference's conservative key-range bound. Returns #partitions dropped.

    Compaction leftovers of expired buckets are trimmed too: a crash
    mid-swap leaves the bucket's data under `_compact_old_{b}` (which
    recover_compaction would rename BACK into the live log — resurrecting
    expired events forever if trim ignored it), and an abandoned
    `_compact_tmp_{b}` stage holds a full expired copy on disk. An aside
    WITHOUT a live partition is the partition (counted in the return);
    an aside alongside a live partition is a duplicate copy (removed,
    not counted). One known benign window remains: a bucket that is
    renamed aside DURING this listdir and swapped back in by a live
    compactor survives this pass and is dropped by the next one.
    """
    cutoff_bucket = (now_us - ttl_us) // US_PER_HOUR  # buckets < this are fully expired
    dropped = 0
    failed: list[str] = []
    if not os.path.isdir(log_dir):
        return 0
    entries = os.listdir(log_dir)  # one snapshot: live-presence below must
    # not observe this loop's own removals (live + expired aside would
    # double-count the same partition depending on listing order)
    live = {e.split("=", 1)[1] for e in entries if e.startswith("hour_bucket=")}
    for entry in entries:
        if entry.startswith("hour_bucket="):
            bucket_s, counted = entry.split("=", 1)[1], True
        elif entry.startswith("_compact_old_"):
            bucket_s = entry[len("_compact_old_"):]
            # only the data copy counts as a dropped partition
            counted = bucket_s not in live
        elif entry.startswith("_compact_tmp_"):
            bucket_s, counted = entry[len("_compact_tmp_"):], False
        else:
            continue
        if not bucket_s.lstrip("-").isdigit():
            continue
        if int(bucket_s) < cutoff_bucket:
            path = os.path.join(log_dir, entry)
            shutil.rmtree(path, ignore_errors=True)
            # a partition only counts as dropped once it is actually gone:
            # rmtree(ignore_errors) can fail partway (permissions, open
            # handles) and a partially-deleted live bucket would otherwise
            # be reported trimmed while still serving partial data. The
            # failure surfaces AFTER the full sweep (one stuck entry must
            # not shield later expired entries from this pass) and lands
            # in the maintenance tick's error counter for retry next tick.
            if os.path.exists(path):
                failed.append(entry)
            else:
                dropped += counted
    if failed:
        raise TrimPartialFailure(failed, dropped)
    return dropped
