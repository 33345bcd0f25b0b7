"""Streaming incremental dedup — near-dup detection as a standing query.

The batch form (queries/dedup.py::q_dedup_incremental) probes one incoming
split against a fixed history. This is the standing-pipeline form the
engine's streaming core exists for: documents arrive as a file-backed
stream (same drop-directory shape as pipeline.py's frame source), and each
micro-batch

  1. probes the bucketed MinHash band index holding every previously
     ingested document (operators/dedup_index.py machinery — the index
     side of the candidate join never shuffles),
  2. exactly verifies candidates (char-8-gram Jaccard) against history
     docs fetched by id (broadcast semi join = the KV point-lookup shape),
  3. writes verified (base_doc_id, new_doc_id, jaccard) pairs under a
     batch-tagged directory, and
  4. appends its own docs + band rows to the state so later batches dedup
     against them.

Exactly-once: the externally visible output (pairs/, docs/) uses the same
delete-before-rewrite + batch-id marker handler as the ingest pipeline
(pipeline.py::commit_once) —
a crash-replayed batch first removes its own batch directory, so any crash
point converges to one copy. The replay also excludes the batch's OWN
docs/ directory from history (a crash after the docs write but before the
done-marker would otherwise turn the batch into its own history, emitting
self- and within-batch pairs). Band rows go through the bucketed table's
append path, which cannot delete-by-batch; a replay can therefore leave
duplicate band ROWS — harmless by construction, because bands only feed
candidate generation and `probe`'s distinct() collapses duplicates (the
at-least-once inner state never reaches an output). Within-batch pairs are
out of scope here by design: a batch dedups against HISTORY; its own docs
only become visible to the batch after it.

At 100 TB: state grows by one bucketed append per batch; the per-batch
cost is O(batch signatures) + a bucketed index read + point lookups of
candidate texts — never a rescan of history.
"""

from __future__ import annotations

import os
import shutil
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from jetstream_spark.operators.dedup_index import N_BUCKETS, minhash_bands
from jetstream_spark.queries.dedup import _SHINGLES_EXPR, JACCARD_T
from jetstream_spark.streaming.pipeline import read_frame_stream, start_exactly_once

DOC_STREAM_SCHEMA = "doc_id long, text string"
_BANDS_TABLE = "streaming_band_index"


def _bands_table_name(state_dir: str) -> str:
    # one catalog entry per state root (tests run several streams per
    # session), stable ACROSS processes: built-in hash() is salted per
    # interpreter (PYTHONHASHSEED), which would register a fresh table name
    # over the same bands/ location on every CLI invocation
    import hashlib

    digest = hashlib.md5(os.path.abspath(state_dir).encode()).hexdigest()[:8]
    return f"{_BANDS_TABLE}_{digest}"


def init_dedup_state(spark: SparkSession, state_dir: str) -> None:
    """Create the empty state layout: docs/ + pairs/ batch dirs and the
    bucketed band table (so the first batch's probe plans uniformly).
    Idempotent over existing state: the dirs are kept, and the band table
    is an external LOCATION table, so DROP+CREATE re-registers it over the
    same files."""
    os.makedirs(os.path.join(state_dir, "docs"), exist_ok=True)
    os.makedirs(os.path.join(state_dir, "pairs"), exist_ok=True)
    name = _bands_table_name(state_dir)
    path = os.path.join(state_dir, "bands")
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.sql(
        f"CREATE TABLE {name} (doc_id BIGINT, band_idx INT, band_key BIGINT) "
        f"USING PARQUET CLUSTERED BY (band_idx, band_key) "
        f"SORTED BY (band_idx, band_key) INTO {N_BUCKETS} BUCKETS "
        f"LOCATION '{path}'"
    )


def _history_docs(
    spark: SparkSession, state_dir: str, exclude_batch_id: int | None = None
) -> DataFrame | None:
    """Docs ingested by prior batches. `exclude_batch_id` skips that
    batch's own docs/ directory: a crash between the docs write and
    the batch's done-marker would otherwise let the REPLAY see the batch's own
    documents as history — emitting permanent self-pairs (jaccard 1.0)
    and within-batch pairs, which are out of scope by contract. Because
    verification inner-joins candidates to history shingles, excluding
    the directory also drops any own-batch candidates arising from the
    batch's already-appended band rows."""
    docs_dir = os.path.join(state_dir, "docs")
    skip = f"b{exclude_batch_id}" if exclude_batch_id is not None else None
    batches = [d for d in os.listdir(docs_dir) if d.startswith("b") and d != skip]
    if not batches:
        return None
    return spark.read.parquet(*[os.path.join(docs_dir, d) for d in batches])


def read_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """All near-dup pairs emitted so far (empty-safe)."""
    pairs_dir = os.path.join(state_dir, "pairs")
    batches = [d for d in os.listdir(pairs_dir) if d.startswith("b")]
    if not batches:
        return spark.createDataFrame(
            [], "base_doc_id long, new_doc_id long, jaccard double"
        )
    return spark.read.parquet(*[os.path.join(pairs_dir, d) for d in batches])


def _commit_batch(state_dir: str, batch_df: DataFrame, batch_id: int) -> None:
    # the MICROBATCH session, not the outer one: sessions cache table file
    # listings independently, and an outer-session handle would keep serving
    # the listing from before earlier batches' band inserts (observed: a
    # probe blind to every doc ingested after the first read)
    spark = batch_df.sparkSession
    name = _bands_table_name(state_dir)
    spark.catalog.refreshTable(name)  # drop any stale listing for this session
    docs = batch_df.select("doc_id", "text")
    bands = minhash_bands(docs)

    # 1-2. probe history + exact verify (history may still be empty)
    pairs_out = os.path.join(state_dir, "pairs", f"b{batch_id}")
    shutil.rmtree(pairs_out, ignore_errors=True)  # delete-before-rewrite
    hist = _history_docs(spark, state_dir, exclude_batch_id=batch_id)
    if hist is not None:
        cand = (
            spark.table(name)
            .alias("h")
            .join(bands.alias("n"), ["band_idx", "band_key"])
            .select(
                F.col("h.doc_id").alias("base_doc_id"),
                F.col("n.doc_id").alias("new_doc_id"),
            )
            .distinct()
        )
        base_ids = cand.select(F.col("base_doc_id").alias("doc_id")).distinct()
        base_sh = hist.join(F.broadcast(base_ids), "doc_id", "left_semi").select(
            F.col("doc_id").alias("a_id"), F.expr(_SHINGLES_EXPR).alias("a_sh")
        )
        new_sh = docs.select(
            F.col("doc_id").alias("b_id"), F.expr(_SHINGLES_EXPR).alias("b_sh")
        )
        inter = F.size(F.array_intersect("a_sh", "b_sh"))
        jac = inter / (F.size("a_sh") + F.size("b_sh") - inter)
        (
            cand.join(base_sh, F.col("base_doc_id") == F.col("a_id"))
            .join(new_sh, F.col("new_doc_id") == F.col("b_id"))
            .where(jac >= JACCARD_T)
            .select("base_doc_id", "new_doc_id", F.round(jac, 6).alias("jaccard"))
            .write.parquet(pairs_out)
        )

    # 3. docs join history (batch-tagged, delete-before-rewrite)
    docs_out = os.path.join(state_dir, "docs", f"b{batch_id}")
    shutil.rmtree(docs_out, ignore_errors=True)
    docs.write.parquet(docs_out)

    # 4. bands append (at-least-once inner state; see module docstring)
    bands.write.insertInto(name)


def start_streaming_dedup(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Launch the standing dedup query over a document drop directory."""
    return start_exactly_once(
        read_frame_stream(spark, DOC_STREAM_SCHEMA, docs_dir),
        state_dir,
        checkpoint_dir,
        partial(_commit_batch, state_dir),
    )
