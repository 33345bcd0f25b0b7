"""Materialized MinHash band index — incremental dedup for a standing pipeline.

The one-shot near-dup queries (queries/dedup.py) re-signature the WHOLE
corpus every run. A production 100 TB pipeline doesn't run like that: the
historical corpus is signatured ONCE, the (band_idx, band_key, doc_id) rows
are persisted as a BUCKETED table on the band key, and each incoming batch
probes that table. The scale contract of the probe join:

- the index side is a bucketed scan — Catalyst plans NO Exchange under it,
  because the table's bucket spec already hash-partitions it on the join
  keys (Spark's bucketBy, asserted in tests/test_dedup_index.py);
- only the incoming batch (a vanishing fraction of history) is shuffled,
  so probe cost is O(batch) + a bucketed read of matching index rows, not
  O(corpus);
- exact verification then touches only candidate historical docs (broadcast
  semi join on the candidate id set — the Spark analogue of the KV point
  lookups the reference does for record fetch).

The signature kernel here is the SAME numpy batch kernel as
queries/dedup.py's one-shot query (moved to this module so both share it):
K=24 seeded permutations over 32-bit char-8-gram shingle hashes, 8 bands x
3 rows. Reference parity: ericvolp12/jetstream has no dedup surface; this
extends SURVEY.md §2.3's MinHash-LSH family to the batch-over-history shape.
"""

from __future__ import annotations

import os
import random
import tempfile

from jetstream_spark.operators import freshness

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jetstream_spark.tables import table

# --- MinHash banding constants (shared with queries/dedup.py) ----------------
SHINGLE_W = 8
MH_K = 24  # permutations
MH_R = 3  # rows per band
MH_B = MH_K // MH_R  # 8 bands → P(candidate | j=0.9) ≈ 1-(1-0.729)^8 ≈ 0.99998
MH_P = 4294967311  # prime > 2^32
SH_MIX = 2654435761  # Knuth multiplicative constant
_rng = random.Random(42)
MH_A = [_rng.randrange(1, 1 << 30) for _ in range(MH_K)]
MH_B_ = [_rng.randrange(0, MH_P) for _ in range(MH_K)]

# incoming-batch split: doc_id % INC_MOD == INC_REM is "the new batch",
# everything else is "history" (deterministic, SF-independent)
INC_MOD = 10
INC_REM = 7

N_BUCKETS = 16
BANDS_SCHEMA = "doc_id long, band_idx int, band_key long"


def minhash_bands(df: DataFrame) -> DataFrame:
    """(doc_id, text) → MH_B narrow band rows per doc.

    Whole-batch vectorization: ONE sliding-window/hash/permutation pass over
    the concatenated Arrow batch, per-doc mins via minimum.reduceat — no
    per-document numpy-call loop. Duplicate shingles need no dedup: min over
    a multiset == min over its set, so signatures are unchanged vs a
    per-doc unique() formulation.
    """
    import numpy as np

    A = np.array(MH_A, dtype=np.uint64)
    B = np.array(MH_B_, dtype=np.uint64)

    def kernel(batches):
        W = SHINGLE_W
        for pdf in batches:
            if len(pdf) == 0:
                continue
            texts = [t.lower().encode("utf-8") for t in pdf["text"]]
            texts = [t if len(t) >= W else t + b"\x00" * (W - len(t)) for t in texts]
            lens = np.array([len(t) for t in texts], dtype=np.int64)
            concat = np.frombuffer(b"".join(texts), dtype=np.uint8).astype(np.uint64)
            win = np.lib.stride_tricks.sliding_window_view(concat, W)
            poly = np.zeros(len(win), dtype=np.uint64)
            for k in range(W):  # poly-31 rolling hash, mod-2^64 wraparound
                poly = poly * np.uint64(31) + win[:, k]
            x = (poly * np.uint64(SH_MIX)) % np.uint64(1 << 32)
            # keep only windows fully inside one doc (drop straddlers)
            n_docs = len(lens)
            n_win = lens - W + 1
            doc_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            group_starts = np.concatenate(([0], np.cumsum(n_win)[:-1]))
            tot = int(n_win.sum())
            doc_of = np.repeat(np.arange(n_docs), n_win)
            intra = np.arange(tot) - np.repeat(group_starts, n_win)
            xs = x[doc_starts[doc_of] + intra]
            sig_all = (A[None, :] * xs[:, None] + B[None, :]) % np.uint64(MH_P)
            sigs = np.minimum.reduceat(sig_all, group_starts, axis=0)  # (docs, K)
            bands = sigs.reshape(n_docs, MH_B, MH_R)
            keys = np.zeros((n_docs, MH_B), dtype=np.uint64)
            for r in range(MH_R):
                keys = keys * np.uint64(MH_P) + bands[:, :, r]
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": np.repeat(ids, MH_B),
                    "band_idx": np.tile(np.arange(MH_B, dtype=np.int32), n_docs),
                    "band_key": keys.reshape(-1).view(np.int64),
                }
            )

    # spread the kernel across all cores, but only when the source scan
    # yields fewer splits than cores (the single-file fixture): multi-file
    # corpora are already parallel and a round-robin repartition here would
    # shuffle the whole corpus once for nothing at scale
    src = df.select("doc_id", "text")
    par = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        # hash on doc_id, not round-robin: same spread, and the engine-wide
        # no-RoundRobinPartitioning plan guard stays assertable
        src = src.repartition(par, "doc_id")
    return src.mapInPandas(kernel, schema=BANDS_SCHEMA)


def _tag(sf_dir: str) -> str:
    return (os.path.basename(sf_dir.rstrip("/")) or "sf").replace(".", "_")


def index_table_name(sf_dir: str) -> str:
    return f"minhash_band_index_{_tag(sf_dir)}"


def index_path(sf_dir: str) -> str:
    return os.path.join(tempfile.gettempdir(), f"jetstream_band_index_{_tag(sf_dir)}")


def build_band_index(spark: SparkSession, sf_dir: str, name: str, path: str) -> None:
    """One signature pass over HISTORY (everything outside the incoming
    split) → external bucketed+sorted table on (band_idx, band_key). The
    bucket spec is the whole point: every later probe join on the band key
    reads this side shuffle-free."""
    hist = table(spark, sf_dir, "documents").where(
        (F.col("doc_id") % INC_MOD) != INC_REM
    )
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        minhash_bands(hist)
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(N_BUCKETS, "band_idx", "band_key")
        .sortBy("band_idx", "band_key")
        .saveAsTable(name)
    )
    freshness.write_source_fingerprint(path, os.path.join(sf_dir, "documents.parquet"))


def ensure_band_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once / probe-many contract. Returns the catalog table name.

    Fresh data + table already registered → reuse as-is. Fresh data from an
    earlier session (in-memory catalog lost the entry) → re-register the
    bucket spec over the existing files, no rewrite. Stale or absent →
    rebuild. Freshness is the documents corpus's fingerprint by value
    (operators/freshness.py), which survives mtime-preserving
    regenerations."""
    name, path = index_table_name(sf_dir), index_path(sf_dir)
    fresh = freshness.index_is_fresh(path, os.path.join(sf_dir, "documents.parquet"))
    if fresh and spark.catalog.tableExists(name):
        return name
    if fresh:
        try:
            spark.sql(
                f"CREATE TABLE {name} (doc_id BIGINT, band_idx INT, band_key BIGINT) "
                f"USING PARQUET CLUSTERED BY (band_idx, band_key) "
                f"SORTED BY (band_idx, band_key) INTO {N_BUCKETS} BUCKETS "
                f"LOCATION '{path}'"
            )
            return name
        except Exception:  # noqa: BLE001 — any registration failure → rebuild
            pass
    build_band_index(spark, sf_dir, name, path)
    return name


def probe_candidates(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Candidate (base_doc_id, new_doc_id) pairs: incoming-batch band rows
    equi-joined against the bucketed index. The index side's bucket spec
    satisfies the join's distribution requirement — only the batch side
    shuffles (plan-asserted in tests)."""
    incoming = table(spark, sf_dir, "documents").where(
        (F.col("doc_id") % INC_MOD) == INC_REM
    )
    inc_bands = minhash_bands(incoming)
    # sessions cache table file listings; refresh so a probe never reads a
    # listing staler than the last index write (bit the streaming variant)
    spark.catalog.refreshTable(name)
    idx = spark.table(name)
    return (
        idx.alias("h")
        .join(inc_bands.alias("n"), ["band_idx", "band_key"])
        .select(
            F.col("h.doc_id").alias("base_doc_id"),
            F.col("n.doc_id").alias("new_doc_id"),
        )
        .distinct()
    )
