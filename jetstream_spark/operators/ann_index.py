"""Physical LSH-bucketed ANN index — the materialized 100 TB probe path.

`jetstream_spark.queries.similarity.q_ann_lsh` computes sign-buckets on the
fly, which is honest for a one-shot query but rescans 100% of the corpus per
probe. This module materializes the layout the docstring promises: the
embeddings table written ONCE partitioned by LSH bucket id
(Hive-style `bucket=<id>/` directories), so a probe's
`WHERE bucket IN (<probe set>)` is a PARTITION FILTER — Spark prunes the
non-matching directories at planning time and the scan physically reads only
the probed subset (asserted by plan test in tests/test_ann_index.py). A
probe scores through the same top-k core as the on-the-fly queries
(`queries/similarity.py::_vector_topk`), reading each row's bucket or cell
from the index column instead of computing it.

At 100 TB: the index write is one full pass + one shuffle on bucket id; every
subsequent probe reads hamming<=2 probe sets = 22/64 of the partitions (and
with more planes, a vanishing fraction). Bucket skew is bounded because
random hyperplanes split the sphere evenly; residual skew lands on AQE.

The bucket function is pure JVM (zip_with/aggregate HOFs over SQL literal
plane rows — whole-stage codegen, no Python workers at index-build time) and
agrees with the numpy kernel in similarity.py: both compute
sign(dot(v, plane_b)) with float64 arithmetic on the same seeded planes.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from jetstream_spark.operators import freshness
from jetstream_spark.queries.similarity import (
    _POPCOUNT,
    LSH_PROBE_RADIUS,
    _probe_state,
    _query_matrix,
    _vector_topk,
    ivf_centroids,
    lsh_planes,
)
from jetstream_spark.tables import table


def _ensure(spark: SparkSession, sf_dir: str, kind: str, build) -> str:
    """Resolve (and build if stale/absent) the canonical location of an
    index layout for a corpus dir; returns the index path. Build-once/
    probe-many: rebuild only when the corpus changed, decided by
    fingerprint VALUE (operators/freshness.py) rather than mtime ordering —
    survives mtime-preserving regenerations."""
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    index_path = os.path.join(tempfile.gettempdir(), f"jetstream_{kind}_index_{tag}")
    if not freshness.index_is_fresh(index_path, os.path.join(sf_dir, "embeddings.parquet")):
        build(spark, sf_dir, index_path)
    return index_path


def _write_index(emb: DataFrame, key: str, sf_dir: str, index_path: str) -> None:
    emb.write.mode("overwrite").partitionBy(key).parquet(index_path)
    freshness.write_source_fingerprint(index_path, os.path.join(sf_dir, "embeddings.parquet"))


def lsh_bucket_expr(planes: np.ndarray, emb_col: str = "embedding") -> Column:
    """bucket = Σ_b [dot(v, plane_b) > 0] << b, as pure JVM HOF arithmetic."""
    dbl = F.transform(emb_col, lambda x: x.cast("double"))
    bucket: Column = F.lit(0)
    for b in range(planes.shape[0]):
        plane = F.array(*[F.lit(float(v)) for v in planes[b]])
        dot = F.aggregate(
            F.zip_with(dbl, plane, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        bucket = bucket + F.when(dot > F.lit(0.0), F.lit(1 << b)).otherwise(F.lit(0))
    return bucket.cast("int")


def build_lsh_index(spark: SparkSession, sf_dir: str, index_path: str) -> None:
    """One pass over embeddings → parquet partitioned by bucket id.

    partitionBy gives Hive-style bucket=<id>/ directories: the unit of
    partition pruning for every later probe. (This is directory
    partitioning, not .bucketBy table bucketing — probes filter on bucket
    VALUES, which is exactly what directory pruning serves; bucketBy would
    only help bucket-equi-joins.)
    """
    emb = table(spark, sf_dir, "embeddings")
    bucketed = emb.withColumn("bucket", lsh_bucket_expr(lsh_planes()))
    _write_index(bucketed, "bucket", sf_dir, index_path)


def ensure_lsh_index(spark: SparkSession, sf_dir: str) -> str:
    return _ensure(spark, sf_dir, "ann", build_lsh_index)


def probe_buckets(q_buckets: np.ndarray) -> list[int]:
    """Union of buckets within hamming<=LSH_PROBE_RADIUS of any query bucket."""
    probe: set[int] = set()
    for qb in q_buckets:
        ham = _POPCOUNT[np.bitwise_xor(np.arange(len(_POPCOUNT)), int(qb))]
        probe.update(np.nonzero(ham <= LSH_PROBE_RADIUS)[0].tolist())
    return sorted(probe)


def probe_lsh_index(spark: SparkSession, sf_dir: str, index_path: str) -> DataFrame:
    """Top-k cosine over ONLY the probed partitions of the materialized index.

    Produces the same (query_id, vec_id, cosine, rank) result as q_ann_lsh —
    the same core reads each row's bucket from the index column instead of
    computing it; only the physical access path differs (partition-pruned
    scan vs full-corpus rescan).
    """
    q_ids, q_mat = _query_matrix(spark, sf_dir)
    st = _probe_state(q_mat, planes=lsh_planes())
    # bucket IN (...) is a partition filter: only bucket=<id>/ dirs are read.
    idx = spark.read.parquet(index_path).where(F.col("bucket").isin(probe_buckets(st["buckets"])))
    return _vector_topk(spark, idx.select("vec_id", "embedding", "bucket"), q_ids, st)


# --- IVF (coarse-quantizer) physical index ---------------------------------------


def ivf_cell_expr(cents: np.ndarray, emb_col: str = "embedding") -> Column:
    """cell = argmax_c dot(v, unit_centroid_c) — per-vector positive scaling
    doesn't move the argmax, so no normalization of v is needed. JVM-side:
    an array of the IVF_CELLS dot products, argmax via array_position of the
    max (first-match tie rule, same as numpy argmax)."""
    dbl = F.transform(emb_col, lambda x: x.cast("double"))
    dots = []
    for c in range(cents.shape[0]):
        cent = F.array(*[F.lit(float(v)) for v in cents[c]])
        dots.append(
            F.aggregate(F.zip_with(dbl, cent, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
        )
    arr = F.array(*dots)
    return (F.array_position(arr, F.array_max(arr)) - 1).cast("int")


def build_ivf_index(spark: SparkSession, sf_dir: str, index_path: str) -> None:
    """One pass + one shuffle-free write: embeddings parquet-partitioned by
    IVF cell id (the inverted file). A probe's `cell IN (<nprobe cells>)`
    is a partition filter — it reads nprobe/IVF_CELLS of the data."""
    emb = table(spark, sf_dir, "embeddings")
    celled = emb.withColumn("cell", ivf_cell_expr(ivf_centroids(spark, sf_dir)))
    _write_index(celled, "cell", sf_dir, index_path)


def ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """The inverted file of a corpus dir, shared by the batch query surface
    and the streaming probe."""
    return _ensure(spark, sf_dir, "ivf", build_ivf_index)


def probe_ivf_index(spark: SparkSession, sf_dir: str, index_path: str) -> DataFrame:
    """Top-k cosine over only the probed cells of the materialized inverted
    file; same result as q_ann_ivf, partition-pruned physical access."""
    q_ids, q_mat = _query_matrix(spark, sf_dir)
    return probe_ivf_with(spark, ivf_centroids(spark, sf_dir), q_ids, q_mat, index_path)


def probe_ivf_with(spark: SparkSession, cents, q_ids, q_mat, index_path: str) -> DataFrame:
    """The inverted-file probe parameterized on the query matrix — shared by
    the batch query (fixed probe vectors) and the streaming probe (each
    micro-batch's incoming vectors). Only the nprobe cells' partitions are
    read; scoring is the shared core, reading each row's cell from the
    index column."""
    st = _probe_state(q_mat, cents=cents)
    union = sorted({int(c) for row in st["cells"] for c in row})
    idx = spark.read.parquet(index_path).where(F.col("cell").isin(union))
    return _vector_topk(spark, idx.select("vec_id", "embedding", "cell"), q_ids, st)
