"""Loaders for the driver-generated parquet tables (TESTDATA.md).

All queries read through these helpers so that scan-level concerns live in one
place: column pruning happens naturally via select-downstream, predicate
pushdown via filter-downstream (verify with .explain: PushedFilters/ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Plain parquet scan — Catalyst handles pruning/pushdown.

    `events.parquet` has shipped in two layouts across driver testdata
    generations: TIMESTAMP(NANOS) (rejected by the Spark parquet reader
    unless nanos are read as long and rebuilt into micros) and plain
    TIMESTAMP(MICROS) (reads natively). Handle both by inspecting the
    scanned type, so a testdata regeneration can't break every events query.
    """
    # parquet timestamps are naive; DuckDB reads them naively. Rendering
    # (year/date_format) must not depend on the caller session's timezone,
    # so pin UTC — idempotent, safe on any session the driver hands us.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):  # nanos layout
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # micros layout reads as TIMESTAMP_NTZ; queries (and the old
            # rebuild path) expect TIMESTAMP. Session TZ is pinned UTC above,
            # so the cast is value-preserving and unix_micros stays equal to
            # DuckDB's naive epoch_us.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events_since(spark: SparkSession, sf_dir: str, cursor_ts: str) -> DataFrame:
    """events with `ts >= cursor`, filtered in the RAW nanos-long domain so
    the predicate pushes into the parquet scan (a filter wrapped in
    timestamp_micros(ts div 1000) is opaque to pushdown — at 100 TB that
    is a full scan vs row-group skipping). ts_ns >= cursor_us*1000 is
    exactly equivalent to (ts_ns div 1000) >= cursor_us."""
    from pyspark.sql import functions as F

    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    if isinstance(raw.schema["ts"].dataType, LongType):  # nanos layout
        cursor_us = F.unix_micros(F.lit(cursor_ts).cast("timestamp"))
        return raw.where(F.col("ts") >= cursor_us * 1000).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    # micros layout: filter in the scanned NTZ domain (pushes down natively),
    # then normalize the type like table() does
    return raw.where(
        F.col("ts") >= F.lit(cursor_ts).cast("timestamp_ntz")
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for spark.sql() queries."""
    for name in TABLE_NAMES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
