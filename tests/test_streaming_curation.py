"""The curation expressions are plain Columns, so the SAME gopher_pass()
conjunction and dedup keys run unchanged under Structured Streaming — a
streaming curation stage (exact dedup within watermark + Gopher filter)
must admit exactly the docs the batch pipeline admits."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from jetstream_spark.queries.quality import gopher_pass
from jetstream_spark.tables import table
from tests.conftest import SF_DIR


@pytest.fixture()
def docs_stream_dir(spark, tmp_path):
    """documents split into two chunks, the second re-sending half of the
    first (duplicate content the streaming dedup must drop)."""
    docs = table(spark, SF_DIR, "documents").withColumn(
        "ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id"))
    )
    d = str(tmp_path / "docs_stream")
    os.makedirs(d)
    first = docs.where(F.col("doc_id") % 2 == 0)
    second = docs.where(F.col("doc_id") % 2 == 1).unionByName(
        first.where(F.col("doc_id") % 4 == 0)  # replayed dupes
    )
    first.coalesce(1).write.parquet(str(tmp_path / "c0"))
    second.coalesce(1).write.parquet(str(tmp_path / "c1"))
    for i, src in enumerate(("c0", "c1")):
        for f in os.listdir(str(tmp_path / src)):
            if f.endswith(".parquet"):
                shutil.copy(str(tmp_path / src / f), os.path.join(d, f"chunk{i}.parquet"))
    return d


@pytest.mark.timeout(300)
def test_streaming_curation_matches_batch(spark, docs_stream_dir, tmp_path):
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint, ts timestamp"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(docs_stream_dir)
    curated = (
        stream.withWatermark("ts", "10 hours")
        .dropDuplicatesWithinWatermark(["doc_id"])
        .filter(gopher_pass())
    )
    q = (
        curated.writeStream.format("memory")
        .queryName("curated_docs")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)

    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM curated_docs").collect()}
    batch = table(spark, SF_DIR, "documents").filter(gopher_pass())
    expect = {r["doc_id"] for r in batch.select("doc_id").collect()}
    assert got == expect
    # and the replayed duplicates were emitted exactly once
    n_rows = spark.sql("SELECT count(*) AS n FROM curated_docs").collect()[0]["n"]
    assert n_rows == len(expect)
