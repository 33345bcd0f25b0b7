"""jetstream_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of ericvolp12/jetstream (reference read-only at
/root/reference), re-expressed Spark-first.

Layout:
  session    — tuned SparkSession factory (AQE, Arrow, shuffle sizing)
  tables     — loaders for the driver-generated parquet tables
  queries/   — the declared query catalog (relational + event-log + LLM-data-
               pipeline extensions), each paired with a DuckDB oracle SQL
  atproto/   — the jetstream event engine: envelope schema, normalize,
               monotonic sequencer, partitioned event log, subscriptions
  streaming/ — Structured Streaming ingest + streaming analytics
  serving/   — the /subscribe edge and its shared live tail (LiveTailHub)
"""

__version__ = "0.1.0"
