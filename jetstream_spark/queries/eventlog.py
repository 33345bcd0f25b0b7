"""Event-log queries — the reference's own query semantics, batch-expressed.

The reference's query surface is: time-range scan from a cursor + predicate
filter (collection/DID set-membership) + ordered delivery (SURVEY.md §1.5,
operators S14/S17/S18), plus per-key ordered processing (S25). These are
declared here over the driver's `events` table (event_id, ts, user_id,
event_type, value, props) — `event_type` plays the role of `collection`,
`user_id` of `did`, `ts` of `time_us`.

Streaming-window analogues (tumbling window, sessionization) are included in
their batch form; the Structured-Streaming forms live in
jetstream_spark/streaming/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jetstream_spark.queries.spec import QuerySpec
from jetstream_spark.tables import table

# Mid-range cursor (events span 2024-01-01 .. 2024-01-30).
CURSOR_TS = "2024-01-15 00:00:00"
WANTED_TYPES = ("click", "purchase")
WANTED_USERS = tuple(range(0, 2000, 7))  # a "wantedDids"-style membership set


# --- S14: replay scan — time-range scan from cursor, key-only predicates ----
def q_replay_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay from a cursor: `WHERE ts >= cursor` + subscription filters.

    Reference: pkg/consumer/persist.go:143-204 (ReplayEvents) — iterator
    LowerBound=cursor inclusive, filters evaluated on key fields only.
    Spark analogue: parquet predicate pushdown + column pruning mean the
    value columns are never materialized for filtered-out rows (P1/P2).
    The cursor predicate is applied in the raw long domain (events_since)
    so it actually reaches the scan.
    """
    from jetstream_spark.tables import events_since

    ev = events_since(spark, sf_dir, CURSOR_TS)
    return ev.where(
        F.col("event_type").isin(*WANTED_TYPES)
    ).select(
        "event_id",
        F.unix_micros("ts").alias("time_us"),
        "user_id",
        "event_type",
        F.round("value", 6).alias("value"),
    )


Q_REPLAY_ORACLE = f"""
SELECT event_id, epoch_us(ts) AS time_us, user_id, event_type, round(value, 6) AS value
FROM events
WHERE ts >= TIMESTAMP '{CURSOR_TS}'
  AND event_type IN ('click', 'purchase')
"""


# --- S17: subscription predicate filter with bypass rule --------------------
def q_subscribe_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection+DID filter with the reference's bypass rule: events of a
    kind that has no collection pass the collection filter unconditionally
    (server.go:119-123 — account/identity events reach all subscribers).
    Here 'error' events play the account/identity role.
    """
    ev = table(spark, sf_dir, "events")
    type_ok = F.col("event_type").isin(*WANTED_TYPES) | (F.col("event_type") == "error")
    user_ok = F.col("user_id").isin(*WANTED_USERS)
    return ev.where(type_ok & user_ok).select("event_id", "user_id", "event_type")


_users_sql = ", ".join(str(u) for u in WANTED_USERS)
Q_SUBSCRIBE_ORACLE = f"""
SELECT event_id, user_id, event_type
FROM events
WHERE (event_type IN ('click', 'purchase') OR event_type = 'error')
  AND user_id IN ({_users_sql})
"""


# --- S18: per-subscriber monotonic cursor (dedup guarantee) ------------------
def q_monotonic_delivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events strictly after the subscriber's max-seen cursor, delivered in
    per-key order with a strictly increasing per-subscriber sequence
    (server.go:131-134: never deliver time_us <= sub.seq; seq advances on
    enqueue). Batch form: WHERE time_us > cursor + ordered row_number."""
    ev = table(spark, sf_dir, "events")
    w = Window.orderBy("ts", "event_id")  # total order: (time, tiebreak) — §1.5
    return (
        ev.where(F.unix_micros("ts") > F.unix_micros(F.lit(CURSOR_TS).cast("timestamp")))
        .withColumn("deliver_seq", F.row_number().over(w))
        .select("deliver_seq", "event_id", F.unix_micros("ts").alias("time_us"))
    )


Q_MONOTONIC_ORACLE = f"""
SELECT row_number() OVER (ORDER BY ts, event_id) AS deliver_seq,
       event_id, epoch_us(ts) AS time_us
FROM events
WHERE epoch_us(ts) > epoch_us(TIMESTAMP '{CURSOR_TS}')
"""


# --- S25: per-key ordered processing ------------------------------------------
def q_per_key_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parallel-scheduler contract (pkg/client/schedulers/parallel/
    parallel.go:92-152): same key strictly ordered, different keys
    independent. Spark: one shuffle on the key, per-key row_number."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("seq_in_user"),
    )


Q_PER_KEY_ORACLE = """
SELECT user_id, event_id,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq_in_user
FROM events
"""


# --- tumbling window (batch form) ----------------------------------------------
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling aggregation — batch form of the streaming
    window(ts, '1 hour') operator in jetstream_spark.streaming."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
    )


Q_TUMBLING_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS events,
       round(sum(value), 4) AS value_sum
FROM events
GROUP BY 1, 2
"""


# --- hopping (sliding) window, batch form -------------------------------------
def q_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows hopping every 30 minutes — the batch form of
    window(ts, '1 hour', '30 minutes'); every event lands in exactly two
    overlapping windows. Spark's window() generates the window struct
    inline (a Generate node, no self-union scan)."""
    ev = table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(
            F.date_format(win.start, "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.round(F.sum("value"), 4).alias("value_sum"),
        )
    )


# hop expansion: each event belongs to windows starting at floor30(ts) and
# floor30(ts) - 30 min (size 1 h, hop 30 min ⇒ exactly two)
Q_HOPPING_ORACLE = """
WITH hops AS (
  SELECT strftime(date_trunc('hour', ts) + CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
                  - k * INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, value
  FROM events, unnest([0, 1]) AS t(k)
)
SELECT window_start, event_type,
       count(*) AS events,
       round(sum(value), 4) AS value_sum
FROM hops
GROUP BY window_start, event_type
"""


# --- sessionization (gap-based session windows, batch form) ---------------------
SESSION_GAP_S = 1800


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions per user (30 min inactivity closes a session) —
    batch form of session_window(); lag + cumulative-sum session ids.
    One shuffle on user_id; both window functions reuse the partitioning."""
    ev = table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(order_w))
    new_session = F.when(gap.isNull() | (gap > SESSION_GAP_S * 1_000_000), 1).otherwise(0)
    sess_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_sess = ev.withColumn("session_id", F.sum(new_session).over(sess_w))
    # Pure BIGINT subtraction — no division anywhere, so the value domain is
    # identical across engines/versions (divide-then-cast rounding differs).
    dur_us = F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))
    return with_sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("session_events"),
        dur_us.cast("long").alias("session_duration_us"),
    )


Q_SESSION_ORACLE = f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_S} * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_id, ts,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id,
       count(*) AS session_events,
       CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT) AS session_duration_us
FROM s
GROUP BY user_id, session_id
"""


# --- as-of join --------------------------------------------------------------------
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest click at or
    before it. Spark has no ASOF JOIN operator; the scale-correct plan is a
    single shuffle on user_id over the unioned stream + a running `last()`
    — no join blow-up, no range-join quadratic risk.

    Clicks are first deduped to one per (user_id, ts) (max event_id) so tie
    resolution matches the oracle's ASOF semantics deterministically.
    """
    ev = table(spark, sf_dir, "events")
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "event_id")

    unioned = clicks.select(
        "user_id", "ts", F.lit(0).alias("is_purchase"), F.col("click_event_id"), F.lit(None).cast("long").alias("event_id")
    ).unionByName(
        purchases.select(
            "user_id", "ts", F.lit(1).alias("is_purchase"), F.lit(None).cast("long").alias("click_event_id"), "event_id"
        )
    )
    # clicks sort before purchases at equal ts → click at ts == purchase ts matches (ASOF >=)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_purchase", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn("matched_click", F.last("click_event_id", ignorenulls=True).over(w))
    return (
        matched.where((F.col("is_purchase") == 1) & F.col("matched_click").isNotNull())
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.col("matched_click").alias("click_event_id"),
        )
    )


Q_ASOF_ORACLE = """
WITH clicks AS (
  SELECT user_id, ts, max(event_id) AS click_event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), purchases AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id AS purchase_event_id,
       p.user_id  AS user_id,
       c.click_event_id AS click_event_id
FROM purchases p
ASOF JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# --- JSON extraction (schema-free record payload, §1.3) ---------------------------
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the opaque JSON payload — the reference keeps
    records as raw JSON (models.go:23) and never parses them; the engine
    reads them on demand with get_json_object (↔ Variant at scale)."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


Q_JSON_ORACLE = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
FROM events
GROUP BY event_type
"""


# --- grouped-aggregate pandas UDF (the UDAF surface) -------------------------------
def q_geomean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via a grouped-agg pandas UDF: per-type geometric
    mean of value — Arrow ships each group's column once, numpy reduces it
    (the UDAF shape for aggregates Catalyst lacks). The oracle recomputes
    it relationally as exp(avg(ln(v))), which is also the algebraic
    identity that makes this aggregate partial-izable at scale (sum of
    logs combines associatively; the UDF form is for aggregates without
    such a decomposition)."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: this module uses postponed annotations, which
    # stringify the pd.Series hint the decorator would otherwise infer from
    def _geomean(v):
        return float(np.exp(np.log(v.to_numpy(dtype=np.float64)).mean()))

    geomean = pandas_udf(_geomean, "double", PandasUDFType.GROUPED_AGG)
    # grouped-agg UDFs cannot mix with built-in aggregates in one agg —
    # the count rides along as a second pandas aggregate
    n_rows = pandas_udf(lambda v: len(v), "long", PandasUDFType.GROUPED_AGG)

    # geometric mean is defined over positives only — larger SFs contain
    # value = 0 rows, where ln() errors (engine-dependent); filter BOTH sides
    ev = table(spark, sf_dir, "events").where(F.col("value") > 0)
    return ev.groupBy("event_type").agg(
        n_rows("value").alias("n"),
        F.round(geomean("value"), 6).alias("geomean_value"),
    )


Q_GEOMEAN_ORACLE = """
SELECT event_type,
       count(*) AS n,
       round(exp(avg(ln(value))), 6) AS geomean_value
FROM events
WHERE value > 0
GROUP BY event_type
"""


# --- VARIANT payload path (§1.3 goal state, Spark 4) -------------------------------
def q_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT sibling of q_json_props: the opaque payload is lifted
    ONCE with parse_json into a Variant value, then fields are read with
    variant_get — the binary-encoded path that replaces per-access string
    parsing at scale (one parse, many typed reads; shredding-friendly).
    wire.py uses the same Variant machinery for record splicing (S16)."""
    ev = table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_total"),
            F.count(F.when(F.col("k") % 2 == 1, 1)).alias("k_odd"),
            F.count(F.when(F.col("k") >= 50, 1)).alias("k_high"),
            F.round(F.avg("k"), 6).alias("k_mean"),
        )
    )


Q_VARIANT_ORACLE = """
WITH v AS (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events
)
SELECT event_type,
       count(*) AS n,
       CAST(sum(k) AS BIGINT) AS k_total,
       count(CASE WHEN k % 2 = 1 THEN 1 END) AS k_odd,
       count(CASE WHEN k >= 50 THEN 1 END) AS k_high,
       round(avg(k), 6) AS k_mean
FROM v
GROUP BY event_type
"""


# --- funnel: temporal semi join ------------------------------------------------------
def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users whose first click precedes their first purchase (funnel step
    analysis) — min-aggregates then a broadcastable comparison, no row-level
    temporal join needed."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("first_purchase"),
    )
    return firsts.select(
        F.count(F.lit(1)).alias("users_total"),
        F.count(F.when(F.col("first_click").isNotNull(), 1)).alias("users_clicked"),
        F.count(
            F.when(F.col("first_click") < F.col("first_purchase"), 1)
        ).alias("users_converted"),
    )


Q_FUNNEL_ORACLE = """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id
)
SELECT count(*) AS users_total,
       count(CASE WHEN first_click IS NOT NULL THEN 1 END) AS users_clicked,
       count(CASE WHEN first_click < first_purchase THEN 1 END) AS users_converted
FROM firsts
"""


# --- rate anomaly detection ---------------------------------------------------
ANOM_Z = 2.0


def q_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection: hourly counts per event type z-scored
    against that type's own rate distribution; buckets with |z| >= {ANOM_Z}
    flagged — the ops-monitoring query a streaming ingest pipeline (S26/S27
    liveness + throughput metrics) runs over its own event log, and the
    standard data-quality gate a training pipeline runs on a fresh crawl
    drop (a collapsed or exploding source shows up as rate anomalies before
    it poisons the corpus).

    Scale shape: the (type, hour) count aggregates map-side (partial
    count before its exchange, key cardinality = types x hours — tiny);
    the per-type mean/stddev frame is |types| rows and broadcasts back;
    the flag filter is map-only. Stats are over OBSERVED buckets (an
    entirely-empty hour is absence-of-data, not a zero sample — the
    liveness monitor owns silence)."""
    ev = table(spark, sf_dir, "events")
    per_hour = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hb")
    ).agg(F.count(F.lit(1)).alias("n"))
    return flag_rate_anomalies(per_hour)


def flag_rate_anomalies(per_hour: DataFrame) -> DataFrame:
    """The z-score flagging core over an (event_type, hb, n) hourly-count
    frame — shared by the batch query above and the standing streaming
    monitor (streaming/anomaly_stream.py), so both flag identically."""
    stats = per_hour.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_pop("n").alias("sd")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sd")
    return (
        per_hour.join(F.broadcast(stats), "event_type")
        .where((F.col("sd") > 0) & (F.abs(z) >= ANOM_Z))
        .select(
            "event_type",
            F.date_format("hb", "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
            "n",
            F.round(z, 6).alias("zscore"),
        )
    )


Q_RATE_ANOMALY_ORACLE = f"""
WITH m AS (
  SELECT event_type, date_trunc('hour', ts) AS hb, count(*) AS n
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sd, count(*) AS nh
  FROM m GROUP BY 1
)
SELECT m.event_type,
       strftime(m.hb, '%Y-%m-%d %H:%M:%S') AS hour_bucket,
       m.n,
       round((m.n - s.mu) / s.sd, 6) AS zscore
FROM m JOIN s USING (event_type)
WHERE s.sd > 0 AND abs((m.n - s.mu) / s.sd) >= {ANOM_Z}
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily retention cohorts: users grouped by first-activity day; for
    each (cohort_day, week_offset) the count of cohort users active that
    week-after-signup — the event-analytics staple (cohort triangle).
    Cohort day formatted as a string in both engines (dtype-strict hash:
    Spark dates and DuckDB dates canonicalize differently otherwise).

    Scale shape: one per-user min-agg shuffle (map-side partial min), a
    user-keyed join of cohort onto activity (both sides already hashed by
    user_id — the Exchange is reused), then distinct+count on the tiny
    (cohort, offset, user) key set. No window, no self-join over events."""
    events = table(spark, sf_dir, "events")
    daily = events.select("user_id", F.col("ts").cast("date").alias("day"))
    cohorts = daily.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        daily.join(cohorts, "user_id")
        .select(
            "user_id",
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.floor(F.datediff(F.col("day"), F.col("cohort_day")) / 7).cast("int").alias("week_offset"),
        )
        .distinct()
        .groupBy("cohort_day", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


Q_RETENTION_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events
), cohorts AS (
  SELECT user_id, min(day) AS cohort_day FROM daily GROUP BY user_id
), active AS (
  SELECT DISTINCT d.user_id, strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
         CAST(floor(date_diff('day', c.cohort_day, d.day) / 7.0) AS INT) AS week_offset
  FROM daily d JOIN cohorts c USING (user_id)
)
SELECT cohort_day, week_offset, count(*) AS n_users
FROM active GROUP BY cohort_day, week_offset
"""


# --- A/B experiment analysis --------------------------------------------------
AB_CONV_VALUE = 150.0


def q_ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on conversion (did the user make a
    HIGH-VALUE purchase, value > {AB_CONV_VALUE}? — plain purchase
    saturates at 100% of users in this corpus)
    between md5-split experiment arms — the experiment-analysis read every
    event platform serves. Arms come from the same engine-independent
    md5-bucket arithmetic as sample_split, so assignment is reproducible
    and the oracle recomputes it bit-for-bit.

    z = (p_a − p_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b)) with pooled p̂; one
    per-user aggregate shuffle (arm + converted flags collapse map-side),
    then a 2-row fold — nothing beyond user-count scale ever moves."""
    ev = table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string").cast("binary"))
    arm = F.when(
        (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % 2) == 0, "A"
    ).otherwise("B")
    conv = (F.col("event_type") == "purchase") & (F.col("value") > AB_CONV_VALUE)
    users = ev.groupBy("user_id").agg(
        F.max(F.when(conv, 1).otherwise(0)).alias("converted")
    ).select(arm.alias("arm"), "converted")
    arms = users.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    a = arms.where(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("conv").alias("conv_a")
    )
    b = arms.where(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("conv").alias("conv_b")
    )
    j = a.crossJoin(b)
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    z = (p_a - p_b) / se
    return j.select(
        "n_a",
        "n_b",
        F.round(p_a, 6).alias("conv_rate_a"),
        F.round(p_b, 6).alias("conv_rate_b"),
        F.round(z, 4).alias("zscore"),
        (F.abs(z) > 1.96).alias("significant_95"),
    )


_AB_ARM_SQL = (
    "CASE WHEN (("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    )
    + ") % 2) = 0 THEN 'A' ELSE 'B' END"
)

Q_AB_TEST_ORACLE = f"""
WITH users AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > {AB_CONV_VALUE} THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), armed AS (
  SELECT {_AB_ARM_SQL} AS arm, converted FROM users
), arms AS (
  SELECT arm, count(*) AS n, CAST(sum(converted) AS BIGINT) AS conv
  FROM armed GROUP BY arm
), j AS (
  SELECT a.n AS n_a, a.conv AS conv_a, b.n AS n_b, b.conv AS conv_b
  FROM (SELECT * FROM arms WHERE arm = 'A') a
  CROSS JOIN (SELECT * FROM arms WHERE arm = 'B') b
)
SELECT n_a, n_b,
       round(CAST(conv_a AS DOUBLE) / n_a, 6) AS conv_rate_a,
       round(CAST(conv_b AS DOUBLE) / n_b, 6) AS conv_rate_b,
       round((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
             / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                    * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)), 4) AS zscore,
       abs((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
           / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                  * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                  * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b))) > 1.96 AS significant_95
FROM j
"""


# --- deterministic Poisson bootstrap CI over the experiment metric ---------------
AB_BOOT_B = 200  # bootstrap replicas
# Poisson(1) CDF thresholds as EXACT integers over the 32-bit hash space
# (floor(cdf_k * 16^8)): the draw compares an integer against integer
# literals, so Spark and the oracle agree bit-for-bit with no float CDF.
_AB_BOOT_T = (1580030168, 3160060337, 3950075421, 4213413783, 4279248373)


def q_ab_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the A/B conversion-rate LIFT —
    the nonparametric companion to q_ab_test_conversion's z-test (valid
    with no normality assumption, and the shape any metric — ratio,
    winsorized mean, quantile — reuses unchanged). Poisson bootstrap
    (the industry-standard resampling for distributed data: per replica,
    each user enters with weight W ~ Poisson(1) instead of a global
    n-out-of-n draw, so replicas need no global coordination): W comes
    from inverse-CDF over a 32-bit slice of md5(user_id:b) compared
    against EXACT integer thresholds — no RNG state, reruns and engines
    agree bit-for-bit.

    Scale: the per-user collapse is the ONLY event-scale shuffle (shared
    with the z-test). The replica explode is map-only compute; partial
    aggregation collapses it to ≤ 2·B rows per partition before the tiny
    (b, arm) exchange, so shuffle volume is replica-count-scale — at 10^9
    users the 200× blowup never crosses the wire. The percentile fold
    runs on B rows."""
    ev = table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string").cast("binary"))
    arm = F.when(
        (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % 2) == 0, "A"
    ).otherwise("B")
    conv = (F.col("event_type") == "purchase") & (F.col("value") > AB_CONV_VALUE)
    users = ev.groupBy("user_id").agg(
        F.max(F.when(conv, 1).otherwise(0)).alias("converted")
    ).select("user_id", arm.alias("arm"), "converted")

    hb = F.md5(
        F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("b").cast("string")).cast("binary")
    )
    v = F.conv(F.substring(hb, 1, 8), 16, 10).cast("long")
    w = (
        F.when(v < _AB_BOOT_T[0], 0)
        .when(v < _AB_BOOT_T[1], 1)
        .when(v < _AB_BOOT_T[2], 2)
        .when(v < _AB_BOOT_T[3], 3)
        .when(v < _AB_BOOT_T[4], 4)
        .otherwise(5)
    )
    drawn = users.select(
        "user_id",
        "arm",
        "converted",
        F.explode(F.sequence(F.lit(0), F.lit(AB_BOOT_B - 1))).alias("b"),
    ).select("arm", "converted", "b", w.alias("w"))
    rep = drawn.groupBy("b", "arm").agg(
        F.sum("w").alias("n"), F.sum(F.col("w") * F.col("converted")).alias("c")
    ).where(F.col("n") > 0)  # a replica that drew an arm empty is excluded
    # (the inner join on b below then drops it from BOTH sides);
    # b_replicas reports the replicas actually used — with tiny arms
    # P(empty arm) = e^-m is a real event, not a corner case
    a = rep.where(F.col("arm") == "A").select("b", (F.col("c") / F.col("n")).alias("ra"))
    bb = rep.where(F.col("arm") == "B").select("b", (F.col("c") / F.col("n")).alias("rb"))
    diffs = a.join(bb, "b").select((F.col("ra") - F.col("rb")).alias("diff"))
    return diffs.agg(
        F.count(F.lit(1)).alias("b_replicas"),
        F.round(F.avg("diff"), 6).alias("mean_lift"),
        F.round(F.expr("percentile(diff, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(diff, 0.975)"), 6).alias("ci_hi"),
        (
            (F.expr("percentile(diff, 0.025)") <= 0.0)
            & (F.expr("percentile(diff, 0.975)") >= 0.0)
        ).alias("covers_zero"),
    )


_AB_BOOT_V_SQL = (
    "("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    + ")"
)

Q_AB_BOOT_ORACLE = f"""
WITH users AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > {AB_CONV_VALUE} THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), armed AS (
  SELECT user_id, {_AB_ARM_SQL} AS arm, converted FROM users
), drawn AS (
  SELECT arm, converted, b,
         CASE WHEN {_AB_BOOT_V_SQL} < {_AB_BOOT_T[0]} THEN 0
              WHEN {_AB_BOOT_V_SQL} < {_AB_BOOT_T[1]} THEN 1
              WHEN {_AB_BOOT_V_SQL} < {_AB_BOOT_T[2]} THEN 2
              WHEN {_AB_BOOT_V_SQL} < {_AB_BOOT_T[3]} THEN 3
              WHEN {_AB_BOOT_V_SQL} < {_AB_BOOT_T[4]} THEN 4
              ELSE 5 END AS w
  FROM armed, unnest(generate_series(0, {AB_BOOT_B - 1})) AS u(b)
), rep AS (
  SELECT b, arm, sum(w) AS n, sum(w * converted) AS c FROM drawn GROUP BY b, arm
  HAVING sum(w) > 0
), diffs AS (
  SELECT a.b, CAST(a.c AS DOUBLE) / a.n - CAST(r.c AS DOUBLE) / r.n AS diff
  FROM (SELECT * FROM rep WHERE arm = 'A') a
  JOIN (SELECT * FROM rep WHERE arm = 'B') r USING (b)
)
SELECT count(*) AS b_replicas,
       round(avg(diff), 6) AS mean_lift,
       round(quantile_cont(diff, 0.025), 6) AS ci_lo,
       round(quantile_cont(diff, 0.975), 6) AS ci_hi,
       quantile_cont(diff, 0.025) <= 0.0 AND quantile_cont(diff, 0.975) >= 0.0 AS covers_zero
FROM diffs
"""


# --- changelog -> SCD2 dimension materialization ------------------------------
TIER_WIDTH = 25  # k in [0,100) -> 4 tiers


def q_scd2_user_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) materialization of a changelog:
    each user's event stream carries a payload attribute (tier =
    props.k div {TIER_WIDTH}); consecutive runs of the same tier collapse
    into one versioned interval [valid_from_us, valid_to_us) with the
    open current interval NULL-terminated — the upsert/merge shape that
    turns an append-only event log into a queryable dimension table.

    Scale shape: ONE shuffle on user_id shared by the change-flag lag,
    the cumulative version sum, and (after the run collapse shrinks the
    frame to one row per run) the valid_to lead — no self-join against
    the history, no per-user collect."""
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.unix_micros("ts").alias("ord_us"),
        F.col("event_id").alias("ord_tie"),
        scd2_tier_expr().alias("tier"),
        F.lit(1).cast("long").alias("n"),
        F.unix_micros("ts").alias("from_us"),
        F.unix_micros("ts").alias("last_us"),
    )
    return scd2_chain(scd2_collapse(base))


def scd2_tier_expr() -> F.Column:
    return F.expr(f"CAST(get_json_object(props, '$.k') AS BIGINT) div {TIER_WIDTH}")


def scd2_collapse(base: DataFrame) -> DataFrame:
    """The run-collapse core over (user_id, ord_us, ord_tie, tier, n,
    from_us, last_us): adjacent same-tier rows merge into one run. It is
    IDEMPOTENT over its own output (a collapsed runs frame re-collapses
    to itself) and LEVEL-AGNOSTIC: raw events (n=1) and stored mini-runs
    (n=run size) flow through identically — which is what lets the
    streaming maintainer (streaming/scd2_stream.py) store per-batch runs
    and merge them at read with the SAME code as the batch operator."""
    w = Window.partitionBy("user_id").orderBy("ord_us", "ord_tie")
    prev = F.lag("tier").over(w)
    change = F.when(prev.isNull() | (prev != F.col("tier")), 1).otherwise(0)
    versioned = base.withColumn(
        "version",
        F.sum(change).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return versioned.groupBy("user_id", "version").agg(
        F.min("tier").alias("tier"),  # constant within a run
        F.min("from_us").alias("valid_from_us"),
        F.max("last_us").alias("last_us"),
        F.sum("n").alias("n_events"),
        # the run's FIRST row's tie-break (ord_tie of the minimal
        # (ord_us, ord_tie) row): carried so stored runs re-collapse in the
        # SAME order the batch operator would give two runs that start at
        # the identical microsecond across a batch boundary — ord_tie=0
        # here would make that order nondeterministic
        F.min(F.struct(F.col("ord_us"), F.col("ord_tie")))
        .getField("ord_tie")
        .alias("first_tie"),
    )


def scd2_chain(runs: DataFrame) -> DataFrame:
    """Interval chaining over a collapsed runs frame: valid_to = next
    run's valid_from; the open current interval is NULL-terminated."""
    vw = Window.partitionBy("user_id").orderBy("version")
    valid_to = F.lead("valid_from_us").over(vw)
    return runs.select(
        "user_id",
        "version",
        "tier",
        "valid_from_us",
        valid_to.alias("valid_to_us"),
        "n_events",
        valid_to.isNull().alias("is_current"),
    )


Q_SCD2_ORACLE = f"""
WITH t AS (
  SELECT user_id, event_id, ts,
         CAST(json_extract_string(props, '$.k') AS BIGINT) // {TIER_WIDTH} AS tier
  FROM events
), g AS (
  SELECT user_id, event_id, ts, tier,
         CASE WHEN lag(tier) OVER w IS NULL OR lag(tier) OVER w <> tier
              THEN 1 ELSE 0 END AS chg
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), v AS (
  SELECT user_id, tier, ts,
         CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS version
  FROM g
), runs AS (
  SELECT user_id, version, min(tier) AS tier,
         CAST(min(epoch_us(ts)) AS BIGINT) AS valid_from_us,
         count(*) AS n_events
  FROM v GROUP BY user_id, version
)
SELECT user_id, version, tier, valid_from_us,
       lead(valid_from_us) OVER vw AS valid_to_us,
       n_events,
       lead(valid_from_us) OVER vw IS NULL AS is_current
FROM runs WINDOW vw AS (PARTITION BY user_id ORDER BY version)
"""


# --- time-series gap filling --------------------------------------------------
def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resampling of the sparse event stream: per type, a
    generated min..max hour grid left-joins the observed hourly
    (count, avg value) frame; missing hours zero-fill the count and
    carry the last observed value forward (LOCF). The regularization
    pass every downstream time-series model (anomaly z-scores, EWMA,
    seasonality fits) assumes has already happened.

    Scale shape: hourly collapse is the only event-scale shuffle; the
    grid explodes from the |types|-row span frame (map-only sequence),
    and the fill join + LOCF window run on hour-count-scale rows."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hb")
    ).agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("v"))
    span = hourly.groupBy("event_type").agg(
        F.min("hb").alias("lo"), F.max("hb").alias("hi")
    )
    grid = span.select(
        "event_type",
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hb"),
    )
    filled = grid.join(hourly, ["event_type", "hb"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "event_type",
        "hb",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.round(F.last("v", ignorenulls=True).over(w), 4).alias("v_locf"),
        F.col("n").isNull().alias("was_gap"),
    )


Q_GAPFILL_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hb, count(*) AS n, avg(value) AS v
  FROM events GROUP BY 1, 2
), span AS (
  SELECT event_type, min(hb) AS lo, max(hb) AS hi FROM hourly GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hb FROM span
), f AS (
  SELECT g.event_type, g.hb, h.n, h.v
  FROM grid g LEFT JOIN hourly h ON h.event_type = g.event_type AND h.hb = g.hb
)
SELECT event_type, hb, coalesce(n, 0) AS n,
       round(last_value(v IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY hb
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS v_locf,
       n IS NULL AS was_gap
FROM f
"""


# --- exponentially weighted moving average ------------------------------------
EWMA_ALPHA = 0.3


def q_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized EWMA (pandas ewm(adjust=True) semantics) of the dense
    hourly count series: ewma_t = Σ_k (1-α)^k·x_{t-k} / Σ_k (1-α)^k over
    the full history — the smoothing baseline a drift monitor subtracts.
    Runs on the gap-filled grid (zero counts included), so the smoothing
    window is genuinely hourly, not observation-indexed.

    Expression shape: the per-row history array comes from ONE ordered
    window (collect_list over the same event_type partitioning as the
    fill join); the weighted fold is a JVM HOF over that array with the
    closed-form denominator (1-(1-α)^n)/α — no Python, no self-join.
    Arrays grow with series length: fine at hour-count scale (the series
    is already one row per hour, not per event)."""
    dense = q_timeseries_gapfill(spark, sf_dir).select("event_type", "hb", "n")
    return ewma_over(dense)


def ewma_over(dense: DataFrame) -> DataFrame:
    """The EWMA core over any (event_type, hb, n) hourly frame — shared by
    the batch query above and the anomaly monitor's smoothed-baseline read
    (streaming/anomaly_stream.py::smoothed_rates), so both smooth
    identically."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hist = dense.withColumn("arr", F.collect_list(F.col("n").cast("double")).over(w))
    a = EWMA_ALPHA
    num = F.expr(
        f"aggregate(transform(sequence(1, size(arr)), i -> pow({1 - a!r}, size(arr) - i) * element_at(arr, i)), cast(0.0 as double), (s, x) -> s + x)"
    )
    den = (1.0 - F.pow(F.lit(1 - a), F.size("arr"))) / F.lit(a)
    return hist.select(
        "event_type", "hb", "n", F.round(num / den, 5).alias("ewma")
    )


Q_EWMA_ORACLE = f"""
WITH f AS ({{gapfill}}
), hist AS (
  SELECT event_type, hb, n,
         list(CAST(n AS DOUBLE)) OVER (
           PARTITION BY event_type ORDER BY hb
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS arr
  FROM f
)
SELECT event_type, hb, n,
       round(
         list_aggregate(
           list_transform(generate_series(1, len(arr)),
                          i -> pow({1 - EWMA_ALPHA!r}, len(arr) - i) * arr[i]),
           'sum')
         / ((1 - pow({1 - EWMA_ALPHA!r}, len(arr))) / {EWMA_ALPHA!r}), 5) AS ewma
FROM hist
"""


# --- OHLC downsampling bars ---------------------------------------------------------
# The financial-style time-series downsample: per (event_type, hour)
# bar with open (first value), high, low, close (last value), event
# count, and mean value — what a metrics store or candlestick rollup
# materializes before charting or anomaly scoring.
#
# Determinism: open/close pick the (ts, event_id)-extreme rows via ONE
# ordered window per key (row_number asc + desc computed in the same
# pass), so ties on ts resolve identically cross-engine; values are the
# stored doubles (bit-identical), only the float mean is rounded.
#
# Scale (100 TB): one (event_type, hour) shuffle; window partitions are
# single bars (bounded by per-hour volume — the sessionization shape);
# the agg collapses map-side. At extreme per-bar volume the window form
# swaps for max_by/min_by structs (same columns, no ordered pass).

def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
        "ts",
        "event_id",
        "value",
    )
    w_asc = Window.partitionBy("event_type", "bar_start").orderBy("ts", "event_id")
    w_desc = Window.partitionBy("event_type", "bar_start").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    marked = ev.select(
        "event_type",
        "bar_start",
        "value",
        F.row_number().over(w_asc).alias("rn_a"),
        F.row_number().over(w_desc).alias("rn_d"),
    )
    return marked.groupBy("event_type", "bar_start").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 6).alias("mean_value"),
    )


Q_OHLC_ORACLE = """
WITH ev AS (
  SELECT event_type,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bar_start,
         ts, event_id, value,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, bar_start,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       count(*) AS n_events,
       round(avg(value), 6) AS mean_value
FROM ev
GROUP BY event_type, bar_start
"""


# --- last-touch conversion attribution ------------------------------------------------
# Marketing-analytics staple: credit each purchase to the LAST preceding
# marketing touch (click/view) by the same user within the attribution
# window, else 'direct'; report conversions, credited revenue, and share
# per channel. The sessionization/funnel family's missing member.
#
# Determinism: the "latest preceding touch" is selected by max() over a
# SORTABLE ENCODED STRING lpad(epoch_us)|lpad(event_id)|channel inside
# one per-user ordered window (frame: unbounded preceding .. 1 preceding)
# — string max is total-ordered identically in both engines, so ts ties
# resolve by event_id with no engine-specific struct-comparison
# semantics. Only the final revenue sum and share are floats (round-6).
#
# Scale (100 TB): ONE user_id shuffle shared by the ordered window; the
# channel rollup collapses map-side to |channels| rows. No self-join of
# the event log against itself (the naive formulation), no correlated
# per-purchase probe.

ATTR_WINDOW_US = 7 * 86400 * 1_000_000  # 7 days
_ATTR_TOUCH = ("click", "view")
_ATTR_CONV = "purchase"


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    mk = F.when(
        F.col("event_type").isin(*_ATTR_TOUCH),
        F.concat_ws(
            "|",
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
            F.col("event_type"),
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    conv = (
        ev.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            "value",
            F.max(mk).over(w).alias("last_mk"),
        )
        .filter(F.col("event_type") == _ATTR_CONV)
        .select(
            "value",
            F.when(
                F.col("last_mk").isNotNull()
                & (
                    F.unix_micros("ts")
                    - F.split("last_mk", "\\|")[0].cast("long")
                    <= ATTR_WINDOW_US
                ),
                F.split("last_mk", "\\|")[2],
            )
            .otherwise(F.lit("direct"))
            .alias("channel"),
        )
    )
    # r14 (guide §6/§2.4): the conversion total was an agg+crossJoin
    # round-trip re-deriving `conv` — the events corpus and its per-user
    # window ran TWICE per run. The total is the sum of the per-channel
    # counts, so it rides a whole-frame window over the |channels|-row
    # aggregate instead: one corpus scan, one window pass.
    w_all = Window.partitionBy()
    return (
        conv.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum("value"), 6).alias("credited_value"),
        )
        .select(
            "channel",
            "n_conversions",
            "credited_value",
            F.round(
                F.col("n_conversions") / F.sum("n_conversions").over(w_all), 6
            ).alias("share"),
        )
    )


Q_ATTRIBUTION_ORACLE = f"""
WITH marked AS (
  SELECT user_id, event_type, ts, event_id, value,
         max(CASE WHEN event_type IN ('click', 'view')
             THEN lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '|' ||
                  lpad(CAST(event_id AS VARCHAR), 12, '0') || '|' || event_type
             END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_mk
  FROM events
), conv AS (
  SELECT value,
         CASE WHEN last_mk IS NOT NULL
                   AND epoch_us(ts) - CAST(string_split(last_mk, '|')[1] AS BIGINT)
                       <= {ATTR_WINDOW_US}
              THEN string_split(last_mk, '|')[3]
              ELSE 'direct' END AS channel
  FROM marked WHERE event_type = '{_ATTR_CONV}'
), total AS (
  SELECT count(*) AS total FROM conv
)
SELECT channel, count(*) AS n_conversions,
       round(sum(value), 6) AS credited_value,
       round(count(*) / (SELECT total FROM total), 6) AS share
FROM conv GROUP BY channel
"""


# --- STL-lite seasonal decomposition + anomaly flags ----------------------------
SEAS_W = 12  # ±12-hour centered moving-average trend window
SEAS_Z = 3.0


def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of the hourly event-rate series per type:
    trend = ±{SEAS_W}h centered moving average, seasonal = mean detrended
    value per (type, hour-of-day), residual = observed − trend − seasonal;
    buckets whose |residual| ≥ {SEAS_Z}·σ(residual) for their type are
    flagged. The seasonality-aware upgrade of `rate_anomaly`: a 9am
    traffic spike that recurs every day is SEASONAL there and anomalous
    here only if it breaks its own daily pattern — the shape every
    ops/data-quality monitor wants once a corpus has diurnal structure.

    Cross-engine determinism: trend is an avg of integer counts (exact
    sums) rounded to 6dp; the seasonal mean runs over residuals quantized
    to integer micro-counts (exact BIGINT sums — accumulation order
    can't move it); only the final σ uses float aggregation, following
    the rate_anomaly precedent (flag flips would need a residual within
    ulps of the 3σ boundary).

    Scale shape: one (type, hour) count exchange (map-side partial, key
    cardinality types × hours); both windows partition by type (+hod) —
    one node-scale sort each, no corpus re-scan; the flag is map-only.
    At 100 TB the hourly frame is ~types × hours rows — trivially small
    relative to the event scan that produces it."""
    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hb")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return decompose_seasonal(per)


def decompose_seasonal(per: DataFrame) -> DataFrame:
    """The STL-lite decomposition core over an (event_type, hb, n)
    hourly-count frame — the batch query above, or the streaming anomaly
    monitor's merged state (`read_hourly_counts`), which flags
    identically (tests/test_streaming_cusum.py)."""
    wt = Window.partitionBy("event_type").orderBy("hb").rowsBetween(-SEAS_W, SEAS_W)
    t = per.withColumn("trend", F.round(F.avg("n").over(wt), 6))
    t = t.withColumn(
        "dt_i", F.round((F.col("n") - F.col("trend")) * 1e6).cast("long")
    ).withColumn("hod", F.hour("hb"))
    ws = Window.partitionBy("event_type", "hod")
    # + 0.0 normalizes IEEE negative zero: Spark's round keeps -0.0 where
    # DuckDB emits 0.0, and the driver's value hash is bit-strict (the
    # sf0.001 grid, where exact-zero residuals are common, caught this)
    t = t.withColumn("seasonal", F.round(F.avg("dt_i").over(ws) / 1e6, 6) + F.lit(0.0))
    t = t.withColumn(
        "residual", F.round(F.col("n") - F.col("trend") - F.col("seasonal"), 6) + F.lit(0.0)
    )
    wz = Window.partitionBy("event_type")
    t = t.withColumn("sd", F.stddev_pop("residual").over(wz))
    return t.select(
        "event_type",
        F.date_format("hb", "yyyy-MM-dd HH:mm:ss").alias("hour_bucket"),
        "n",
        "trend",
        "seasonal",
        "residual",
        ((F.col("sd") > 0) & (F.abs(F.col("residual")) >= F.lit(SEAS_Z) * F.col("sd"))).alias(
            "is_anomaly"
        ),
    )


Q_SEASONAL_ANOMALY_ORACLE = f"""
WITH per AS (
  SELECT event_type, date_trunc('hour', ts) AS hb, count(*) AS n
  FROM events GROUP BY 1, 2
), tr AS (
  SELECT event_type, hb, n,
         round(avg(n) OVER (PARTITION BY event_type ORDER BY hb
                            ROWS BETWEEN {SEAS_W} PRECEDING AND {SEAS_W} FOLLOWING), 6) AS trend
  FROM per
), se AS (
  SELECT *, CAST(round((n - trend) * 1e6) AS BIGINT) AS dt_i,
         extract(hour FROM hb) AS hod
  FROM tr
), se2 AS (
  SELECT *, round(avg(dt_i) OVER (PARTITION BY event_type, hod) / 1e6, 6) + 0.0 AS seasonal
  FROM se
), re AS (
  SELECT *, round(n - trend - seasonal, 6) + 0.0 AS residual FROM se2
), fin AS (
  SELECT *, stddev_pop(residual) OVER (PARTITION BY event_type) AS sd FROM re
)
SELECT event_type, strftime(hb, '%Y-%m-%d %H:%M:%S') AS hour_bucket, n,
       trend, seasonal, residual,
       (sd > 0 AND abs(residual) >= {SEAS_Z} * sd) AS is_anomaly
FROM fin
"""


# --- CUSUM changepoint / drift detection -----------------------------------------
CUSUM_REF_DAYS = 7  # baseline window: the first week per type
CUSUM_SLACK = 0.5  # slack k, in baseline sigmas
CUSUM_H = 5.0  # decision threshold h, in baseline sigmas


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift detector over daily event counts per type:
    baseline (μ, σ) from each type's first {CUSUM_REF_DAYS} days, then
    S⁺_t = max(0, S⁺_(t-1) + (x_t − μ − kσ)) and the mirrored S⁻ track
    slow level shifts; a day with either statistic above hσ is flagged.
    Completes the monitoring ladder: rate_anomaly catches single-bucket
    spikes, seasonal_anomaly catches pattern breaks, CUSUM catches the
    SLOW drift both miss (a source quietly decaying 5%/day) — the Page
    (1954) sequential test every data-freshness monitor reimplements.

    The max(0, ·) recursion is not a window sum, but it factors into
    one: S_t = P_t − min(0, min_(j≤t) P_j) with P the running sum of
    the drift terms — so each side is TWO ordered-window passes over
    the (type, day) frame, no recursion, no UDF. Both engines
    accumulate the running sum in frame order over round-6 terms, so
    the statistic is deterministic cross-engine (σ follows the
    rate_anomaly stddev precedent).

    Scale shape: one (type, day) count exchange (map-side partial, key
    cardinality types × days); baseline stats broadcast back; the two
    window passes sort |types × days| rows — trivial next to the event
    scan. Map-only flags."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return flag_cusum_drift(daily)


def flag_cusum_drift(daily: DataFrame) -> DataFrame:
    """The CUSUM flagging core over an (event_type, day, n) daily-count
    frame — shared by the batch query above and the standing streaming
    monitor (streaming/cusum_stream.py), so both flag identically."""
    # r14 (guide §6/§2.4): the baseline stats were two groupBy+broadcast
    # round-trips, each re-deriving `daily` — for the batch query that
    # meant three event-corpus scans per run. d0 and the first-week
    # (mu, sd) are whole-partition window aggregates over the ONE daily
    # frame instead: a single corpus scan, and the windows ride the same
    # per-type exchange the running sums below already need. mu stays
    # order-exact (avg over longs); sd matches the old form within the
    # round-6 contract, same as the cross-engine oracle already requires.
    w_type = Window.partitionBy("event_type")
    in_ref = F.col("day") < F.col("d0") + F.expr(f"INTERVAL {CUSUM_REF_DAYS} DAYS")
    j = (
        daily.withColumn("d0", F.min("day").over(w_type))
        .withColumn("mu", F.avg(F.when(in_ref, F.col("n"))).over(w_type))
        .withColumn("sd", F.stddev_pop(F.when(in_ref, F.col("n"))).over(w_type))
    )
    yp = F.round(F.col("n") - F.col("mu") - F.lit(CUSUM_SLACK) * F.col("sd"), 6)
    ym = F.round(F.col("mu") - F.col("n") - F.lit(CUSUM_SLACK) * F.col("sd"), 6)
    j = j.select("event_type", "day", "n", "sd", yp.alias("yp"), ym.alias("ym"))
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    j = j.withColumn("pp", F.sum("yp").over(wrun)).withColumn(
        "pm", F.sum("ym").over(wrun)
    )
    j = j.withColumn("mp", F.min("pp").over(wrun)).withColumn(
        "mm", F.min("pm").over(wrun)
    )
    # + 0.0 normalizes IEEE negative zero (the seasonal_anomaly lesson)
    cp = F.round(F.col("pp") - F.least(F.col("mp"), F.lit(0.0)), 6) + F.lit(0.0)
    cm = F.round(F.col("pm") - F.least(F.col("mm"), F.lit(0.0)), 6) + F.lit(0.0)
    return j.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        cp.alias("cusum_pos"),
        cm.alias("cusum_neg"),
        (
            (F.col("sd") > 0)
            & ((cp > F.lit(CUSUM_H) * F.col("sd")) | (cm > F.lit(CUSUM_H) * F.col("sd")))
        ).alias("is_change"),
    )


Q_CUSUM_ORACLE = f"""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
  FROM events GROUP BY 1, 2
), ref AS (
  SELECT d.* FROM daily d
  JOIN (SELECT event_type, min(day) AS d0 FROM daily GROUP BY 1) f USING (event_type)
  WHERE d.day < f.d0 + INTERVAL {CUSUM_REF_DAYS} DAY
), stats AS (
  SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sd FROM ref GROUP BY 1
), y AS (
  SELECT d.event_type, d.day, d.n, s.sd,
         round(d.n - s.mu - {CUSUM_SLACK} * s.sd, 6) AS yp,
         round(s.mu - d.n - {CUSUM_SLACK} * s.sd, 6) AS ym
  FROM daily d JOIN stats s USING (event_type)
), p0 AS (
  SELECT *,
         sum(yp) OVER w AS pp, sum(ym) OVER w AS pm
  FROM y
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), p AS (
  SELECT *,
         min(pp) OVER w AS mp, min(pm) OVER w AS mm
  FROM p0
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
       round(pp - least(mp, 0.0), 6) + 0.0 AS cusum_pos,
       round(pm - least(mm, 0.0), 6) + 0.0 AS cusum_neg,
       (sd > 0 AND (round(pp - least(mp, 0.0), 6) > {CUSUM_H} * sd
                    OR round(pm - least(mm, 0.0), 6) > {CUSUM_H} * sd)) AS is_change
FROM p
"""


# --- first-order Markov transition model -----------------------------------------
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov chain over per-user event sequences: transition
    counts and probabilities P(next | prev) plus each state's outgoing
    entropy — the behavioral model behind next-action prediction,
    session simulation, and funnel-leak diagnosis (a high-entropy state
    is where journeys scatter). Complements user_journey (raw ordered
    paths) and conversion_funnel (one fixed path) with the full
    transition matrix.

    Scale shape: ONE per-user ordered window pass produces (prev, next)
    pairs (the sessionization/scd2 shape — partitions by user, total
    order (ts, event_id) within); the matrix is a |types|² aggregate
    (map-side partial, tiny key space); row totals and entropies
    broadcast back. Entropy sums ≤ |types| rounded doubles — round-6
    output per repo float contract."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev")
    ).where(F.col("prev").isNotNull())
    trans = pairs.groupBy(
        F.col("prev").alias("prev_type"), F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n_trans"))
    # r14 (guide §6/§2.4): row totals and entropies were two
    # groupBy+broadcast round-trips off `trans`, and each consumer
    # re-derived it — up to four corpus window passes per run. Both are
    # per-prev_type aggregates, so they ride ONE whole-partition window
    # over the tiny |types|^2 frame instead: a single corpus pass, and
    # the window exchange moves |types|^2 rows, not events.
    w_prev = Window.partitionBy("prev_type")
    p = F.col("n_trans") / F.sum("n_trans").over(w_prev)
    return trans.select(
        "prev_type",
        "next_type",
        "n_trans",
        F.round(p, 6).alias("p_trans"),
        F.round(-F.sum(p * F.log(p)).over(w_prev), 6).alias("state_entropy"),
    )


Q_MARKOV_ORACLE = """
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         event_type AS next
  FROM events
), trans AS (
  SELECT prev AS prev_type, next AS next_type, count(*) AS n_trans
  FROM pairs WHERE prev IS NOT NULL GROUP BY 1, 2
), tot AS (
  SELECT prev_type, sum(n_trans) AS tot FROM trans GROUP BY 1
), j AS (
  SELECT t.prev_type, t.next_type, t.n_trans,
         CAST(t.n_trans AS DOUBLE) / CAST(o.tot AS DOUBLE) AS p
  FROM trans t JOIN tot o USING (prev_type)
), ent AS (
  SELECT prev_type, round(-sum(p * ln(p)), 6) AS state_entropy FROM j GROUP BY 1
)
SELECT j.prev_type, j.next_type, j.n_trans, round(j.p, 6) AS p_trans, e.state_entropy
FROM j JOIN ent e USING (prev_type)
"""


# --- sequential probability ratio test (SPRT) -------------------------------------
# Wald (1945): the peeking-safe sequential sibling of the fixed-horizon
# z-test (ab_test_conversion) and the bootstrap CI (ab_bootstrap_ci) —
# an experiment platform monitors the LLR walk per arm and stops the
# moment either boundary is crossed instead of waiting out the horizon.
SPRT_P0 = 0.10  # H0 conversion rate
SPRT_P1 = 0.15  # H1 conversion rate
SPRT_ALPHA = 0.05
SPRT_BETA = 0.05


def q_ab_sequential_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per experiment arm: the Wald SPRT log-likelihood-ratio walk over
    users in deterministic arrival order (user_id), the first boundary
    crossing (index + decision), and the final state. The LLR after n
    users is an EXACT function of integer running counts —
    LLR_n = conv_n·ln(p1/p0) + (n − conv_n)·ln((1−p1)/(1−p0)) — so the
    walk is reproducible cross-engine with no accumulation-order
    exposure. Same md5 arm assignment and high-value-purchase conversion
    as ab_test_conversion.

    Scale shape: one per-user aggregate, one per-arm ordered window pass
    (cumulative count + cumulative conversions), a conditional struct-min
    for the first crossing, and a 2-row fold."""
    ev = table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string").cast("binary"))
    arm = F.when(
        (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % 2) == 0, "A"
    ).otherwise("B")
    conv = (F.col("event_type") == "purchase") & (F.col("value") > AB_CONV_VALUE)
    users = (
        ev.groupBy("user_id")
        .agg(F.max(F.when(conv, 1).otherwise(0)).alias("x"))
        .select("user_id", arm.alias("arm"), "x")
    )
    import math

    c1 = math.log(SPRT_P1 / SPRT_P0)
    c0 = math.log((1 - SPRT_P1) / (1 - SPRT_P0))
    ln_a = math.log((1 - SPRT_BETA) / SPRT_ALPHA)
    ln_b = math.log(SPRT_BETA / (1 - SPRT_ALPHA))
    w = (
        Window.partitionBy("arm")
        .orderBy("user_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walk = users.select(
        "arm",
        "x",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("cx"),
    ).withColumn(
        "llr",
        F.col("cx") * F.lit(c1) + (F.col("n") - F.col("cx")) * F.lit(c0),
    )
    crossing = F.when(F.col("llr") >= ln_a, F.lit("accept_h1")).when(
        F.col("llr") <= ln_b, F.lit("accept_h0")
    )
    per_arm = walk.groupBy("arm").agg(
        F.max("n").alias("n_users"),
        F.sum("x").alias("conversions"),
        F.min(F.when(crossing.isNotNull(), F.struct(F.col("n").alias("n"), crossing.alias("d")))).alias("fc"),
    )
    # the final LLR is a closed form of the totals (exact integer counts)
    llr_final = F.col("conversions") * F.lit(c1) + (
        F.col("n_users") - F.col("conversions")
    ) * F.lit(c0)
    return per_arm.select(
        "arm",
        "n_users",
        "conversions",
        F.round(llr_final, 6).alias("llr_final"),
        F.col("fc.n").alias("first_cross_n"),
        F.coalesce(F.col("fc.d"), F.lit("continue")).alias("decision"),
    )


def _sprt_oracle() -> str:
    import math

    c1 = math.log(SPRT_P1 / SPRT_P0)
    c0 = math.log((1 - SPRT_P1) / (1 - SPRT_P0))
    ln_a = math.log((1 - SPRT_BETA) / SPRT_ALPHA)
    ln_b = math.log(SPRT_BETA / (1 - SPRT_ALPHA))
    bucket = (
        "(("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
            for i in range(4)
        )
        + ") % 2)"
    )
    return f"""
WITH users AS (
  SELECT user_id,
         CASE WHEN {bucket} = 0 THEN 'A' ELSE 'B' END AS arm,
         max(CASE WHEN event_type = 'purchase' AND value > {AB_CONV_VALUE} THEN 1 ELSE 0 END) AS x
  FROM events GROUP BY user_id
), walk AS (
  SELECT arm, x,
         count(*) OVER w AS n, sum(x) OVER w AS cx
  FROM users
  WINDOW w AS (PARTITION BY arm ORDER BY user_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), scored AS (
  SELECT arm, x, n,
         cx * CAST({c1!r} AS DOUBLE) + (n - cx) * CAST({c0!r} AS DOUBLE) AS llr,
         CASE WHEN cx * CAST({c1!r} AS DOUBLE) + (n - cx) * CAST({c0!r} AS DOUBLE) >= {ln_a!r} THEN 'accept_h1'
              WHEN cx * CAST({c1!r} AS DOUBLE) + (n - cx) * CAST({c0!r} AS DOUBLE) <= {ln_b!r} THEN 'accept_h0'
         END AS crossing
  FROM walk
)
SELECT arm,
       CAST(max(n) AS BIGINT) AS n_users,
       CAST(sum(x) AS BIGINT) AS conversions,
       round(sum(x) * CAST({c1!r} AS DOUBLE) + (max(n) - sum(x)) * CAST({c0!r} AS DOUBLE), 6) AS llr_final,
       min(CASE WHEN crossing IS NOT NULL THEN n END) AS first_cross_n,
       coalesce((min(CASE WHEN crossing IS NOT NULL THEN struct_pack(n := n, d := crossing) END)).d, 'continue') AS decision
FROM scored GROUP BY arm
"""


# --- Kaplan-Meier retention curve ---------------------------------------------------
KM_CENSOR_DAYS = 1  # active ON the horizon day = censored; this corpus's users
# are DAILY-active, so one quiet day already signals churn (production sets
# this to its own activity cadence; the estimator is unchanged)


def q_survival_km_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of user lifetime (days between
    first and last activity): users still active within {KM_CENSOR_DAYS}
    day(s) of the corpus horizon are CENSORED — the estimator
    retention_cohorts cannot be, because plain retention treats
    still-active users as churned and biases the tail down. Per distinct
    lifetime t: the risk set, churn events, censorings, and
    S(t) = Π_(s≤t) (1 − d_s/n_s).

    Determinism: the product is exp of an ORDERED running sum of
    ln(1 − d/n) over exact integer rationals — frame-ordered in both
    engines, round-6 output; a risk set that dies out (d = n) zeroes the
    curve through an integer flag, never a ln(0).

    Scale shape: one per-user span aggregate (user-scale exchange), a
    1-row horizon broadcast, then ALL curve arithmetic on the ≤|distinct
    lifetimes| frame — the windows sort dozens of rows, not users."""
    ev = table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("f"),
        F.max(F.date_trunc("day", "ts")).alias("l"),
    )
    horizon = ev.agg(F.max(F.date_trunc("day", "ts")).alias("h"))
    tagged = spans.crossJoin(F.broadcast(horizon)).select(
        F.datediff(F.to_date("l"), F.to_date("f")).cast("long").alias("t"),
        (
            F.datediff(F.to_date("h"), F.to_date("l")) < KM_CENSOR_DAYS
        ).cast("int").alias("censored"),
    )
    per_t = tagged.groupBy("t").agg(
        F.sum(F.lit(1) - F.col("censored")).alias("d"),
        F.sum("censored").alias("c"),
    )
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # r14 (guide §6/§2.4): the risk-set total was an agg+crossJoin that
    # re-derived `tagged` — a second events scan + user-scale exchange for
    # ONE number. Every tagged row lands in exactly one per_t group as
    # d or c, so |tagged| = Σ(d+c) over the tiny per_t frame: a
    # whole-frame window on the single partition the ordered curve
    # windows below already use.
    w_all = Window.partitionBy()
    cur = per_t.withColumn(
        "n_at_risk",
        F.sum(F.col("d") + F.col("c")).over(w_all)
        - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0)),
    )
    ln_term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_at_risk")),
        F.log(F.lit(1.0) - F.col("d") / F.col("n_at_risk")),
    ).otherwise(F.lit(0.0))
    died_out = F.max((F.col("d") >= F.col("n_at_risk")).cast("int")).over(wcum)
    cur = cur.withColumn("lsum", F.sum(ln_term).over(wcum)).withColumn("z", died_out)
    return cur.select(
        F.col("t").alias("t_days"),
        "n_at_risk",
        F.col("d").alias("churned"),
        F.col("c").alias("censored"),
        F.when(F.col("z") == 1, F.lit(0.0)).otherwise(F.round(F.exp("lsum"), 6)).alias("survival"),
    )


Q_KM_ORACLE = f"""
WITH spans AS (
  SELECT user_id, min(date_trunc('day', ts)) AS f, max(date_trunc('day', ts)) AS l
  FROM events GROUP BY 1
), horizon AS (SELECT max(date_trunc('day', ts)) AS h FROM events),
tagged AS (
  SELECT CAST(date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) AS BIGINT) AS t,
         CASE WHEN date_diff('day', CAST(l AS DATE), CAST(h AS DATE)) < {KM_CENSOR_DAYS}
              THEN 1 ELSE 0 END AS censored
  FROM spans, horizon
), per_t AS (
  SELECT t, CAST(sum(1 - censored) AS BIGINT) AS d, CAST(sum(censored) AS BIGINT) AS c
  FROM tagged GROUP BY 1
), total AS (SELECT count(*) AS nn FROM tagged),
cur AS (
  SELECT p.*, o.nn,
         CAST(o.nn - coalesce(sum(p.d + p.c) OVER (ORDER BY p.t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
  FROM per_t p, total o
), scored AS (
  SELECT *,
         sum(CASE WHEN d > 0 AND d < n_at_risk THEN ln(1.0 - CAST(d AS DOUBLE) / n_at_risk)
                  ELSE 0.0 END)
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lsum,
         max(CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END)
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS z
  FROM cur
)
SELECT t AS t_days, n_at_risk, d AS churned, c AS censored,
       CASE WHEN z = 1 THEN 0.0 ELSE round(exp(lsum), 6) END AS survival
FROM scored
"""


# --- strict-sequential multi-step funnel ----------------------------------------
# conversion_funnel above answers "did the first click precede the first
# purchase" — two conditional mins. THIS operator is the ordered k-step
# funnel product analytics actually ships (Amplitude/Mixpanel semantics):
# step i counts a user only if the step-i event happens STRICTLY AFTER
# the event that satisfied step i-1, so view→click→purchase with the
# purchase before the click does NOT convert. Strict sequencing is not
# expressible as independent conditional aggregates; the usual SQL is a
# cascade of per-step min-joins. Spark-first form: ONE exchange — per
# user, sort_array(collect_list(ts, type)) then a codegen F.aggregate
# fold that walks the sorted sequence with (stage, last_ts) state,
# advancing only on the next step's type with ts > last_ts. The fold
# computes exactly the cascaded-min fixpoint (each stage takes the
# EARLIEST qualifying event), which is what the oracle's CTE cascade
# checks.
#
# Scale shape (100 TB): one user-keyed exchange; per-user state is the
# event subsequence restricted to the 3 funnel types (bounded by
# per-user activity, the same bound sessionization/user_journey carry);
# the final frame is 3 rows. No joins, no window over the corpus.

_FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_user_stages(ev: DataFrame) -> DataFrame:
    """(user_id, stage) — how far each user got through the strict funnel.
    The shared core: the batch operator aggregates it to step counts, and
    the streaming monitor (streaming/funnel_stream.py) must converge to
    exactly this table (monitor-equals-batch, tested)."""
    ts_type = dict(ev.dtypes)["ts"]
    seqs = (
        ev.where(F.col("event_type").isin(*_FUNNEL_STEPS))
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("ts"), F.col("event_type").alias("et")))
            ).alias("seq")
        )
    )
    acc0 = F.struct(
        F.lit(0).alias("stage"),
        F.lit("1900-01-01 00:00:00").cast(ts_type).alias("t"),
    )

    def walk(acc, x):
        adv = F.lit(False)
        for i, step in enumerate(_FUNNEL_STEPS):
            adv = adv | (
                (acc["stage"] == i) & (x["et"] == step) & (x["ts"] > acc["t"])
            )
        return F.when(
            adv, F.struct((acc["stage"] + 1).alias("stage"), x["ts"].alias("t"))
        ).otherwise(acc)

    return seqs.select(
        "user_id", F.aggregate("seq", acc0, walk).getField("stage").alias("stage")
    )


def q_funnel_steps_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    reached = funnel_user_stages(ev)
    wide = reached.agg(
        F.count(F.lit(1)).alias("n0"),
        *[
            F.sum((F.col("stage") >= i + 1).cast("long")).alias(f"n{i + 1}")
            for i in range(len(_FUNNEL_STEPS))
        ],
    )
    stack = ", ".join(
        f"{i + 1}, '{s}', n{i + 1}, round(CAST(n{i + 1} AS DOUBLE) / n{i}, 6)"
        for i, s in enumerate(_FUNNEL_STEPS)
    )
    return wide.selectExpr(
        f"stack({len(_FUNNEL_STEPS)}, {stack})"
        " AS (step_no, step_name, n_users, pct_of_prev)"
    )


Q_FUNNEL_STRICT_ORACLE = f"""
WITH pool AS (
  SELECT user_id, ts, event_type FROM events
  WHERE event_type IN ({", ".join(f"'{s}'" for s in _FUNNEL_STEPS)})
), tot AS (SELECT count(DISTINCT user_id) AS n0 FROM pool),
s1 AS (
  SELECT user_id, min(ts) AS t1 FROM pool WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY 1
), s2 AS (
  SELECT p.user_id, min(p.ts) AS t2 FROM pool p JOIN s1 USING (user_id)
  WHERE p.event_type = '{_FUNNEL_STEPS[1]}' AND p.ts > s1.t1 GROUP BY 1
), s3 AS (
  SELECT p.user_id, min(p.ts) AS t3 FROM pool p JOIN s2 USING (user_id)
  WHERE p.event_type = '{_FUNNEL_STEPS[2]}' AND p.ts > s2.t2 GROUP BY 1
)
SELECT 1 AS step_no, '{_FUNNEL_STEPS[0]}' AS step_name,
       (SELECT count(*) FROM s1) AS n_users,
       round((SELECT count(*) FROM s1) * 1.0 / (SELECT n0 FROM tot), 6) AS pct_of_prev
UNION ALL
SELECT 2, '{_FUNNEL_STEPS[1]}', (SELECT count(*) FROM s2),
       round((SELECT count(*) FROM s2) * 1.0 / (SELECT count(*) FROM s1), 6)
UNION ALL
SELECT 3, '{_FUNNEL_STEPS[2]}', (SELECT count(*) FROM s3),
       round((SELECT count(*) FROM s3) * 1.0 / (SELECT count(*) FROM s2), 6)
"""


QUERIES = [
    QuerySpec("funnel_steps_strict", q_funnel_steps_strict, Q_FUNNEL_STRICT_ORACLE, "strictly-ordered 3-step funnel (view->click->purchase): single-exchange sorted fold vs cascaded-min oracle", ("eventlog", "analytics")),
    QuerySpec("survival_km_retention", q_survival_km_retention, Q_KM_ORACLE, "Kaplan-Meier user-lifetime survival curve with last-week censoring", ("eventlog", "analytics")),
    QuerySpec("ab_sequential_sprt", q_ab_sequential_sprt, _sprt_oracle(), "Wald SPRT sequential A/B test: LLR walk, first boundary crossing, decision per arm", ("eventlog", "analytics")),
    QuerySpec("markov_transitions", q_markov_transitions, Q_MARKOV_ORACLE, "first-order Markov transition matrix + per-state entropy over user event sequences", ("eventlog",)),
    QuerySpec("cusum_changepoint", q_cusum_changepoint, Q_CUSUM_ORACLE, "two-sided CUSUM drift detector over daily event rates (prefix-sum/running-min form)", ("eventlog", "monitoring")),
    QuerySpec("seasonal_anomaly", q_seasonal_anomaly, Q_SEASONAL_ANOMALY_ORACLE, "STL-lite trend/seasonal/residual decomposition with 3-sigma anomaly flags", ("eventlog", "monitoring")),
    QuerySpec("attribution_last_touch", q_attribution_last_touch, Q_ATTRIBUTION_ORACLE, "last-touch conversion attribution within a 7-day window: one per-user ordered pass", ("eventlog", "experiment")),
    QuerySpec("ohlc_bars", q_ohlc_bars, Q_OHLC_ORACLE, "OHLC downsampling bars per (event_type, hour): one ordered pass + map-side agg", ("eventlog", "timeseries")),
    QuerySpec("timeseries_gapfill", q_timeseries_gapfill, Q_GAPFILL_ORACLE, "dense hourly resample: zero-filled counts + LOCF values over a generated grid", ("eventlog", "timeseries")),
    QuerySpec("ewma_hourly", q_ewma_hourly, Q_EWMA_ORACLE.format(gapfill=Q_GAPFILL_ORACLE), "normalized EWMA smoothing over the gap-filled hourly series (HOF weighted fold)", ("eventlog", "timeseries")),
    QuerySpec("scd2_user_tiers", q_scd2_user_tiers, Q_SCD2_ORACLE, "changelog -> SCD2 versioned dimension (run collapse + interval chaining)", ("eventlog", "window")),
    QuerySpec("retention_cohorts", q_retention_cohorts, Q_RETENTION_ORACLE, "weekly cohort retention triangle", ("eventlog",)),
    QuerySpec("replay_scan", q_replay_scan, Q_REPLAY_ORACLE, "S14: cursor time-range scan + filters", ("eventlog",)),
    QuerySpec("subscribe_filter", q_subscribe_filter, Q_SUBSCRIBE_ORACLE, "S17: subscription filter with bypass rule", ("eventlog",)),
    QuerySpec("monotonic_delivery", q_monotonic_delivery, Q_MONOTONIC_ORACLE, "S18: monotonic cursor delivery", ("eventlog",)),
    QuerySpec("per_key_ordering", q_per_key_ordering, Q_PER_KEY_ORACLE, "S25: per-key ordered processing", ("eventlog",)),
    QuerySpec("tumbling_window_hourly", q_tumbling_window, Q_TUMBLING_ORACLE, "tumbling window agg (batch form)", ("window", "eventlog")),
    QuerySpec("hopping_window_hourly", q_hopping_window, Q_HOPPING_ORACLE, "hopping/sliding window agg (batch form)", ("window", "eventlog")),
    QuerySpec("sessionization", q_sessionization, Q_SESSION_ORACLE, "gap-based session windows (batch form)", ("window", "eventlog")),
    QuerySpec("asof_join_purchases", q_asof_join, Q_ASOF_ORACLE, "as-of join via union+running-last (no join blow-up)", ("join", "eventlog")),
    QuerySpec("json_props_stats", q_json_props, Q_JSON_ORACLE, "schema-on-read JSON payload stats", ("scalar", "eventlog")),
    QuerySpec("variant_props_stats", q_variant_props, Q_VARIANT_ORACLE, "VARIANT payload path: parse_json once + typed variant_get reads", ("scalar", "eventlog")),
    QuerySpec("geomean_value", q_geomean_value, Q_GEOMEAN_ORACLE, "grouped-agg pandas UDF (UDAF surface)", ("agg", "eventlog")),
    QuerySpec("conversion_funnel", q_conversion_funnel, Q_FUNNEL_ORACLE, "funnel via conditional min-agg", ("eventlog",)),
    QuerySpec("rate_anomaly", q_rate_anomaly, Q_RATE_ANOMALY_ORACLE, "hourly event-rate z-score anomalies (per-type stats broadcast back)", ("eventlog", "monitoring")),
    QuerySpec("ab_test_conversion", q_ab_test_conversion, Q_AB_TEST_ORACLE, "two-proportion z-test over deterministic md5 user arms", ("eventlog", "experiment")),
    QuerySpec("ab_bootstrap_ci", q_ab_bootstrap_ci, Q_AB_BOOT_ORACLE, "deterministic Poisson-bootstrap CI for the conversion lift (no RNG state)", ("eventlog", "experiment")),
]
