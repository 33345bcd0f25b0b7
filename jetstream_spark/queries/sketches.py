"""Mergeable sketch operators (SURVEY.md §2.3 extensions).

Count-min sketch over the corpus term stream: D=4 hash rows x W=1024
buckets, hashes derived from md5 (engine-independent — the same fold
arithmetic as `sample_split`'s bucket), so unlike HLL/approx_percentile
(engine-specific estimators, error-bound-tested in tests/test_operators)
the CMS estimate is a DETERMINISTIC function of the data and carries an
exact SQL oracle.

Scale notes (100 TB): the sketch build is the canonical mergeable-partial
shape — explode tokens x D rows, partial-count map-side, one shuffle to
<= D*W rows. The sketch table (<=4096 rows) broadcasts back for probing;
heavy-hitter selection is a distributed top-k (TakeOrderedAndProject).
CMS guarantee (estimate >= true count) is asserted corpus-wide in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jetstream_spark.queries.spec import QuerySpec
from jetstream_spark.queries.text import _TOKENS_SQL, _tokens
from jetstream_spark.tables import table

CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_TOP_N = 20


def _cms_bucket(j: F.Column, term: F.Column) -> F.Column:
    """bucket_j(term) = first-4-hex(md5(j || ':' || term)) mod W —
    16 bits folded mod 1024, engine-independent."""
    h = F.md5(F.concat(j.cast("string"), F.lit(":"), term).cast("binary"))
    return (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % CMS_WIDTH)


def _cms_bucket_sql(j_expr: str, term_expr: str) -> str:
    md5_arg = f"CAST({j_expr} AS VARCHAR) || ':' || {term_expr}"
    return (
        "(("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr(md5({md5_arg}), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
            for i in range(4)
        )
        + f") % {CMS_WIDTH})"
    )


def cms_estimates(terms: DataFrame) -> DataFrame:
    """(term, exact_count, cms_estimate, overcount) for the CMS_TOP_N
    heavy hitters of a (term) stream; the estimate is min over the D
    hash rows of that row's bucket count.

    r14 (guide §2.2/§6): the sketch used to fan the CORPUS-scale term
    stream ×D hash rows through the (j, b) exchange, and the exact counts
    re-derived the same stream — two corpus passes and a D×corpus
    shuffle. A CMS bucket count is EXACTLY the sum of the exact counts of
    the terms hashing into it, so the sketch now re-aggregates the
    vocab-scale exact frame (lazily checkpointed in-run: the sketch, the
    top-N, and the probe all consume it): one corpus pass, and the
    (j, b) exchange moves vocab×D rows, not corpus×D."""
    spark = terms.sparkSession
    js = spark.range(CMS_DEPTH).select(F.col("id").cast("int").alias("j"))
    exact = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .localCheckpoint(eager=False)
    )
    keyed = exact.crossJoin(F.broadcast(js)).select(
        "term", "j", _cms_bucket(F.col("j"), F.col("term")).alias("b"), "exact_count"
    )
    sketch = keyed.groupBy("j", "b").agg(F.sum("exact_count").alias("bucket_count"))
    top = exact.orderBy(F.desc("exact_count"), "term").limit(CMS_TOP_N)
    probe = top.crossJoin(F.broadcast(js)).select(
        "term", "exact_count", "j", _cms_bucket(F.col("j"), F.col("term")).alias("b")
    )
    return (
        probe.join(F.broadcast(sketch), ["j", "b"])
        .groupBy("term", "exact_count")
        .agg(F.min("bucket_count").alias("cms_estimate"))
        .select(
            "term",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overcount"),
        )
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    terms = docs.select(F.explode(_tokens()).alias("term"))
    return cms_estimates(terms)


_J_SERIES = ", ".join(str(j) for j in range(CMS_DEPTH))

Q_CMS_ORACLE = f"""
WITH terms AS (
  SELECT unnest({_TOKENS_SQL}) AS term FROM documents
), js AS (
  SELECT unnest([{_J_SERIES}]) AS j
), keyed AS (
  SELECT term, j, {_cms_bucket_sql('j', 'term')} AS b FROM terms CROSS JOIN js
), sketch AS (
  SELECT j, b, count(*) AS bucket_count FROM keyed GROUP BY j, b
), exact AS (
  SELECT term, count(*) AS exact_count FROM terms GROUP BY term
), top AS (
  SELECT term, exact_count FROM exact ORDER BY exact_count DESC, term LIMIT {CMS_TOP_N}
), probe AS (
  SELECT t.term, t.exact_count, js.j, {_cms_bucket_sql('js.j', 't.term')} AS b
  FROM top t CROSS JOIN js
)
SELECT p.term, p.exact_count,
       min(s.bucket_count) AS cms_estimate,
       min(s.bucket_count) - p.exact_count AS overcount
FROM probe p JOIN sketch s ON s.j = p.j AND s.b = p.b
GROUP BY p.term, p.exact_count
"""


# ---------------------------------------------------------------------------
# Theta/KMV sketch set operations (union / intersection / difference of
# distinct-count sketches — the DataSketches theta-sketch algebra, e.g.
# Apache DataSketches ThetaSketch; reference has no sketch layer, this is
# a §2.3 extension).
#
# Sets: distinct active user-DAYS per event type ('click' vs 'purchase') —
# user sets alone fully overlap in the synthetic data, user-days only
# partially do, so the intersection/difference estimates are non-trivial.
#
# Determinism: element hash = first 12 hex chars of md5(key) as a 48-bit
# integer (the same strpos-fold contract the CMS/bloom ops use), so sketch
# contents, thetas, and estimates are pure integer functions of the data;
# the only float op is one final (cnt*SCALE)/theta division, written with
# identical association in both engines and rounded to 4 digits.
#
# Scale (100 TB): the element stream collapses map-side — distinct
# (set, user, day) partial-aggregates before any shuffle, so the one
# per-set bottom-k window shuffles only DISTINCT elements (bounded by
# true cardinality, not event volume). At extreme cardinality the
# bottom-k admits a sound pre-filter, h < SCALE * (4K / n_lower) for any
# cardinality lower bound n_lower (the true k-th min concentrates near
# SCALE*K/n), shrinking the shuffle to O(K) rows per set. Everything
# after the sketches is algebra on <= 2*K rows.
# ---------------------------------------------------------------------------

KMV_K = 256
_KMV_SCALE = 2**48  # 12 hex chars
_KMV_A, _KMV_B = "click", "purchase"


def _kmv_hash(key: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(key.cast("binary")), 1, 12), 16, 10).cast("long")


_KMV_HASH_SQL_KEY = "CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS DATE) AS VARCHAR)"


def _kmv_hash_sql(key_expr: str) -> str:
    return (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr(md5({key_expr}), {i + 1}, 1)) - 1) * {16 ** (11 - i)}"
            for i in range(12)
        )
        + ")"
    )


def q_sketch_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra: KMV distinct-count sketches for two user-day
    sets plus union / intersection / difference estimates, each against the
    exact distinct count.

    est(X, theta) = |{h in X : h < theta}| * SCALE / theta; base sets use
    theta = k-th smallest hash (SCALE when unsaturated), pairwise ops use
    theta_u = min(theta_a, theta_b) with the union re-saturating to its own
    k-th order statistic — the standard theta-sketch rules.
    """
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    keyed = (
        ev.filter(F.col("event_type").isin(_KMV_A, _KMV_B))
        .select(
            F.col("event_type").alias("s"),
            F.concat_ws(
                ":", F.col("user_id").cast("string"), F.to_date("ts").cast("string")
            ).alias("key"),
        )
        .distinct()
    )
    hashed = keyed.select("s", _kmv_hash(F.col("key")).alias("h")).distinct()
    w = Window.partitionBy("s").orderBy("h")
    # r14 (guide §6): the sketch frame is <=2·KMV_K rows but every
    # downstream branch (thetas, merged-union flags, base counts) used to
    # re-derive it — the corpus scan, the distinct exchanges, and the
    # per-set hash sort ran up to 6x per run (before-plan: 8 corpus
    # scans). A lazy in-run localCheckpoint of the <=2K-row sketch runs
    # that chain ONCE; the 1-row exact-count frame below gets the same
    # cut for the two output branches that cross-join it.
    sk = (
        hashed.select("s", "h", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= KMV_K)
        .select("s", "h")
        .localCheckpoint(eager=False)
    )
    th = sk.groupBy("s").agg(F.count(F.lit(1)).alias("n"), F.max("h").alias("mx"))
    th = th.select(
        "s",
        F.when(F.col("n") == KMV_K, F.col("mx"))
        .otherwise(F.lit(_KMV_SCALE))
        .cast("long")
        .alias("theta"),
    )
    # 1-row theta frame: theta_a, theta_b, theta_u
    trow = (
        th.groupBy()
        .agg(
            F.max(F.when(F.col("s") == _KMV_A, F.col("theta"))).alias("theta_a"),
            F.max(F.when(F.col("s") == _KMV_B, F.col("theta"))).alias("theta_b"),
        )
        .select(
            "theta_a", "theta_b", F.least("theta_a", "theta_b").alias("theta_u")
        )
    )
    flags = sk.groupBy("h").agg(
        F.max(F.col("s") == _KMV_A).alias("in_a"),
        F.max(F.col("s") == _KMV_B).alias("in_b"),
    )
    fl = flags.crossJoin(F.broadcast(trow))  # <=2K rows x 1 row
    # union re-saturation: k-th smallest of the merged hashes below theta_u
    wu = Window.orderBy("h")  # bounded: <= 2K rows survive the filter
    mu = (
        fl.filter(F.col("h") < F.col("theta_u"))
        .select("h", "in_a", "in_b", "theta_u", F.row_number().over(wu).alias("rn"))
    )
    theta_u2 = (
        mu.groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_mu"),
            F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).alias("kth"),
            F.max("theta_u").alias("theta_u"),
        )
        .select(
            F.when(F.col("n_mu") >= KMV_K, F.col("kth"))
            .otherwise(F.col("theta_u"))
            .cast("long")
            .alias("theta_u2")
        )
    )
    counts = (
        mu.crossJoin(F.broadcast(theta_u2))
        .groupBy()
        .agg(
            F.max("theta_u").alias("theta_u"),
            F.max("theta_u2").alias("theta_u2"),
            F.sum(F.when(F.col("h") < F.col("theta_u2"), 1).otherwise(0)).alias("c_u"),
            F.sum(F.when(F.col("in_a") & F.col("in_b"), 1).otherwise(0)).alias("c_i"),
            F.sum(F.when(F.col("in_a") & ~F.col("in_b"), 1).otherwise(0)).alias("c_d"),
        )
    )
    base_cnt = (
        sk.join(th, "s")
        .groupBy("s")
        .agg(
            F.max("theta").alias("theta"),
            F.sum(F.when(F.col("h") < F.col("theta"), 1).otherwise(0)).alias("cnt"),
        )
    )
    exact = keyed.groupBy("key").agg(
        F.max(F.col("s") == _KMV_A).alias("ia"),
        F.max(F.col("s") == _KMV_B).alias("ib"),
    )
    exacts = (
        exact.groupBy()
        .agg(
            F.sum(F.when(F.col("ia"), 1).otherwise(0)).alias("x_a"),
            F.sum(F.when(F.col("ib"), 1).otherwise(0)).alias("x_b"),
            F.count(F.lit(1)).alias("x_u"),
            F.sum(F.when(F.col("ia") & F.col("ib"), 1).otherwise(0)).alias("x_i"),
            F.sum(F.when(F.col("ia") & ~F.col("ib"), 1).otherwise(0)).alias("x_d"),
        )
        .localCheckpoint(eager=False)
    )

    def est(cnt: F.Column, theta: F.Column) -> F.Column:
        return F.round((cnt * F.lit(_KMV_SCALE)) / theta, 4)

    base = (
        base_cnt.crossJoin(F.broadcast(exacts))
        .select(
            F.col("s").alias("setop"),
            est(F.col("cnt"), F.col("theta")).alias("kmv_estimate"),
            F.when(F.col("s") == _KMV_A, F.col("x_a"))
            .otherwise(F.col("x_b"))
            .cast("long")
            .alias("exact_count"),
        )
    )
    ops = (
        counts.crossJoin(F.broadcast(exacts))
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("union").alias("setop"),
                        est(F.col("c_u"), F.col("theta_u2")).alias("kmv_estimate"),
                        F.col("x_u").cast("long").alias("exact_count"),
                    ),
                    F.struct(
                        F.lit("intersect").alias("setop"),
                        est(F.col("c_i"), F.col("theta_u")).alias("kmv_estimate"),
                        F.col("x_i").cast("long").alias("exact_count"),
                    ),
                    F.struct(
                        F.lit("diff_a_minus_b").alias("setop"),
                        est(F.col("c_d"), F.col("theta_u")).alias("kmv_estimate"),
                        F.col("x_d").cast("long").alias("exact_count"),
                    ),
                )
            ).alias("r")
        )
        .select("r.setop", "r.kmv_estimate", "r.exact_count")
    )
    out = base.unionByName(ops)
    return out.select(
        "setop",
        "kmv_estimate",
        "exact_count",
        F.round(
            (F.col("kmv_estimate") - F.col("exact_count")) / F.col("exact_count"), 4
        ).alias("rel_error"),
    )


_KMV_HASH_FOLD = _kmv_hash_sql("key")

Q_THETA_ORACLE = f"""
WITH keyed AS (
  SELECT DISTINCT event_type AS s, {_KMV_HASH_SQL_KEY} AS key
  FROM events WHERE event_type IN ('{_KMV_A}', '{_KMV_B}')
), hashed AS (
  SELECT DISTINCT s, {_KMV_HASH_FOLD} AS h FROM keyed
), sk AS (
  SELECT s, h FROM (
    SELECT s, h, row_number() OVER (PARTITION BY s ORDER BY h) AS rn FROM hashed
  ) WHERE rn <= {KMV_K}
), th AS (
  SELECT s, CAST(CASE WHEN count(*) = {KMV_K} THEN max(h) ELSE {_KMV_SCALE} END AS BIGINT) AS theta
  FROM sk GROUP BY s
), trow AS (
  SELECT max(CASE WHEN s = '{_KMV_A}' THEN theta END) AS theta_a,
         max(CASE WHEN s = '{_KMV_B}' THEN theta END) AS theta_b,
         least(max(CASE WHEN s = '{_KMV_A}' THEN theta END),
               max(CASE WHEN s = '{_KMV_B}' THEN theta END)) AS theta_u
  FROM th
), flags AS (
  SELECT h, bool_or(s = '{_KMV_A}') AS in_a, bool_or(s = '{_KMV_B}') AS in_b
  FROM sk GROUP BY h
), mu AS (
  SELECT h, in_a, in_b, theta_u, row_number() OVER (ORDER BY h) AS rn
  FROM flags CROSS JOIN trow WHERE h < theta_u
), theta_u2 AS (
  SELECT CAST(CASE WHEN count(*) >= {KMV_K}
              THEN max(CASE WHEN rn = {KMV_K} THEN h END)
              ELSE max(theta_u) END AS BIGINT) AS theta_u2
  FROM mu
), counts AS (
  SELECT max(theta_u) AS theta_u, max(theta_u2) AS theta_u2,
         sum(CASE WHEN h < theta_u2 THEN 1 ELSE 0 END) AS c_u,
         sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS c_i,
         sum(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS c_d
  FROM mu CROSS JOIN theta_u2
), base_cnt AS (
  SELECT sk.s, max(th.theta) AS theta,
         sum(CASE WHEN sk.h < th.theta THEN 1 ELSE 0 END) AS cnt
  FROM sk JOIN th ON th.s = sk.s GROUP BY sk.s
), exact AS (
  SELECT key, bool_or(s = '{_KMV_A}') AS ia, bool_or(s = '{_KMV_B}') AS ib
  FROM keyed GROUP BY key
), exacts AS (
  SELECT sum(CASE WHEN ia THEN 1 ELSE 0 END) AS x_a,
         sum(CASE WHEN ib THEN 1 ELSE 0 END) AS x_b,
         count(*) AS x_u,
         sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS x_i,
         sum(CASE WHEN ia AND NOT ib THEN 1 ELSE 0 END) AS x_d
  FROM exact
), unioned AS (
  SELECT s AS setop, round((cnt * {_KMV_SCALE}) / theta, 4) AS kmv_estimate,
         CAST(CASE WHEN s = '{_KMV_A}' THEN (SELECT x_a FROM exacts)
                   ELSE (SELECT x_b FROM exacts) END AS BIGINT) AS exact_count
  FROM base_cnt
  UNION ALL
  SELECT 'union', round((c_u * {_KMV_SCALE}) / theta_u2, 4),
         CAST((SELECT x_u FROM exacts) AS BIGINT) FROM counts
  UNION ALL
  SELECT 'intersect', round((c_i * {_KMV_SCALE}) / theta_u, 4),
         CAST((SELECT x_i FROM exacts) AS BIGINT) FROM counts
  UNION ALL
  SELECT 'diff_a_minus_b', round((c_d * {_KMV_SCALE}) / theta_u, 4),
         CAST((SELECT x_d FROM exacts) AS BIGINT) FROM counts
)
SELECT setop, kmv_estimate, exact_count,
       round((kmv_estimate - exact_count) / exact_count, 4) AS rel_error
FROM unioned
"""


# --- mergeable bottom-k quantile sketch ------------------------------------------
# The quantile member of the sketch suite (CMS = frequencies, HLL/KMV =
# distincts, this = distribution shape): keep the K rows whose md5 rank
# is smallest — a deterministic uniform sample that is EXACTLY mergeable
# (bottom-k of a union == bottom-k of the concatenated per-split
# bottom-k's, pinned in tests/test_r7_ops.py) —
# and read quantiles off the sample. The engine-side selection is a
# TakeOrdered(K) (no global sort); the exact column is the audit tier a
# production run samples or drops. Estimator error follows the order-
# statistics bound: rank error ~ sqrt(p(1-p)/K), pinned in tests.

QSK_K = 512
QSK_PS = (0.1, 0.25, 0.5, 0.75, 0.9, 0.99)


def _qsk_rank(key: F.Column) -> F.Column:
    """64-bit-ish md5 rank: first 8 hex chars → int in [0, 16^8)."""
    h = F.md5(key.cast("string").cast("binary"))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


_QSK_RANK_SQL_KEY = "CAST(k AS VARCHAR)"
_QSK_RANK_SQL = (
    "("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({_QSK_RANK_SQL_KEY}), {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    + ")"
)


def bottomk_sample(df: DataFrame, key: str, k: int = QSK_K) -> DataFrame:
    """The sketch itself: the k rows with the smallest (md5-rank, key).
    Mergeable by construction; exposed for the merge-equality test."""
    return df.withColumn("h", _qsk_rank(F.col(key))).orderBy("h", key).limit(k)


def q_sketch_quantile_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("k"),
        F.col("l_extendedprice").alias("x"),
    )
    samp = bottomk_sample(li, "k")
    # ONE array-percentile aggregate per side: six scalar percentile()
    # aggs each buffer the whole column independently (measured 14.1 s
    # for the exact side at sf0.1 vs 2.4 s for the single array form)
    ps = ", ".join(str(p) for p in QSK_PS)
    est = samp.agg(F.expr(f"percentile(x, array({ps}))").alias("ea"))
    exact = li.agg(F.expr(f"percentile(x, array({ps}))").alias("xa"))
    # lineage cut: the 6-row output unions 6 selects over this 1-row
    # frame; without the cut each union branch re-executes the whole
    # sample + exact-percentile pipeline
    j = est.crossJoin(exact).localCheckpoint(eager=False)
    out = None
    for i, p in enumerate(QSK_PS):
        r = j.select(
            F.lit(float(p)).alias("p"),
            F.round(F.col("ea")[i], 4).alias("est"),
            F.round(F.col("xa")[i], 4).alias("exact"),
        )
        out = r if out is None else out.unionByName(r)
    return out.select(
        "p",
        "est",
        "exact",
        F.round(F.abs(F.col("est") - F.col("exact")) / F.col("exact"), 6).alias("rel_err"),
    )


def _qsk_oracle() -> str:
    ps = ", ".join(str(p) for p in QSK_PS)
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({p} AS DOUBLE) AS p, round(ea[{i + 1}], 4) AS est,"
        f" round(xa[{i + 1}], 4) AS exact,"
        f" round(abs(round(ea[{i + 1}], 4) - round(xa[{i + 1}], 4)) / round(xa[{i + 1}], 4), 6) AS rel_err"
        f" FROM est, ex"
        for i, p in enumerate(QSK_PS)
    )
    return f"""
WITH s AS (
  SELECT l_extendedprice AS x, l_orderkey * 10 + l_linenumber AS k FROM lineitem
), ranked AS (
  SELECT x, k, {_QSK_RANK_SQL} AS h FROM s
), samp AS (
  SELECT x FROM ranked ORDER BY h, k LIMIT {QSK_K}
), est AS (SELECT quantile_cont(x, [{ps}]) AS ea FROM samp),
ex AS (SELECT quantile_cont(x, [{ps}]) AS xa FROM s)
{union}
"""


QUERIES = [
    QuerySpec("sketch_quantile_bottomk", q_sketch_quantile_bottomk, _qsk_oracle(), "mergeable bottom-k (md5-rank) quantile sketch vs exact percentiles", ("sketch",)),
    QuerySpec("cms_heavy_hitters", q_cms_heavy_hitters, Q_CMS_ORACLE, "deterministic count-min sketch vs exact heavy hitters", ("sketch", "text")),
    QuerySpec("sketch_theta_setops", q_sketch_theta_setops, Q_THETA_ORACLE, "theta/KMV sketch set algebra: union/intersect/difference distinct estimates vs exact", ("sketch", "eventlog")),
]
