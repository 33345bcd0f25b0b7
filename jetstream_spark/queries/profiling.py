"""Data-profiling, integrity-audit, and graph/sketch operators
(SURVEY.md §2.3 extensions — the "know your corpus before you train on
it" family that complements the monitoring ops in eventlog/sampling).

All are declarative DataFrame plans with exact DuckDB oracles except the
zlib compression-ratio signal (rows-only; no SQL zlib — pinned by a
pure-Python equality test instead).

Scale notes (100 TB):
- column profiling is one wide aggregate pass; the exact per-column
  distinct counts here are the oracle-parity form — at corpus scale you
  swap `count_distinct` for `approx_count_distinct` (HLL++) column by
  column without touching the plan shape.
- the FK audit is one broadcast-sized key join per relation (parent key
  sets are dimension-scale); child tables stream through map-side.
- the HLL sketch builds registers with ONE (group, bucket) shuffle of
  ≤ groups×m rows — the mergeable-partial shape shared with the CMS
  sketch; integer-scaled register sums keep the estimate bit-identical
  regardless of partitioning/accumulation order.
- the fuzzy (edit-distance) join is distinct-first (the head of a
  skewed string column collapses before any pairing), then a lossless
  two-band candidate generation: q-gram inverted join for long strings,
  a length-band join for short ones; only candidates pay levenshtein.
- PageRank iterations are the canonical join+agg loop: ranks (node-
  scale, small) broadcast against the edge list each round — no
  all-pairs, no driver materialization beyond the 1-row node count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jetstream_spark.queries.spec import QuerySpec
from jetstream_spark.tables import table

# --- column profiling ---------------------------------------------------------

_LINEITEM_COLS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
)


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null/distinct profile of lineitem — the ANALYZE-style
    pass a pipeline runs when a new drop lands. Unpivot-first: stack every
    row into (column_name, value-as-string) pairs and run ONE grouped
    distinct aggregate — measured 3.5x cheaper than 11 simultaneous
    count_distincts, whose Expand plan dedups an 11-wide normalized key.
    The string cast is injective per column type here (one type per
    column; no -0.0 in the data), so distinct counts equal the oracle's
    raw-value counts; approx_count_distinct is the same-plan 100 TB swap.
    """
    li = table(spark, sf_dir, "lineitem")
    stack = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in _LINEITEM_COLS)
    up = li.selectExpr(f"stack({len(_LINEITEM_COLS)}, {stack}) AS (column_name, v)")
    return up.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("v")).alias("n_nulls"),
        F.count_distinct("v").alias("n_distinct"),
    )


Q_PROFILE_COLUMNS_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS column_name, count(*) AS n_rows,"
    f" count(*) - count({c}) AS n_nulls,"
    f" count(DISTINCT {c}) AS n_distinct FROM lineitem"
    for c in _LINEITEM_COLS
)


_NUMERIC_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_profile_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg/stddev_pop profile of lineitem's numeric columns,
    one aggregate pass, unpivoted to a row per column."""
    li = table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _NUMERIC_COLS:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.round(F.avg(c), 4).alias(f"avg_{c}"),
            F.round(F.stddev_pop(c), 4).alias(f"std_{c}"),
        ]
    one = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', min_{c}, max_{c}, avg_{c}, std_{c}" for c in _NUMERIC_COLS
    )
    return one.selectExpr(
        f"stack({len(_NUMERIC_COLS)}, {stack})"
        " AS (column_name, min_val, max_val, avg_val, std_val)"
    )


Q_PROFILE_NUMERIC_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS column_name, min({c}) AS min_val, max({c}) AS max_val,"
    f" round(avg({c}), 4) AS avg_val, round(stddev_pop({c}), 4) AS std_val"
    " FROM lineitem"
    for c in _NUMERIC_COLS
)


# --- histogram profile --------------------------------------------------------
HIST_BINS = 10


def q_profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width {HIST_BINS}-bin histograms for lineitem's numeric
    columns — the distribution half of the ANALYZE pass (min/max/avg say
    nothing about shape). width_bucket over the per-column min/max from
    one stats pass; bin counting is a map-side-partial aggregate over a
    (column, bin) key space of |cols|x(bins+2)."""
    li = table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _NUMERIC_COLS:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    bounds = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', CAST({c} AS DOUBLE), CAST(min_{c} AS DOUBLE), CAST(max_{c} AS DOUBLE)"
        for c in _NUMERIC_COLS
    )
    # the bin formula is written out identically on both engines (instead
    # of width_bucket, whose boundary arithmetic is implementation-defined)
    # so IEEE rounding at bin edges cannot differ: the SAME expression
    # tree evaluates on the same doubles
    bin_expr = (
        f"CAST(least(CAST({HIST_BINS} AS BIGINT),"
        f" CAST(floor((v - lo) / (hi - lo) * {HIST_BINS}) AS BIGINT)) + 1 AS BIGINT)"
    )
    binned = li.crossJoin(F.broadcast(bounds)).selectExpr(
        f"stack({len(_NUMERIC_COLS)}, {stack}) AS (column_name, v, lo, hi)"
    ).select("column_name", F.expr(bin_expr).alias("bin"))
    return binned.groupBy("column_name", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )


def _hist_bin_sql(c: str) -> str:
    v = f"CAST(l.{c} AS DOUBLE)"
    lo, hi = f"CAST(b.min_{c} AS DOUBLE)", f"CAST(b.max_{c} AS DOUBLE)"
    return (
        f"CAST(least(CAST({HIST_BINS} AS BIGINT),"
        f" CAST(floor(({v} - {lo}) / ({hi} - {lo}) * {HIST_BINS}) AS BIGINT)) + 1 AS BIGINT)"
    )


Q_PROFILE_HISTOGRAM_ORACLE = f"""
WITH bounds AS (
  SELECT {", ".join(f"min({c}) AS min_{c}, max({c}) AS max_{c}" for c in _NUMERIC_COLS)}
  FROM lineitem
), binned AS (
  {" UNION ALL ".join(
    f"SELECT '{c}' AS column_name, {_hist_bin_sql(c)} AS bin"
    f" FROM lineitem l CROSS JOIN bounds b"
    for c in _NUMERIC_COLS
  )}
)
SELECT column_name, bin, count(*) AS n FROM binned GROUP BY column_name, bin
"""


# --- join-key skew profile ----------------------------------------------------

_SKEW_KEYS = ("l_orderkey", "l_partkey", "l_suppkey")


def q_profile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile of the fact table: distinct keys, the
    heaviest key's row share, and the p99/avg frequency ratio — the
    numbers that decide broadcast vs shuffle vs salting (operators/
    skew.py) BEFORE a join runs. One count-per-key aggregate per column;
    the per-column summary folds over the (tiny) frequency frame."""
    li = table(spark, sf_dir, "lineitem")
    out = None
    for c in _SKEW_KEYS:
        freq = li.groupBy(F.col(c).alias("k")).agg(F.count(F.lit(1)).alias("f"))
        summ = freq.agg(
            F.count(F.lit(1)).alias("distinct_keys"),
            F.sum("f").alias("total_rows"),
            F.max("f").alias("max_freq"),
            F.expr("percentile(f, 0.99)").alias("p99_freq"),
            F.avg("f").alias("avg_freq"),
        ).select(
            F.lit(c).alias("key_column"),
            "distinct_keys",
            F.round(F.col("max_freq") / F.col("total_rows"), 6).alias("top_key_share"),
            F.round(F.col("p99_freq") / F.col("avg_freq"), 4).alias("p99_over_avg"),
        )
        out = summ if out is None else out.unionByName(summ)
    return out


Q_PROFILE_SKEW_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS key_column, count(*) AS distinct_keys,
       round(CAST(max(f) AS DOUBLE) / sum(f), 6) AS top_key_share,
       round(quantile_cont(f, 0.99) / avg(f), 4) AS p99_over_avg
FROM (SELECT {c} AS k, count(*) AS f FROM lineitem GROUP BY {c})"""
    for c in _SKEW_KEYS
)


# --- referential-integrity audit ----------------------------------------------

_FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def fk_audit(frames: dict[str, DataFrame]) -> DataFrame:
    """One row per FK edge: child rows, orphan rows (no matching parent),
    distinct child keys. Parent key sets are dimension-scale, so each
    edge is a broadcast left join over the streaming child scan."""
    out = None
    for child_t, fk, parent_t, pk in _FK_EDGES:
        child, parent = frames[child_t], frames[parent_t]
        pkeys = parent.select(F.col(pk).alias("__pk")).distinct()
        stats = (
            child.join(F.broadcast(pkeys), child[fk] == F.col("__pk"), "left")
            .agg(
                F.count(F.lit(1)).alias("child_rows"),
                F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0)).alias("orphan_rows"),
                F.count_distinct(fk).alias("distinct_keys"),
            )
            .select(
                F.lit(f"{child_t}.{fk}->{parent_t}.{pk}").alias("relation"),
                "child_rows",
                "orphan_rows",
                "distinct_keys",
            )
        )
        out = stats if out is None else out.unionByName(stats)
    return out


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = {
        t: table(spark, sf_dir, t)
        for t in ("lineitem", "orders", "customer", "supplier", "part", "nation", "region")
    }
    return fk_audit(frames)


Q_FK_INTEGRITY_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{c}.{fk}->{p}.{pk}' AS relation, count(*) AS child_rows,"
    # CAST: DuckDB sum(int) widens to HUGEINT; Spark's is BIGINT
    f" CAST(sum(CASE WHEN par.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows,"
    f" count(DISTINCT ch.{fk}) AS distinct_keys"
    f" FROM {c} ch LEFT JOIN (SELECT DISTINCT {pk} FROM {p}) par ON ch.{fk} = par.{pk}"
    for c, fk, p, pk in _FK_EDGES
)


# --- HyperLogLog distinct sketch ----------------------------------------------
# Deterministic md5-derived HLL (like the CMS sketch): 60-bit hash, m=64
# buckets (p=6), 54-bit register stream. Register sums are integer-scaled
# (sum of 2^(55-rho) as BIGINT <= 64 * 2^54 < 2^63) so the harmonic-mean
# denominator is EXACT — no float accumulation-order sensitivity between
# Spark's partial aggregation and DuckDB's sequential scan.

HLL_M = 64  # 2^6 registers
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)  # standard bias constant


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event_type: exact vs the deterministic HLL
    estimate, with relative error. The register build is one
    (event_type, bucket) shuffle of <= groups*m rows — mergeable
    partials, the shape that lets 1000 executors sketch 100 TB and merge
    64-row states."""
    ev = table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string").cast("binary")), 1, 15), 16, 10
    ).cast("long")
    keyed = ev.select(
        "event_type",
        h.bitwiseAND(F.lit(HLL_M - 1).cast("long")).alias("bucket"),
        F.shiftright(h, 6).alias("w"),  # exact integer ops: no double division
    ).withColumn(
        "rho",
        F.when(F.col("w") == 0, F.lit(55)).otherwise(55 - F.length(F.bin("w"))),
    )
    regs = keyed.groupBy("event_type", "bucket").agg(F.max("rho").alias("m_j"))
    # integer-scaled harmonic sum: zero registers contribute 2^55 each
    est = regs.groupBy("event_type").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 55 - CAST(m_j AS INT))")).alias("zsum"),
        F.count(F.lit(1)).alias("present"),
    ).select(
        "event_type",
        (F.col("zsum") + (F.lit(HLL_M) - F.col("present")) * F.lit(1 << 55).cast("long")).alias("zint"),
        (F.lit(HLL_M) - F.col("present")).alias("zero_regs"),
    )
    raw = F.lit(_HLL_ALPHA * HLL_M * HLL_M * float(2**55)) / F.col("zint")
    small = F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / F.col("zero_regs"))
    estimate = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (F.col("zero_regs") > 0), small
    ).otherwise(raw)
    exact = ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("exact_distinct"))
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            F.round(estimate, 2).alias("hll_estimate"),
            F.round((estimate - F.col("exact_distinct")) / F.col("exact_distinct") * 100, 2).alias("rel_err_pct"),
        )
    )


_HLL_H_SQL = (
    "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT)"
)

Q_HLL_DISTINCT_ORACLE = f"""
WITH keyed AS (
  SELECT event_type,
         {_HLL_H_SQL} & {HLL_M - 1} AS bucket,
         {_HLL_H_SQL} >> 6 AS w
  FROM events
), rhos AS (
  SELECT event_type, bucket,
         CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END AS rho
  FROM keyed
), regs AS (
  SELECT event_type, bucket, max(rho) AS m_j FROM rhos GROUP BY event_type, bucket
), z AS (
  SELECT event_type,
         sum((1::BIGINT << (55 - m_j))) + ({HLL_M} - count(*)) * (1::BIGINT << 55) AS zint,
         {HLL_M} - count(*) AS zero_regs
  FROM regs GROUP BY event_type
), est AS (
  SELECT event_type, zero_regs,
         CASE WHEN (CAST({_HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M} * {float(2**55)!r} / zint) <= {2.5 * HLL_M}
                   AND zero_regs > 0
              THEN CAST({HLL_M} AS DOUBLE) * ln(CAST({HLL_M} AS DOUBLE) / zero_regs)
              ELSE CAST({_HLL_ALPHA!r} AS DOUBLE) * {HLL_M * HLL_M} * {float(2**55)!r} / zint
         END AS estimate
  FROM z
), exact AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct FROM events GROUP BY event_type
)
SELECT e.event_type, x.exact_distinct,
       round(e.estimate, 2) AS hll_estimate,
       round((e.estimate - x.exact_distinct) / x.exact_distinct * 100, 2) AS rel_err_pct
FROM est e JOIN exact x USING (event_type)
"""


# --- fuzzy (edit-distance) similarity join ------------------------------------

FUZZY_D = 2  # max edit distance
_FUZZY_Q = 3  # q-gram length
# q-gram survival bound: one edit destroys <= q grams, so a string with
# |s|-q+1 > d*q grams keeps >= 1 gram through d edits. |s| > d*q + q - 1:
_FUZZY_LONG = FUZZY_D * _FUZZY_Q + _FUZZY_Q  # strictly-greater-than-8 => >= 9


def q_fuzzy_join_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance <= {FUZZY_D} self-join of part names (entity
    resolution of a product catalog). Distinct-first: identical names
    collapse to one row with a count BEFORE any pairing (the skew head
    never fans out). Candidate generation is lossless by construction:
    long×long pairs must share a {_FUZZY_Q}-gram (survival bound above),
    every pair involving a short string falls in a |len| <= {FUZZY_D}
    band enumerated by key explosion. Only candidates pay levenshtein.

    r14 (guide §6/§2.4): `names` feeds SIX consumers (both long q-gram
    legs, the short band's two sides, and the two count joins) and each
    used to re-derive the part scan + distinct exchange — six corpus
    scans per run. The frame is vocab-scale (distinct names), so one
    lazy in-run localCheckpoint (the basket/pagerank pattern;
    materialized once per run, nothing persists across runs) lets every
    consumer read the checkpoint blocks: part scanned ONCE."""
    part = table(spark, sf_dir, "part")
    names = (
        part.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .localCheckpoint(eager=False)
    )

    def grams(col: str) -> F.Column:
        s = F.col(col)
        idx = F.sequence(F.lit(1), F.length(s) - (_FUZZY_Q - 1))
        return F.transform(idx, lambda i: s.substr(i, F.lit(_FUZZY_Q)))

    longs = names.filter(F.length("p_name") >= _FUZZY_LONG)
    la = longs.select(
        F.col("p_name").alias("name_a"), F.explode(grams("p_name")).alias("g")
    )
    lb = longs.select(
        F.col("p_name").alias("name_b"), F.explode(grams("p_name")).alias("g")
    )
    cand_long = (
        la.join(lb, "g")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()
    )
    # short band: any pair with min length <= long-threshold-1; enumerate
    # candidate lengths so the join is a hash join on (len), not a cross
    shorts = names.filter(F.length("p_name") < _FUZZY_LONG).select(
        F.col("p_name").alias("name_a"),
        F.explode(
            F.sequence(F.length("p_name") - FUZZY_D, F.length("p_name") + FUZZY_D)
        ).alias("lb_len"),
    )
    others = names.select(F.col("p_name").alias("name_b"), F.length("p_name").alias("lb_len"))
    # canonicalize AFTER the join: the short side may sort lexicographically
    # after its partner, so filtering name_a < name_b pre-canonicalization
    # would drop (long < short) pairs
    cand_short = (
        shorts.join(others, "lb_len")
        .filter(F.col("name_a") != F.col("name_b"))
        .select(
            F.least("name_a", "name_b").alias("na"),
            F.greatest("name_a", "name_b").alias("nb"),
        )
        .select(F.col("na").alias("name_a"), F.col("nb").alias("name_b"))
        .distinct()
    )
    cands = cand_long.unionByName(cand_short).distinct().filter(
        F.abs(F.length("name_a") - F.length("name_b")) <= FUZZY_D
    )
    verified = cands.withColumn(
        "edit_dist", F.levenshtein("name_a", "name_b")
    ).filter(F.col("edit_dist") <= FUZZY_D)
    ca = names.select(F.col("p_name").alias("name_a"), F.col("n_parts").alias("parts_a"))
    cb = names.select(F.col("p_name").alias("name_b"), F.col("n_parts").alias("parts_b"))
    return (
        verified.join(F.broadcast(ca), "name_a")
        .join(F.broadcast(cb), "name_b")
        .select("name_a", "name_b", "edit_dist", "parts_a", "parts_b")
    )


Q_FUZZY_JOIN_ORACLE = f"""
WITH names AS (
  SELECT p_name, count(*) AS n_parts FROM part GROUP BY p_name
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS edit_dist,
       a.n_parts AS parts_a, b.n_parts AS parts_b
FROM names a JOIN names b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_D}
"""


# --- PageRank over the part co-purchase graph ---------------------------------

PR_DAMP = 0.85
PR_ROUNDS = 3


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Distinct directed co-purchase pairs. Built by collecting each
    order's part set (ONE fact shuffle) and exploding pairs map-side —
    measured ~1.7x cheaper than the equivalent self-join on l_orderkey,
    which shuffles the fact table twice before the pair distinct. Order
    sizes are bounded (an order has a handful of lines), so the per-order
    quadratic is a constant, not a skew risk."""
    per = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))
    return (
        per.select(F.explode("ps").alias("s"), "ps")
        .select("s", F.explode("ps").alias("t"))
        .where(F.col("s") != F.col("t"))
        .distinct()
    )


def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{PR_ROUNDS}-round PageRank (damping {PR_DAMP}) over the part
    co-purchase graph (parts sharing an order; symmetric, so no dangling
    nodes). Each round is ONE broadcast join of the node-scale rank
    frame against the edge list + ONE groupBy(t) shuffle — the iterative
    join+agg shape that holds at any edge count. Oracle = the same
    {PR_ROUNDS} rounds unrolled as SQL CTEs (the kmeans_train pattern).
    """
    li = table(spark, sf_dir, "lineitem")
    # materialize edges/degrees once; checkpoint each round's rank frame so
    # round k's broadcast doesn't re-execute rounds 1..k-1 through nested
    # lineage (the components-operator lesson; ranks are node-scale, cheap)
    edges = _copurchase_edges(li).localCheckpoint()
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("outd")).localCheckpoint()
    # deg's keys ARE the distinct sources (symmetric graph ⇒ all nodes):
    # deriving nodes from the checkpointed degree frame drops the edge-
    # scale distinct exchange the old nodes build paid (r13; guide §2.4)
    nodes = deg.select(F.col("s").alias("node"))
    n = deg.count()  # scalar action on the checkpointed frame: 1 number
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - PR_DAMP) / n
    for _ in range(PR_ROUNDS):
        # lazy cut (r13; was eager): the next round's broadcast build (or
        # the final sink) covers all partitions and materializes it — one
        # job per round instead of two, same lineage truncation. NOTE: with
        # no in-loop action, all rounds execute as nested broadcast-exchange
        # futures under the single final action, so spark.sql.broadcastTimeout
        # (300 s default) bounds the WHOLE chain, not one round; at cluster
        # scale either raise it or restore an eager cut every K rounds.
        ranks = _pagerank_round(edges, deg, ranks, base).localCheckpoint(eager=False)
    return ranks.select(
        F.col("node").alias("part_key"), F.round("rank", 9).alias("pagerank")
    )


def _pagerank_round(
    edges: DataFrame, deg: DataFrame, ranks: DataFrame, base: float
) -> DataFrame:
    """ONE PageRank round as a frame: broadcast the node-scale deg/rank
    frames onto the edge list, then one groupBy(t) shuffle. Extracted so
    the per-round physical plan is test-assertable (no cartesian, no
    round-robin, rank/deg joins actually broadcast) — the engine-wide
    plan sweep only sees final frames, not loop bodies."""
    contrib = (
        edges.join(F.broadcast(deg), "s")
        .join(F.broadcast(ranks), F.col("s") == F.col("node"))
        .select("t", (F.col("rank") / F.col("outd")).alias("c"))
    )
    return (
        contrib.groupBy("t")
        .agg((F.lit(base) + F.lit(PR_DAMP) * F.sum("c")).alias("rank"))
        .select(F.col("t").alias("node"), "rank")
    )


def _pagerank_oracle() -> str:
    rounds = []
    for k in range(PR_ROUNDS):
        # explicit DOUBLE casts: DuckDB numeric literals are DECIMALs whose
        # arithmetic rounds differently from IEEE doubles at the last ulp
        rounds.append(
            f"r{k + 1} AS (\n"
            f"  SELECT e.t AS node,\n"
            f"         (CAST(1 AS DOUBLE) - CAST({PR_DAMP} AS DOUBLE)) / (SELECT n FROM nn)\n"
            f"         + CAST({PR_DAMP} AS DOUBLE) * sum(r.rank / d.outd) AS rank\n"
            f"  FROM edges e JOIN r{k} r ON r.node = e.s JOIN deg d ON d.s = e.s\n"
            f"  GROUP BY e.t\n)"
        )
    return (
        "WITH edges AS (\n"
        "  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t\n"
        "  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey\n"
        "  WHERE a.l_partkey <> b.l_partkey\n"
        "), deg AS (\n"
        "  SELECT s, count(*) AS outd FROM edges GROUP BY s\n"
        "), nodes AS (SELECT DISTINCT s AS node FROM edges\n"
        "), nn AS (SELECT count(*) AS n FROM nodes\n"
        "), r0 AS (SELECT node, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes),\n"
        + ",\n".join(rounds)
        + f"\nSELECT node AS part_key, round(rank, 9) AS pagerank FROM r{PR_ROUNDS}"
    )


# --- triangle counting / clustering coefficient -------------------------------
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles, wedges, and the global clustering coefficient of the
    part co-purchase graph — the cohesion read on any similarity/co-
    occurrence graph (a dedup candidate graph with high clustering is
    communities; low clustering is chains that need the star escalation).

    Compact-forward shape: every triangle is counted exactly once by the
    2-path join e1(s,t)⋈e2(t,u)⋈e3(s,u) over edges oriented by a total
    node order. The count is ORDER-INVARIANT, so (r5) edges are oriented
    by DEGREE — from the lower-(degree, id) endpoint to the higher — not
    by id: the intermediate 2-path volume is Σ_v d⁺(v)·d⁻(v), and
    degree-orientation gives hubs out-degree ≈ 0 (all their edges point
    IN), bounding total 2-paths at O(m^1.5) on any graph vs the
    unbounded hub blow-up of id-ordering on skewed graphs
    (tests/test_profiling.py pins the reduction on a star fixture).
    Wedges fold from the degree frame alone."""
    li = table(spark, sf_dir, "lineitem")
    e0 = (
        _copurchase_edges(li)
        .where(F.col("s") < F.col("t"))
        .localCheckpoint()  # degree agg + the reorientation join
    )
    deg = (
        e0.select(F.col("s").alias("v"))
        .unionAll(e0.select(F.col("t").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint()  # wedge stats + both reorientation joins
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) / 2")).cast("long").alias("n_wedges"),
    )
    e = _degree_oriented(e0, deg).localCheckpoint()  # three join consumers
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.s") == F.col("e1.t"))
        .join(e3, (F.col("e3.s") == F.col("e1.s")) & (F.col("e3.t") == F.col("e2.t")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    edges_n = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        stats.crossJoin(tri)
        .crossJoin(edges_n)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering_coeff"),
        )
    )


def _degree_oriented(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Reorient each undirected edge to point from its lower-(degree, id)
    endpoint to the higher one. A bijection on the edge set, so any
    order-invariant count (triangles) is unchanged; hubs end up with
    out-degree ≈ 0, which is what bounds the compact-forward join's
    intermediate volume. Two node-scale degree joins (keyed, not
    broadcast-hinted: the node table outgrows broadcast long before the
    edge table stops fitting a shuffle)."""
    ds = deg.select(F.col("v").alias("s"), F.col("d").alias("sd"))
    dt = deg.select(F.col("v").alias("t"), F.col("d").alias("td"))
    fwd = F.struct(F.col("sd"), F.col("s")) < F.struct(F.col("td"), F.col("t"))
    return (
        e.join(ds, "s")
        .join(dt, "t")
        .select(
            F.when(fwd, F.col("s")).otherwise(F.col("t")).alias("new_s"),
            F.when(fwd, F.col("t")).otherwise(F.col("s")).alias("new_t"),
        )
        .select(F.col("new_s").alias("s"), F.col("new_t").alias("t"))
    )


Q_TRIANGLE_ORACLE = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
), deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT s AS v FROM e UNION ALL SELECT t AS v FROM e
  ) GROUP BY v
), stats AS (
  SELECT count(*) AS n_nodes, CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg
), tri AS (
  SELECT count(*) AS n_triangles
  FROM e e1 JOIN e e2 ON e2.s = e1.t JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t
), en AS (SELECT count(*) AS n_edges FROM e)
SELECT s.n_nodes, en.n_edges, t.n_triangles, s.n_wedges,
       round(CAST(3 AS DOUBLE) * t.n_triangles / s.n_wedges, 6) AS clustering_coeff
FROM stats s CROSS JOIN tri t CROSS JOIN en
"""


# --- degree distribution profile ----------------------------------------------
def q_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the co-purchase graph — the
    first look at any graph before choosing join/partition strategy
    (a heavy tail says salt the hub keys; a flat profile says plain hash
    partitioning holds). One degree aggregate + one tiny bucket fold."""
    li = table(spark, sf_dir, "lineitem")
    e = _copurchase_edges(li).where(F.col("s") < F.col("t"))
    deg = (
        e.select(F.col("s").alias("v"))
        .unionAll(e.select(F.col("t").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    bucket = F.floor(F.log2("d")).cast("int")
    return deg.groupBy(bucket.alias("log2_degree")).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("d").alias("min_degree"),
        F.max("d").alias("max_degree"),
    )


Q_DEGREE_PROFILE_ORACLE = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
), deg AS (
  SELECT v, count(*) AS d FROM (
    SELECT s AS v FROM e UNION ALL SELECT t AS v FROM e
  ) GROUP BY v
)
SELECT CAST(floor(log2(d)) AS INTEGER) AS log2_degree,
       count(*) AS n_nodes, min(d) AS min_degree, max(d) AS max_degree
FROM deg GROUP BY 1
"""


# --- quantile normalization / winsorization -----------------------------------

_N_TOKENS_EXPR = "size(filter(split(lower(text), '[^a-z0-9]+'), x -> x != ''))"
_N_TOKENS_SQL = "len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))"
WINSOR_LO, WINSOR_HI = 0.05, 0.95


def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-rank + p05/p95 winsorization of per-doc token counts —
    the feature-normalization pass before mixing quality signals.
    Correctness form uses an exact global window (single-partition sort,
    fine at oracle scale); the 100 TB form swaps in approx_percentile
    bounds + a range-partitioned sort, same columns."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_N_TOKENS_EXPR).alias("n_tokens"))
    bounds = toks.agg(
        F.expr(f"percentile(n_tokens, {WINSOR_LO})").alias("lo"),
        F.expr(f"percentile(n_tokens, {WINSOR_HI})").alias("hi"),
    )
    w = Window.orderBy("n_tokens", "doc_id")
    return (
        toks.withColumn("pct_rank", F.round(F.percent_rank().over(w), 6))
        .crossJoin(F.broadcast(bounds))
        .select(
            "doc_id",
            "n_tokens",
            "pct_rank",
            F.round(F.least(F.greatest(F.col("n_tokens").cast("double"), F.col("lo")), F.col("hi")), 4).alias("winsorized"),
        )
    )


Q_QUANTILE_NORM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_N_TOKENS_SQL} AS n_tokens FROM documents
), bounds AS (
  SELECT quantile_cont(n_tokens, {WINSOR_LO}) AS lo,
         quantile_cont(n_tokens, {WINSOR_HI}) AS hi
  FROM toks
)
SELECT t.doc_id, t.n_tokens,
       round(percent_rank() OVER (ORDER BY t.n_tokens, t.doc_id), 6) AS pct_rank,
       round(least(greatest(CAST(t.n_tokens AS DOUBLE), b.lo), b.hi), 4) AS winsorized
FROM toks t CROSS JOIN bounds b
"""


# --- zlib compression-ratio quality signal (rows-only) ------------------------

COMPRESS_LEVEL = 6


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc zlib compression ratio — the classic cheap "entropy"
    quality signal (highly repetitive/boilerplate text compresses far
    below prose). Arrow-batched mapInPandas, map-only, no shuffle; not
    SQL-expressible (no zlib in DuckDB) — rows-only for the driver,
    pinned by a pure-Python zlib equality test."""
    import pandas as pd
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_bytes", T.IntegerType()),
            T.StructField("comp_ratio", T.DoubleType()),
        ]
    )

    def ratio(batches):
        import zlib

        for pdf in batches:
            if len(pdf) == 0:
                continue
            raw = [t.encode("utf-8") for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(b) for b in raw],
                    "comp_ratio": [
                        round(len(zlib.compress(b, COMPRESS_LEVEL)) / len(b), 6) if b else 1.0
                        for b in raw
                    ],
                }
            )

    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", "text").mapInPandas(ratio, schema)


# --- label propagation communities ---------------------------------------------
_LPA_ROUNDS = 3


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation over the part co-purchase graph:
    every node starts as its own label; each round adopts the most
    frequent label among neighbors, ties broken by the smallest label —
    fully deterministic, so {_LPA_ROUNDS} fixed rounds are oracle-exact
    (oscillation, the classic sync-LPA hazard, doesn't affect a fixed
    round count). The cheap community detector next to the exact
    connected-components operator: components give reachability,
    LPA gives densely-linked groups.

    Scale shape: per round ONE node-scale label join onto the edge list
    (EXPLICIT broadcast, like the PageRank rank frame — relying on AQE to
    convert the checkpoint-lineage-cut SMJ was measured 90 s vs 16 s for
    the 3 rounds at sf1/24M edges, because the ExistingRDD build side
    only converts after a full edge sort has been scheduled) + ONE
    exchange on s for a mode aggregate (r14; was TWO: a (node, label)
    count exchange + a node struct-max argmax exchange).
    mode(label, deterministic=true) IS the round's semantics by
    definition — the most frequent value, ties broken by the LOWEST —
    and it is a TypedImperativeAggregate whose label→count partial
    states merge map-side, so the per-round shuffle count halves
    (guide §2.3-2.4). Per-group state is bounded by the node's distinct
    neighbor labels (≤ degree), with ObjectHashAggregate's sort-based
    fallback owning hub nodes instead of OOMing. Label frames are
    localCheckpointed per round (lineage cut, the iterative-operator
    house rule). All-integer arithmetic — no cross-engine float risk
    anywhere. At 1e9+ nodes the label frame outgrows a broadcast; the
    fallback is pre-partitioning edges by t once and reusing that
    partitioning across rounds.
    """
    li = table(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li).localCheckpoint(eager=False)
    labels = edges.select(F.col("s").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(_LPA_ROUNDS):
        labels = _lpa_round(edges, labels).localCheckpoint(eager=False)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("csize"))
    return labels.join(sizes, "label").select(
        F.col("node").alias("part_key"), F.col("label").alias("community"), "csize"
    )


def _lpa_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE synchronous LPA round as a frame: broadcast the node-scale
    label frame onto the edge list, then ONE exchange on s carrying
    map-side-merged mode partials. Equivalence to the old two-exchange
    count→argmax form: argmax over (count, −label) struct-max picks the
    most frequent label with ties to the smallest label, which is
    EXACTLY mode(label, deterministic=true) ("the most frequent value;
    when multiple values share the greatest frequency the lowest is
    returned"); labels are never NULL (they are node ids), so mode's
    NULL-skipping clause never engages. Extracted (like _pagerank_round)
    so the per-round physical plan is test-assertable — the engine-wide
    plan sweep only sees final frames, not loop bodies."""
    return (
        edges.join(
            F.broadcast(labels.withColumnRenamed("node", "nbr")),
            F.col("t") == F.col("nbr"),
        )
        .groupBy("s")
        .agg(F.mode("label", True).alias("label"))
        .select(F.col("s").alias("node"), "label")
    )


def _lpa_oracle() -> str:
    rounds = []
    for k in range(_LPA_ROUNDS):
        rounds.append(
            f"l{k + 1} AS (\n"
            f"  SELECT node, label FROM (\n"
            f"    SELECT e.s AS node, l.label, count(*) AS c,\n"
            f"           row_number() OVER (PARTITION BY e.s ORDER BY count(*) DESC, l.label) AS rn\n"
            f"    FROM edges e JOIN l{k} l ON l.node = e.t\n"
            f"    GROUP BY e.s, l.label)\n"
            f"  WHERE rn = 1\n)"
        )
    return (
        "WITH edges AS (\n"
        "  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t\n"
        "  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey\n"
        "  WHERE a.l_partkey <> b.l_partkey\n"
        "), l0 AS (SELECT DISTINCT s AS node, s AS label FROM edges),\n"
        + ",\n".join(rounds)
        + f"\nSELECT l.node AS part_key, l.label AS community, c.csize\n"
        f"FROM l{_LPA_ROUNDS} l JOIN (SELECT label, CAST(count(*) AS BIGINT) AS csize FROM l{_LPA_ROUNDS} GROUP BY label) c USING (label)"
    )


# --- Zipf rank-frequency fit ---------------------------------------------------
_ZIPF_MIN_COUNT = 5  # drop the count<5 tail where the log-log curve flattens


def q_zipf_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law fit of the corpus rank-frequency curve: ln(freq) OLS on
    ln(rank), reported as Zipf alpha (= −slope) with intercept and r².
    A language-quality / corpus-health signal — natural text fits alpha
    ≈ 1 with r² > 0.9; boilerplate floods, template spam, or synthetic
    data bend the curve and show up here before eyeballing samples.

    Shape: tokenize → ONE shuffle to the Heaps-law vocab (√corpus-scale),
    drop the count<{_ZIPF_MIN_COUNT} tail, rank by a single-partition
    window over the SURVIVING vocab only (bounded: vocab after the cutoff
    is thousands of rows at any corpus size — same bounded-frame argument
    as the BPE vocab rounds), then one covar/var aggregate for the fit.
    Nothing corpus-scale crosses the driver.
    """
    from pyspark.sql import Window

    from jetstream_spark.queries.text import _tokens

    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(_tokens()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= _ZIPF_MIN_COUNT)
    )
    ranked = vocab.select(
        F.log(F.row_number().over(Window.orderBy(F.desc("cnt"), "term")).cast("double")).alias("lr"),
        F.log(F.col("cnt").cast("double")).alias("lf"),
    )
    slope = F.covar_pop("lr", "lf") / F.var_pop("lr")
    return ranked.agg(
        F.count(F.lit(1)).alias("fit_terms"),
        F.round(-slope, 6).alias("alpha"),
        F.round(F.avg("lf") - slope * F.avg("lr"), 6).alias("intercept"),
        F.round(F.pow(F.corr("lr", "lf"), 2), 6).alias("r2"),
    )


Q_ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT unnest({{tokens_sql}}) AS term FROM documents
), vocab AS (
  SELECT term, count(*) AS cnt FROM toks GROUP BY term HAVING count(*) >= {_ZIPF_MIN_COUNT}
), ranked AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, term) AS DOUBLE)) AS lr,
         ln(CAST(cnt AS DOUBLE)) AS lf
  FROM vocab
)
SELECT CAST(count(*) AS BIGINT) AS fit_terms,
       round(-(covar_pop(lr, lf) / var_pop(lr)), 6) AS alpha,
       round(avg(lf) - (covar_pop(lr, lf) / var_pop(lr)) * avg(lr), 6) AS intercept,
       round(corr(lr, lf) * corr(lr, lf), 6) AS r2
FROM ranked
"""


def _zipf_oracle() -> str:
    from jetstream_spark.queries.text import _TOKENS_SQL

    return Q_ZIPF_ORACLE.format(tokens_sql=_TOKENS_SQL)


# --- mutual information between categorical columns ----------------------------------
# Dependency profiling: MI(X;Y) in nats plus marginal entropies and the
# normalized MI / sqrt(H(X)·H(Y)) score, for a fixed set of column pairs.
# This is the column-dependency audit a profiler runs before choosing
# clustering keys or denormalizations (NMI≈0 → independent, safe to model
# separately; NMI→1 → functionally dependent, one column is redundant).
#
# Determinism: counts are exact integers; each log argument is a single
# integer-ratio division written with identical association in both
# engines ((c_xy*n)/(c_x*c_y) — products ≤ 3.6e9, safely inside int64);
# the one float sum per statistic is rounded to 6 digits (the PSI
# contract, split_drift_psi).
#
# Scale (100 TB): per pair, groupBy shuffles whose outputs are bounded
# by category cardinality (tiny), and the 1-row totals frame broadcasts
# back. Linear scans, no joins on the fact table; see the in-function
# note for the measured 4-scan vs reduce-from-joint-counts trade.

_MI_PAIRS = (
    # (name, table, x expr/sql, y expr/sql)
    ("orders_status_priority", "orders", "o_orderstatus", "o_orderpriority"),
    ("lineitem_flag_status", "lineitem", "l_returnflag", "l_linestatus"),
    ("events_type_hour", "events", "event_type", "hour(ts)"),
)


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for name, tbl, x_expr, y_expr in _MI_PAIRS:
        df = table(spark, sf_dir, tbl).select(
            F.expr(x_expr).cast("string").alias("x"),
            F.expr(y_expr).cast("string").alias("y"),
        )
        # Four independent fact scans per pair — deliberately NOT the
        # reduce-from-cxy one-scan form. r13 shipped marginals/total
        # reduced from a checkpointed joint-count frame (1 scan per pair);
        # two alternating A/Bs both priced it ~7% SLOWER at local[32]/sf0.1
        # (1.075 r13, 1.07 r14 — the checkpoint materialization is a job
        # barrier, while these columnar scans are near-free), so r14
        # reverted per the measured-wall rule. At real scale the trade
        # flips: re-derive nrow/cx/cy from cxy (sum("c_xy") over the
        # category-bounded frame) when the fact scan dominates.
        nrow = df.groupBy().agg(F.count(F.lit(1)).alias("n"))
        cxy = df.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
        cx = df.groupBy("x").agg(F.count(F.lit(1)).alias("c_x"))
        cy = df.groupBy("y").agg(F.count(F.lit(1)).alias("c_y"))
        mi = (
            cxy.join(cx, "x")
            .join(cy, "y")
            .crossJoin(F.broadcast(nrow))
            .groupBy()
            .agg(
                F.round(
                    F.sum(
                        (F.col("c_xy") / F.col("n"))
                        * F.log(
                            (F.col("c_xy") * F.col("n"))
                            / (F.col("c_x") * F.col("c_y"))
                        )
                    ),
                    6,
                ).alias("mi")
            )
        )
        hx = (
            cx.crossJoin(F.broadcast(nrow))
            .groupBy()
            .agg(
                F.round(
                    -F.sum((F.col("c_x") / F.col("n")) * F.log(F.col("c_x") / F.col("n"))),
                    6,
                ).alias("h_x")
            )
        )
        hy = (
            cy.crossJoin(F.broadcast(nrow))
            .groupBy()
            .agg(
                F.round(
                    -F.sum((F.col("c_y") / F.col("n")) * F.log(F.col("c_y") / F.col("n"))),
                    6,
                ).alias("h_y")
            )
        )
        row = (
            mi.crossJoin(hx)
            .crossJoin(hy)
            .select(
                F.lit(name).alias("pair"),
                "mi",
                "h_x",
                "h_y",
                F.round(F.col("mi") / F.sqrt(F.col("h_x") * F.col("h_y")), 6).alias("nmi"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _mi_oracle() -> str:
    parts = []
    for name, tbl, x_expr, y_expr in _MI_PAIRS:
        parts.append(f"""
SELECT '{name}' AS pair, mi, h_x, h_y,
       round(mi / sqrt(h_x * h_y), 6) AS nmi
FROM (
  WITH src AS (
    SELECT CAST({x_expr} AS VARCHAR) AS x, CAST({y_expr} AS VARCHAR) AS y FROM {tbl}
  ), nrow AS (
    SELECT count(*) AS n FROM src
  ), cxy AS (
    SELECT x, y, count(*) AS c_xy FROM src GROUP BY x, y
  ), cx AS (
    SELECT x, count(*) AS c_x FROM src GROUP BY x
  ), cy AS (
    SELECT y, count(*) AS c_y FROM src GROUP BY y
  )
  SELECT
    (SELECT round(sum((c_xy / n) * ln((c_xy * n) / (c_x * c_y))), 6)
     FROM cxy JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN nrow) AS mi,
    (SELECT round(-sum((c_x / n) * ln(c_x / n)), 6) FROM cx CROSS JOIN nrow) AS h_x,
    (SELECT round(-sum((c_y / n) * ln(c_y / n)), 6) FROM cy CROSS JOIN nrow) AS h_y
)""")
    return "\nUNION ALL\n".join(parts)


# --- Adamic-Adar link prediction -----------------------------------------------------
# Adamic/Adar, "Friends and neighbors on the Web" (2003): score each
# NON-adjacent node pair by Σ_z 1/ln(deg(z)) over their common neighbors
# — rare shared neighbors weigh more. The standard link-prediction /
# recommendation baseline over the same co-purchase graph PageRank, LPA,
# and triangle counting use ("parts likely to be co-purchased next").
# Like the ANN family, the operator takes a FIXED QUERY-NODE SET (the
# online recommendation shape: "top new co-purchase candidates for these
# parts"); the all-pairs offline materialization is the same plan with
# the query filter removed, at inherent Σ_z deg(z)² wedge cost (measured
# 298M wedges / ~45 s at sf0.1 — every wedge carries score mass, so
# unlike triangle counting degree orientation can drop nothing; its
# scale knob is a hub ceiling: dropping neighbors with deg > D loses
# score mass with per-term weight ≤ 1/ln(D), the df_ceiling family).
#
# Determinism: degrees are exact integers; each term is 1/ln(deg) of an
# integer (identical doubles cross-engine); the per-pair SUM is
# order-sensitive float addition → round-6 (the PSI contract). A common
# neighbor is adjacent to both endpoints, so deg(z) ≥ 2 and ln(deg) > 0.
#
# Scale (100 TB): query-node wedges cost Σ_{u∈Q} Σ_{z∈N(u)} deg(z) —
# independent of graph size for fixed Q and bounded degree. One semi
# join to select query edges, one z-key join against the degree frame,
# one (u,v) aggregation, one adjacency anti-join on the aggregated
# frame, one per-u top-k window over bounded partitions.

AA_QUERY_MAX = 20  # query nodes: part keys <= this present in the graph
AA_TOP_K = 5  # recommendations per query node


def q_adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li).localCheckpoint()
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    qe = edges.filter(F.col("s") <= AA_QUERY_MAX).select(
        F.col("s").alias("u"), F.col("t").alias("z")
    )
    # r14 (guide §3.1): build the broadcast from the QUERY side, not the
    # corpus. Unhinted, Spark built the wedge join's hash relation from the
    # full (z, v) edge frame (corpus-scale BroadcastExchange — fine at bench
    # SF, an OOM at real scale) and then probed the wedge frame against a
    # second node-scale deg broadcast. Attaching deg to the tiny query-edge
    # frame FIRST (deg(z) is defined for every z: the co-purchase graph is
    # symmetric, so z always has out-edges) and broadcasting that instead
    # leaves the corpus edge frame streamed — never broadcast, never
    # shuffled. Wedge multiset and per-wedge d are unchanged, so the
    # round-6 scores are identical.
    qe_d = deg.withColumnRenamed("s", "z").join(F.broadcast(qe), "z")
    wedges = edges.select(F.col("s").alias("z"), F.col("t").alias("v")).join(
        F.broadcast(qe_d), "z"
    ).filter(F.col("v") != F.col("u"))
    scored = wedges.groupBy("u", "v").agg(
        F.round(F.sum(F.lit(1.0) / F.log(F.col("d"))), 6).alias("aa_score"),
        F.count(F.lit(1)).alias("common_neighbors"),
    )
    non_adjacent = scored.join(
        edges.select(F.col("s").alias("u"), F.col("t").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    w = Window.partitionBy("u").orderBy(F.col("aa_score").desc(), F.col("v"))
    return (
        non_adjacent.select(
            "u", "v", "aa_score", "common_neighbors", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= AA_TOP_K)
    )


Q_ADAMIC_ADAR_ORACLE = f"""
WITH edges AS (
  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
), deg AS (
  SELECT s, count(*) AS d FROM edges GROUP BY s
), scored AS (
  SELECT e1.s AS u, e2.t AS v,
         round(sum(CAST(1.0 AS DOUBLE) / ln(d.d)), 6) AS aa_score,
         count(*) AS common_neighbors
  FROM edges e1
  JOIN edges e2 ON e1.t = e2.s
  JOIN deg d ON d.s = e1.t
  WHERE e1.s <= {AA_QUERY_MAX} AND e2.t <> e1.s
  GROUP BY e1.s, e2.t
), non_adjacent AS (
  SELECT * FROM scored p
  WHERE NOT EXISTS (SELECT 1 FROM edges a WHERE a.s = p.u AND a.t = p.v)
)
SELECT u, v, aa_score, common_neighbors, rank FROM (
  SELECT u, v, aa_score, common_neighbors,
         row_number() OVER (PARTITION BY u ORDER BY aa_score DESC, v) AS rank
  FROM non_adjacent
) WHERE rank <= {AA_TOP_K}
"""


# --- k-anonymity generalization-lattice audit ----------------------------------------
# Sweeney, "k-Anonymity: a model for protecting privacy" (2002). Before a
# table (or a training corpus's metadata) is released, audit how
# re-identifiable its quasi-identifier (QI) combinations are: every QI
# equivalence class smaller than K is a re-identification risk, and the
# fix is GENERALIZATION — coarsen a QI column until every class reaches
# K. This walks a 4-level generalization lattice over customer
# (nation, segment, account-balance bucket) and reports, per level, the
# achieved k (min class size), the risky class/row mass, and whether
# K={_KANON_K} is satisfied — the exact table a release gate consumes to
# pick the minimal sufficient generalization.
#
# Scale (100 TB): one groupBy per level over the QI key space (bounded by
# QI cardinality, not rows — partial aggregation collapses map-side),
# then a |classes|-row summary fold. No joins, no windows over rows.

_KANON_K = 5
_KANON_LEVELS = (
    # (level name, SQL exprs for the QI tuple) — identical text feeds both
    # engines; floor(x/step) on the stored doubles is engine-identical.
    ("L0_bal100", ("c_nationkey", "c_mktsegment", "CAST(floor(c_acctbal / 100) AS BIGINT)")),
    ("L1_bal1000", ("c_nationkey", "c_mktsegment", "CAST(floor(c_acctbal / 1000) AS BIGINT)")),
    ("L2_nation_segment", ("c_nationkey", "c_mktsegment")),
    ("L3_segment", ("c_mktsegment",)),
)


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    # r14 (guide §6): the four levels each re-scanned the customer corpus
    # for their own groupBy. The levels form a strict coarsening chain,
    # and floor composes exactly — floor(floor(x/100)/10) == floor(x/1000)
    # for all reals (the nearest 2-decimal input sits 1e-5 away from any
    # bucket boundary after division, far above double epsilon) — so
    # every coarser level's class key derives from the L0 key: ONE corpus
    # scan builds the L0 classes, each class row melts into its 4 level
    # keys (the zorder_layout explode pattern), and a (level, key)
    # re-aggregation + per-level summary fold emits the same 4 rows.
    # Output-identical to the per-level groupBys (the oracle computes
    # each level directly from the corpus and hash-matches).
    l0 = (
        cust.select(
            *[F.expr(e).alias(f"q{i}") for i, e in enumerate(_KANON_LEVELS[0][1])]
        )
        .groupBy("q0", "q1", "q2")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    nul = F.lit(None).cast("bigint")
    lvl_keys = F.array(
        F.struct(F.lit("L0_bal100").alias("level"), F.col("q0").cast("bigint").alias("k0"), F.col("q1").alias("k1"), F.col("q2").alias("k2")),
        F.struct(F.lit("L1_bal1000").alias("level"), F.col("q0").cast("bigint").alias("k0"), F.col("q1").alias("k1"), F.expr("CAST(floor(q2 / 10) AS BIGINT)").alias("k2")),
        F.struct(F.lit("L2_nation_segment").alias("level"), F.col("q0").cast("bigint").alias("k0"), F.col("q1").alias("k1"), nul.alias("k2")),
        F.struct(F.lit("L3_segment").alias("level"), nul.alias("k0"), F.col("q1").alias("k1"), nul.alias("k2")),
    )
    assert len(_KANON_LEVELS) == 4, "level/derivation chain out of sync"
    classes = (
        l0.select("sz", F.explode(lvl_keys).alias("lk"))
        .groupBy("lk.level", "lk.k0", "lk.k1", "lk.k2")
        .agg(F.sum("sz").alias("sz"))
    )
    return classes.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("sz").alias("k_anonymity"),
        F.sum(F.when(F.col("sz") < _KANON_K, 1).otherwise(0)).alias("risky_classes"),
        F.sum(F.when(F.col("sz") < _KANON_K, F.col("sz")).otherwise(0)).alias("risky_rows"),
        (F.min("sz") >= _KANON_K).alias("k_satisfied"),
    ).select("level", "n_classes", "k_anonymity", "risky_classes", "risky_rows", "k_satisfied")


def _kanon_oracle() -> str:
    parts = []
    for level, exprs in _KANON_LEVELS:
        qi = ", ".join(exprs)
        parts.append(f"""
SELECT '{level}' AS level,
       count(*) AS n_classes,
       min(sz) AS k_anonymity,
       CAST(sum(CASE WHEN sz < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT) AS risky_classes,
       CAST(sum(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END) AS BIGINT) AS risky_rows,
       min(sz) >= {_KANON_K} AS k_satisfied
FROM (SELECT {qi}, count(*) AS sz FROM customer GROUP BY {qi})""")
    return "\nUNION ALL\n".join(parts)


# --- differentially-private histogram release -----------------------------------
# The release arm of the privacy family: k_anonymity_audit decides
# WHETHER a table of quasi-identifier classes is safe to publish;
# dp_noisy_counts publishes the (nation, segment) histogram WITH
# epsilon-calibrated Laplace noise and reports the realized utility
# error — the calibration audit a data owner runs before fixing a
# release budget. Noise is DERIVED (inverse-CDF over an md5-uniform of
# the cell key — the sampling family's engine-independent hash fold),
# so the release is reproducible and the oracle computes bit-identical
# noise: this audits the mechanism's error profile; a production release
# would swap the hash for a secret-seeded RNG, changing nothing else.
#
# Scale shape: one (nation, segment) count exchange (map-side partial,
# |cells| = nations × segments), a broadcast nation join, then map-only
# noise arithmetic — the whole release is agg + codegen.

_DP_EPS = 1.0  # epsilon budget; count sensitivity = 1 ⇒ Laplace(1/eps)


def _dp_uniform(key: F.Column) -> F.Column:
    """Deterministic uniform in (0,1) from the md5 of the cell key:
    first 6 hex chars → int in [0, 16^6) → mod 1e6 → (m + 0.5)/1e6.
    Never exactly 0.5, so the Laplace inverse-CDF is finite."""
    m = F.conv(F.substring(F.md5(key.cast("binary")), 1, 6), 16, 10).cast("long") % 1000000
    return (m + F.lit(0.5)) / F.lit(1000000.0)


def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    nat = table(spark, sf_dir, "nation")
    cells = (
        cust.join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    u = _dp_uniform(F.concat_ws("|", F.col("nation"), F.col("segment")))
    noise = (
        -F.lit(1.0 / _DP_EPS)
        * F.signum(u - F.lit(0.5))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    return cells.select(
        "nation",
        "segment",
        "true_n",
        F.round(F.col("true_n") + noise, 6).alias("noisy_n"),
        F.round(F.abs(noise), 6).alias("abs_err"),
        F.lit(float(_DP_EPS)).alias("eps"),
    )


def _dp_oracle() -> str:
    # same md5 fold as the sampling family's _BUCKET_SQL, over 6 hex chars
    key = "nation || '|' || segment"
    fold = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({key}), {i + 1}, 1)) - 1) * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"""
WITH cells AS (
  SELECT n.n_name AS nation, c.c_mktsegment AS segment, count(*) AS true_n
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
), nz AS (
  SELECT *, ((({fold}) % 1000000) + 0.5) / 1000000.0 AS u FROM cells
)
SELECT nation, segment, true_n,
       round(true_n + (-1.0 / {_DP_EPS}) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_n,
       round(abs((-1.0 / {_DP_EPS}) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))), 6) AS abs_err,
       {_DP_EPS} AS eps
FROM nz
"""


# --- k-core decomposition (fixed peel rounds) ------------------------------------
_KCORE_ROUNDS = 3
_KCORE_FRAC = 0.75  # K = ceil(frac * mean degree): peels ~25% at the fixture's degree profile


def q_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_ROUNDS} fixed peel rounds toward the K-core of the part
    co-purchase graph, K = ceil({_KCORE_FRAC} × mean degree) (data-adaptive, so the
    operator peels meaningfully at every SF instead of pinning a
    constant that goes stale at 10× density). Each round drops nodes
    whose CURRENT degree is below K and restricts the edge list to
    survivors; the output is the post-round-{_KCORE_ROUNDS} survivor
    degrees — the dense engagement core that graph-sampling /
    curriculum pipelines keep, next to LPA (communities) and PageRank
    (centrality) on the same edge list. Fixed rounds, like LPA: the
    full decomposition iterates to a fixpoint; three rounds of the
    identical body are oracle-exact.

    Scale shape: per round ONE degree exchange over the (shrinking)
    edge list + TWO explicit-broadcast survivor semijoins (node-scale,
    the LPA broadcast rule — AQE cannot size checkpointed sides) —
    never an edge-edge join. Edges are localCheckpointed per round.
    All-integer arithmetic throughout."""
    li = table(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li).localCheckpoint(eager=False)
    deg0 = edges.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    kk = deg0.agg(
        F.ceil(F.avg("d") * F.lit(_KCORE_FRAC)).cast("long").alias("k")
    ).localCheckpoint(eager=False)
    for _ in range(_KCORE_ROUNDS):
        deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
        keep = (
            deg.crossJoin(F.broadcast(kk))
            .where(F.col("d") >= F.col("k"))
            .select("s")
            .localCheckpoint(eager=False)
        )
        edges = (
            edges.join(F.broadcast(keep), "s")
            .join(
                F.broadcast(keep.withColumnRenamed("s", "t")),
                "t",
            )
            .select("s", "t")
            .localCheckpoint(eager=False)
        )
    out = edges.groupBy("s").agg(F.count(F.lit(1)).alias("core_degree"))
    return out.crossJoin(F.broadcast(kk)).select(
        F.col("s").alias("part_key"), "core_degree", F.col("k").alias("k_used")
    )


def _kcore_oracle() -> str:
    rounds = []
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(
            f"d{r} AS (SELECT s, count(*) AS d FROM e{r - 1} GROUP BY 1),\n"
            f"k{r} AS (SELECT s FROM d{r}, kk WHERE d >= k),\n"
            f"e{r} AS (SELECT e.s, e.t FROM e{r - 1} e JOIN k{r} a ON e.s = a.s "
            f"JOIN k{r} b ON e.t = b.s)"
        )
    return (
        "WITH e0 AS (\n"
        "  SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t\n"
        "  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey\n"
        "  WHERE a.l_partkey <> b.l_partkey\n"
        "), d0 AS (SELECT s, count(*) AS d FROM e0 GROUP BY 1),\n"
        f"kk AS (SELECT CAST(ceil(avg(d) * {_KCORE_FRAC}) AS BIGINT) AS k FROM d0),\n"
        + ",\n".join(rounds)
        + f"\nSELECT e.s AS part_key, count(*) AS core_degree, any_value(kk.k) AS k_used\n"
        f"FROM e{_KCORE_ROUNDS} e, kk GROUP BY e.s"
    )


# --- Z-order layout audit ---------------------------------------------------------
# The physical-layout question behind Delta/Iceberg OPTIMIZE ZORDER:
# linear clustering on ONE column gives perfect pruning on that column
# and ZERO pruning on any other; Morton (Z-order) interleaving trades a
# little single-column locality for multi-column pruning. This operator
# MEASURES that on real data: bucket orders 32 ways under both layouts
# (top 5 bits of the linear key vs of the interleaved key — pure bit
# arithmetic, bit-identical in both engines), then report what fraction
# of buckets a mid-range band predicate on EACH dimension would have to
# scan given per-bucket min/max zone maps (exactly how file skipping
# works). The number a table owner reads before choosing a layout.
#
# Scale shape: one min/max stats aggregate broadcast back, map-only key
# arithmetic (shift/mask codegen), ONE bucket aggregate per layout over
# a 32-key space, and a ≤32-row audit reduction. All-integer until the
# final fractions.

_Z_BITS = 16
_Z_BUCKET_SHIFT = 2 * _Z_BITS - 5  # top 5 bits of the 32-bit Morton key
_L_BUCKET_SHIFT = _Z_BITS - 5  # top 5 bits of the 16-bit linear key
_Z_BAND_LO = 7 * 4096  # the probe band: the middle eighth of each dim
_Z_BAND_HI = 8 * 4096 - 1

_Z_INTERLEAVE = (
    "aggregate(sequence(0, 15), 0L, (acc, b) -> acc"
    " + shiftleft(shiftright(xi, b) & 1, 2 * b)"
    " + shiftleft(shiftright(yi, b) & 1, 2 * b + 1))"
)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("long")
        .alias("y"),
    )
    stats = o.agg(
        F.min("x").alias("xlo"), F.max("x").alias("xhi"),
        F.min("y").alias("ylo"), F.max("y").alias("yhi"),
    )
    scale = 1 << _Z_BITS
    keyed = o.crossJoin(F.broadcast(stats)).select(
        F.least(
            F.lit(scale - 1),
            F.floor((F.col("x") - F.col("xlo")) / (F.col("xhi") - F.col("xlo")) * scale),
        ).cast("long").alias("xi"),
        F.least(
            F.lit(scale - 1),
            F.floor(
                (F.col("y") - F.col("ylo")) / (F.col("yhi") - F.col("ylo")).cast("double") * scale
            ),
        ).cast("long").alias("yi"),
    )
    keyed = keyed.select(
        "xi",
        "yi",
        F.expr(_Z_INTERLEAVE).alias("z"),
    )

    # r14 (guide §6): the two layout audits each re-derived the keyed
    # frame (scan + stats broadcast) — four orders scans per run. Melting
    # both layouts into one exploded (layout, bucket) pass does the whole
    # audit in ONE keyed pass: map-side partials collapse to ≤64 rows
    # before the exchange, and the per-layout summary groups on layout.
    # Same integer zone-map arithmetic per (layout, bucket), same
    # fractions — output rows are identical.
    both = F.array(
        F.struct(
            F.lit("zorder").alias("layout"),
            F.shiftright("z", _Z_BUCKET_SHIFT).alias("bucket"),
        ),
        F.struct(
            F.lit("linear").alias("layout"),
            F.shiftright("xi", _L_BUCKET_SHIFT).alias("bucket"),
        ),
    )
    melted = keyed.select("xi", "yi", F.explode(both).alias("lb")).select(
        "xi", "yi", F.col("lb.layout").alias("layout"), F.col("lb.bucket").alias("bucket")
    )
    per = melted.groupBy("layout", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("xi").alias("x0"), F.max("xi").alias("x1"),
        F.min("yi").alias("y0"), F.max("yi").alias("y1"),
    )
    hit_x = (F.col("x1") >= _Z_BAND_LO) & (F.col("x0") <= _Z_BAND_HI)
    hit_y = (F.col("y1") >= _Z_BAND_LO) & (F.col("y0") <= _Z_BAND_HI)
    area = (F.col("x1") - F.col("x0") + 1) * (F.col("y1") - F.col("y0") + 1)
    return per.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.sum(hit_x.cast("long")) / F.count(F.lit(1)), 6).alias("x_band_scan_frac"),
        F.round(F.sum(hit_y.cast("long")) / F.count(F.lit(1)), 6).alias("y_band_scan_frac"),
        F.round(F.sum(area) / (F.count(F.lit(1)) * float(scale) * scale), 6).alias("avg_bbox_area"),
    )


def _zorder_oracle() -> str:
    scale = 1 << _Z_BITS
    inter = (
        "list_aggregate(list_transform(generate_series(0, 15), b -> "
        "(((xi >> b) & 1) << (2 * b)) + (((yi >> b) & 1) << (2 * b + 1))), 'sum')"
    )
    audits = []
    for layout, bucket in (
        ("zorder", f"z >> {_Z_BUCKET_SHIFT}"),
        ("linear", f"xi >> {_L_BUCKET_SHIFT}"),
    ):
        audits.append(f"""
SELECT '{layout}' AS layout, CAST(count(*) AS BIGINT) AS n_buckets,
       round(CAST(sum(CASE WHEN x1 >= {_Z_BAND_LO} AND x0 <= {_Z_BAND_HI} THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS x_band_scan_frac,
       round(CAST(sum(CASE WHEN y1 >= {_Z_BAND_LO} AND y0 <= {_Z_BAND_HI} THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS y_band_scan_frac,
       round(CAST(sum((x1 - x0 + 1) * (y1 - y0 + 1)) AS DOUBLE) / (count(*) * {float(scale)} * {scale}), 6) AS avg_bbox_area
FROM (
  SELECT {bucket} AS bucket, count(*) AS n,
         min(xi) AS x0, max(xi) AS x1, min(yi) AS y0, max(yi) AS y1
  FROM keyed GROUP BY 1
)""")
    body = "\nUNION ALL\n".join(audits)
    return f"""
WITH o AS (
  SELECT o_totalprice AS x,
         CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS y
  FROM orders
), stats AS (
  SELECT min(x) AS xlo, max(x) AS xhi, min(y) AS ylo, max(y) AS yhi FROM o
), norm AS (
  SELECT least({scale - 1}, CAST(floor((x - xlo) / (xhi - xlo) * {scale}) AS BIGINT)) AS xi,
         least({scale - 1}, CAST(floor((y - ylo) / CAST(yhi - ylo AS DOUBLE) * {scale}) AS BIGINT)) AS yi
  FROM o, stats
), keyed AS (
  SELECT xi, yi, CAST({inter} AS BIGINT) AS z FROM norm
)
{body}
"""


# --- Gini concentration coefficient ----------------------------------------------
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue (zero-order customers
    included — concentration among the whole customer base, not just
    buyers): G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over revenues sorted
    ascending. The single-number inequality audit behind
    q11_revenue_concentration's top-share view — data-mix owners run the
    same statistic over per-domain token counts to see how lopsided a
    corpus is.

    Revenue is quantized to integer cents BEFORE the rank-weighted sum,
    so both Σ i·xᵢ and Σx are exact BIGINT sums (no accumulation-order
    exposure; the NB micro-nat pattern). The rank is a single-partition
    window over the n-row customer frame — the oracle-parity form
    (quantile_norm precedent); at 1e9 customers the production swap is a
    distributed sort + per-partition offset pass."""
    from pyspark.sql import Window

    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    rev = (
        cust.join(
            orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev")),
            cust["c_custkey"] == F.col("o_custkey"),
            "left",
        )
        .select(
            "c_custkey",
            F.round(F.coalesce(F.col("rev"), F.lit(0.0)) * 100).cast("long").alias("cents"),
        )
    )
    w = Window.orderBy("cents", "c_custkey")
    ranked = rev.withColumn("i", F.row_number().over(w))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("cents") / 1e2, 2).alias("total_revenue"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("cents")) / (F.count(F.lit(1)) * F.sum("cents"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )


Q_GINI_ORACLE = """
WITH rev AS (
  SELECT c.c_custkey,
         CAST(round(coalesce(o.rev, 0.0) * 100) AS BIGINT) AS cents
  FROM customer c
  LEFT JOIN (SELECT o_custkey, sum(o_totalprice) AS rev FROM orders GROUP BY 1) o
    ON c.c_custkey = o.o_custkey
), ranked AS (
  SELECT cents, row_number() OVER (ORDER BY cents, c_custkey) AS i FROM rev
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       round(sum(cents) / 1e2, 2) AS total_revenue,
       round(2.0 * sum(i * cents) / (count(*) * sum(cents))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked
"""


# --- Benford first-digit audit ----------------------------------------------------
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of order totals: the
    classic synthetic-data / fraud / unit-mix-bug detector. The digit is
    taken from the DECIMAL STRING of the integer cent amount (exact in
    both engines — log10-based extraction flips at power-of-ten
    boundaries where libm log10 is a ulp under the integer). Output:
    per-digit counts, observed vs Benford frequencies, and the dataset's
    chi-square statistic (broadcast back onto every row, the Markov
    entropy shape). One map-only pass + a 9-key aggregate."""
    orders = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digits = orders.where(F.col("o_totalprice") > 0).select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    )
    from pyspark.sql import Window

    per = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    # r14 (guide §6/§2.4): the grand total and the chi-square sum were two
    # agg+crossJoin(broadcast) round-trips, each re-deriving the digit
    # table — 8 order scans per run. Both are whole-frame aggregates of
    # the 9-row `per`, so they ride ONE empty-frame window instead: a
    # single corpus scan, and the window moves 9 rows to one partition.
    w_all = Window.partitionBy()
    obs = F.col("n") / F.sum("n").over(w_all)
    ben = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    chi_term = F.sum("n").over(w_all) * (obs - ben) * (obs - ben) / ben
    return per.select(
        "digit",
        "n",
        F.round(obs, 6).alias("obs_freq"),
        F.round(ben, 6).alias("benford_freq"),
        F.round(F.sum(chi_term).over(w_all), 4).alias("chi_square"),
    )


Q_BENFORD_ORACLE = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders WHERE o_totalprice > 0
), per AS (
  SELECT digit, count(*) AS n FROM digits GROUP BY 1
), tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM per),
scored AS (
  SELECT digit, n,
         round(CAST(n AS DOUBLE) / nt, 6) AS obs_freq,
         round(log10(1.0 + 1.0 / digit), 6) AS benford_freq,
         nt * (CAST(n AS DOUBLE) / nt - log10(1.0 + 1.0 / digit))
            * (CAST(n AS DOUBLE) / nt - log10(1.0 + 1.0 / digit))
            / log10(1.0 + 1.0 / digit) AS chi_term
  FROM per, tot
), chi AS (SELECT round(sum(chi_term), 4) AS chi_square FROM scored)
SELECT digit, n, obs_freq, benford_freq, chi.chi_square
FROM scored, chi
"""


# --- market-basket association rules ---------------------------------------------
_BASKET_MIN_AB = 3  # minimum co-occurrence support (orders)
_BASKET_TOP = 20


def q_basket_lift_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets (Agrawal/Srikant Apriori at
    the pair level): for part pairs co-purchased in ≥{_BASKET_MIN_AB}
    orders, support / confidence / LIFT — the itemset-level sibling of
    mutual_information's column-level dependency audit, and the
    recommendation-rule mining pass every co-purchase dataset gets.

    Scale shape: per-order distinct pair generation is MAP-SIDE off the
    collect_set basket frame (the co-purchase edge pattern — one fact
    shuffle, per-order quadratic bounded by basket size); pair counts
    collapse in one exchange; per-item order counts are a parts-scale
    frame joined back ON THE ITEM KEYS; the top-{_BASKET_TOP} is a
    TakeOrdered. All-integer counts; ratios round at 6."""
    li = table(spark, sf_dir, "lineitem")
    # r14 (guide §6/§2.4): the basket frame fed four consumers (n_orders,
    # the pair explode, and both item-join sides) whose column pruning
    # made the subtrees non-identical — no ReusedExchange fired, so the
    # lineitem corpus was scanned and collect_set-shuffled FOUR times per
    # run (executed plan: 4 Scan parquet, 0 ReusedExchange). A lazy
    # in-run localCheckpoint (the pagerank/hbos pattern) materializes
    # baskets once; every consumer reads the checkpoint blocks, and AQE
    # re-picks the item-join strategy from real runtime sizes at each
    # stage boundary (broadcast at bench SF, exchange-based at scale).
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .localCheckpoint(eager=False)
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    pairs = (
        baskets.select(F.explode("ps").alias("a"), "ps")
        .select("a", F.explode("ps").alias("b"))
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= _BASKET_MIN_AB)
    )
    item = (
        baskets.select(F.explode("ps").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    j = (
        pairs.join(item.select(F.col("item").alias("a"), F.col("n_item").alias("n_a")), "a")
        .join(item.select(F.col("item").alias("b"), F.col("n_item").alias("n_b")), "b")
        .crossJoin(F.broadcast(n_orders))
    )
    lift = F.col("n_ab") * F.col("n_orders") / (F.col("n_a") * F.col("n_b"))
    return (
        j.select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "n_ab",
            F.round(F.col("n_ab") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("n_ab") / F.col("n_a"), 6).alias("confidence"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(_BASKET_TOP)
    )


Q_BASKET_ORACLE = f"""
WITH baskets AS (
  SELECT l_orderkey, list_distinct(list(l_partkey)) AS ps
  FROM lineitem GROUP BY 1
), n_orders AS (SELECT count(*) AS n_orders FROM baskets),
pairs AS (
  SELECT a, b, count(*) AS n_ab
  FROM (SELECT unnest(ps) AS a, ps FROM baskets), unnest(ps) AS u(b)
  WHERE a < b GROUP BY 1, 2
  HAVING count(*) >= {_BASKET_MIN_AB}
), item AS (
  SELECT item, count(*) AS n_item
  FROM (SELECT unnest(ps) AS item FROM baskets) GROUP BY 1
)
SELECT p.a AS part_a, p.b AS part_b, p.n_ab,
       round(CAST(p.n_ab AS DOUBLE) / o.n_orders, 6) AS support,
       round(CAST(p.n_ab AS DOUBLE) / ia.n_item, 6) AS confidence,
       round(CAST(p.n_ab AS DOUBLE) * o.n_orders / (ia.n_item * ib.n_item), 6) AS lift
FROM pairs p
JOIN item ia ON ia.item = p.a
JOIN item ib ON ib.item = p.b
CROSS JOIN n_orders o
ORDER BY lift DESC, part_a, part_b LIMIT {_BASKET_TOP}
"""


# --- approximate column profile (the 100 TB ANALYZE form) -----------------------
# profile_columns' exact count_distinct is the oracle-parity row, but its
# 100 TB form is sketched: exact distinct of a high-cardinality column
# dedups the full key space through one exchange, while an HLL register
# build is a (column, bucket) aggregate of ≤ |cols|·m mergeable rows —
# the 1000-executor shape. Spark's own approx_count_distinct is an
# opaque HLL++ no other engine reproduces bit-for-bit, so this operator
# uses the repo's deterministic md5 HLL (hll_distinct's construction,
# p=8/m=256 for ~6.5% standard error) over a per-column CANONICAL string
# rendering pinned identical in both engines (doubles → round(x·10⁴) as
# BIGINT; timestamps → epoch micros; ints → decimal string) — raw
# CAST-to-string would diverge on scientific-notation thresholds.
# The estimate itself is hash-checked by the oracle; the error BOUND vs
# the exact profile is pinned by tests/test_profiling.py.

_APPROX_HLL_P = 8
_APPROX_HLL_M = 1 << _APPROX_HLL_P  # 256 registers
_APPROX_ALPHA = 0.7213 / (1.0 + 1.079 / _APPROX_HLL_M)
# 60-bit md5 hash; low 8 bits pick the register, the remaining 52 bits
# are the rho stream: rho ∈ [1, 53], register contribution 2^(53-rho),
# worst-case integer sum 256·2^52 = 2^60 < 2^63 (exact BIGINT).
_APPROX_RHO_MAX = 53

# (column, spark_canonical_sql, duckdb_canonical_sql) — the two
# expressions MUST render byte-identical strings for every value.
_CANON_COLS = tuple(
    (c, f"CAST({c} AS STRING)", f"CAST({c} AS VARCHAR)")
    for c in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
              "l_returnflag", "l_linestatus")
) + tuple(
    (
        c,
        f"CAST(CAST(round({c} * 10000) AS BIGINT) AS STRING)",
        f"CAST(CAST(round({c} * 10000) AS BIGINT) AS VARCHAR)",
    )
    for c in _NUMERIC_COLS
) + (
    (
        "l_shipdate",
        # NTZ-safe epoch micros (unix_micros rejects TIMESTAMP_NTZ)
        "CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP)) AS STRING)",
        "CAST(epoch_us(l_shipdate) AS VARCHAR)",
    ),
)


def _hll_zint_cols() -> tuple:
    """The integer-exact register fold shared by BOTH profile sketch
    forms: given (zsum, present) per column, zint = zsum plus one
    2^rho_max term per empty register, zero_regs = empty-register count.
    Shared so the md5 oracle form and the xxhash64 production form stay
    byte-identical here by construction (r9 review: the parity contract
    must be structural, not copy-synchronized)."""
    zint = (
        F.col("zsum")
        + (F.lit(_APPROX_HLL_M) - F.col("present"))
        * F.lit(1 << _APPROX_RHO_MAX).cast("long")
    ).alias("zint")
    zero_regs = (F.lit(_APPROX_HLL_M) - F.col("present")).alias("zero_regs")
    return zint, zero_regs


def _hll_estimate_expr():
    """The shared HLL estimator over (zint, zero_regs): alpha-corrected
    raw estimate with Flajolet's small-range linear-counting correction.
    Both sketch forms and their pinned error bounds depend on this being
    ONE expression."""
    raw = (
        F.lit(_APPROX_ALPHA * _APPROX_HLL_M * _APPROX_HLL_M * float(2**_APPROX_RHO_MAX))
        / F.col("zint")
    )
    small = F.lit(float(_APPROX_HLL_M)) * F.log(
        F.lit(float(_APPROX_HLL_M)) / F.col("zero_regs")
    )
    return F.when(
        (raw <= F.lit(2.5 * _APPROX_HLL_M)) & (F.col("zero_regs") > 0), small
    ).otherwise(raw)


def q_profile_columns_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """profile_columns' scale twin: exact n_rows/n_nulls + deterministic-HLL
    approximate distincts per column, in ONE pass over ONE canonical-string
    rendering (r13: the counts previously came from a SECOND full stack
    scan that re-rendered every canonical string just to count nulls —
    folding them into the register aggregate halves the SCANS; wall-neutral
    at local[32]/sf0.1 (r13 A/B: 1.007) because the md5
    canonical pipeline dominates there — the scan halving is the at-scale
    payoff). Topology now matches q_profile_columns_fast exactly
    (the structural-parity contract, r9 review): null values land in a
    NULL register bucket — md5(NULL) is NULL, so bucket/rho are
    naturally NULL for them, unlike the xxhash64 twin which needs an
    explicit guard — and ONE (column, bucket) partial-agg exchange of
    ≤ |cols|·({_APPROX_HLL_M}+1) rows carries n_rows/n_nulls AND the
    registers. No full-key dedup anywhere."""
    li = table(spark, sf_dir, "lineitem")
    stack = ", ".join(f"'{c}', {expr}" for c, expr, _ in _CANON_COLS)
    up = li.selectExpr(f"stack({len(_CANON_COLS)}, {stack}) AS (column_name, v)")
    h = F.conv(F.substring(F.md5(F.col("v").cast("binary")), 1, 15), 16, 10).cast("long")
    w = F.shiftright(h, _APPROX_HLL_P)
    keyed = up.select(
        "column_name",
        # h is NULL iff v is NULL, so NULL rows keep a NULL bucket — the
        # null-count register, exactly the fast twin's topology
        h.bitwiseAND(F.lit(_APPROX_HLL_M - 1).cast("long")).alias("bucket"),
        F.when(w == 0, F.lit(_APPROX_RHO_MAX)).otherwise(
            _APPROX_RHO_MAX - F.length(F.bin(w))
        ).alias("rho"),
    )
    z = keyed.groupBy("column_name", "bucket").agg(
        F.count(F.lit(1)).alias("c"), F.max("rho").alias("m_j")
    ).groupBy("column_name").agg(
        F.sum("c").alias("n_rows"),
        F.sum(F.when(F.col("bucket").isNull(), F.col("c")).otherwise(F.lit(0))).alias(
            "n_nulls"
        ),
        F.sum(
            F.when(
                F.col("bucket").isNotNull(),
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), {_APPROX_RHO_MAX} - CAST(m_j AS INT))"
                ),
            ).otherwise(F.lit(0))
        ).alias("zsum"),
        F.count("bucket").alias("present"),  # count() skips the NULL bucket
    ).select("column_name", "n_rows", "n_nulls", "present", *_hll_zint_cols())
    # present = 0 (an all-NULL column) would have been dropped by the old
    # counts ⋈ estimate inner join (and is absent from the oracle's keyed
    # CTE) — keep that contract on this 13-row frame
    return z.where(F.col("present") > 0).select(
        "column_name",
        "n_rows",
        "n_nulls",
        F.round(_hll_estimate_expr(), 2).alias("approx_distinct"),
    )


def _approx_profile_oracle() -> str:
    stacked = " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, {duck} AS v FROM lineitem"
        for c, _, duck in _CANON_COLS
    )
    m, rmax = _APPROX_HLL_M, _APPROX_RHO_MAX
    h = "CAST(('0x' || substr(md5(v), 1, 15))::UBIGINT AS BIGINT)"
    return f"""
WITH up AS ({stacked}),
counts AS (
  SELECT column_name, count(*) AS n_rows, count(*) - count(v) AS n_nulls
  FROM up GROUP BY 1
), keyed AS (
  SELECT column_name, {h} & {m - 1} AS bucket, {h} >> {_APPROX_HLL_P} AS w
  FROM up WHERE v IS NOT NULL
), rhos AS (
  SELECT column_name, bucket,
         CASE WHEN w = 0 THEN {rmax} ELSE {rmax} - length(bin(w)) END AS rho
  FROM keyed
), regs AS (
  SELECT column_name, bucket, max(rho) AS m_j FROM rhos GROUP BY 1, 2
), z AS (
  SELECT column_name,
         sum((1::BIGINT << ({rmax} - m_j))) + ({m} - count(*)) * (1::BIGINT << {rmax}) AS zint,
         {m} - count(*) AS zero_regs
  FROM regs GROUP BY 1
), est AS (
  SELECT column_name, zero_regs,
         CASE WHEN (CAST({_APPROX_ALPHA!r} AS DOUBLE) * {m * m} * {float(2**rmax)!r} / zint) <= {2.5 * m}
                   AND zero_regs > 0
              THEN CAST({m} AS DOUBLE) * ln(CAST({m} AS DOUBLE) / zero_regs)
              ELSE CAST({_APPROX_ALPHA!r} AS DOUBLE) * {m * m} * {float(2**rmax)!r} / zint
         END AS estimate
  FROM z
)
SELECT c.column_name, c.n_rows, c.n_nulls, round(e.estimate, 2) AS approx_distinct
FROM counts c JOIN est e USING (column_name)
"""


def q_profile_columns_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """profile_columns_approx's PRODUCTION form (VERDICT r8 #3): identical
    register topology (p={_APPROX_HLL_P}, m={_APPROX_HLL_M}, 52-bit rho
    stream, same alpha / small-range correction / integer-exact zsum), but
    the hash is the engine-native ``xxhash64`` — one whole-stage-codegen
    expression instead of the oracle form's 11-per-row md5 -> hex ->
    ``conv(16,10)`` string pipeline (the measured 2.5x constant,
    VERDICT r8 "What's wrong" #3).

    xxhash64 is not reproducible in DuckDB, so this row is rows-only by
    declaration; correctness is pinned by
    tests/test_r9_ops.py: (a) register-level parity — on equal-cardinality
    inputs the md5 and xxhash64 register tables agree in shape and the
    estimates agree within the p=8 error bound; (b) the same ±3·1.04/√m
    bound vs the EXACT profile that pins the md5 form.

    Scale shape — ONE pass over NATIVE values: each column is hashed
    in place (xxhash64 over the unconverted column — the md5 twin's
    per-row canonical STRING rendering exists only for cross-engine
    oracle determinism and was the measured bottleneck: 35-43 s at sf1
    with it, vs the exact profile's 28 s) and only the resulting BIGINT
    hashes are stacked, so the unpivot carries longs, never strings.
    Null values land in a NULL register bucket so ONE (column, bucket)
    partial aggregate carries n_rows/n_nulls AND the registers; the only
    exchange is ≤ |cols|·({_APPROX_HLL_M}+1) partially-aggregated rows,
    no full-key dedup anywhere."""
    li = table(spark, sf_dir, "lineitem")
    z = _fast_hll_keyed(li).groupBy("column_name", "bucket").agg(
        F.count(F.lit(1)).alias("c"), F.max("rho").alias("m_j")
    ).groupBy("column_name").agg(
        F.sum("c").alias("n_rows"),
        F.sum(F.when(F.col("bucket").isNull(), F.col("c")).otherwise(F.lit(0))).alias(
            "n_nulls"
        ),
        F.sum(
            F.when(
                F.col("bucket").isNotNull(),
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), {_APPROX_RHO_MAX} - CAST(m_j AS INT))"
                ),
            ).otherwise(F.lit(0))
        ).alias("zsum"),
        F.count("bucket").alias("present"),  # count() skips the NULL bucket
    ).select("column_name", "n_rows", "n_nulls", *_hll_zint_cols())
    return z.select(
        "column_name",
        "n_rows",
        "n_nulls",
        F.round(_hll_estimate_expr(), 2).alias("approx_distinct"),
    )


def _fast_hll_keyed(li: DataFrame) -> DataFrame:
    """q_profile_columns_fast's keyed register stage, exposed so the
    parity tests exercise THE production code path (r9 review), not a
    private copy: per column, the native value is hashed in place
    (xxhash64 over the unconverted column) and only the BIGINT hashes
    are stacked; nulls keep a NULL bucket (xxhash64(NULL) would collapse
    them onto the seed hash). Low {_APPROX_HLL_P} bits pick the
    register; the next 52 bits (unsigned shift — xxhash64 is a full
    signed 64-bit value) feed rho, keeping the worst-case integer zsum
    at 256 * 2^52 = 2^60 (exact BIGINT, no overflow)."""
    stack = ", ".join(
        f"'{c}', IF({c} IS NULL, CAST(NULL AS BIGINT), xxhash64({c}))"
        for c, _, _ in _CANON_COLS
    )
    up = li.selectExpr(f"stack({len(_CANON_COLS)}, {stack}) AS (column_name, h)")
    h = F.col("h")
    w = F.shiftrightunsigned(h, _APPROX_HLL_P).bitwiseAND(
        F.lit((1 << (_APPROX_RHO_MAX - 1)) - 1)
    )
    return up.select(
        "column_name",
        F.when(
            h.isNotNull(),
            h.bitwiseAND(F.lit(_APPROX_HLL_M - 1).cast("long")),
        ).alias("bucket"),  # NULL bucket = the null-count register
        F.when(
            h.isNotNull(),
            F.when(w == 0, F.lit(_APPROX_RHO_MAX)).otherwise(
                _APPROX_RHO_MAX - F.length(F.bin(w))
            ),
        ).alias("rho"),
    )


# --- per-column Shannon entropy profile ------------------------------------------
# The information-content half of the ANALYZE pass: null counts and
# distincts say nothing about BALANCE — a column with 1M distincts where
# one value holds 99% of rows behaves like a constant for joins,
# filters, and as a training feature. Entropy in nats over the exact
# value-frequency table, plus the ln(distinct)-normalized form (1.0 =
# uniform, →0 = degenerate). Computed as ln(N) − (Σ c·ln c)/N so the
# only float work is one log per DISTINCT value and one bounded sum.
#
# Scale shape: one (column, value) count aggregate (map-side partials),
# then a per-column fold over the distinct-value frame — the same
# topology as profile_histogram. No corpus-scale joins; the stack-unpivot
# scans lineitem once.

_ENTROPY_COLS = ("l_returnflag", "l_linestatus", "l_linenumber", "l_quantity",
                 "l_discount", "l_tax")


def q_profile_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    stack = ", ".join(f"'{c}', CAST({c} AS STRING)" for c in _ENTROPY_COLS)
    up = li.selectExpr(f"stack({len(_ENTROPY_COLS)}, {stack}) AS (column_name, v)")
    freq = up.groupBy("column_name", "v").agg(F.count(F.lit(1)).alias("c"))
    return freq.groupBy("column_name").agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / F.sum("c"),
            6,
        ).alias("entropy_nats"),
        F.round(
            F.when(
                F.count(F.lit(1)) > 1,
                (
                    F.log(F.sum("c").cast("double"))
                    - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / F.sum("c")
                )
                / F.log(F.count(F.lit(1)).cast("double")),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("norm_entropy"),
    )


Q_PROFILE_ENTROPY_ORACLE = f"""
WITH up AS (
  {" UNION ALL ".join(
    f"SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS v FROM lineitem"
    for c in _ENTROPY_COLS
  )}
), freq AS (
  SELECT column_name, v, count(*) AS c FROM up GROUP BY 1, 2
)
SELECT column_name,
       CAST(sum(c) AS BIGINT) AS n_rows,
       count(*) AS n_distinct,
       round(ln(CAST(sum(c) AS DOUBLE)) - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy_nats,
       round(CASE WHEN count(*) > 1
                  THEN (ln(CAST(sum(c) AS DOUBLE)) - sum(c * ln(CAST(c AS DOUBLE))) / sum(c))
                       / ln(CAST(count(*) AS DOUBLE))
                  ELSE 0.0 END, 6) AS norm_entropy
FROM freq GROUP BY column_name
"""


QUERIES = [
    QuerySpec("basket_lift_rules", q_basket_lift_rules, Q_BASKET_ORACLE, "market-basket pair rules: support/confidence/lift over order baskets (top-20 by lift)", ("profiling", "graph")),
    QuerySpec("gini_concentration", q_gini_concentration, Q_GINI_ORACLE, "Gini coefficient of customer revenue (integer-cent rank-weighted sums)", ("profiling",)),
    QuerySpec("benford_audit", q_benford_audit, Q_BENFORD_ORACLE, "Benford first-digit audit of order totals with chi-square statistic", ("profiling", "monitoring")),
    QuerySpec("zorder_layout", q_zorder_layout, _zorder_oracle(), "Z-order vs linear layout audit: zone-map scan fractions under band predicates", ("profiling", "layout")),
    QuerySpec("dp_noisy_counts", q_dp_noisy_counts, _dp_oracle(), "epsilon-calibrated Laplace DP histogram release with realized-error audit (derived noise)", ("profiling", "privacy")),
    QuerySpec("kcore_decomposition", q_kcore_decomposition, _kcore_oracle(), "3-round k-core peel (K = ceil(0.75 x mean degree)) over the co-purchase graph", ("graph",)),
    QuerySpec("k_anonymity_audit", q_k_anonymity_audit, _kanon_oracle(), "k-anonymity generalization-lattice audit over customer quasi-identifiers", ("profiling", "privacy")),
    QuerySpec("adamic_adar_linkpred", q_adamic_adar_linkpred, Q_ADAMIC_ADAR_ORACLE, "Adamic-Adar link prediction over the co-purchase graph (wedge join + anti-adjacency)", ("graph",)),
    QuerySpec("mutual_information", q_mutual_information, _mi_oracle(), "MI + normalized-MI dependency audit over categorical column pairs", ("profiling",)),
    QuerySpec("zipf_alpha", q_zipf_alpha, _zipf_oracle(), "Zipf rank-frequency power-law fit (alpha, intercept, r2) over the vocab", ("profiling", "text")),
    QuerySpec("label_propagation", q_label_propagation, _lpa_oracle(), "3-round synchronous LPA communities over the co-purchase graph (min-label tie-break, unrolled-CTE oracle)", ("graph",)),
    QuerySpec("profile_columns", q_profile_columns, Q_PROFILE_COLUMNS_ORACLE, "per-column null/distinct profile, one wide aggregate pass", ("profiling",)),
    QuerySpec("profile_columns_approx", q_profile_columns_approx, _approx_profile_oracle(), "approximate column profile: deterministic-HLL distincts (p=8, pinned error bound) — the 100 TB ANALYZE form", ("profiling", "sketch")),
    QuerySpec("profile_columns_fast", q_profile_columns_fast, None, "profile_columns_approx's production form: xxhash64 registers, same topology (rows-only; register-parity + error-bound pinned in tests/test_r9_ops.py)", ("profiling", "sketch")),
    QuerySpec("profile_entropy", q_profile_entropy, Q_PROFILE_ENTROPY_ORACLE, "per-column Shannon entropy + ln(distinct)-normalized balance profile", ("profiling",)),
    QuerySpec("profile_numeric", q_profile_numeric, Q_PROFILE_NUMERIC_ORACLE, "numeric min/max/avg/stddev profile, unpivoted", ("profiling",)),
    QuerySpec("profile_histogram", q_profile_histogram, Q_PROFILE_HISTOGRAM_ORACLE, "equal-width histograms per numeric column (engine-identical bin formula)", ("profiling",)),
    QuerySpec("profile_skew", q_profile_skew, Q_PROFILE_SKEW_ORACLE, "join-key skew profile: top-key share + p99/avg frequency ratio", ("profiling",)),
    QuerySpec("fk_integrity", q_fk_integrity, Q_FK_INTEGRITY_ORACLE, "referential-integrity audit: orphans per FK edge", ("profiling",)),
    QuerySpec("hll_distinct", q_hll_distinct, Q_HLL_DISTINCT_ORACLE, "deterministic integer-scaled HLL distinct sketch vs exact", ("profiling", "sketch")),
    QuerySpec("fuzzy_join_names", q_fuzzy_join_names, Q_FUZZY_JOIN_ORACLE, "edit-distance<=2 self-join, lossless q-gram + length-band blocking", ("profiling", "dedup")),
    QuerySpec("pagerank_copurchase", q_pagerank_copurchase, _pagerank_oracle(), "3-round PageRank over co-purchase graph, unrolled-CTE oracle", ("graph",)),
    QuerySpec("triangle_count", q_triangle_count, Q_TRIANGLE_ORACLE, "compact-forward triangle count + global clustering coefficient", ("graph",)),
    QuerySpec("degree_profile", q_degree_profile, Q_DEGREE_PROFILE_ORACLE, "log2-bucketed degree distribution (the salt-or-not first look)", ("graph", "profiling")),
    QuerySpec("quantile_norm", q_quantile_norm, Q_QUANTILE_NORM_ORACLE, "percentile-rank + p05/p95 winsorization of doc token counts", ("profiling", "quality")),
    QuerySpec("compression_ratio", q_compression_ratio, None, "zlib compression-ratio quality signal (rows-only; zlib-equality tested)", ("quality",)),
]
