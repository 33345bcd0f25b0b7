"""Engine-wide physical-plan guards over the WHOLE query registry.

Two scale anti-patterns must never silently reappear in a declared query:

- `CartesianProduct` — an unconstrained pairwise join is a corpus-squared
  scan at 100 TB. (Broadcast nested-loop joins against literally
  constant-size frames — 1-row stats, the |domains| mixture, the k-row
  centroid table — are fine and NOT flagged here.)
- `Exchange RoundRobinPartitioning` — a blind full-table reshuffle; every
  deliberate repartition in the engine is hash-based on a key, and the
  shingle gate only fires when the scan yields fewer splits than cores.

Plans are taken WITHOUT executing the final job (sparkPlan, not the
adaptive executed plan). Iterative builders run their driver-side rounds
during construction — cheap at sf0.001 — so since r5 NOTHING is skipped:
every declared query's final frame is swept. Because a final frame only
shows the LAST round's lineage (earlier rounds hide behind localCheckpoint
leaves), the iterative algorithms additionally expose their per-round
frame constructors, asserted round-shape-by-round-shape below.
"""

from __future__ import annotations

import pytest

from jetstream_spark.queries import all_queries
from tests.conftest import SF_DIR


def _assert_clean(name: str, plan: str) -> None:
    assert "CartesianProduct" not in plan, f"{name}: cartesian join\n{plan[:2000]}"
    assert "RoundRobinPartitioning" not in plan, (
        f"{name}: blind round-robin reshuffle\n{plan[:2000]}"
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().sparkPlan().toString()


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_cartesian_or_roundrobin(spark, name):
    spec = all_queries()[name]
    df = spec.build(spark, SF_DIR)
    _assert_clean(name, _plan(df))


# ---- per-ROUND plans of the iterative algorithms ------------------------------
# The sweep above sees only each query's final frame; for loop-built
# operators that frame starts at a localCheckpoint leaf, hiding the round
# bodies. Each algorithm therefore exposes its round constructor, pinned
# here: clean of the two anti-patterns AND using the intended join strategy.


def test_pagerank_round_plan(spark):
    from pyspark.sql import functions as F

    from jetstream_spark.queries.profiling import _copurchase_edges, _pagerank_round
    from jetstream_spark.tables import table

    edges = _copurchase_edges(table(spark, SF_DIR, "lineitem")).localCheckpoint()
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("outd")).localCheckpoint()
    ranks = (
        edges.select(F.col("s").alias("node")).distinct().withColumn("rank", F.lit(0.5))
    )
    plan = _plan(_pagerank_round(edges, deg, ranks, 0.05))
    _assert_clean("pagerank_round", plan)
    # the node-scale rank/degree frames must BROADCAST onto the edge list;
    # a sort-merge join here would shuffle the edges once per round
    assert plan.count("BroadcastHashJoin") == 2, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_kmeans_round_plan(spark):
    from jetstream_spark.queries.clustering import _km_round_agg, _km_seeds
    from jetstream_spark.tables import table

    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    frame = _km_round_agg(emb, _km_seeds(emb))
    plan = _plan(frame)
    _assert_clean("kmeans_round", plan)
    # one map-only Arrow pass + at most ONE partial-aggregated exchange on
    # (cell, d) — at sf0.001 the scan is a single split and Catalyst elides
    # the exchange outright
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:2000]
    assert plan.count("HashAggregate") == 2, plan[:2000]  # partial + final
    assert "Join" not in plan, plan[:2000]


def test_bpe_round_plan(spark):
    from pyspark.sql import functions as F

    from jetstream_spark.queries.tokenizer import _chars, _pair_argmax_frame, _word_freq

    vocab = _word_freq(spark, SF_DIR).select(
        "word", "freq", _chars(F.col("word")).alias("symbols")
    )
    plan = _plan(_pair_argmax_frame(vocab))
    _assert_clean("bpe_round", plan)
    # the argmax is a TakeOrdered over partial-aggregated pair counts, not
    # a global sort of the pair table
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_components_round_plans(spark):
    from pyspark.sql import functions as F

    from jetstream_spark.operators.components import (
        _hash_to_min_round,
        _large_star_frame,
        _small_star_frame,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint"
    )
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .union(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    _assert_clean("hash_to_min_round", _plan(_hash_to_min_round(sym, labels)))
    star_in = sym.select(F.col("a").alias("u"), F.col("b").alias("v")).localCheckpoint()
    large = _large_star_frame(star_in)
    _assert_clean("large_star_round", _plan(large))
    _assert_clean("small_star_round", _plan(_small_star_frame(large.localCheckpoint())))


# ---- fact-join strategy pins ---------------------------------------------------
# r4's bench flagged q9/q21/dsir ~30% slower with byte-identical plans
# (min-of-2 sampled their slow warmup tails — see bench.timed). These pins
# make an ACTUAL join-strategy flip — the failure mode the flag was
# mistaken for — a test failure instead of a bench mystery.
# Scan counts below are upper bounds: a plan that reads a source fewer
# times is not a regression, one that re-reads it is.


def test_q9_join_strategy_pinned(spark):
    df = all_queries()["q9_product_profit"].build(spark, SF_DIR)
    plan = _plan(df)
    # lineitem never shuffles: part/orders/supplier/nation all broadcast
    assert plan.count("BroadcastHashJoin") == 4, plan[:2000]
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan[:2000]


def test_q21_join_strategy_pinned(spark):
    # r14 single-pass form: the EXISTS/NOT-EXISTS self-joins collapsed
    # into per-order supplier-set aggregates — lineitem is scanned ONCE
    # and the only join left is the broadcast supplier lookup.
    df = all_queries()["q21_sole_blame_suppliers"].build(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") <= 2, plan[:2000]  # lineitem + supplier
    assert plan.count("BroadcastHashJoin") == 1, plan[:2000]
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan[:2000]


def test_tfidf_single_tokenize_pass(spark):
    # r14: doc_len and df re-aggregate the lazily-checkpointed (doc, term)
    # count frame — documents is tokenized once (the one parquet scan left
    # is the count-only N aggregate) and no WindowExec sort appears (the
    # rejected first cut rode two whole-partition windows, A/B 1.28x
    # against).
    df = all_queries()["tfidf_top_terms"].build(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") <= 1, plan[:2000]
    assert plan.count("Scan ExistingRDD") <= 3, plan[:2000]
    assert "Window" not in plan and "SortMergeJoin" not in plan, plan[:2000]


def test_fuzzy_join_names_checkpoints_names(spark):
    # r14: the vocab-scale distinct-names frame is checkpointed once; its
    # six consumers read the checkpoint blocks, not six part scans.
    df = all_queries()["fuzzy_join_names"].build(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 0, plan[:2000]
    assert plan.count("Scan ExistingRDD") >= 4, plan[:2000]


def test_skyline_checkpoints_survivors(spark):
    # r14: the frontier-sized survivor frame is checkpointed once; the
    # exact pass and the final join read it instead of re-deriving the
    # grid-prune chain (8 part scans before).
    df = all_queries()["skyline_parts"].build(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 0, plan[:2000]
    assert plan.count("Scan ExistingRDD") <= 2, plan[:2000]


def test_dsir_scoring_is_map_only(spark):
    # r5 restructure: the 256-bucket model folds into an array literal, so
    # the returned frame is ONE projection over the documents scan — no
    # join, no exchange. (The stats pass runs at build time, collect-bounded
    # to 256 rows.)
    df = all_queries()["importance_weights_dsir"].build(spark, SF_DIR)
    plan = _plan(df)
    assert "Join" not in plan, plan[:2000]
    assert "Exchange" not in plan, plan[:2000]


def test_lr_round_plan(spark):
    from pyspark.sql import functions as F

    from jetstream_spark.queries.text import q_quality_score

    feat = q_quality_score(spark, SF_DIR).select(
        F.least(F.col("n_tokens") / 50.0, F.lit(1.0)).alias("x1"),
        F.col("stopword_ratio").alias("x2"),
        F.col("alnum_ratio").alias("x3"),
        (F.col("quality_score") >= 0.5).cast("double").alias("y"),
    )
    dot = F.lit(0.1) + F.lit(0.2) * F.col("x1") + F.lit(0.3) * F.col("x2") + F.lit(0.4) * F.col("x3")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-dot))
    g = feat.agg(
        F.avg(F.col("y") - p).alias("g0"),
        F.avg(F.col("x1") * (F.col("y") - p)).alias("g1"),
        F.avg(F.col("x2") * (F.col("y") - p)).alias("g2"),
        F.avg(F.col("x3") * (F.col("y") - p)).alias("g3"),
    )
    plan = _plan(g)
    _assert_clean("lr_gradient_round", plan)
    # one map-side partial + one final agg over a 4-double state; a round
    # must never join or re-shuffle the corpus
    assert plan.count("HashAggregate") == 2, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    assert plan.count("Exchange") <= 1, plan[:2000]


def test_lpa_round_plan(spark):
    from pyspark.sql import functions as F

    from jetstream_spark.queries.profiling import _copurchase_edges, _lpa_round
    from jetstream_spark.tables import table

    edges = _copurchase_edges(table(spark, SF_DIR, "lineitem")).localCheckpoint()
    # checkpoint the label frame like the real loop does (rounds >= 1 see a
    # checkpoint LEAF, not the distinct's lineage) so the asserted plan is
    # exactly one round body
    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    best = _lpa_round(edges, labels)
    plan = _plan(best)
    _assert_clean("lpa_round", plan)
    # node-scale label frame broadcasts onto the edges; the round is ONE
    # mode aggregate with map-side partial merge (r14: was a (s,label)
    # count exchange + an s argmax exchange) — no per-group window sort,
    # never an edge re-shuffle beyond the single mode exchange
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "mode(" in plan, plan[:2000]
    # partial (map-side) mode below the exchange, final above — exactly two
    # ObjectHashAggregate nodes and no other aggregate in the round body
    assert plan.count("ObjectHashAggregate") == 2, plan[:2000]
    assert "partial_mode" in plan, plan[:2000]
    # exchange count is asserted on the POST-EnsureRequirements plan
    # (sparkPlan precedes exchange insertion): exactly one hash exchange
    executed = best._jdf.queryExecution().executedPlan().toString()
    assert executed.count("Exchange hashpartitioning") == 1, executed[:2000]


def test_kcenter_round_plan(spark):
    from pyspark.sql import functions as F

    from jetstream_spark.queries.similarity import _kc_dot
    from jetstream_spark.tables import table

    emb = table(spark, SF_DIR, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    nrm = F.sqrt(F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    pts = emb.select("vec_id", "v", nrm.alias("nrm")).localCheckpoint()
    cent = pts.orderBy("vec_id").limit(1).select(
        F.array(F.col("v")).alias("cvs"), F.array(F.col("nrm")).alias("cns")
    ).localCheckpoint()
    mind = F.array_min(
        F.zip_with(
            "cvs", "cns",
            lambda cv, cn: F.round(F.lit(1.0) - _kc_dot(F.col("v"), cv) / (F.col("nrm") * cn), 6),
        )
    )
    pick = (
        pts.crossJoin(F.broadcast(cent))
        .select("vec_id", "v", "nrm", mind.alias("mind"))
        .orderBy(F.col("mind").desc(), "vec_id")
        .limit(1)
    )
    plan = _plan(pick)
    _assert_clean("kcenter_round", plan)
    # the whole greedy round is ONE map pass over the checkpointed corpus
    # + a 1-row TakeOrdered: a broadcast of the 1-row centers frame is the
    # only join, and there is NO shuffle exchange anywhere
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_kcore_round_plan(spark):
    from pyspark.sql import functions as F

    from jetstream_spark.queries.profiling import _copurchase_edges
    from jetstream_spark.tables import table

    edges = _copurchase_edges(table(spark, SF_DIR, "lineitem")).localCheckpoint()
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    kk = deg.agg(F.ceil(F.avg("d") * 0.75).cast("long").alias("k")).localCheckpoint()
    keep = (
        deg.crossJoin(F.broadcast(kk)).where(F.col("d") >= F.col("k")).select("s").localCheckpoint()
    )
    nxt = (
        edges.join(F.broadcast(keep), "s")
        .join(F.broadcast(keep.withColumnRenamed("s", "t")), "t")
        .select("s", "t")
    )
    plan = _plan(nxt)
    _assert_clean("kcore_round", plan)
    # survivor semijoins are EXPLICIT broadcasts (the LPA rule — AQE can't
    # size a checkpointed build side); the edge list itself never shuffles
    # for the filter step
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
