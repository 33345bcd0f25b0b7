"""Skew-salted join equivalence, observe metrics, ANN recall, liveness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jetstream_spark.operators.observability import LivenessMonitor, with_stage_metrics
from jetstream_spark.operators.skew import salted_join
from jetstream_spark.queries.similarity import TOP_K, q_ann_brute_force, q_ann_lsh
from jetstream_spark.tables import table
from tests.conftest import SF_DIR


def test_salted_join_equivalence(spark):
    """Salting must not change the result set — verified on a skewed key
    distribution (90% of lineitem rows share one supplier in this frame)."""
    li = table(spark, SF_DIR, "lineitem").withColumn(
        "skew_key", F.when(F.col("l_orderkey") % 10 != 0, F.lit(1)).otherwise(F.col("l_suppkey"))
    )
    sup = table(spark, SF_DIR, "supplier").select(
        F.col("s_suppkey").alias("skew_key"), "s_name", "s_nationkey"
    )
    plain = li.join(sup, "skew_key").groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("rev")
    )
    salted = salted_join(li, sup, "skew_key", salt_partitions=8).groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("rev")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_outer(spark):
    nation = table(spark, SF_DIR, "nation")
    region = table(spark, SF_DIR, "region").select(
        F.col("r_regionkey").alias("n_regionkey"), "r_name"
    )
    plain = nation.join(region, "n_regionkey", "left").select("n_nationkey", "r_name")
    salted = salted_join(nation, region, "n_regionkey", 4, how="left").select(
        "n_nationkey", "r_name"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_observe_metrics(spark):
    li = table(spark, SF_DIR, "lineitem")
    observed, obs = with_stage_metrics(li, "normalize")
    n = observed.count()
    metrics = obs.get
    assert metrics["events_processed"] == n
    assert metrics["bytes_estimate"] > 0


def test_ann_lsh_recall_vs_brute_force(spark):
    """The approximate path must overlap the exact top-k meaningfully —
    recall floor asserted so bucket-config regressions get caught."""
    exact = {
        (r["query_id"], r["vec_id"]) for r in q_ann_brute_force(spark, SF_DIR).collect()
    }
    approx = {(r["query_id"], r["vec_id"]) for r in q_ann_lsh(spark, SF_DIR).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"LSH recall collapsed: {recall:.2f}"


def test_ann_brute_force_partial_topk_bounds_shuffle_input(spark):
    """The score kernel must pre-reduce per partition: the window shuffle
    sees at most k rows per query per partition, never the N·Q score
    matrix — and the partial path must agree exactly with the full one."""
    from jetstream_spark.queries.similarity import N_QUERIES, _scores_df

    partial = _scores_df(spark, SF_DIR, partial_topk=TOP_K)
    n_parts = partial.rdd.getNumPartitions()
    n_rows = partial.count()
    assert n_rows <= TOP_K * N_QUERIES * n_parts, (n_rows, n_parts)

    full = _scores_df(spark, SF_DIR)
    n_base = full.select("vec_id").distinct().count()
    assert n_rows < full.count(), "partial top-k did not reduce anything"
    assert n_base > TOP_K * n_parts or n_rows == full.count()

    # same final answer either way
    def topk(scores):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
        return sorted(
            (r["query_id"], r["vec_id"], round(r["cosine"], 6))
            for r in scores.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TOP_K)
            .collect()
        )

    assert topk(partial) == topk(full)


def test_aqe_skew_join_split(spark):
    """AQE's runtime skew-join split — the config session.py relies on for
    hot keys the optimizer can't see statically. A 95%-hot-key join under
    sort-merge must (a) produce exact results and (b) show skew=true
    handling in the final adaptive plan."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 300_000).selectExpr(
            "CASE WHEN id % 20 != 0 THEN 0 ELSE id END AS k",  # ~95% of rows on key 0
            "id AS payload",
        )
        dim = spark.range(0, 300_000, 20).selectExpr("id AS k", "id * 2 AS v").union(
            spark.range(0, 1).selectExpr("0 AS k", "0 AS v")
        ).distinct()
        joined = big.join(dim, "k")
        # collect() executes THIS DataFrame's QueryExecution — count() would
        # run a different one and leave this plan unfinalized
        rows = joined.collect()
        assert len(rows) == 300_000, "every big row matches exactly one dim row"
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE must have split the skewed partition"
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_approx_aggregates_error_bounds(spark):
    """Sketch aggregates (the cardinality/quantile path at 100 TB, where
    exact distinct/percentile shuffles are the bottleneck): HLL++ distinct
    and KLL-style percentile must land inside their error bounds vs exact.
    No SQL oracle possible (sketch internals differ per engine) — the
    error-bound contract IS the spec."""
    from jetstream_spark.tables import table

    ev = table(spark, SF_DIR, "events")
    exact = ev.select(F.countDistinct("user_id")).first()[0]
    approx = ev.select(F.approx_count_distinct("user_id")).first()[0]
    assert abs(approx - exact) / exact < 0.15, f"HLL off: {approx} vs {exact}"

    ex_med = ev.select(F.expr("percentile(value, 0.5)")).first()[0]
    ap_med = ev.select(F.expr("approx_percentile(value, 0.5, 1000)")).first()[0]
    spread = ev.select(F.max("value") - F.min("value")).first()[0]
    assert abs(ap_med - ex_med) <= 0.02 * spread, f"approx median off: {ap_med} vs {ex_med}"


def test_ann_ivf_recall_vs_brute_force(spark):
    """IVF probe path: recall floor vs the exact baseline, so cell/probe
    config regressions get caught."""
    from jetstream_spark.queries.similarity import q_ann_ivf

    exact = {(r["query_id"], r["vec_id"]) for r in q_ann_brute_force(spark, SF_DIR).collect()}
    approx = {(r["query_id"], r["vec_id"]) for r in q_ann_ivf(spark, SF_DIR).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"IVF recall collapsed: {recall:.2f}"
    # every LSH hit must rank within the query's bucket — sanity: no self-matches
    assert all(q != v for q, v in approx)


def test_liveness_monitor_tracks_progress(spark, tmp_path):
    import json
    import os
    import time as _t

    mon = LivenessMonitor(stall_limit_s=3600)
    spark.streams.addListener(mon)
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "x.jsonl"), "w") as f:
        f.write(json.dumps({"k": 1}) + "\n")
    stream = spark.readStream.schema("k bigint").json(src)
    q = (
        stream.writeStream.format("memory")
        .queryName("liveness_test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        deadline = _t.time() + 10
        while q.id not in {qid for qid in mon.last_progress} and _t.time() < deadline:
            _t.sleep(0.2)
        assert str(q.id) in {str(k) for k in mon.last_progress}, "listener saw no progress"
        assert not mon.stalled()
    finally:
        q.stop()
        spark.streams.removeListener(mon)


def test_pca_project_matches_numpy_reference(spark):
    """Full-pipeline equality with an independent numpy PCA on the raw
    parquet: covariance partials -> driver eigh -> broadcast projection
    must equal eigh(np.cov) projection with the same sign convention."""
    import numpy as np
    import pyarrow.parquet as pq

    from jetstream_spark.queries.similarity import PCA_DIM, q_embedding_pca_project

    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pydict()
    ids = np.array(tbl["vec_id"])
    m = np.array([list(v) for v in tbl["embedding"]], dtype=np.float64)
    mu = m.mean(axis=0)
    c = ((m - mu).T @ (m - mu)) / len(m)
    evals, evecs = np.linalg.eigh(c)
    comps = evecs[:, ::-1][:, :PCA_DIM].T
    for k in range(PCA_DIM):
        piv = np.argmax(np.abs(comps[k]))
        if comps[k, piv] < 0:
            comps[k] = -comps[k]
    proj = (m - mu) @ comps.T
    resid = (m - mu) - proj @ comps
    err = np.sqrt((resid**2).sum(axis=1))
    expect = {
        int(i): (list(np.round(p, 6)), float(np.round(e, 6)))
        for i, p, e in zip(ids, proj, err)
    }

    got = q_embedding_pca_project(spark, SF_DIR).collect()
    assert len(got) == len(expect)
    for r in got:
        ep, ee = expect[r["vec_id"]]
        got_proj = [float(v) for v in r["proj_csv"].split(",")]
        assert np.allclose(got_proj, ep, atol=2e-6), r["vec_id"]
        assert "-0.000000" not in r["proj_csv"]  # -0.0 canonicalized
        assert abs(r["recon_err"] - ee) <= 2e-6
        assert r["var_explained_topk"] > 0


def test_knn_graph_ivf_recall_vs_exact(spark):
    """The IVF-restricted graph must recover most exact nearest-neighbor
    edges — recall floor pinned so cell-config regressions get caught."""
    from jetstream_spark.queries.similarity import q_knn_graph, q_knn_graph_ivf

    exact = {
        (r["vec_id"], r["neighbor_id"]) for r in q_knn_graph(spark, SF_DIR).collect()
    }
    approx = {
        (r["vec_id"], r["neighbor_id"]) for r in q_knn_graph_ivf(spark, SF_DIR).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF kNN-graph recall collapsed: {recall:.2f}"


def test_monitoring_ops_invariants(spark):
    """PSI is a sum of (p-q)ln(p/q) terms, each >= 0, so psi >= 0 always;
    and the anomaly monitor must flag something on the fixture while
    respecting its own |z| floor."""
    from jetstream_spark.queries.eventlog import ANOM_Z, q_rate_anomaly
    from jetstream_spark.queries.sampling import q_split_drift_psi

    psi = q_split_drift_psi(spark, SF_DIR).collect()
    assert {r["feature"] for r in psi} == {"n_chars", "n_tokens"}
    assert all(r["psi"] >= 0 for r in psi)
    # identically-distributed md5 split: drift stays under the classic
    # "significant shift" threshold (0.25); the 52-doc sf0.001 test split
    # carries enough sampling noise that the tighter 0.1 band doesn't hold
    assert all(r["psi"] < 0.25 for r in psi)

    anoms = q_rate_anomaly(spark, SF_DIR).collect()
    assert anoms, "fixture must contain rate anomalies"
    assert all(abs(r["zscore"]) >= ANOM_Z for r in anoms)


def test_embedding_outliers_match_numpy_reference(spark):
    """Full-pipeline equality with an independent numpy Mahalanobis on the
    raw parquet: covariance partials -> ridge inverse -> scoring -> top-N
    must equal np.cov-based scoring with the same ridge and tiebreak."""
    import numpy as np
    import pyarrow.parquet as pq

    from jetstream_spark.queries.similarity import (
        MAHA_RIDGE,
        MAHA_TOP_N,
        q_embedding_outliers,
    )

    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pydict()
    ids = np.array(tbl["vec_id"])
    m = np.array([list(v) for v in tbl["embedding"]], dtype=np.float64)
    mu = m.mean(axis=0)
    cov = ((m - mu).T @ (m - mu)) / len(m)
    prec = np.linalg.inv(cov + MAHA_RIDGE * np.eye(m.shape[1]))
    c = m - mu
    md = np.round(np.einsum("ij,jk,ik->i", c, prec, c), 6)
    expect = sorted(zip(md, ids), key=lambda t: (-t[0], t[1]))[:MAHA_TOP_N]

    got = q_embedding_outliers(spark, SF_DIR).collect()
    assert len(got) == MAHA_TOP_N
    for r, (emd, eid) in zip(got, expect):
        assert r["vec_id"] == eid
        assert abs(r["mahalanobis_sq"] - emd) <= 2e-6


def test_scd2_intervals_chain(spark):
    """SCD2 invariants: versions contiguous from 1, intervals chain
    (valid_to == next valid_from), consecutive runs change tier, exactly
    one open (current) interval per user, n_events conserve the log."""
    from jetstream_spark.queries.eventlog import q_scd2_user_tiers

    rows = q_scd2_user_tiers(spark, SF_DIR).collect()
    ev_counts = {
        r["user_id"]: r["n"]
        for r in table(spark, SF_DIR, "events").groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert set(by_user) == set(ev_counts)
    for uid, runs in by_user.items():
        runs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in runs] == list(range(1, len(runs) + 1))
        assert sum(r["n_events"] for r in runs) == ev_counts[uid]
        assert sum(r["is_current"] for r in runs) == 1 and runs[-1]["is_current"]
        for a, b in zip(runs, runs[1:]):
            assert a["valid_to_us"] == b["valid_from_us"]
            assert a["tier"] != b["tier"]
        assert runs[-1]["valid_to_us"] is None


def test_ab_test_matches_python(spark):
    """Recompute the two-proportion z-test from the raw parquet with the
    same md5 arm assignment; flagging must agree with the unrounded z."""
    import hashlib
    import math

    import pyarrow.parquet as pq

    from jetstream_spark.queries.eventlog import AB_CONV_VALUE, q_ab_test_conversion

    t = pq.read_table(f"{SF_DIR}/events.parquet").to_pydict()
    conv: dict[int, int] = {}
    for u, et, v in zip(t["user_id"], t["event_type"], t["value"]):
        c = conv.get(u, 0)
        conv[u] = max(c, int(et == "purchase" and v > AB_CONV_VALUE))
    arms = {"A": [0, 0], "B": [0, 0]}
    for u, c in conv.items():
        arm = "A" if int(hashlib.md5(str(u).encode()).hexdigest()[:4], 16) % 2 == 0 else "B"
        arms[arm][0] += 1
        arms[arm][1] += c
    (n_a, c_a), (n_b, c_b) = arms["A"], arms["B"]
    pool = (c_a + c_b) / (n_a + n_b)
    z = (c_a / n_a - c_b / n_b) / math.sqrt(pool * (1 - pool) * (1 / n_a + 1 / n_b))

    r = q_ab_test_conversion(spark, SF_DIR).collect()[0]
    assert (r["n_a"], r["n_b"]) == (n_a, n_b)
    assert abs(r["conv_rate_a"] - c_a / n_a) <= 1e-6
    assert abs(r["conv_rate_b"] - c_b / n_b) <= 1e-6
    assert abs(r["zscore"] - z) <= 1e-4
    assert r["significant_95"] == (abs(z) > 1.96)
    # md5 arms split a healthy fraction to each side
    assert min(n_a, n_b) > 0.3 * (n_a + n_b)


def test_ann_pq_recall_vs_brute_force(spark):
    """PQ/ADC top-k must recover a sane fraction of the exact cosine
    neighbors (L2-on-normalized == cosine order, so the comparison is
    apples-to-apples); floor pinned so codebook/encoding regressions get
    caught. Also: ADC distances non-negative, ranks dense per query."""
    from jetstream_spark.queries.similarity import (
        TOP_K,
        q_ann_brute_force,
        q_ann_pq_topk,
    )

    exact = {}
    for r in q_ann_brute_force(spark, SF_DIR).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {}
    for r in q_ann_pq_topk(spark, SF_DIR).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
        assert r["adc_dist"] >= 0.0
    assert set(got) == set(exact)
    hits = sum(len(exact[q] & got[q]) for q in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.3, f"PQ recall collapsed: {recall:.2f}"
    for q, members in got.items():
        assert len(members) == TOP_K


def test_ann_ivfpq_candidates_and_recall(spark):
    """IVF-PQ results must (a) respect the IVF pruning contract — every
    returned neighbor's cell lies in the query's probe set — and (b) keep
    a recall floor vs exact brute force (measured 0.48 on this corpus;
    IVF's own candidate ceiling is 0.6, so 0.25 catches collapse without
    flaking)."""
    import numpy as np

    from jetstream_spark.queries.similarity import (
        IVF_NPROBE,
        _ivf_centroids,
        _normalized,
        _query_matrix,
        q_ann_brute_force,
        q_ann_ivfpq_topk,
    )
    from jetstream_spark.tables import table

    cents = _ivf_centroids(spark, SF_DIR)
    rows = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = _normalized(np.array([r["embedding"] for r in rows], dtype=np.float64))
    cell = dict(zip(ids.tolist(), np.argmax(mat @ cents.T, axis=1).tolist()))
    q_ids, q_mat = _query_matrix(spark, SF_DIR)
    probe = {
        int(q): set(np.argsort(-(_normalized(q_mat) @ cents.T))[i, :IVF_NPROBE].tolist())
        for i, q in enumerate(q_ids)
    }

    got = {}
    for r in q_ann_ivfpq_topk(spark, SF_DIR).collect():
        assert cell[r["vec_id"]] in probe[r["query_id"]], "result outside probed cells"
        assert r["adc_dist"] >= 0.0
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    exact = {}
    for r in q_ann_brute_force(spark, SF_DIR).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    recall = hits / sum(len(v) for v in exact.values())
    assert recall >= 0.25, f"IVF-PQ recall collapsed: {recall:.2f}"


def test_ab_bootstrap_ci_properties(spark):
    """Deterministic Poisson-bootstrap CI: reruns are bit-identical (no
    RNG state), the interval is ordered and brackets the point-estimate
    lift, and covers_zero agrees with the bounds."""
    from jetstream_spark.queries.eventlog import (
        AB_BOOT_B,
        q_ab_bootstrap_ci,
        q_ab_test_conversion,
    )

    r1 = q_ab_bootstrap_ci(spark, SF_DIR).collect()[0].asDict()
    r2 = q_ab_bootstrap_ci(spark, SF_DIR).collect()[0].asDict()
    assert r1 == r2
    # replicas that drew an arm empty are excluded by contract; at this SF
    # the arms are small enough that P(empty) = e^-m costs a few of the 200
    assert AB_BOOT_B * 0.9 <= r1["b_replicas"] <= AB_BOOT_B
    assert r1["ci_lo"] <= r1["mean_lift"] <= r1["ci_hi"]
    z = q_ab_test_conversion(spark, SF_DIR).collect()[0]
    lift = z["conv_rate_a"] - z["conv_rate_b"]
    # the bootstrap mean concentrates on the observed lift; the CI must
    # contain it with lots of room at these n
    assert r1["ci_lo"] <= lift <= r1["ci_hi"]
    assert r1["covers_zero"] == (r1["ci_lo"] <= 0.0 <= r1["ci_hi"])
