"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf", "cpus", "commit", ...}.

Each query is forced through the noop sink (full materialization, no
driver-side collect cost). First a warmup pass of q1 amortizes JVM/codegen
startup out of the per-query numbers.

This harness measures; it does not judge. A regression is called only by
an alternating A/B of two commits (`python tools/probe_queries.py --ab
COMMIT q1 q2 ...`), which samples both code versions across the same
span of host load.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from jetstream_spark.queries import all_queries
from jetstream_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_running_revenue",
    "rollup_revenue",
    "replay_scan",
    "sessionization",
    "asof_join_purchases",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_brute_force_topk",
    "text_quality_score",
    "text_fingerprint",
    "multimodal_byte_stats",
]

# Timed and REPORTED every run (visible cost), but kept out of the headline
# total so round-over-round totals stay comparable: the heavy exact baselines
# plus queries added after the headline set was frozen.
EXTRAS = [
    "dedup_ngram_jaccard",   # exact quadratic-worst-case baseline (PPJoin-pruned)
    "dedup_embedding_cosine",  # exact blocked all-pairs (low-threshold regime)
    "variant_props_stats",
    "hopping_window_hourly",
    "doc_packing",
    "sample_split",
    "salted_join_revenue",
    "ann_lsh_indexed",       # r3: index build + partition-pruned probe
    "ann_ivf_indexed",       # r3: inverted-file build + nprobe-cell probe
    "vocab_top_terms",       # r3: explode + distributed top-k
    "dedup_components",      # r3: pair graph → connected components (iterative)
    "dedup_incremental",     # r3: batch probe of the materialized band index
    "embedding_quantize_int8",  # r3: map-only int8 rewrite
    "tfidf_top_terms",       # r3: tf-idf + broadcast vocab join + top-k
    "unigram_perplexity",    # r3: broadcast unigram LM + per-doc scoring
    "importance_weights_dsir",  # r3: hashed-ngram log-ratio weights
    "q6_forecast_revenue",   # r3: full-pushdown scan-filter-agg (TPC-H Q6)
    "q9_product_profit",     # r3: 4-way join profit rollup (TPC-H Q9)
    "q21_sole_blame_suppliers",  # r3: EXISTS/NOT-EXISTS self-join on the fact
    "semdedup_pairs",        # r3: within-cluster cosine dedup (SemDeDup)
    "knn_graph",             # r4: exact top-k neighbor graph (blocked cogroup)
    "weighted_sample",       # r4: A-Res weighted sample via TakeOrdered
    "dedup_containment",     # r4: exact directed containment (Σdf² inverted join;
                             # perf-weak-by-design corpus like the jaccard baseline —
                             # DuckDB needs 55 s for the same sf0.1 join, we do it in ~13)
    "dedup_containment_kmv",  # r4: KMV containment sketch tier (K-bounded probe)
    "bm25_topk",             # r4: map-only BM25 scoring + TakeOrdered
    "embedding_covariance",  # r4: one-pass X^T X partial reduction
    "knn_graph_ivf",         # r4: approximate kNN graph within IVF cells
    "kmeans_train",          # r4: 3-round iterative Lloyd trainer
    "rate_anomaly",          # r4: hourly rate z-score monitor
    "pagerank_copurchase",   # r4: 3-round iterative broadcast-rank joins
    "fuzzy_join_names",      # r4: lossless-blocked edit-distance join
    "hll_distinct",          # r4: integer-scaled HLL register build
    "phrase_search",         # r4: positional posting-list intersection
    "scd2_user_tiers",       # r4: changelog -> SCD2 run collapse
    "profile_columns",       # r4: wide multi-distinct profiling scan
    "ann_pq_topk",           # r5: PQ codes + ADC (memory-compressed tier)
    "ann_ivfpq_topk",        # r5: IVF-PQ composition (cell-pruned ADC)
    "multimodal_phash_dedup",  # r5: aHash image dedup over PNG round-trips
    "dedup_substring_spans",  # r5: ExactSubstr char-window spans
    "training_shards",       # r5: seeded global-shuffle manifest
    "ab_bootstrap_ci",       # r5: 200-replica Poisson bootstrap CI
    "bpe_learn_merges",      # r5: 24-round iterative BPE trainer
    "dedup_embedding_lsh",   # r6: random-hyperplane banding + verify (0.9 tier)
    "zipf_alpha",            # r6: vocab rank-frequency OLS fit
    "quality_classifier_lr",  # r6: 3-round GD logistic quality filter
    "sketch_theta_setops",   # r7: KMV/theta sketch set algebra vs exact
    "fingerprint_winnowing",  # r7: MOSS winnowing + df-capped pairing
    "skyline_parts",         # r7: grid-pruned Pareto frontier
    "hybrid_search_rrf",     # r7: BM25 + dense RRF fusion
    "mmr_diverse_topk",      # r7: 5-round MMR greedy re-rank
    "mutual_information",    # r7: MI/NMI dependency audit (3 pairs)
    "adamic_adar_linkpred",  # r7: query-node AA wedge scoring
    "k_anonymity_audit",     # r7: generalization-lattice privacy audit
    "ohlc_bars",             # r7: OHLC downsample (ordered pass + agg)
    "textrank_keywords",     # r7: co-occurrence graph + 3 weighted PR rounds
    "attribution_last_touch",  # r7: one per-user ordered attribution pass
    "kcenter_coreset",       # r7: greedy farthest-point rounds (map-only)
    "naive_bayes_domain",    # r7: NB train + corpus scoring (integer scores)
    "seasonal_anomaly",      # r7: STL-lite decomposition + 3σ flags
    "label_propagation",     # r7: LPA rounds (broadcast-label fix evidence)
    "dp_noisy_counts",       # r7: DP Laplace release (agg + codegen)
    "kcore_decomposition",   # r7: 3-round k-core peel (shrinking edges)
    "cusum_changepoint",     # r7: two-sided CUSUM drift windows
    "sketch_quantile_bottomk",  # r7: bottom-k quantile sketch vs exact
    "markov_transitions",    # r7: per-user lag pass + |types|^2 matrix
    "embedding_drift_mmd",   # r7: linear-time MMD over vector quads
    "ann_hamming_topk",      # r7: XOR+popcount binary-signature ANN
    "hbos_outliers",         # r7: histogram outlier score (2 aggs + map)
    "kneser_ney_perplexity",  # r7: KN bigram scoring (model-table joins)
    "weak_label_analysis",   # r7: LF diagnostics (one wide aggregate)
    "zorder_layout",         # r7: Morton-key layout audit (bit codegen)
    "gini_concentration",    # r7: integer-cent rank-weighted Gini
    "benford_audit",         # r7: first-digit law audit (9-key agg)
    "rfm_segmentation",      # r7: RFM quintile cell table
    "basket_lift_rules",     # r7: pair-rule mining off the basket frame
    "ab_sequential_sprt",    # r7: Wald LLR walk (per-arm ordered window)
    "survival_km_retention",  # r7: KM curve (user-span agg + tiny frame)
    "profile_columns_approx",  # r8: deterministic-HLL column profile (256 regs/col)
    "profile_entropy",       # r8: per-column Shannon entropy (one freq agg)
    "funnel_steps_strict",   # r8: ordered 3-step funnel (single-exchange fold)
    "pmi_collocations",      # r8: adjacent-bigram PMI top-k (one pair exchange)
    "dup_ratio_by_source",   # r8: per-source dup health (one (source,hash) agg)
    "profile_columns_fast",  # r9: xxhash64 twin of profile_columns_approx
]


def _events_as_frames(spark, sf_dir: str, limit: int | None = None):
    """events rows recast as commit frames — shared by the ingest and
    delivery benches."""
    from pyspark.sql import functions as F

    from jetstream_spark.tables import table

    ev = table(spark, sf_dir, "events")
    if limit is not None:
        ev = ev.orderBy("event_id").limit(limit)
    return ev.select(
        F.lit("commit").alias("kind"),
        F.concat(F.lit("did:plc:user"), F.col("user_id")).alias("did"),
        F.col("event_id").alias("seq"),
        F.concat(F.lit("rev"), F.col("event_id")).alias("rev"),
        F.lit(False).alias("too_big"),
        F.array(
            F.struct(
                F.lit("create").alias("action"),
                F.concat(F.lit("app.bsky.feed.post/rkey"), F.col("event_id")).alias("path"),
                F.concat(F.lit("bafy"), F.col("event_id")).alias("cid"),
                F.col("props").alias("record_json"),
                F.concat(F.lit("bafy"), F.col("event_id")).alias("record_cid"),
            )
        ).alias("ops"),
        F.lit(None).cast("struct<active:boolean,did:string,seq:bigint,time:string,status:string>").alias("account"),
        F.lit(None).cast("struct<did:string,handle:string,seq:bigint,time:string>").alias("identity"),
    )


def bench_ingest_pipeline(spark, sf_dir: str) -> tuple[float, int, dict]:
    """The jetstream standing pipeline at bench scale: events rows recast
    as commit frames → normalize → `ingest_batch` (the driver-side
    sequencer and the log commit) into a fresh log per pass. Returns
    (seconds, events, conservation). The events/s figure is the comparable
    number to the reference's capacity limits (BASELINE.md: 5k/s live
    delivery, 50k/s replay per subscriber).

    Conservation under load (VERDICT r6 #7, the reference's observability-
    as-testing posture): the same ConsumerMetrics instance the serving
    scrape exposes observes every timed pass, and its processed/sequenced/
    persisted counters are asserted against the INDEPENDENT input count
    (3 passes × n frames), and each pass's log must read back n rows — a
    dropped or duplicated event anywhere in normalize → sequence → log
    fails the bench, not just a unit test. One CommitBatch-shaped span per
    pass is captured so the bench artifact also records the tracing
    surface."""
    import shutil
    import tempfile

    from jetstream_spark.atproto.log import ingest_batch, read_log
    from jetstream_spark.atproto.normalize import normalize_frames
    from jetstream_spark.operators.observability import ConsumerMetrics
    from jetstream_spark.operators.tracing import StageTracer

    frames = _events_as_frames(spark, sf_dir)
    n = frames.count()
    metrics = ConsumerMetrics(socket_url="bench-ingest")
    tracer = StageTracer(service="bench-ingest")
    # min-of-3: the first pass pays Python-worker spawn for the CBOR decode
    # kernel (session warmup, not per-batch cost in a standing pipeline),
    # and the r4→r5 −11% swing on identical sequencer code showed two
    # samples still let one bursty pass set the floor on this host
    best = float("inf")
    passes = 3
    logged: list[int] = []
    pass_secs: list[float] = []
    work = tempfile.mkdtemp(prefix="jetstream_ingest_")
    try:
        for i in range(passes):
            log_dir = os.path.join(work, f"log{i}")
            t0 = time.time()
            normalized = normalize_frames(frames)
            sequenced: list = []
            last = ingest_batch(
                normalized, log_dir, wall_clock_us=1_000_000, batch_id=0, on_sequenced=lambda t, _: sequenced.append(t)
            )
            dt = time.time() - t0
            pass_secs.append(round(dt, 3))
            best = min(best, dt)
            # accounting OUTSIDE the timed window: the standing pipeline pays
            # one driver-side label group-by per microbatch, but the bench
            # floor should measure the data path the reference's ceilings
            # describe
            with tracer.span("CommitBatch", pass_no=i, events=n):
                metrics.observe_batch(sequenced[0], dt, last)
                logged.append(read_log(spark, log_dir).count())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    processed = sum(metrics.events_processed.values())
    conservation = {
        "events_in": passes * n,
        "processed": processed,
        "sequenced": metrics.events_sequenced_total,
        "persisted": metrics.events_persisted_total,
        "logged_per_pass": logged,
        "spans": len(tracer.recent(limit=10)),
        # measurement protocol alongside the number (the fan-out treatment,
        # VERDICT r10 #2): the committed record shows which pass set the
        # floor, so a history row's provenance is auditable
        "pass_secs": pass_secs,
        "runs": passes,
        "agg": "min",
    }
    if not (
        processed
        == metrics.events_sequenced_total
        == metrics.events_persisted_total
        == passes * n
        and logged == [n] * passes
    ):
        raise AssertionError(f"ingest conservation violated: {conservation}")
    return best, n, conservation


def pick_burst(bursts: list[dict]) -> dict:
    """Headline burst selection for the fan-out bench: the best COMPLETE
    measured burst by per-sub rate, falling back to the best measured
    partial rate (never a fabricated 0.0) when no burst delivered
    everything. The warmup burst is never eligible — it exists to absorb
    streaming-query start + first-tick listing + Python-worker spawn, the
    same costs the query protocol amortizes with its warmup pass."""
    measured = [b for b in bursts if not b.get("warmup")]
    rated = [b for b in measured if b["complete"]] or measured
    return max(rated, key=lambda b: b["events_per_sec_per_sub"])


def bench_delivery_fanout(
    spark, sf_dir: str, n_subs: int = 10, cap: int = 20000, n_bursts: int = 3
) -> dict:
    """Sustained fan-out through the SHARED live tail (serving/hub.py): ten
    concurrent subscribers attached to one LiveTailHub, one ingested burst,
    one streaming tick fanning the shared ordered slice to every
    subscriber. Returns delivered counts + events/s, the number comparable
    to the reference's 5k events/s per-subscriber live-delivery ceiling
    (BASELINE.md). Measures delivery only — ingest is timed separately by
    bench_ingest_pipeline.

    Measurement protocol (VERDICT r9 #2 — the one bench metric still
    oscillating 11.6k-28.4k/sub within a round now gets the query
    treatment): one WARMUP burst absorbs first-tick costs and is reported
    but never rated; then ``n_bursts`` measured bursts, each preceded by
    the block-store release the query sampler uses, with the headline
    rate = the best complete measured burst (max across windows, the
    throughput analogue of min-of-N). The result carries runs/agg so the
    committed record states the protocol alongside the number."""
    import shutil
    import tempfile

    from jetstream_spark.atproto import log as eventlog
    from jetstream_spark.atproto.normalize import normalize_frames
    from jetstream_spark.atproto.subscribe import Subscription
    from jetstream_spark.serving.hub import LiveTailHub

    work = tempfile.mkdtemp(prefix="jetstream_fanout_")
    log_dir = os.path.join(work, "log")
    os.makedirs(log_dir, exist_ok=True)
    hub = LiveTailHub(spark, log_dir, os.path.join(work, "ckpt"))
    counts = [0] * n_subs
    orderly = [True] * n_subs
    last_seen = [0] * n_subs

    def make_emit(i: int):
        def emit(rows: list) -> None:
            for r in rows:
                if r["time_us"] <= last_seen[i]:
                    orderly[i] = False
                last_seen[i] = r["time_us"]
            counts[i] += len(rows)

        return emit

    try:
        # subscribers attach BEFORE any data exists: registration catch-up
        # is a no-op and delivery happens on the shared tick path
        for i in range(n_subs):
            hub.register(Subscription(cursor=0), make_emit(i))
        q = hub.start()
        normalized = normalize_frames(_events_as_frames(spark, sf_dir, limit=cap)).cache()
        n = normalized.count()
        # warmup burst + max-of-n_bursts (see the protocol note in the
        # docstring): delivery is one streaming tick, so a single GC pause
        # or host-contention spike would otherwise masquerade as a
        # throughput regression. Each burst is recorded as its own
        # (elapsed, delivered) pair; burst 0 is the warmup.
        bursts: list[dict] = []
        for burst in range(n_bursts + 1):
            if burst > 0:
                # the query sampler's clean-retest release: measured
                # bursts run against a drained block store, not against
                # the previous burst's GC debt. The release also drops
                # normalized's cache — its recompute lands in the UNTIMED
                # ingest below, never inside the timed tick.
                _release_memory(spark)
            before = sum(counts)
            eventlog.ingest_batch(
                normalized,
                log_dir,
                wall_clock_us=(burst + 1) * 1_000_000,
                batch_id=burst,
            )
            t0 = time.time()
            q.processAllAvailable()
            elapsed = time.time() - t0
            got = sum(counts) - before
            bursts.append(
                {
                    "warmup": burst == 0,
                    "sec": round(elapsed, 3),
                    "delivered": got,
                    "complete": got == n * n_subs,
                    "events_per_sec_per_sub": round(got / n_subs / elapsed, 1)
                    if elapsed > 0
                    else 0.0,
                }
            )
        normalized.unpersist()
        delivered = sum(counts)
        best_burst = pick_burst(bursts)
        best = best_burst["events_per_sec_per_sub"]
        return {
            "n_events": n,
            "n_subs": n_subs,
            "delivered": delivered,
            "complete": delivered == (n_bursts + 1) * n * n_subs,
            "ordered": all(orderly),
            "sec": best_burst["sec"],
            "bursts": bursts,
            "events_per_sec_total": round(best * n_subs, 1),
            "events_per_sec_per_sub": best,
            "runs": n_bursts,  # measured bursts (one warmup burst excluded)
            "agg": "max",
        }
    finally:
        hub.stop()
        shutil.rmtree(work, ignore_errors=True)


def bench_ingest_under_maintenance(spark, sf_dir: str, cap: int = 20000, n_batches: int = 8) -> dict:
    """VERDICT r10 #6: the maintenance TAX as a committed number — the
    ingest write path measured WITH the standing retention ticker active
    over the same log, instead of a rehearsal note. Eight batches land in
    four hour buckets (two files per bucket, so every sealed bucket is a
    compaction target) while a MaintenanceLoop on a short interval trims
    expired buckets (ttl = 2 h on the injected clock) and compacts sealed
    ones CONCURRENTLY with the timed writes. The rate divides ingested
    events by the summed ingest_batch wall time only — the ticker's cost
    shows up exactly as it would in production: as contention on the
    shared session. Conservation is asserted after a deterministic final
    trim: surviving buckets hold exactly their ingested rows, strictly
    monotonic time_us (the ticker dropped nothing unexpired, duplicated
    nothing)."""
    import shutil
    import tempfile

    from jetstream_spark.atproto import log as eventlog
    from jetstream_spark.atproto.log import US_PER_HOUR
    from jetstream_spark.atproto.maintenance import MaintenanceLoop
    from jetstream_spark.atproto.normalize import normalize_frames

    work = tempfile.mkdtemp(prefix="jetstream_ingmaint_")
    log_dir = os.path.join(work, "log")
    normalized = normalize_frames(_events_as_frames(spark, sf_dir, limit=cap)).cache()
    n = normalized.count()
    ttl_hours = 2
    clock = {"now": US_PER_HOUR}  # the loop sees the ingest clock, not wall time
    loop = MaintenanceLoop(
        spark,
        log_dir,
        ttl_us=ttl_hours * US_PER_HOUR,
        interval_s=0.25,
        now_fn=lambda: clock["now"],
    )
    batch_secs: list[float] = []
    try:
        loop.start()
        for b in range(n_batches):
            hour = 1 + b // 2  # two batches per bucket -> sealed buckets fragment
            wall = hour * US_PER_HOUR + (b % 2) * 1_000_000
            t0 = time.time()
            eventlog.ingest_batch(normalized, log_dir, wall_clock_us=wall, batch_id=b)
            eventlog.mark_batch_done(log_dir, b)  # the pipeline's exactly-once marker
            batch_secs.append(time.time() - t0)
            clock["now"] = wall  # seals hour-1..hour buckets behind the writer
    finally:
        stopped = loop.stop()
        normalized.unpersist()
    # deterministic close: whatever the ticker got to, one explicit final
    # trim fixes the surviving set for the conservation check
    final_now = clock["now"]
    eventlog.trim_events(spark, log_dir, now_us=final_now, ttl_us=ttl_hours * US_PER_HOUR)
    cutoff_bucket = (final_now - ttl_hours * US_PER_HOUR) // US_PER_HOUR
    surviving_batches = sum(
        1 for b in range(n_batches) if (1 + b // 2) >= cutoff_bucket
    )
    rows = eventlog.read_log(spark, log_dir)
    got = rows.count()
    distinct = rows.select("time_us").distinct().count()
    conserved = got == distinct == surviving_batches * n
    if not conserved or stopped != "stopped":
        raise AssertionError(
            f"ingest-under-maintenance conservation violated: rows={got} "
            f"distinct={distinct} expected={surviving_batches * n} loop={stopped}"
        )
    # batch 0 absorbs first-write costs (Python-worker spawn, codegen) the
    # standing pipeline pays once per process, not per batch — excluded
    # from the rate like the fan-out warmup burst, recorded alongside
    ingest_sec = sum(batch_secs[1:])
    shutil.rmtree(work, ignore_errors=True)
    return {
        "n_events": (n_batches - 1) * n,
        "sec": round(ingest_sec, 3),
        "warmup_sec": round(batch_secs[0], 3),
        "batch_secs": [round(s, 3) for s in batch_secs],
        "events_per_sec": round((n_batches - 1) * n / ingest_sec, 1) if ingest_sec > 0 else 0.0,
        "ticks": loop.counters["ticks"],
        "partitions_trimmed": loop.counters["partitions_trimmed"],
        "buckets_compacted": loop.counters["buckets_compacted"],
        "tick_errors": loop.counters["errors"],
        "runs": n_batches - 1,  # measured batches (warmup batch excluded)
        "agg": "sum",  # sustained multi-batch wall, not min-of-N
    }


# --- one-sample sf1 scale check ------------------------------------------------
SF1_REPLICAS = 10
SF1_QUERIES = [
    # the join-strategy-sensitive shapes: verify threshold-chosen joins and
    # AQE behavior hold when orders/customer stop being broadcast-sized
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "window_running_revenue",
    "dedup_exact",
    # dedup_minhash_lsh measured here and EXCLUDED deliberately: replica
    # scaling turns every doc into a 10-copy exact-dup group (45 within-
    # group pairs each -> 250k output pairs vs ~500 at sf0.1, 98.6 s), so
    # pair-output operators scale quadratically in replicas BY DATA
    # CONSTRUCTION, not by plan regression -- the anomaly detector would
    # flag corpus semantics, not the engine. dedup_exact keeps the dedup
    # family's scan/shuffle cost in the sample without the pair blow-up,
    # and dedup_two_tier IS the operator built for this corpus shape:
    # it labels all 10x docs in ~4 s warm (vs one-tier's 98.6 s) because
    # the near-dup pass runs over distinct-content representatives only.
    "dedup_two_tier",
    # r4: windowed/iterative additions whose cost must scale linearly in
    # events (user count grows with replicas, per-user work constant)
    "scd2_user_tiers",
    "hll_distinct",
    # r5: the heavy new operator families get a scaling datapoint too —
    # iterative graph (per-round broadcast + one keyed shuffle), lexical
    # scoring (map-only HOF + TakeOrdered), and the wide multi-distinct
    # profile. dedup_containment_kmv was measured here once and EXCLUDED
    # for the same reason as dedup_minhash_lsh above: the probe is
    # K-bounded PER DOC, but candidate volume is Σ df_kmv·df over shared
    # sketch values, and replica scaling multiplies every df by the
    # replica count — candidate pairs grow ~quadratically in replicas BY
    # DATA CONSTRUCTION (measured minutes at sf1 vs 2 s at sf0.1), which
    # benchmarks corpus semantics, not the engine. A real 10x corpus
    # grows df sub-linearly; an exact-duplicate-replicated one maximizes
    # it. dedup_two_tier above carries the dedup family's scaling story
    # on exactly this corpus shape.
    "pagerank_copurchase",
    "bm25_topk",
    "profile_columns",
    # r6: the iterative BPE trainer — corpus-linear initial word count, then
    # 24 driver-coordinated rounds over the vocab-sized frame whose cost is
    # set by Heaps-law DISTINCT words (replicas add none), so expect
    # sub-linear growth. dedup_substring_spans was considered and EXCLUDED
    # for the dedup_minhash_lsh reason above: replica scaling makes EVERY
    # window a cross-doc duplicate, so the hits frame inflates from
    # "repeated windows only" (sparse at sf0.1) to "all windows" — interval
    # merge over 100% of corpus positions benchmarks the replica
    # construction, not the engine; its sample_mod knob is the at-scale
    # lever and is covered by tests/test_dedup_knobs.py.
    "bpe_learn_merges",
    # r7 (VERDICT r6 #4): the r6 iterative additions. LR is per-round ONE
    # fused avg-aggregate over the (replica-linear) documents feature frame
    # — expect linear; LPA is 3 rounds of label join + two keyed exchanges
    # over the copurchase graph (nodes/edges replica-linear, per-node
    # degree constant) — expect near-linear like pagerank.
    "quality_classifier_lr",
    "label_propagation",
    # dedup_embedding_lsh gets a REAL scaling point because the replica
    # corpus rotates+sign-flips each replica's vectors (orthogonal
    # transform, see scale_embeddings): pair outputs stay linear instead
    # of the 45-pairs-per-vector exact-copy blow-up, and the N-adaptive
    # band width (r: 14 → 18 at 10×N) is exercised at two scales.
    "dedup_embedding_lsh",
    # r7: the replica-safe new operators — user/event/part key domains
    # offset per replica, so these are genuine 10×-row linear probes:
    # theta sketches over 10× the user-days, OHLC over 10× events (same
    # bars), skyline over 10× parts (frontier work ∝ survivors), hybrid
    # retrieval over 10× docs+vectors (both legs map-only/linear), MI
    # over 10× rows into the same category key space.
    # fingerprint_winnowing EXCLUDED for the dedup_minhash_lsh reason:
    # replicas make every fingerprint a 10-doc cross-replica duplicate,
    # so pair output inflates by construction (and the df≤10 ceiling sits
    # exactly at the replica count — the measurement would benchmark the
    # cap boundary, not the engine). adamic_adar_linkpred EXCLUDED: key
    # offsetting makes the sf1 graph 10 DISJOINT copies and the fixed
    # query nodes live only in replica 0, so its work is flat by
    # construction, not a scaling signal.
    "sketch_theta_setops",
    "ohlc_bars",
    "skyline_parts",
    "hybrid_search_rrf",
    "mutual_information",
    # textrank: replica docs repeat the same text, so the co-occurrence
    # VOCABULARY and edge set are replica-invariant (Heaps-law like BPE) —
    # expect sub-linear (pair counts scale, the graph/rounds do not).
    # attribution: per-user ordered pass, users replica-linear — expect
    # linear like scd2.
    "textrank_keywords",
    "attribution_last_touch",
    # r7 fourth batch: all three are replica-safe — kcenter scans 10× the
    # (orthogonally-transformed) vectors with the same K map-only rounds
    # (expect linear); NB's model size is vocab-bound (replica-invariant,
    # Heaps-law like BPE) while token counts scale 10× (expect linear in
    # the scoring join); seasonal_anomaly keeps the same (type, hour)
    # bucket grid with 10× the counts per bucket (expect flat-to-linear,
    # dominated by the events scan).
    "kcenter_coreset",
    "naive_bayes_domain",
    "seasonal_anomaly",
    # kcore: replica key-offsetting makes 10 disjoint graph copies with the
    # SAME degree profile, so K is unchanged and the peel runs identically
    # per copy — a clean linear probe of the per-round degree exchange +
    # broadcast semijoins. cusum: same (type, day) grid, 10× counts —
    # flat-to-linear like seasonal_anomaly.
    "kcore_decomposition",
    "cusum_changepoint",
    # markov: pair volume is events-linear, matrix fixed — expect linear.
    # mmd: quad volume is vectors-linear, kernel per quad constant —
    # expect linear (the orthogonal replica transform changes the
    # cross-replica geometry but X/Y stay same-distributed within quads).
    "markov_transitions",
    "embedding_drift_mmd",
    # hamming ANN: signature build + scoring are vectors-linear with 10
    # broadcast queries — expect linear. KN: model tables are
    # bigram-type-bound (Heaps-law, replica-invariant like BPE) while the
    # eval stream scales 10× — expect linear in the scoring join.
    "ann_hamming_topk",
    "kneser_ney_perplexity",
    # weak-label: one map pass + one wide agg over 10x docs — linear.
    # zorder: map-only key arithmetic + a 32-key agg over 10x orders —
    # linear, and the scan-fraction table itself must stay IDENTICAL
    # (replica values repeat, so min/max zone maps per bucket are fixed).
    "weak_label_analysis",
    "zorder_layout",
    # benford: map-only digit extraction + a fixed 9-key agg over 10x
    # orders — linear scan-bound. rfm: one orders agg + three ntiles over
    # the (replica-linear) customer frame — the single-partition ntile is
    # the documented oracle-parity form, so this row also watches its
    # cost stay sane as n grows. gini EXCLUDED: same single-partition
    # rank form but over customer×replicas with an exact integer
    # rank-weighted sum — the rfm row already carries that shape.
    "benford_audit",
    "rfm_segmentation",
    # basket: pair volume is order-linear (per-order quadratic bounded by
    # basket size, the copurchase argument) — expect linear. sprt: one
    # user-scale window over 10x users — linear.
    "basket_lift_rules",
    "ab_sequential_sprt",
    # r8 (VERDICT r7 #7): the remaining batch-F/G operators get scaling
    # rows so every registry family has an sf1 datapoint. All are
    # bounded-aggregate shapes: KM is a user-span agg into a
    # |distinct lifetimes|-row curve (events-scan-bound — previously
    # excluded as redundant with seasonal, but a committed datapoint
    # beats an argument); dp_noisy_counts is one grouped agg + map-only
    # noise; hbos is two stats aggs + map-only scoring + TakeOrdered.
    "survival_km_retention",
    "dp_noisy_counts",
    "hbos_outliers",
    # r8 debuts with a genuine scaling story: the HLL profile's register
    # build is scan-linear into a fixed |cols|x256 state (expect linear,
    # scan-bound); the strict funnel is one user-keyed exchange + a
    # per-user fold over replica-linear users (expect linear, the
    # sessionization bound).
    "profile_columns_approx",
    "funnel_steps_strict",
    # r14 (VERDICT r13 #9): sessionization's 8↔32-core ratio reads ~1.0 at
    # sf0.1 (0.4 s — per-job scheduling overhead is the floor there), so the
    # driver's scaling block cannot discriminate parallelism from overhead
    # for it; at 10× the events the user-keyed exchange + per-user ordered
    # fold has real work and the ratio becomes meaningful. q1 and
    # window_running_revenue (the other two flat-ratio sub-second rows)
    # already have sf1 datapoints above. users are replica-linear — expect
    # linear like funnel_steps_strict, the same shape.
    "sessionization",
    # r9 (VERDICT r8 #4): the remaining r8 debuts. PMI is one map-side
    # zip_with bigram exchange into a bigram-type-bound (Heaps-law,
    # replica-invariant) pair table — expect sub-linear like textrank;
    # entropy is a (column, value) count agg into a value-domain-bound
    # frame (replica values repeat) — expect linear, scan-bound; dup
    # ratio is one hash agg + one 20-key source rollup — linear.
    "pmi_collocations",
    "profile_entropy",
    "dup_ratio_by_source",
    # r9 debut: the xxhash64 production twin — same register topology as
    # profile_columns_approx minus the 11-per-row md5 string pipeline;
    # the VERDICT r8 #3 gate is sf1 time <= the exact profile_columns row
    "profile_columns_fast",
]


def ensure_scaled_sf1(spark, base_dir: str) -> str:
    """A 10× replica-scaled copy of the base SF built once under /tmp:
    every replica offsets each key domain by (max key + 1), preserving
    referential integrity (lineitem→orders→customer, part, supplier,
    events), so join selectivities scale linearly. Cached behind the same
    source-fingerprint freshness contract as the materialized indexes."""
    import tempfile

    from pyspark.sql import functions as F

    from jetstream_spark.operators import freshness
    from jetstream_spark.tables import table

    out = os.path.join(tempfile.gettempdir(), "jetstream_sf1_scaled")
    src = os.path.join(base_dir, "lineitem.parquet")
    if freshness.index_is_fresh(out, src):
        return out
    os.makedirs(out, exist_ok=True)

    def key_step(tbl: str, col: str) -> int:
        return table(spark, base_dir, tbl).agg(F.max(col)).collect()[0][0] + 1

    steps = {
        "orderkey": key_step("orders", "o_orderkey"),
        "custkey": key_step("customer", "c_custkey"),
        "partkey": key_step("part", "p_partkey"),
        "suppkey": key_step("supplier", "s_suppkey"),
        "event_id": key_step("events", "event_id"),
        "user_id": key_step("events", "user_id"),
        "doc_id": key_step("documents", "doc_id"),
        "vec_id": key_step("embeddings", "vec_id"),
    }
    reps = spark.range(SF1_REPLICAS).withColumnRenamed("id", "rep")

    def scale(tbl: str, offsets: dict[str, str]) -> None:
        df = table(spark, base_dir, tbl).crossJoin(F.broadcast(reps))
        for col, domain in offsets.items():
            df = df.withColumn(col, F.col(col) + F.col("rep") * F.lit(steps[domain]))
        df.drop("rep").write.mode("overwrite").parquet(
            os.path.join(out, f"{tbl}.parquet")
        )

    def copy(tbl: str) -> None:
        table(spark, base_dir, tbl).write.mode("overwrite").parquet(
            os.path.join(out, f"{tbl}.parquet")
        )

    copy("region")
    copy("nation")

    def scale_embeddings() -> None:
        """Replica-scale the vector corpus with a per-replica ORTHOGONAL
        transform (cyclic component rotation + deterministic per-(rep, i)
        sign flips): within-replica dot products — the corpus's entire
        pairwise geometry, including the LSH twin-planting contract — are
        preserved exactly, while cross-replica cosines collapse to
        ~N(0, 1/√64) noise. Exact-copy replicas would make every vector a
        10-way cosine-1.0 dup group (45 cross pairs each — the quadratic
        corpus-construction trap documented for dedup_minhash_lsh);
        orthogonal replicas keep pair outputs linear in replicas, so
        dedup_embedding_lsh gets a REAL 10× scaling datapoint."""
        emb = table(spark, base_dir, "embeddings")
        dim = len(emb.select("embedding").first()[0])
        df = emb.crossJoin(F.broadcast(reps))
        shift = F.pmod(F.col("rep") * 11, F.lit(dim))
        rotated = F.concat(
            F.slice("embedding", shift + 1, F.lit(dim) - shift),
            F.slice("embedding", F.lit(1), shift),
        )
        flipped = F.transform(
            rotated,
            lambda x, i: x
            * F.when(
                F.pmod(F.xxhash64(F.concat_ws("-", F.col("rep"), i)), 2) == 0, F.lit(1.0)
            ).otherwise(F.lit(-1.0)),
        )
        df.select(
            (F.col("vec_id") + F.col("rep") * F.lit(steps["vec_id"])).alias("vec_id"),
            flipped.alias("embedding"),
        ).write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))

    scale_embeddings()
    scale("customer", {"c_custkey": "custkey"})
    scale("supplier", {"s_suppkey": "suppkey"})
    scale("part", {"p_partkey": "partkey"})
    scale("orders", {"o_orderkey": "orderkey", "o_custkey": "custkey"})
    scale(
        "lineitem",
        {"l_orderkey": "orderkey", "l_partkey": "partkey", "l_suppkey": "suppkey"},
    )
    scale("events", {"event_id": "event_id", "user_id": "user_id"})
    scale("documents", {"doc_id": "doc_id"})
    open(os.path.join(out, "_SUCCESS"), "w").close()
    freshness.write_source_fingerprint(out, src)
    return out


def _phase(msg: str) -> None:
    """Progress marker on STDERR (stdout stays the one JSON line). The r5
    OOM post-mortem needed stage numbers to guess which block died — these
    lines make any future crash attributable to a phase/query directly."""
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def _provenance() -> dict:
    """The core count and commit that produced a bench record, so numbers
    from different hosts or trees are never compared as like for like."""
    import subprocess

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or os.cpu_count()
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        commit = ""
    return {"cpus": cpus, "commit": commit or "unknown"}


def _release_memory(spark) -> None:
    """Between phases: drop cached frames and nudge both collectors. A
    single bench session runs ~60 query builds + a 10x sf1 block in one
    JVM; operators cache/localCheckpoint frames whose blocks are only
    freed when the ContextCleaner processes the Python-side GC of the
    DataFrame handle, and that cleanup lags the allocation rate (r5: heap
    exhaustion inside the sf1 block at 8g). clearCache is correctness-
    neutral: every cache in the engine is an in-query optimization, and
    materialized indexes live on parquet, not in the block store."""
    import gc

    spark.catalog.clearCache()
    gc.collect()  # releases DataFrame handles -> ContextCleaner queue
    spark.sparkContext._jvm.System.gc()  # drain weak refs / free blocks


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # local[32] is ONE JVM acting as driver + all 32 executor threads: the
    # 8g dev default is 256 MB/thread, far below any production executor.
    # 24g models a sane 0.75 GB/thread and is what a real cluster would
    # give each executor many times over. Explicit env still wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    spark = get_spark("jetstream_spark_bench")
    specs = all_queries()

    # warmup: JVM + codegen + parquet footer caches + Python UDF workers
    _phase("warmup")
    specs["q1_pricing_summary"].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    specs["multimodal_frame_sample"].build(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Materialized-index queries follow a build-once/probe-many contract;
    # a round-start testdata regeneration invalidates the source fingerprint,
    # so the FIRST invocation pays the index build. Warm them here so the
    # timed samples below measure the steady probe path (the number that
    # scales at probe time), and report the build separately so the cost
    # isn't hidden (r3→r4 lesson: the build landing inside min-of-2 showed
    # up as a phantom 2-3x probe 'regression').
    _phase("index warm")
    t0 = time.time()
    # The three index builds are independent (distinct index dirs, no
    # session-conf mutation), and each is a multi-stage job whose tail
    # leaves most of local[32] idle — overlap them from a small thread
    # pool so the next build's tasks back-fill the current one's
    # stragglers (guide §2.6). Job descriptions are thread-local, so each
    # build stays correctly labelled in the UI (this relies on PySpark's
    # pinned-thread mode, the default since 3.2 — if PYSPARK_PIN_THREAD=false
    # the labels can leak across the three builds; cosmetic only, the wall
    # metric is unaffected). The metric is unchanged:
    # wall-clock until ALL three indexes are built and probed once.
    from concurrent.futures import ThreadPoolExecutor

    def _warm_one(name: str) -> None:
        spark.sparkContext.setJobDescription(f"bench: index warm {name}")
        specs[name].build(spark, sf_dir).write.format("noop").mode("overwrite").save()

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(_warm_one, ("ann_lsh_indexed", "ann_ivf_indexed", "dedup_incremental")))
    index_warm_s = round(time.time() - t0, 3)

    # Headline queries: min of 2 runs. Measured on this box, the first
    # execution of a query pays Python-worker spawn + codegen + shuffle-file
    # cache effects worth 1.5-3x (dedup_minhash_lsh: 7.6 s cold, 2.3-2.8 s
    # settled over 4 consecutive runs), and a single sample under transient
    # machine load once recorded a 12 s outlier for the same plan. min-of-2
    # reports steady-state engine cost — the number that scales.
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    provenance = _provenance()

    def timed(name: str) -> float:
        """One query's reported time: min-of-2 after a block-store release.
        Several operators hold localCheckpoint blocks alive until Python GC
        releases the DataFrame, and accumulated blocks bleed memory pressure
        into later queries' timings."""
        _release_memory(spark)
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            specs[name].build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        return round(best, 3)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        _phase(f"headline {name}")
        timings[name] = timed(name)

    _phase("ingest pipeline")
    _release_memory(spark)
    ingest_sec, ingest_events, conservation = bench_ingest_pipeline(spark, sf_dir)
    timings["ingest_pipeline"] = round(ingest_sec, 3)

    total = round(sum(timings.values()), 3)
    timings["ingest_events_per_sec"] = round(ingest_events / ingest_sec, 1)  # rate, not in total

    # Extras get the same min-of-2 treatment (a cold dedup_embedding_cosine
    # measured 3.8x its settled time; a single sample would record warmup
    # noise).
    extras: dict[str, float] = {}
    for name in EXTRAS:
        _phase(f"extra {name}")
        extras[name] = timed(name)

    # delivery fan-out through the shared live tail (vs the reference's
    # 5k events/s per-subscriber live ceiling)
    _phase("delivery fanout")
    _release_memory(spark)
    fanout = bench_delivery_fanout(spark, sf_dir)
    extras["delivery_fanout_events_per_sec"] = fanout["events_per_sec_per_sub"]

    # the ingest write path WITH the standing retention ticker active —
    # the maintenance tax as a committed number
    _phase("ingest under maintenance")
    _release_memory(spark)
    ingmaint = bench_ingest_under_maintenance(spark, sf_dir)
    extras["ingest_under_maintenance_events_per_sec"] = ingmaint["events_per_sec"]
    extras["index_warm_build_s"] = index_warm_s  # build-side cost, probe-many amortized

    # one sf1 sample (default-gate SF only): the same plans at 10× the
    # rows, where orders/customer leave broadcast range — a >2× per-query
    # anomaly vs linear scaling means a join strategy or AQE regression
    sf1: dict = {}
    if sf == "0.1":
        _phase("sf1 replica build")
        _release_memory(spark)
        sf1_dir = ensure_scaled_sf1(spark, sf_dir)
        for name in SF1_QUERIES:
            _phase(f"sf1 {name}")
            # min-of-2 (r9, was single-shot): sf1 rows land in the
            # committed record, and a single 20-s sample on this host class can catch a
            # minute-scale burst (label_propagation recorded 93.8 s in a
            # burst window vs 18.6-27.2 s across four same-day settled
            # probes of identical code) — one re-sample is the cheapest
            # way to keep host weather out of the scaling record
            best = float("inf")
            for _ in range(2):
                _release_memory(spark)  # 10x data: clean block store per sample
                t0 = time.time()
                specs[name].build(spark, sf1_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            sf1[name] = round(best, 3)
        sf1["replicas"] = SF1_REPLICAS

    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extras": extras,
        "delivery_fanout": fanout,
        "ingest_under_maintenance": ingmaint,  # write path + standing ticker, conservation asserted
        "ingest_conservation": conservation,  # processed = sequenced = persisted, asserted
        "sf1_sample": sf1,
        "sf": sf_val,
        **provenance,
        "runs": 2,  # min-of-2 since r3
        "agg": "min",
    }
    # Full detail goes to a committed repo file; stdout gets ONE compact
    # line (headline timings + rates). An r4 capture truncated the
    # all-in-one line into unparseable JSON — the perf gate rests on this
    # line staying small.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
        f.write("\n")
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "ingest_events_per_sec": timings["ingest_events_per_sec"],
                "delivery_fanout_events_per_sec": fanout["events_per_sec_per_sub"],
                "sf": sf_val,
                **provenance,
                "runs": 2,
                "agg": "min",
                "detail": "BENCH_DETAIL.json",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
