"""Materialized MinHash band index: physical contract + incremental parity.

The scale claims under test (operators/dedup_index.py):
- the index is a bucketed table, and the probe join plans NO Exchange under
  the index scan (only the incoming batch shuffles);
- build-once/probe-many: a fresh index is reused, a stale one rebuilt;
- the incremental result equals the one-shot minhash pair set restricted to
  cross-split pairs (same exact-verification guarantee).
"""

from __future__ import annotations

import os

import pytest

from jetstream_spark.operators.dedup_index import (
    INC_MOD,
    INC_REM,
    ensure_band_index,
    index_path,
    index_table_name,
    minhash_bands,
)
from jetstream_spark.operators.freshness import FPRINT_FILE, index_is_fresh
from jetstream_spark.queries.dedup import q_dedup_incremental, q_dedup_minhash_lsh

SF_DIR = "/root/testdata/sf0.001"
DOCS = os.path.join(SF_DIR, "documents.parquet")


@pytest.fixture(scope="module")
def index_name(spark):
    return ensure_band_index(spark, SF_DIR)


def test_index_is_bucketed_and_probe_join_reads_it_shuffle_free(spark, index_name):
    """The candidate join's index side must be satisfied by the bucket spec:
    no Exchange between the index table scan and the join."""
    from jetstream_spark.operators.dedup_index import probe_candidates

    cand = probe_candidates(spark, SF_DIR, index_name)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    # the bucketed scan advertises its selected buckets; the only Exchanges
    # allowed are on the incoming-bands side and the final distinct
    assert "SelectedBucketsCount" in plan, plan
    scan_idx = plan.index("SelectedBucketsCount")
    join_idx = plan.index("SortMergeJoin") if "SortMergeJoin" in plan else plan.index("Join")
    # the guarded segment must be non-empty: if the bucketed scan ever
    # printed BEFORE the join node the slice below would be empty and the
    # Exchange check would pass vacuously
    assert join_idx < scan_idx, plan
    between = plan[join_idx:scan_idx]
    # walking down from the join to the index scan there must be no shuffle;
    # the index subtree is printed after the streamed side, so check the
    # segment between the join node and the bucketed scan mentions at most
    # one Exchange (the incoming side's), never two
    assert between.count("Exchange hashpartitioning") <= 1, plan


def test_index_reused_when_fresh_and_rebuilt_when_stale(spark, index_name):
    import json

    path = index_path(SF_DIR)
    assert index_is_fresh(path, DOCS)
    marker = os.path.join(path, "_SUCCESS")
    before = os.path.getmtime(marker)
    # fresh → reuse: ensure must not rewrite
    assert ensure_band_index(spark, SF_DIR) == index_name
    assert os.path.getmtime(marker) == before
    # stale = the recorded source fingerprint no longer matches the corpus
    # (the testdata-regeneration case, which can preserve or backdate
    # mtimes — a raw mtime ORDERING check would miss it); simulate by
    # tampering the recorded size
    fp = os.path.join(path, FPRINT_FILE)
    with open(fp) as f:
        rec = json.load(f)
    rec["total_size"] += 1
    with open(fp, "w") as f:
        json.dump(rec, f)
    assert not index_is_fresh(path, DOCS)
    # a missing sidecar (pre-fingerprint index) is also stale
    os.remove(fp)
    assert not index_is_fresh(path, DOCS)
    ensure_band_index(spark, SF_DIR)
    assert index_is_fresh(path, DOCS), "rebuild must restore the fingerprint"


def test_index_reregistered_from_disk_without_rewrite(spark, index_name):
    """A fresh on-disk index whose catalog entry is gone (new session) must
    be re-registered over the existing files, not rebuilt."""
    path = index_path(SF_DIR)
    marker = os.path.join(path, "_SUCCESS")
    before = os.path.getmtime(marker)
    spark.sql(f"DROP TABLE IF EXISTS {index_table_name(SF_DIR)}")
    name = ensure_band_index(spark, SF_DIR)
    assert spark.catalog.tableExists(name)
    assert os.path.getmtime(marker) == before  # no rewrite
    plan = spark.table(name)._jdf.queryExecution().sparkPlan().toString()
    assert "Bucketed: true" in plan or "SelectedBucketsCount" in plan, plan


def test_incremental_equals_one_shot_cross_split_pairs(spark, index_name):
    """dedup_incremental == dedup_minhash_lsh restricted to pairs with
    exactly one incoming-split member, reoriented (base, new)."""
    inc = {
        (r["base_doc_id"], r["new_doc_id"], r["jaccard"])
        for r in q_dedup_incremental(spark, SF_DIR).collect()
    }
    expect = set()
    for r in q_dedup_minhash_lsh(spark, SF_DIR).collect():
        a_in = r["doc_a"] % INC_MOD == INC_REM
        b_in = r["doc_b"] % INC_MOD == INC_REM
        if a_in == b_in:
            continue
        base, new = (r["doc_b"], r["doc_a"]) if a_in else (r["doc_a"], r["doc_b"])
        expect.add((base, new, r["jaccard"]))
    assert inc == expect
    assert inc, "fixture must contain at least one cross-split near-dup pair"


def test_band_rows_shape_and_determinism(spark):
    from jetstream_spark.tables import table

    docs = table(spark, SF_DIR, "documents").limit(20)
    a = minhash_bands(docs).orderBy("doc_id", "band_idx").collect()
    b = minhash_bands(docs).orderBy("doc_id", "band_idx").collect()
    assert a == b
    per_doc = {}
    for r in a:
        per_doc.setdefault(r["doc_id"], []).append(r["band_idx"])
    assert all(sorted(v) == list(range(8)) for v in per_doc.values())


def test_no_corpus_shuffle_for_multi_split_input(spark, tmp_path):
    """A pre-parallel corpus (≥cores scan splits) must flow into the band
    kernel AND the shingle projection without any repartition exchange —
    at 100 TB that shuffle would move every text byte once for nothing.
    The single-split fixture still gets spread across cores."""
    from jetstream_spark.queries.dedup import _doc_shingles
    from jetstream_spark.tables import table

    par = spark.sparkContext.defaultParallelism
    docs = table(spark, SF_DIR, "documents")

    # multi-file documents.parquet layout under a tmp sf_dir
    sf_multi = tmp_path / "sfm"
    sf_multi.mkdir()
    docs.repartition(par).write.parquet(str(sf_multi / "documents.parquet"))

    wide = table(spark, str(sf_multi), "documents")
    assert wide.rdd.getNumPartitions() >= par
    plan = minhash_bands(wide)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan

    sh_plan = (
        _doc_shingles(spark, str(sf_multi))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in sh_plan, sh_plan

    # the single-file fixture DOES need the spread (1 split < cores) —
    # hash-based since the engine-wide no-RoundRobin plan guard
    narrow_plan = minhash_bands(docs)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(doc_id" in narrow_plan, narrow_plan
    assert "RoundRobinPartitioning" not in narrow_plan, narrow_plan


def test_band_signatures_invariant_to_batch_partitioning(spark):
    """The kernel concatenates whole Arrow batches before hashing — a doc's
    signature must not depend on which docs share its batch or partition.
    (This is what lets the index, the one-shot query, and the streaming
    probe agree: each signatures different subsets in different layouts.)"""
    from jetstream_spark.tables import table

    docs = table(spark, SF_DIR, "documents").limit(40)

    def rows(df):
        return sorted(
            (r["doc_id"], r["band_idx"], r["band_key"])
            for r in minhash_bands(df).collect()
        )

    one = rows(docs.coalesce(1))
    many = rows(docs.repartition(13))
    assert one == many
