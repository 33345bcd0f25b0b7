"""The opt-in 100 TB scale knobs on the dedup family (VERDICT r5 #3).

- ``dedup_containment(df_ceiling=c)``: hot shingles above the document-
  frequency ceiling are dropped from the CANDIDATE index (bounding the
  Σ df² self-join), then surviving pairs are verified exactly, so values
  match the exact tier whenever each qualifying pair shares a below-
  ceiling shingle.
- ``dedup_substring_spans(sample_mod=S)``: content-defined 1/S window
  sampling (hash ≡ 0 mod S) — alignment-free, so both copies of a shared
  run keep the identical windows.
- ``dedup_substring_spans(use_xxhash=True)``: long keys instead of md5
  hex strings; same spans.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from jetstream_spark.queries.dedup import (
    SUBSTR_L,
    q_dedup_containment,
    q_dedup_substring_spans,
)
from tests.conftest import SF_DIR


def write_docs_fixture(spark, tmp_dir, docs) -> str:
    """Write a documents.parquet with the testdata schema (doc_id BIGINT).

    ``docs`` is [(name, text)]; names map to consecutive ids, returned as
    {name: id} is not needed — tests use index order doc_00 -> 0, etc.
    """
    rows = [
        (i, text, "en", "fixture", len(text)) for i, (_, text) in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_dir) + "/documents.parquet")
    return str(tmp_dir)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def hot_shingle_dir(spark, tmp_path_factory):
    """20 docs that ALL share one hot boilerplate sentence (a stop shingle
    in every doc), plus one genuine containment pair (doc_00 ⊂ doc_01)
    that also shares rare shingles."""
    import hashlib

    boiler = "subscribe to our newsletter for updates every single day "
    rare = "the quick brown fox jumps over the lazy dog near the river bank "
    docs = []
    for i in range(20):
        # md5-hex filler: character shingles are unique per doc, so the ONLY
        # cross-doc shingles are the boilerplate (df=20) and the rare run (df=2)
        filler = " ".join(
            hashlib.md5(f"{i}-{j}".encode()).hexdigest() for j in range(30)
        )
        docs.append((f"doc_{i:02d}", boiler + filler))
    # doc_00 = rare sentence only (plus boiler); doc_01 = superset of doc_00
    docs[0] = ("doc_00", boiler + rare)
    docs[1] = ("doc_01", boiler + rare + " ".join(f"extraword{j}" for j in range(40)))
    return write_docs_fixture(spark, tmp_path_factory.mktemp("hotshingle"), docs)


def test_containment_ceiling_identity_when_ceiling_above_max_df(spark):
    exact = _rows(
        q_dedup_containment(spark, SF_DIR),
        ["contained_doc", "container_doc", "containment"],
    )
    ceiled = _rows(
        q_dedup_containment(spark, SF_DIR, df_ceiling=10**9),
        ["contained_doc", "container_doc", "containment"],
    )
    assert ceiled == exact


def test_containment_ceiling_exact_values_on_hot_shingle_fixture(spark, hot_shingle_dir):
    exact = _rows(
        q_dedup_containment(spark, hot_shingle_dir),
        ["contained_doc", "container_doc", "containment"],
    )
    # ceiling=2 drops every shingle shared by >2 docs (the boilerplate) from
    # the candidate index; doc_00/doc_01 still pair via the rare shingles and
    # the exact-verify pass reproduces the EXACT containment values
    ceiled = _rows(
        q_dedup_containment(spark, hot_shingle_dir, df_ceiling=2),
        ["contained_doc", "container_doc", "containment"],
    )
    assert (0, 1) in {(a, b) for a, b, _ in exact}
    assert ceiled == exact


def test_containment_ceiling_bounds_candidate_volume(spark, hot_shingle_dir):
    """The ceiling's point: candidate index rows for hot shingles vanish.
    Reproduce the internal index construction and count self-join volume
    Σ df(s)² with and without the ceiling."""
    from jetstream_spark.queries.dedup import _shingles_of
    from jetstream_spark.tables import table

    docs = table(spark, hot_shingle_dir, "documents")
    exploded = _shingles_of(docs).select(
        "doc_id", F.explode("shingles").alias("s")
    )
    df_per = exploded.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    pair_vol = F.sum(F.col("df") * (F.col("df") - 1) / 2)
    full_volume = df_per.agg(pair_vol).collect()[0][0]
    ceiled_volume = df_per.where(F.col("df") <= 2).agg(pair_vol).collect()[0][0]
    # ~56 boilerplate shingles at df=20 contribute 56·C(20,2) ≈ 10.6k candidate
    # rows; below the ceiling only the rare-run shingles (df=2) remain
    assert full_volume > 50 * ceiled_volume


def test_substring_sample_mod_default_is_exact_path(spark):
    base = _rows(
        q_dedup_substring_spans(spark, SF_DIR),
        ["doc_id", "n_spans", "chars_flagged", "longest_span"],
    )
    explicit = _rows(
        q_dedup_substring_spans(spark, SF_DIR, sample_mod=1),
        ["doc_id", "n_spans", "chars_flagged", "longest_span"],
    )
    assert explicit == base


def test_substring_sample_mod_detects_misaligned_shared_run(spark, tmp_path_factory):
    """The alignment case a positional stride gets wrong: the same long run
    at DIFFERENT offsets in two docs. Content-defined sampling keeps the
    same windows in both copies, so the run is still detected."""
    run = ("shared verbatim paragraph " * 40).strip()  # ~1040 chars >> L
    docs = [
        ("doc_a", "x" * 7 + run + " tail a"),  # run at offset 7
        ("doc_b", "y" * 131 + run + " tail b"),  # run at offset 131
        ("doc_c", "entirely unrelated content " * 30),
    ]
    d = write_docs_fixture(spark, tmp_path_factory.mktemp("misaligned"), docs)
    out = {r["doc_id"]: r for r in q_dedup_substring_spans(spark, d, sample_mod=4).collect()}
    assert 0 in out and 1 in out and 2 not in out
    # sampled spans are a subset of the exact run, but still substantial
    assert out[0]["chars_flagged"] > len(run) // 2
    assert out[1]["chars_flagged"] > len(run) // 2
    exact = {r["doc_id"]: r for r in q_dedup_substring_spans(spark, d).collect()}
    assert out[0]["chars_flagged"] <= exact[0]["chars_flagged"]


def test_substring_sample_mod_reduces_window_volume(spark):
    """The knob's point at 100 TB: the shuffled window count drops ~×S."""
    from jetstream_spark.tables import table

    docs = table(spark, SF_DIR, "documents")
    wins = docs.select(
        F.explode(
            F.when(
                F.length("text") >= SUBSTR_L,
                F.transform(
                    F.sequence(F.lit(1), F.length("text") - (SUBSTR_L - 1)),
                    lambda i: F.md5(
                        F.encode(F.col("text").substr(i, F.lit(SUBSTR_L)), "UTF-8")
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("h")
    )
    total = wins.count()
    kept = wins.where(
        F.pmod(F.conv(F.substring("h", 1, 15), 16, 10).cast("long"), F.lit(4)) == 0
    ).count()
    assert total > 0
    assert kept < total * 0.45  # ~1/4 expected; generous bound for variance


def test_substring_xxhash_matches_md5_spans(spark, tmp_path_factory):
    docs = [
        ("doc_a", "prefix one " + "shared verbatim paragraph " * 10 + " suffix"),
        ("doc_b", "prefix two " + "shared verbatim paragraph " * 10 + " end"),
        ("doc_c", "no overlap here whatsoever " * 12),
    ]
    d = write_docs_fixture(spark, tmp_path_factory.mktemp("xxh"), docs)
    cols = ["doc_id", "n_spans", "chars_flagged", "longest_span"]
    md5_rows = _rows(q_dedup_substring_spans(spark, d), cols)
    xx_rows = _rows(q_dedup_substring_spans(spark, d, use_xxhash=True), cols)
    assert xx_rows == md5_rows


def test_embedding_lsh_recall_and_candidate_bound(spark):
    """The random-hyperplane tier must (a) recover every planted twin pair
    — known ground truth: each base vector's LCG-perturbed copy at
    cosine ≈ 0.9985 — and (b) keep the banding candidate volume
    near-linear in N, the property that makes it the sub-quadratic
    alternative to the exact blocked scan at the 0.9 threshold."""
    from jetstream_spark.queries.dedup import (
        _RHP_TWIN_OFFSET,
        q_dedup_embedding_lsh,
    )
    from jetstream_spark.tables import table

    n = table(spark, SF_DIR, "embeddings").count()
    pairs = q_dedup_embedding_lsh(spark, SF_DIR).collect()
    twin_pairs = {(r.vec_a, r.vec_b) for r in pairs if r.vec_b == r.vec_a + _RHP_TWIN_OFFSET}
    assert len(twin_pairs) >= 0.95 * n, f"recall {len(twin_pairs)}/{n} below floor"
    assert all(r.cosine >= 0.9 for r in pairs)
    # verified output stays near-linear: no candidate flood survived verify
    assert len(pairs) <= 1.2 * n


def test_embedding_lsh_band_width_tracks_corpus_size(spark):
    """VERDICT r6 #3: the band width must DERIVE from N, not sit at a
    constant — expected random candidates per band are N²/2^r, so with
    r = ceil(log2 N) + 2 the PRE-VERIFY candidate volume stays ≤ ~b·N/4
    random pairs + N/2 twins at EVERY scale. Asserted at two corpus sizes
    (4× apart) with the bound scaling only linearly in N; also pins that
    r actually grows between the scales (12 → 14 here) and that the
    recall-holding band count matches the precomputed steps."""
    from jetstream_spark.queries.dedup import _rhp_banded, _rhp_params
    from jetstream_spark.tables import table

    counts = {}
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
        n = 2 * table(spark, sf_dir, "embeddings").count()
        r, b = _rhp_params(n)
        _, cand = _rhp_banded(spark, sf_dir)
        n_cand = cand.count()
        counts[sf_dir] = (n, r, b, n_cand)
        # linear-in-N candidate bound: b·N/4 random + N/2 twins, 2× slack
        # for collision variance and near-dup cluster structure
        assert n_cand <= 2 * (b * n / 4 + n / 2), (
            f"candidate flood at N={n} (r={r}, b={b}): {n_cand} candidates"
        )
    (n_small, r_small, _, c_small) = counts["/root/testdata/sf0.001"]
    (n_big, r_big, _, c_big) = counts["/root/testdata/sf0.1"]
    assert n_big > n_small
    assert r_big > r_small, "band width failed to track log2(N)"
    # growth stays near-linear: candidates grow no faster than ~N^1.25
    assert c_big <= c_small * (n_big / n_small) ** 1.25 + 8 * (n_big / n_small)
    # the b-steps are exact integers both engines can derive without libm
    assert _rhp_params(2**35) == (37, 4)
    assert _rhp_params(2**40) == (42, 5)
    assert _rhp_params(2**46) == (48, 6)
