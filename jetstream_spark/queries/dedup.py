"""Deduplication operators over `documents` / `embeddings` (SURVEY.md §2.3).

Five dedup families, each designed for the 100 TB path:

- exact            content-hash groupBy (one shuffle on the hash)
- ngram_jaccard    exact char-8-gram Jaccard via inverted-index self-join —
                   the *exact* baseline the approximate methods are verified
                   against; quadratic in worst case, kept for correctness
- minhash_lsh      MinHash signatures + banded LSH candidate generation +
                   exact-Jaccard verification of candidates only — the scale
                   path; recall is a banding parameter, and because every
                   candidate is verified with the exact measure, the output
                   equals the exact query whenever recall=1
- simhash          32-bit SimHash over char-4-gram features; pairs via
                   4×8-bit pigeonhole banding (hamming ≤ HAM_T < #bands ⇒ a
                   shared band exists ⇒ banded equi-join is EXACT, not
                   approximate) — no quadratic pass at any scale
- embedding cosine near-dup (vectorized numpy block products)

Oracle note: MinHash constants (a_i, b_i) are seeded and fixed; the oracle
for minhash_lsh is the *exact* Jaccard SQL — by construction LSH+verify
must reproduce it (verified in tests at the driver's correctness SF).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jetstream_spark.operators.dedup_index import SHINGLE_W
from jetstream_spark.queries.spec import QuerySpec
from jetstream_spark.tables import table

# --- shared shingling contract (mirrored in oracles) -------------------------
JACCARD_T = 0.7

# array<string> of distinct char-8-grams of lower(text)
_SHINGLES_EXPR = (
    "array_distinct(transform(sequence(1, greatest(length(lower(text)) - {w}, 1)), "
    "i -> substring(lower(text), i, {w1})))"
).format(w=SHINGLE_W - 1, w1=SHINGLE_W)

_SHINGLES_SQL = (
    "list_distinct(list_transform(generate_series(1, greatest(len(lower(text)) - {w}, 1)), "
    "i -> substr(lower(text), i, {w1})))"
).format(w=SHINGLE_W - 1, w1=SHINGLE_W)


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The shingle transform is the expensive part, so it must run on all
    # cores — but ONLY the single-file fixture needs a repartition to get
    # there (one parquet file, one row group ⇒ one scan split). A real
    # corpus arrives pre-parallel from the scan (many files / row groups,
    # maxPartitionBytes splits), and an unconditional repartition would
    # shuffle every text byte once for nothing at 100 TB.
    return _shingles_of(table(spark, sf_dir, "documents"))


def _shingles_of(docs: DataFrame) -> DataFrame:
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, "doc_id")
    return docs.select("doc_id", F.expr(_SHINGLES_EXPR).alias("shingles"))


# --- exact dedup ---------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: md5 hash → canonical (min doc_id) + group size.
    One shuffle on the 128-bit hash; at 100 TB this is the cheapest dedup."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("group_size"))
    )


Q_DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS content_hash, min(doc_id) AS canonical_doc_id, count(*) AS group_size
FROM documents
GROUP BY md5(text)
"""


# --- exact n-gram Jaccard pairs ---------------------------------------------------
_JACCARD_PAIRS_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 1.0 / (sa.n + sb.n - inter) >= {JACCARD_T}
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs via PPJoin-style prefix filtering:

    - AllPairs bound: if J(A,B) ≥ t then, under any global shingle order,
      A and B share an element within each one's first n−⌈t·n⌉+1 shingles —
      the inverted-index self-join runs over those prefixes only.
    - Global order = (document frequency ASC, shingle): rarest-first. Hot
      shingles (shared corpus vocabulary) land at the END of every sorted
      array and never enter a prefix, so the inverted index posting lists
      that do get joined are the short ones — this is the PPJoin ordering
      and cuts candidate volume far below hash order.
    - Positional filter: for the first shared prefix shingle at (1-based)
      positions i in A and j in B, overlap ≤ 1 + min(|A|−i, |B|−j); pairs
      whose bound is below the J ≥ t overlap requirement t/(1+t)·(|A|+|B|)
      are pruned before verification.
    - Length filter: t·|B| ≤ |A| ≤ |B|/t.

    Every surviving candidate is verified with the true Jaccard on the full
    (cached) shingle arrays, so the output is exact. The frequency table is
    one extra groupBy+join on the shingle key — fully distributed, and the
    natural sort key at 100 TB too (frequencies are a byproduct of building
    the inverted index)."""
    from pyspark.sql.window import Window

    sh = _doc_shingles(spark, sf_dir).cache()
    exploded = sh.select("doc_id", F.explode("shingles").alias("s"))
    freq = exploded.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    # rank each doc's shingles rarest-first with row-level window functions —
    # no collect_list/array_sort churn; one shuffle on doc_id, and only the
    # prefix rows survive the filter
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    wn = Window.partitionBy("doc_id")
    ranked_rows = (
        exploded.join(freq, "s")
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    prefix_len = (F.col("n") - F.ceil(F.col("n") * F.lit(JACCARD_T)).cast("int") + 1)
    prefixes = ranked_rows.where(F.col("pos") <= prefix_len).select("doc_id", "n", "pos", "s")
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    matched = a.join(
        b,
        (F.col("a.s") == F.col("b.s"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.n") >= F.col("b.n") * F.lit(JACCARD_T))
        & (F.col("b.n") >= F.col("a.n") * F.lit(JACCARD_T)),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.col("a.pos").alias("pos_a"),
        F.col("b.pos").alias("pos_b"),
    )
    # positional filter at the LAST matched prefix position: both arrays
    # carry the same global order, so every common shingle past the last
    # match lies after it on BOTH sides, and commons inside the prefix
    # rectangles are exactly the m matched ones ⇒
    #   overlap ≤ m + min(n_a − max_pos_a, n_b − max_pos_b)
    # (Xiao et al.'s PPJoin bound); pairs whose bound is below the J ≥ t
    # overlap requirement α = t/(1+t)·(n_a+n_b) never reach verification.
    alpha = (F.col("n_a") + F.col("n_b")) * F.lit(JACCARD_T / (1.0 + JACCARD_T))
    candidates = (
        matched.groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(
            F.count(F.lit(1)).alias("m"),
            F.max("pos_a").alias("ma"),
            F.max("pos_b").alias("mb"),
        )
        .where(
            F.col("m") + F.least(F.col("n_a") - F.col("ma"), F.col("n_b") - F.col("mb"))
            >= alpha
        )
        .select("doc_a", "doc_b")
    )
    sa = sh.select(F.col("doc_id").alias("a_id"), F.col("shingles").alias("a_sh"))
    sb = sh.select(F.col("doc_id").alias("b_id"), F.col("shingles").alias("b_sh"))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    jac = inter / (F.size("a_sh") + F.size("b_sh") - inter)
    return (
        candidates.join(sa, F.col("doc_a") == F.col("a_id"))
        .join(sb, F.col("doc_b") == F.col("b_id"))
        .where(jac >= JACCARD_T)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --- MinHash + LSH -----------------------------------------------------------------
# Signature kernel + banding constants live in operators/dedup_index.py now,
# shared between this one-shot query and the materialized incremental index.


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup: K=24 permutations h_i(x) = (a_i·x + b_i) mod P
    over 32-bit shingle hashes, 8 bands × 3 rows, banded equi-join for
    candidates, exact-Jaccard verification of candidates only.

    Signature kernel = vectorized numpy per Arrow batch (shingle hashing +
    24 permutations + per-band combine in one pass — no explode shuffle,
    no 24-way aggregate; ~2× the explode+agg formulation here and far
    less shuffle at scale). Spark owns what Spark is good at: the
    (band_idx, band_key) candidate shuffle and the verification joins.
    Per doc the kernel emits 8 narrow band rows; at 100 TB the band key
    is the natural partition key and bucket skew is AQE's problem.

    P(candidate | J=0.9) = 1-(1-0.9³)^8 ≈ 0.99998; every candidate is
    verified exactly, so output == the exact-Jaccard oracle whenever LSH
    recall is 1 (asserted against the exact query in tests).
    """
    docs = table(spark, sf_dir, "documents")
    sh = _doc_shingles(spark, sf_dir)
    return _minhash_pairs(docs, sh)


def _minhash_pairs(docs: DataFrame, sh: DataFrame) -> DataFrame:
    """MinHash-LSH pair core over an arbitrary (doc_id, text) frame with
    its shingle frame — shared by the full-corpus query and the two-tier
    representative pass.

    The r13 plan audit found the band
    self-join planned as a BroadcastHashJoin, so the ReuseExchange this
    code used to count on never fired — the Arrow signature kernel ran
    TWICE over the corpus — and each verification join independently
    re-shingled and BROADCAST the corpus-scale shingle frame (a shape
    that only looks fine under the 32 MB threshold at bench SF). Two
    fixes, output-identical:

    - the self-join is pinned to a SHUFFLE_HASH join: both sides then
      demand the identical Exchange on (band_idx, band_key), Spark's
      ReuseExchange dedups them, and the kernel runs ONCE with its
      output shared through shuffle files — no materialization barrier
      (a lazy localCheckpoint was measured first: +6% wall from the
      extra stage), no block-cache entry a later identical build could
      silently reuse (cache() was rejected for exactly that: the
      bench's second sample would skip the kernel), and shuffling by
      band key is the canonical LSH partitioning at 100 TB where the
      old broadcast build would OOM. AQE skew-split owns hot buckets.
    - verification is a MELT join: each candidate pair explodes into its
      two doc ids (candidate-scale, broadcast), ONE pass over the
      shingle frame attaches arrays, and one candidate-scale pair
      aggregate reassembles (a_sh, b_sh). The corpus is shingled once,
      nothing corpus-scale is broadcast or re-keyed, and the only new
      exchange carries candidate docs' arrays — ≪ corpus whenever the
      dup rate is (guide §8's decide-small/move-once rule)."""
    from jetstream_spark.operators.dedup_index import minhash_bands

    bands = minhash_bands(docs)
    a = bands.alias("a")
    b = bands.hint("shuffle_hash").alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    melted = candidates.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    # sh has exactly one row per doc, so each pair group reassembles from
    # exactly two rows; max(when(...)) picks the single non-null array
    both = F.broadcast(melted).join(sh, "doc_id")
    pairs = both.groupBy("doc_a", "doc_b").agg(
        F.max(F.when(F.col("doc_id") == F.col("doc_a"), F.col("shingles"))).alias("a_sh"),
        F.max(F.when(F.col("doc_id") == F.col("doc_b"), F.col("shingles"))).alias("b_sh"),
    )
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    jac = inter / (F.size("a_sh") + F.size("b_sh") - inter)
    return (
        pairs.where(jac >= JACCARD_T)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --- SimHash -----------------------------------------------------------------------
_SH_BITS = 32
_SH_BANDS = 4  # 4 bands × 8 bits: collision baseline 1/256 per band —
# 8×4-bit bands would collide at 1/16 and admit ~50% of all pairs as candidates
_SH_HAM_T = 3  # hamming ≤ 3 < 4 bands ⇒ pigeonhole: banded join is exact
_SH_BAND_BITS = _SH_BITS // _SH_BANDS
_SH_MIX = 2654435761  # Knuth multiplicative constant
_SH_GRAM = 4


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 32-bit SimHash over distinct char-4-gram features.

    Feature hash is pure arithmetic (no engine hash function) so the oracle
    can recompute it: poly-31 over the 4 char codes, Knuth-mixed, mod 2^32.

    The kernel is a vectorized numpy pass per Arrow batch (sliding-window
    char codes → poly hash → per-bit ±1 sums → sign bits): one narrow
    (doc_id, simhash) row out per doc, no explode shuffle, no 32-way
    aggregate — ~10× the explode+agg formulation, and the per-partition
    shape is exactly what a 1000-executor run wants.
    """
    import numpy as np

    docs = table(spark, sf_dir, "documents")

    def kernel(batches):
        for pdf in batches:
            out = np.zeros(len(pdf), dtype=np.int64)
            for i, text in enumerate(pdf["text"]):
                codes = np.frombuffer(text.lower().encode("utf-8"), dtype=np.uint8).astype(np.uint64)
                if len(codes) < _SH_GRAM:
                    codes = np.pad(codes, (0, _SH_GRAM - len(codes)))
                w = np.lib.stride_tricks.sliding_window_view(codes, _SH_GRAM)
                poly = ((w[:, 0] * 31 + w[:, 1]) * 31 + w[:, 2]) * 31 + w[:, 3]
                h = np.unique((poly * np.uint64(_SH_MIX)) % np.uint64(1 << 32))
                bits = (h[:, None] >> np.arange(_SH_BITS, dtype=np.uint64)[None, :]) & np.uint64(1)
                sums = (2 * bits.astype(np.int64) - 1).sum(axis=0)
                out[i] = int(((sums > 0).astype(np.uint64) << np.arange(_SH_BITS, dtype=np.uint64)).sum())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    par = spark.sparkContext.defaultParallelism
    src = docs.select("doc_id", "text")
    if src.rdd.getNumPartitions() < par:
        # same single-file-fixture gate + hash spread as _shingles_of /
        # minhash_bands: multi-file corpora arrive pre-parallel, and a
        # blind reshuffle of every text byte is a 100 TB anti-pattern
        src = src.repartition(par, "doc_id")
    return src.mapInPandas(kernel, schema="doc_id long, simhash long")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, hamming ≤ 3, found via 4×8-bit banded
    equi-join (exact by pigeonhole — ≤3 flipped bits cannot touch all 4
    bands), then xor+bit_count verification. No all-pairs pass."""
    # r13: the banded self-join used to plan as a broadcast join, so BOTH
    # sides ran the SimHash kernel over the full corpus (the
    # minhash_pairs plan-audit finding). Pinning it to SHUFFLE_HASH makes
    # both sides demand the identical band-key Exchange, ReuseExchange
    # dedups them, and the kernel runs once — no materialization barrier,
    # no cross-build block-cache reuse, and band-key shuffling is the
    # at-scale LSH shape (see _minhash_pairs for the measured rationale)
    sims = _simhash_df(spark, sf_dir)
    band_structs = [
        F.struct(
            F.lit(j).alias("band_idx"),
            F.floor(F.col("simhash") / F.lit(1 << (_SH_BAND_BITS * j)))
            .cast("long")
            .bitwiseAND(F.lit((1 << _SH_BAND_BITS) - 1))
            .alias("band_val"),
        )
        for j in range(_SH_BANDS)
    ]
    bands = sims.select("doc_id", "simhash", F.explode(F.array(*band_structs)).alias("b")).select(
        "doc_id", "simhash", F.col("b.band_idx").alias("band_idx"), F.col("b.band_val").alias("band_val")
    )
    a = bands.alias("a")
    b = bands.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    ham = F.expr("bit_count(sim_a ^ sim_b)")
    return pairs.where(ham <= _SH_HAM_T).select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    )


def _simhash_oracle() -> str:
    grams_sql = (
        "list_distinct(list_transform(generate_series(1, greatest(len(lower(text)) - {w}, 1)), "
        "i -> substr(lower(text), i, {g})))".format(w=_SH_GRAM - 1, g=_SH_GRAM)
    )
    bit_sum_cols = ",\n         ".join(
        f"sum(CASE WHEN CAST(floor(h / {1 << b}) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SH_BITS)
    )
    sim_expr = " + ".join(f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)" for b in range(_SH_BITS))
    return f"""
WITH feat AS (
  SELECT DISTINCT doc_id,
         ((((ascii(substr(g, 1, 1)) * 31 + ascii(substr(g, 2, 1))) * 31
            + ascii(substr(g, 3, 1))) * 31 + ascii(substr(g, 4, 1))) * {_SH_MIX}) % {1 << 32} AS h
  FROM (SELECT doc_id, unnest({grams_sql}) AS g FROM documents)
), bits AS (
  SELECT doc_id,
         {bit_sum_cols}
  FROM feat GROUP BY doc_id
), sims AS (
  SELECT doc_id, {sim_expr} AS simhash FROM bits
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SH_HAM_T}
"""


# --- embedding cosine near-dup ---------------------------------------------------------
COS_T = 0.4
_COS_BLOCKS = 8  # local[32] setting; at scale B = ceil(N / rows_per_block)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT embedding near-dup pairs (cosine ≥ 0.4) via a distributed
    blocked all-pairs scan: vectors hash into B blocks, the B·(B+1)/2 block
    pairs are enumerated with a broadcast join, and each block pair is
    cogrouped so one numpy float64 matrix product scores it. No driver-side
    materialization of the base table anywhere; executor memory is bounded
    by 2 blocks; replication factor is O(B) shuffle — the inherent cost of
    an exact pairwise operator.

    Why not LSH candidates + verify (the minhash pattern): measured on this
    corpus, ~98% of qualifying pairs have cosine in [0.4, 0.5) — per-
    hyperplane agreement p = 1 - θ/π ≈ 0.63, so any banding with recall ≈ 1
    admits more candidates than all-pairs (e.g. r=4 bits needs ~47 tables
    and still floods 1/16-collision buckets). Random-hyperplane LSH is only
    a win for high thresholds; that fast path exists in similarity.py
    (q_ann_lsh) with its recall SLA stated. An exact low-threshold pair scan
    is O(N²) by nature — the right scale design is to distribute it evenly,
    not to pretend a sketch can shortcut it.
    """
    import numpy as np

    B = _COS_BLOCKS

    def side(pair_col: str) -> DataFrame:
        # fresh lineage per side (scan AND pair list) — shared lineage trips
        # Spark's ambiguous-self-join analysis inside cogroup
        block_pairs = spark.createDataFrame(
            [(i, j) for i in range(B) for j in range(i, B)], "bi int, bj int"
        )
        blocked = table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding", F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int").alias("block")
        )
        return blocked.join(F.broadcast(block_pairs), F.col("block") == F.col(pair_col)).select(
            "bi", "bj", "vec_id", "embedding"
        )

    left = side("bi")
    right = side("bj")

    def compare(key, lpdf, rpdf):
        bi, bj = key
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        l_ids = lpdf["vec_id"].to_numpy(dtype=np.int64)
        r_ids = rpdf["vec_id"].to_numpy(dtype=np.int64)
        l_mat = np.array(lpdf["embedding"].tolist(), dtype=np.float64)
        r_mat = np.array(rpdf["embedding"].tolist(), dtype=np.float64)
        cos = (l_mat @ r_mat.T) / np.outer(
            np.linalg.norm(l_mat, axis=1), np.linalg.norm(r_mat, axis=1)
        )
        mask = cos >= COS_T
        if bi == bj:
            # same block on both sides: keep each unordered pair once
            mask &= l_ids[:, None] < r_ids[None, :]
        li, ri = np.nonzero(mask)
        a, b = l_ids[li], r_ids[ri]
        # off-diagonal blocks see each unordered pair exactly once, either way
        # around — canonicalize to (min, max); raw cosine out, rounding happens
        # in Spark (half-up, like SQL)
        return pd.DataFrame(
            {"vec_a": np.minimum(a, b), "vec_b": np.maximum(a, b), "cosine": cos[li, ri]}
        )

    raw = (
        left.groupby("bi", "bj")
        .cogroup(right.groupby("bi", "bj"))
        .applyInPandas(compare, schema="vec_a long, vec_b long, cosine double")
    )
    return raw.withColumn("cosine", F.round("cosine", 6))


# Portable cosine arithmetic (no list_cosine_similarity — newer DuckDB surface
# that the driver's engine may predate).
Q_EMB_NEARDUP_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')) AS nrm
  FROM embeddings
), p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_aggregate(list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]), 'sum')
           / (a.nrm * b.nrm) AS cos
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(cos, 6) AS cosine
FROM p WHERE cos >= {COS_T}
"""


# --- embedding near-dup via random-hyperplane LSH (high-threshold regime) ---------
_RHP_T = 0.9  # the regime where hyperplane banding wins (vs the 0.4 exact scan)
# Band WIDTH r is the candidate-volume knob: random (p≈0.5) vectors collide
# on an r-bit band with prob 2^-r, so expected candidates ≈ b·N²/2^r — r
# must track log₂N to stay near-linear, so it is DERIVED from the corpus
# count (VERDICT r6 #3; the r6 cut pinned r=12, whose own docstring said it
# goes quadratic at 100× corpus). The first cut used r=4 and measured a
# 6M-pair flood at N=4k whose verify dots dominated the runtime.
_RHP_R_FLOOR = 12
_RHP_DIM = 64
_RHP_TWIN_OFFSET = 1_000_000
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2_147_483_648
# Planted-twin per-bit agreement at cosine ≈ 0.9985: p = 1 - acos(.9985)/π
# ≈ 0.983. Twin recall = 1-(1-p^r)^b decays as r grows, so the band COUNT
# steps up to hold the ≥0.95 recall floor: (1-p^r)^b ≤ 0.05 needs b=5 from
# r=38 (p^38 ≈ 0.52) and b=6 from r=47. Integer thresholds precomputed
# offline — both engines derive identical (r, b) from pure integer
# comparisons, with no cross-libm pow/ln boundary risk.
_RHP_B_STEPS = ((37, 4), (46, 5))
_RHP_B_MAX = 6


def _rhp_params(n_vectors: int) -> tuple[int, int]:
    """(band width r, band count b) for a corpus of n_vectors (post-twin).

    r = max(12, ceil(log2 N) + 2) keeps expected random collisions per
    band at N²/2^r ≤ N/4 (near-linear candidates); b holds the planted-twin
    recall floor as r grows. ceil(log2) over an exact integer is safe
    cross-engine: doubles represent log2 of non-powers-of-two far from
    integers, and powers of two exactly.
    """
    import math

    r = max(_RHP_R_FLOOR, math.ceil(math.log2(max(n_vectors, 2))) + 2)
    b = next((nb for hi, nb in _RHP_B_STEPS if r <= hi), _RHP_B_MAX)
    return r, b


def _rhp_planes(n_planes: int) -> list[list[int]]:
    """Deterministic integer hyperplanes: first 8 hex chars of
    md5('rhp-h-i'), centered — the engine-independent hash contract the
    bloom/bucket ops already use. md5, NOT an LCG: an LCG over
    consecutive (h,i) seeds has lattice structure that left the sign
    bits mutually correlated (measured: only ~100 of 4096 12-bit band
    keys occupied, with period-3 bit patterns → a 1.7M-pair candidate
    flood); md5 decorrelates the planes and the occupancy matches the
    2^-r model. Integer planes → integer dots → bit-exact sign decisions
    in both engines."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"rhp-{h}-{i}".encode()).hexdigest()[:8], 16) - 2**31
            for i in range(_RHP_DIM)
        ]
        for h in range(n_planes)
    ]


def _rhp_banded(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(signature table, distinct candidate pairs) for the RHP-LSH tier —
    factored out so the two-scale candidate-volume test can measure the
    pre-verify candidate count directly.

    (r, b) derive from the post-twin corpus count: one count() over the
    embeddings parquet (footer-cheap even at 100 TB) keys the whole layout,
    mirrored by the oracle's params CTE so both engines band identically at
    any scale.
    """
    base = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    r, n_bands = _rhp_params(2 * base.count())
    planes = _rhp_planes(r * n_bands)

    def perturb(x, i):
        # s0 bounded before the LCG multiply so vec_id·64 at any corpus
        # size stays inside int64 (same pre-mod in the oracle)
        s0 = F.pmod(F.col("vec_id") * _RHP_DIM + i, F.lit(_LCG_M))
        u = (F.pmod(F.lit(_LCG_A) * s0 + _LCG_C, F.lit(_LCG_M)) / F.lit(float(_LCG_M))) * 2 - 1
        return x * (F.lit(1.0) + F.lit(0.1) * u)

    # perturb BEFORE renaming: with the alias in the same select, the
    # vec_id reference inside the lambda resolves to the +offset output
    # column, seeding the LCG differently than the oracle
    twins = base.select("vec_id", F.transform("v", perturb).alias("v")).select(
        (F.col("vec_id") + _RHP_TWIN_OFFSET).alias("vec_id"), "v"
    )
    allv = base.unionByName(twins)

    # floor(x·128 + 0.5), NOT round(): Spark's round works on the decimal
    # shortest-repr while DuckDB rounds the binary value — a halfway-repr
    # component would quantize differently and flip a bucket. floor on the
    # binary double is identical in both engines.
    qv = F.transform("v", lambda x: F.floor(x * 128 + F.lit(0.5)).cast("long"))
    # signature kernel: ONE Arrow batch int64 matmul (n×64)·(64×rb) per
    # partition instead of per-row HOF dot products (48 interpreted
    # 64-element aggregates per row measured 1.3 s for 4k rows; BLAS does
    # it in ms). Integer matmul is EXACT (|dot| ≤ 64·2¹⁰·2³⁰ < 2⁴⁷), so
    # cross-engine parity is unaffected by vectorization. Band keys are
    # int64: r tracks log₂N, so keys outgrow int32 past N ≈ 2²⁸.
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes_arr = np.array(planes, dtype=np.int64)
    band_w = 1 << np.arange(r - 1, -1, -1, dtype=np.int64)

    @pandas_udf("array<long>")
    def band_keys_udf(qvs: pd.Series) -> pd.Series:
        if len(qvs) == 0:
            return pd.Series([], dtype=object)
        Q = np.array(qvs.tolist(), dtype=np.int64)
        bits = ((Q @ planes_arr.T) >= 0).astype(np.int64)
        keys = np.stack(
            [bits[:, b * r : (b + 1) * r] @ band_w for b in range(n_bands)], axis=1
        )
        return pd.Series(keys.tolist())

    # signatures computed ONCE (lazy checkpoint): the band self-join and
    # the verify join would otherwise re-run the kernel per branch — at
    # cluster scale this is the materialized signature table
    signed = allv.select(
        "vec_id",
        "v",
        F.sqrt(F.aggregate(F.transform("v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)).alias("nrm"),
        band_keys_udf(qv).alias("bands"),
    ).localCheckpoint(eager=False)
    exploded = signed.select("vec_id", F.posexplode("bands").alias("band", "key"))
    cand = (
        exploded.alias("a")
        .join(exploded.alias("b"), ["band", "key"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    return signed, cand


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.9) via random-hyperplane LSH
    banding — the SUB-QUADRATIC tier of the embedding-dedup ladder. The
    exact blocked scan (q_dedup_embedding_cosine) is the right tool at low
    thresholds where candidates ≈ all pairs; at the near-duplicate
    threshold 0.9 the angle is 26°, per-hyperplane agreement p ≈ 0.856,
    and random non-dup vectors (p ≈ 0.5) collide on an r-bit band with
    prob 2⁻ʳ per band. Band width r TRACKS log₂N (derived from the corpus
    count by _rhp_params, mirrored in the oracle's params CTE) so the
    candidate volume b·N²/2ʳ stays ≤ b·N/4 at every scale; the band count
    b steps up with r to hold planted-twin recall ≥ 0.95 (VERDICT r6 #3
    closed the fixed-r=12 quadratic-at-100× gap).

    The bench corpus has no natural cosine-0.9 pairs (max pairwise ≈ 0.6),
    so the query dedups base ∪ deterministically-perturbed twins (EVERY
    base vector gets a copy with ±10% per-component multiplicative
    noise from an integer LCG — cosine ≈ 0.9985): real near-dups with a
    known ground truth, built identically in the oracle SQL.

    Scale shape (100 TB): signatures are map-side (24 int-dot products of
    a length-64 quantized vector against broadcast-literal planes — pure
    whole-stage-codegen); ONE shuffle on (band, band_key); candidate pairs
    distinct-ed; verify joins fetch only candidate vectors by vec_id. Sign
    bits are computed over round(x·128) int8-quantized components with
    integer hyperplanes, so the bucket assignment is exact integer
    arithmetic in both engines — float summation order cannot flip a
    bucket (the failure mode a float-hyperplane LSH oracle would have).

    Reference parity: the reference has no vector surface; this extends
    the mandated LLM-pipeline dedup family (SURVEY.md §2.3).
    """
    signed, cand = _rhp_banded(spark, sf_dir)
    vecs = signed.select("vec_id", "v", "nrm")
    pairs = (
        cand.join(vecs.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")), "vec_a")
        .join(vecs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")), "vec_b")
        .withColumn(
            "cos",
            F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
            / (F.col("na") * F.col("nb")),
        )
        .where(F.col("cos") >= _RHP_T)
    )
    return pairs.select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))


# params mirrors _rhp_params exactly: integer-only derivation of (r, b)
# from the post-twin corpus count — same ceil(log2) + same precomputed
# integer b-steps, so both engines band identically at any N.
Q_EMB_LSH_ORACLE = f"""
WITH params AS (
  SELECT greatest({_RHP_R_FLOOR}, CAST(ceil(log2(2 * count(*))) AS INT) + 2) AS r
  FROM embeddings
), pb AS (
  SELECT r,
         CASE WHEN r <= {_RHP_B_STEPS[0][0]} THEN {_RHP_B_STEPS[0][1]}
              WHEN r <= {_RHP_B_STEPS[1][0]} THEN {_RHP_B_STEPS[1][1]}
              ELSE {_RHP_B_MAX} END AS nb
  FROM params
), e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), pert AS (
  SELECT vec_id + {_RHP_TWIN_OFFSET} AS vec_id,
         list(x * (1 + 0.1 * (((({_LCG_A} * s0 + {_LCG_C}) % {_LCG_M}) / {_LCG_M}.0) * 2 - 1))
              ORDER BY i) AS v
  FROM (
    SELECT vec_id, i, v[i + 1] AS x, (vec_id * {_RHP_DIM} + i) % {_LCG_M} AS s0
    FROM e, range({_RHP_DIM}) t(i)
  ) GROUP BY vec_id
), allv AS (
  SELECT * FROM e UNION ALL SELECT * FROM pert
), q AS (
  SELECT vec_id, v,
         sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
  FROM allv
), comp AS (
  SELECT vec_id, i, CAST(floor(v[i + 1] * 128 + 0.5) AS BIGINT) AS qx
  FROM q, range({_RHP_DIM}) t(i)
), hp AS (
  SELECT h, i,
         ({" + ".join(f"(strpos('0123456789abcdef', substr(md5('rhp-' || h || '-' || i), {j + 1}, 1)) - 1) * {16 ** (7 - j)}" for j in range(8))}) - 2147483648 AS c
  FROM range({_RHP_B_MAX * 48}) a(h), range({_RHP_DIM}) b(i), pb
  WHERE h < pb.r * pb.nb
), bits AS (
  SELECT vec_id, h, CASE WHEN sum(qx * c) >= 0 THEN 1 ELSE 0 END AS bit
  FROM comp JOIN hp USING (i) GROUP BY vec_id, h
), bands AS (
  SELECT vec_id, h // pb.r AS band,
         sum(bit * (CAST(1 AS BIGINT) << (pb.r - 1 - (h % pb.r)))) AS key
  FROM bits, pb GROUP BY vec_id, h // pb.r
), cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
), p AS (
  SELECT vec_a, vec_b,
         list_aggregate(list_transform(generate_series(1, {_RHP_DIM}), i -> qa.v[i] * qb.v[i]), 'sum')
           / (qa.nrm * qb.nrm) AS cos
  FROM cand JOIN q qa ON qa.vec_id = cand.vec_a JOIN q qb ON qb.vec_id = cand.vec_b
)
SELECT vec_a, vec_b, round(cos, 6) AS cosine FROM p WHERE cos >= {_RHP_T}
"""


# --- near-dup cluster resolution (pairs → connected components) -------------------
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: the minhash-LSH pair stream is a graph; resolve it
    to transitively-closed components so "drop all but one per cluster" is a
    single anti-join downstream. component = min doc_id in the cluster (the
    canonical survivor), csize = cluster population.

    Distribution: min-label propagation over the pair edges — one
    join+aggregate shuffle pair per round, rounds = graph diameter (near-dup
    graphs are unions of near-cliques, so a handful). See
    operators/components.py for the scale notes.
    """
    from pyspark.sql import Window

    from jetstream_spark.operators.components import connected_components

    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("component"),
        F.count(F.lit(1)).over(Window.partitionBy("label")).alias("csize"),
    )


# Transitive closure of the exact-Jaccard pair set (minhash+verify == exact
# pairs whenever LSH recall is 1, as for the pair query itself). Closure is
# fine at oracle scale: components are tiny.
Q_COMPONENTS_ORACLE = f"""
WITH RECURSIVE jp AS (
  {_JACCARD_PAIRS_SQL}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jp
  UNION
  SELECT doc_b AS a, doc_a AS b FROM jp
), reach AS (
  SELECT a AS v, a AS r FROM edges
  UNION
  SELECT reach.v, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
), lab AS (
  SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v
)
SELECT doc_id, component,
       CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS csize
FROM lab
"""


# --- the dedup pipeline's last mile: keep one survivor per cluster ----------------
def q_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The surviving corpus after near-dup resolution: every document except
    non-canonical cluster members (node != component label). This is the
    shape of an actual corpus-dedup job's output — pairs → clusters →
    one anti-join back onto the full table.

    Scale: the victim set (labels where node != label) is proportional to
    the duplicate count, typically ≪ corpus; a broadcast or shuffled
    left_anti join on doc_id, no second pass over text.
    """
    from jetstream_spark.operators.components import connected_components

    docs = table(spark, sf_dir, "documents")
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    victims = (
        connected_components(pairs, src="doc_a", dst="doc_b")
        .where(F.col("node") != F.col("label"))
        .select(F.col("node").alias("doc_id"))
    )
    return (
        docs.join(victims, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
    )


Q_KEEP_CANONICAL_ORACLE = f"""
WITH RECURSIVE jp AS (
  {_JACCARD_PAIRS_SQL}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jp
  UNION
  SELECT doc_b AS a, doc_a AS b FROM jp
), reach AS (
  SELECT a AS v, a AS r FROM edges
  UNION
  SELECT reach.v, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
), lab AS (
  SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v
)
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM lab WHERE component <> doc_id)
"""


# --- incremental dedup: new batch vs materialized history index -------------------
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: the INCOMING batch (doc_id % 10 == 7) probed
    against a MATERIALIZED MinHash band index of history (everything else) —
    the shape a standing 100 TB pipeline actually runs, where history is
    signatured once and each new batch costs O(batch), not O(corpus).

    Physical contract (operators/dedup_index.py, plan-asserted in tests):
    the index is a bucketed table on (band_idx, band_key), so the candidate
    join reads it shuffle-free; only the batch side shuffles. Exact-Jaccard
    verification shingles the batch plus ONLY the candidate history docs
    (broadcast semi join — the KV-point-lookup analogue). Output ==
    the exact cross-split pair set whenever LSH recall is 1, same guarantee
    as dedup_minhash_lsh (both checked against the exact SQL oracle).
    """
    from jetstream_spark.operators.dedup_index import (
        INC_MOD,
        INC_REM,
        ensure_band_index,
        probe_candidates,
    )

    name = ensure_band_index(spark, sf_dir)
    cand = probe_candidates(spark, sf_dir, name)

    docs = table(spark, sf_dir, "documents")
    base_ids = cand.select(F.col("base_doc_id").alias("doc_id")).distinct()
    base_sh = (
        docs.join(F.broadcast(base_ids), "doc_id", "left_semi")
        .select(F.col("doc_id").alias("a_id"), F.expr(_SHINGLES_EXPR).alias("a_sh"))
    )
    inc_sh = (
        docs.where((F.col("doc_id") % INC_MOD) == INC_REM)
        .select(F.col("doc_id").alias("b_id"), F.expr(_SHINGLES_EXPR).alias("b_sh"))
    )
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    jac = inter / (F.size("a_sh") + F.size("b_sh") - inter)
    return (
        cand.join(base_sh, F.col("base_doc_id") == F.col("a_id"))
        .join(inc_sh, F.col("new_doc_id") == F.col("b_id"))
        .where(jac >= JACCARD_T)
        .select("base_doc_id", "new_doc_id", F.round(jac, 6).alias("jaccard"))
    )


# Exact cross-split pairs: the full exact-Jaccard pair set restricted to
# pairs with exactly one member in the incoming split, oriented
# (history, incoming). INC_MOD/INC_REM mirrored literally (10/7).
Q_DEDUP_INCREMENTAL_ORACLE = f"""
WITH jp AS ({_JACCARD_PAIRS_SQL})
SELECT CASE WHEN doc_a % 10 = 7 THEN doc_b ELSE doc_a END AS base_doc_id,
       CASE WHEN doc_a % 10 = 7 THEN doc_a ELSE doc_b END AS new_doc_id,
       jaccard
FROM jp
WHERE (doc_a % 10 = 7) <> (doc_b % 10 = 7)
"""


# --- corpus-common span detection (C4/RefinedWeb-style boilerplate) -----------
SPAN_N = 5  # word n-gram span size
SPAN_DF_T = 3  # a span present in ≥ this many distinct docs is boilerplate


def q_dedup_common_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (sub-document) dedup signal, the C4 recipe: a word 5-gram
    occurring in ≥ SPAN_DF_T distinct documents is corpus boilerplate;
    report per doc how much of it is boilerplate. Document-level dedup
    can't see this (two docs sharing one viral paragraph are not
    near-dups); training pipelines cut such spans before tokenization.

    Scale shape: explode distinct spans per doc → one count shuffle keyed
    by span → join the (much smaller) boilerplate span set back. Both
    shuffles key on the span string; hot spans are exactly the skew AQE's
    skew-join split handles (session policy). No all-pairs anything —
    cost is O(corpus tokens), not O(docs²)."""
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit(""))
    spans = F.when(
        F.size("toks") >= SPAN_N,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (SPAN_N - 1)),
                lambda i: F.array_join(F.slice("toks", i, SPAN_N), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = docs.select("doc_id", toks.alias("toks")).select("doc_id", spans.alias("spans"))
    exploded = base.select("doc_id", F.explode("spans").alias("span"))
    # spans are distinct per doc, so count(*) = distinct-doc frequency
    boiler = (
        exploded.groupBy("span")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= SPAN_DF_T)
        .select("span")
    )
    hits = (
        exploded.join(boiler, "span")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boilerplate"))
    )
    return (
        base.select("doc_id", F.size("spans").alias("n_spans"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_boilerplate", F.lit(0)).cast("long").alias("n_boilerplate"),
            F.when(F.col("n_spans") == 0, F.lit(0.0))
            .otherwise(F.round(F.coalesce("n_boilerplate", F.lit(0)) / F.col("n_spans"), 6))
            .alias("boilerplate_ratio"),
        )
    )


Q_COMMON_SPANS_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
), s AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {SPAN_N}
              THEN list_distinct(list_transform(generate_series(1, len(t) - {SPAN_N - 1}),
                                                i -> array_to_string(t[i:i + {SPAN_N - 1}], ' ')))
              ELSE [] END AS spans
  FROM t
), e AS (
  SELECT doc_id, unnest(spans) AS span FROM s
), boiler AS (
  SELECT span FROM e GROUP BY span HAVING count(*) >= {SPAN_DF_T}
), hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_boilerplate
  FROM e JOIN boiler USING (span) GROUP BY doc_id
)
SELECT s.doc_id,
       len(s.spans) AS n_spans,
       coalesce(hits.n_boilerplate, 0) AS n_boilerplate,
       CASE WHEN len(s.spans) = 0 THEN 0.0
            ELSE round(coalesce(hits.n_boilerplate, 0) / len(s.spans), 6) END AS boilerplate_ratio
FROM s LEFT JOIN hits ON s.doc_id = hits.doc_id
"""


# --- containment (quote-inclusion) pairs -------------------------------------
CONTAIN_T = 0.7


def q_dedup_containment(
    spark: SparkSession, sf_dir: str, *, df_ceiling: int | None = None
) -> DataFrame:
    """EXACT directed containment pairs: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|
    ≥ t flags document A as (near-)contained in B — the quote-inclusion /
    superset-dup case that symmetric Jaccard misses by construction (a short
    doc fully quoted inside a long one has tiny Jaccard but containment 1).
    This is the asymmetric tier of the dedup family (Dolma/CCNet run it to
    drop subsumed fragments).

    Scale shape: the inverted-index self-join counts shared shingles per
    directed pair in ONE shingle-key shuffle + one pair-key shuffle; the
    per-doc size table joins for the threshold test (one row per doc id —
    the planner broadcasts it under the threshold and hash-joins above; no
    hint, the r2 lesson) instead of shipping shingle arrays into a verify
    join, which measures 10× slower here — the arrays are the corpus. Join volume is
    Σ_s df(s)², so hot boilerplate shingles dominate: AQE skew-split
    handles moderate skew, and the documented mitigations for a 100 TB
    corpus are (a) dropping stop-shingles above a df ceiling from the
    index — sound for the CANDIDATE phase whenever the ceiling exceeds
    (1−t)·min|A| can't hold, i.e. combined with verification — and (b) the
    approximate tier: MinHash containment sketches, same banding machinery
    as dedup_minhash_lsh. A prefix-filter variant (Mann et al. VLDB'16)
    was measured and rejected: with the prefix sized at n−⌈t·n⌉+1, the
    containment positional bound m + (n_a − P_a) ≥ ⌈t·n_a⌉ degenerates to
    m ≥ 1 — it prunes nothing this side of verification, and the verify
    join it forces is the 10× cost above.

    ``df_ceiling`` (opt-in, default None = exact) is mitigation (a) coded:
    shingles with document frequency above the ceiling are dropped from the
    CANDIDATE index only, capping the self-join volume at Σ_{{df≤c}} df(s)²
    regardless of how hot a boilerplate shingle gets; surviving candidate
    pairs are bound-pruned, then verified EXACTLY against the full
    (unfiltered) shingle sets, so reported containment values are identical
    to the exact tier. A qualifying pair is missed only if every shingle it
    shares is above the ceiling — the stop-shingle case the ceiling exists
    to ignore.

    WHEN TO ENABLE (measured, VERDICT r6 #8): the ceiling pays for itself
    only on a HEAVY-TAILED df distribution, where hot shingles are a small
    per-document fraction. On the bench corpus it cannot win and the
    default must stay None: the shingle vocabulary is tiny (13k distinct /
    1.35M occurrences, mean df 104; at ceiling=200 the mean document is 86%
    above-ceiling), so although the candidate-index join volume drops 98.7%
    (Σ C(df,2): 280M → 3.6M rows), ~2.6M candidate pairs survive, the
    inter ≤ inter_f + min(hi_a, hi_b) prune removes <0.1% (every doc is
    mostly hot shingles), and the exact re-verify fans 2.6M × ~270 shingles
    ≈ 700M rows: 5.5 s exact vs 121 s with the ceiling at sf0.1. Production
    rule: profile df first (profile_skew); enable the ceiling only when
    per-doc above-ceiling mass is small (say <10%, i.e. ceiling ≳ the
    df of the boilerplate knee), where candidates shrink WITH the index
    and re-verify stays near the output size — otherwise run exact (one
    clean JVM shuffle streams 280M rows in 5.5 s here) or the KMV tier."""
    # one materialization: the shingle frame feeds three subtrees (both
    # join sides + the size table) and would otherwise re-shingle per use
    sh = _doc_shingles(spark, sf_dir).localCheckpoint()
    exploded = sh.select("doc_id", F.explode("shingles").alias("s"))
    sizes = sh.select("doc_id", F.size("shingles").alias("n"))
    if df_ceiling is None:
        index = exploded
    else:
        keep = (
            exploded.groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= F.lit(df_ceiling))
            .select("s")
        )
        index = exploded.join(keep, "s")
    a = index.select(F.col("doc_id").alias("doc_a"), "s")
    b = index.select(F.col("doc_id").alias("doc_b"), "s")
    # count each UNORDERED pair once (a<b halves the join/agg volume), then
    # test containment in both directions off the same inter count
    inter = (
        a.join(b, ["s"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if df_ceiling is not None:
        # The ceiling-filtered inter undercounts shared shingles, so
        # survivors are re-verified EXACTLY — but the re-verify join fans
        # each candidate out by the full shingle list of doc_a, so the
        # candidate set must be PRUNED first or the knob costs more than
        # it saves (measured at sf0.1, ceiling=200: unpruned re-verify
        # 121 s vs 5.8 s exact). Sound prune: the exact inter can exceed
        # the filtered inter only by shingles BOTH docs hold above the
        # ceiling, so inter ≤ inter_f + min(hi_a, hi_b) where hi_x =
        # #above-ceiling shingles of x; a pair can qualify in either
        # direction only if that bound reaches t·min(n_a, n_b). hi is a
        # one-row-per-doc frame (broadcast-sized at any corpus: bounded
        # by docs, not shingles).
        hi = (
            exploded.join(
                exploded.groupBy("s")
                .agg(F.count(F.lit(1)).alias("df"))
                .where(F.col("df") > F.lit(df_ceiling))
                .select("s"),
                "s",
            )
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("hi"))
        )
        cand = (
            inter.join(
                sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
                "doc_a",
            )
            .join(
                sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")),
                "doc_b",
            )
            .join(
                hi.select(F.col("doc_id").alias("doc_a"), F.col("hi").alias("hi_a")),
                "doc_a",
                "left",
            )
            .join(
                hi.select(F.col("doc_id").alias("doc_b"), F.col("hi").alias("hi_b")),
                "doc_b",
                "left",
            )
            .where(
                F.col("inter")
                + F.least(F.coalesce("hi_a", F.lit(0)), F.coalesce("hi_b", F.lit(0)))
                >= F.least("n_a", "n_b") * F.lit(CONTAIN_T)
            )
            .select("doc_a", "doc_b")
        )
        inter = (
            cand.join(
                exploded.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a"
            )
            .join(
                exploded.select(F.col("doc_id").alias("doc_b"), "s"),
                ["doc_b", "s"],
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    with_sizes = inter.join(
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")), "doc_a"
    ).join(
        sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")), "doc_b"
    )
    fwd = with_sizes.where(F.col("inter") / F.col("n_a") >= CONTAIN_T).select(
        F.col("doc_a").alias("contained_doc"),
        F.col("doc_b").alias("container_doc"),
        F.round(F.col("inter") / F.col("n_a"), 6).alias("containment"),
    )
    rev = with_sizes.where(F.col("inter") / F.col("n_b") >= CONTAIN_T).select(
        F.col("doc_b").alias("contained_doc"),
        F.col("doc_a").alias("container_doc"),
        F.round(F.col("inter") / F.col("n_b"), 6).alias("containment"),
    )
    return fwd.unionByName(rev)


Q_CONTAINMENT_ORACLE = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT contained_doc, container_doc,
       round(inter * 1.0 / sa.n, 6) AS containment
FROM pairs
JOIN sizes sa ON sa.doc_id = contained_doc
WHERE inter * 1.0 / sa.n >= {CONTAIN_T}
"""


# --- approximate containment via KMV sketches --------------------------------
KMV_K = 32


def q_dedup_containment_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE directed containment via k-minimum-values sketches — the
    scale tier that dedup_containment's docstring names as the 100 TB
    mitigation for the Σ df(s)² inverted-index cost.

    Sketch: each doc keeps the K shingles with the smallest md5 — computed
    as a map-only HOF (sort (md5, shingle) structs inside the per-row array,
    slice K): sketching the corpus costs ZERO shuffles, unlike a window-rank
    formulation which would shuffle every shingle on doc_id. Probe: only the
    ≤K sketch shingles per doc join the full inverted index, so candidate
    volume drops from Σ_s df(s)² (exact operator) to Σ_s df_kmv(s)·df(s)
    with the probe side hard-bounded at K rows per document regardless of
    document length — hot boilerplate shingles can no longer explode the
    probe side.

    Estimator (KMV / bottom-k): because md5 is a uniform hash, the K
    minimum-hash shingles of A are a uniform sample of sh(A) without
    replacement, so |KMV_K(A) ∩ sh(B)| / min(K, n_A) is an unbiased
    hypergeometric estimate of C(A→B) = |sh(A) ∩ sh(B)| / n_A; it is EXACT
    whenever n_A ≤ K (the sketch is the whole set — asserted in tests).

    Everything downstream of shingling runs on 60-bit md5-derived LONGS,
    never shingle strings: the sketch sorts a long array (not hex-string
    structs) and the probe↔index join shuffles 8-byte keys — the candidate
    volume Σ df_kmv·df is data-driven, but each candidate row costs a long
    compare instead of a string compare. Both engines derive the identical
    hash, so the oracle recomputes the identical estimator (row_number
    over the same longs) and this stays hash-checked, not rows-only.
    (Collisions fold two shingles into one key on BOTH sides identically;
    at 60 bits the corpus-wide collision odds are ~1e-9.)"""
    h_of = "conv(substring(md5(cast(s as binary)), 1, 15), 16, 10)"
    sh = _doc_shingles(spark, sf_dir)
    # materialize the hashed-shingle arrays ONCE: probe and index are two
    # consumers of the same frame, and without the cut Spark recomputes
    # shingling+md5 per side (no common exchange to reuse) — measured ~2x
    # on the full query at sf0.1
    hashed = sh.select(
        "doc_id",
        F.expr(f"transform(shingles, s -> cast({h_of} as bigint))").alias("hs"),
    ).localCheckpoint()
    kmv = hashed.select(
        "doc_id",
        F.size("hs").alias("n"),
        F.slice(F.array_sort("hs"), 1, KMV_K).alias("kmv"),
    )
    probe = kmv.select(
        F.col("doc_id").alias("contained_doc"),
        F.least(F.col("n"), F.lit(KMV_K)).alias("denom"),
        F.explode("kmv").alias("h"),
    )
    index = hashed.select(
        F.col("doc_id").alias("container_doc"), F.explode("hs").alias("h")
    )
    hits = (
        probe.join(index, "h")
        .where(F.col("contained_doc") != F.col("container_doc"))
        .groupBy("contained_doc", "container_doc", "denom")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    est = F.col("m") / F.col("denom")
    return hits.where(est >= CONTAIN_T).select(
        "contained_doc",
        "container_doc",
        F.round(est, 6).alias("est_containment"),
    )


Q_CONTAINMENT_KMV_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
), sh AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(s), 1, 15))::UBIGINT AS BIGINT) AS h
  FROM raw
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), ranked AS (
  SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
  FROM sh
), kmv AS (
  SELECT doc_id, h FROM ranked WHERE rn <= {KMV_K}
), hits AS (
  SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc, count(*) AS m
  FROM kmv a JOIN sh b ON a.h = b.h AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT contained_doc, container_doc,
       round(m * 1.0 / least(sa.n, {KMV_K}), 6) AS est_containment
FROM hits
JOIN sizes sa ON sa.doc_id = contained_doc
WHERE m * 1.0 / least(sa.n, {KMV_K}) >= {CONTAIN_T}
"""


# --- span scrub: REMOVE boilerplate spans (interval merge) -------------------------
def q_dedup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REWRITE step on top of dedup_common_spans' detection: cut every
    corpus-boilerplate word 5-gram occurrence out of each document, with
    overlapping/adjacent occurrences merged into maximal intervals first
    (the C4 recipe removes the union of flagged spans, not 5 tokens per
    flag — double-counting overlaps would over-report removal ~5×).

    Relational interval union, per doc: hit starts sorted; a hit opens a
    NEW island iff its start lies past the running max end of all earlier
    hits (window max over preceding rows); island id = running sum of
    open flags; each island removes max(start)+N − min(start) tokens.

    Scale shape: the detection shuffles are dedup_common_spans' (span
    count + join-back, AQE skew-split on hot spans); the interval merge
    adds ONE doc_id-keyed shuffle shared by both windows and the final
    per-doc aggregate (sort within partition, no all-pairs, no Python)."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit(""))
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id", "toks", F.size("toks").alias("n_tokens")
    )
    # ALL span occurrences with their 1-based start positions
    spans_pos = F.when(
        F.size("toks") >= SPAN_N,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (SPAN_N - 1)),
            lambda i: F.struct(
                i.alias("start"), F.array_join(F.slice("toks", i, SPAN_N), " ").alias("span")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,span:string>>"))
    occurrences = base.select("doc_id", F.explode(spans_pos).alias("o")).select(
        "doc_id", F.col("o.start").alias("start"), F.col("o.span").alias("span")
    )
    # boilerplate set: distinct-doc frequency >= threshold (distinct spans per doc)
    boiler = (
        occurrences.select("doc_id", "span")
        .distinct()
        .groupBy("span")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= SPAN_DF_T)
        .select("span")
    )
    hits = occurrences.join(boiler, "span").select(
        "doc_id", "start", (F.col("start") + SPAN_N).alias("end")
    )
    w_prev = Window.partitionBy("doc_id").orderBy("start").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.partitionBy("doc_id").orderBy("start").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    islands = (
        hits.withColumn(
            "opens",
            (F.col("start") >= F.coalesce(F.max("end").over(w_prev), F.lit(-1))).cast("int"),
        )
        .withColumn("island", F.sum("opens").over(w_run))
        .groupBy("doc_id", "island")
        .agg((F.max("end") - F.min("start")).alias("removed"))
    )
    per_doc = islands.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("removed").alias("tokens_removed"),
    )
    return (
        base.select("doc_id", "n_tokens")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_islands", F.lit(0)).cast("long").alias("n_islands"),
            F.coalesce("tokens_removed", F.lit(0)).cast("long").alias("tokens_removed"),
            (F.col("n_tokens") - F.coalesce("tokens_removed", F.lit(0))).cast("long").alias("tokens_kept"),
        )
    )


Q_SPAN_SCRUB_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
), occ AS (
  SELECT doc_id, CAST(i AS INT) AS start,
         array_to_string(t[i:i + {SPAN_N - 1}], ' ') AS span
  FROM t, unnest(generate_series(1, len(t) - {SPAN_N - 1})) AS u(i)
  WHERE len(t) >= {SPAN_N}
), boiler AS (
  SELECT span FROM (SELECT DISTINCT doc_id, span FROM occ)
  GROUP BY span HAVING count(*) >= {SPAN_DF_T}
), hits AS (
  SELECT doc_id, start, start + {SPAN_N} AS "end"
  FROM occ JOIN boiler USING (span)
), flagged AS (
  SELECT doc_id, start, "end",
         CASE WHEN start >= coalesce(max("end") OVER (PARTITION BY doc_id ORDER BY start
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS opens
  FROM hits
), isl AS (
  SELECT doc_id,
         sum(opens) OVER (PARTITION BY doc_id ORDER BY start
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island,
         start, "end"
  FROM flagged
), merged AS (
  SELECT doc_id, island, max("end") - min(start) AS removed
  FROM isl GROUP BY doc_id, island
), per_doc AS (
  SELECT doc_id, count(*) AS n_islands, sum(removed) AS tokens_removed
  FROM merged GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.t) AS INT) AS n_tokens,
       CAST(coalesce(per_doc.n_islands, 0) AS BIGINT) AS n_islands,
       CAST(coalesce(per_doc.tokens_removed, 0) AS BIGINT) AS tokens_removed,
       CAST(len(t.t) - coalesce(per_doc.tokens_removed, 0) AS BIGINT) AS tokens_kept
FROM t LEFT JOIN per_doc ON t.doc_id = per_doc.doc_id
"""


# --- two-tier dedup: exact groups first, near-dup over representatives only --------
def q_dedup_two_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus cluster labeling with the heavy-duplicate hazard
    removed: (1) exact-dedup collapses identical contents to one
    representative (min doc_id per content hash — one md5 shuffle);
    (2) MinHash-LSH + verify runs over REPRESENTATIVES ONLY; (3) rep
    components lift back to every document through its exact group.
    Output: (doc_id, cluster_id) for the whole corpus, cluster_id = min
    doc_id of the transitively-closed content cluster — provably equal to
    running components over all-doc near-dup pairs, since Jaccard depends
    only on content and each content has exactly one rep.

    Why this ordering is the 100 TB shape (and the production one —
    exact-then-near is how Dolma/FineWeb pipelines stage it): a content
    duplicated D times puts D identical signatures in EVERY band bucket
    it touches, so the one-tier band join materializes D² candidate rows
    per hot content. Measured on the 10×-replicated bench corpus: one-tier
    98.6 s / 250 600 output pairs (each 10-copy group alone contributes
    45 within-group pairs) vs ~2 s for the same near-dup information over
    the 1/10-sized rep set. Tier 1 bounds every band bucket to distinct
    contents; the quadratic term collapses to the exact-group size table."""
    docs = table(spark, sf_dir, "documents")
    groups = docs.select(
        "doc_id", "text", F.md5(F.col("text").cast("binary")).alias("h")
    )
    reps = groups.groupBy("h").agg(F.min("doc_id").alias("rep"))
    doc_rep = groups.select("doc_id", "h").join(reps, "h").select("doc_id", "rep")
    rep_docs = groups.join(
        reps.select(F.col("rep").alias("doc_id")), "doc_id", "left_semi"
    ).select("doc_id", "text")
    pairs = _minhash_pairs(rep_docs, _shingles_of(rep_docs)).select("doc_a", "doc_b")

    from jetstream_spark.operators.components import connected_components

    labels = connected_components(pairs, src="doc_a", dst="doc_b")
    return (
        doc_rep.join(labels, doc_rep["rep"] == labels["node"], "left")
        .select(
            "doc_id",
            F.coalesce("label", "rep").cast("long").alias("cluster_id"),
        )
    )


Q_TWO_TIER_ORACLE = f"""
WITH RECURSIVE g AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM documents
), sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
  WHERE doc_id IN (SELECT DISTINCT rep FROM g)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), rp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jp AS (
  SELECT doc_a, doc_b FROM rp
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= {JACCARD_T}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM jp
  UNION
  SELECT doc_b AS a, doc_a AS b FROM jp
), reach AS (
  SELECT a AS v, a AS r FROM edges
  UNION
  SELECT reach.v, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
), lab AS (
  SELECT v, min(r) AS component FROM reach GROUP BY v
)
SELECT g.doc_id, CAST(coalesce(lab.component, g.rep) AS BIGINT) AS cluster_id
FROM g LEFT JOIN lab ON g.rep = lab.v
"""


# --- exact substring spans (character-level cross-doc verbatim runs) -------------
SUBSTR_L = 48  # window length in characters


def q_dedup_substring_spans(
    spark: SparkSession,
    sf_dir: str,
    *,
    sample_mod: int = 1,
    use_xxhash: bool = False,
) -> DataFrame:
    """Character-level EXACT substring dedup — the 'deduplicating training
    data' recipe of Lee et al. 2022 (ExactSubstr): find verbatim runs of
    ≥{SUBSTR_L} characters shared ACROSS documents, merge overlapping hits
    into maximal spans per doc, and report how much of each doc is
    cross-corpus verbatim text. Catches what token-level tiers miss:
    quotes/boilerplate that straddle token boundaries or sit inside
    otherwise-unique documents.

    Spark shape (the scalable stand-in for their suffix array): every
    {SUBSTR_L}-char window hashes map-side (HOF transform over start
    positions, md5 of the slice); ONE window-hash shuffle finds hashes in
    ≥2 distinct docs; the join-back + per-doc interval merge share ONE
    doc_id shuffle (the dedup_span_scrub island idiom: a hit opens a new
    island iff its start clears the running max end; island id = running
    sum of opens). Window volume is corpus-bytes-linear; the 100 TB knobs
    (opt-in, defaults preserve exact oracle parity):

    - ``sample_mod=S`` keeps a window iff its hash ≡ 0 (mod S) — a
      CONTENT-DEFINED 1/S sample, so both copies of a shared run select
      the identical windows regardless of where the run sits in each doc.
      (A positional stride, the naive knob, breaks exactly there: runs at
      different offsets sample disjoint window sets and never match.)
      Shuffle volume drops ×S; a shared run of r chars is detected with
      probability 1−(1−1/S)^(r−L+1) — ≥99% already at r ≈ L + 4.6·S —
      and reported spans are the sampled subset (chars_flagged becomes a
      lower bound).
    - ``use_xxhash=True`` swaps the 128-bit md5 hex string for xxhash64:
      8-byte long keys through the shuffle and join instead of 32-char
      strings (md5 stays the default because the DuckDB oracle recomputes
      it for the hash-equality check)."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    if use_xxhash:
        def _win_hash(i):
            return F.xxhash64(F.col("text").substr(i, F.lit(SUBSTR_L)))
        empty_t = "array<struct<start:int,h:bigint>>"
    else:
        def _win_hash(i):
            return F.md5(F.encode(F.col("text").substr(i, F.lit(SUBSTR_L)), "UTF-8"))
        empty_t = "array<struct<start:int,h:string>>"
    wins_arr = F.when(
        F.length("text") >= SUBSTR_L,
        F.transform(
            F.sequence(F.lit(1), F.length("text") - (SUBSTR_L - 1)),
            lambda i: F.struct(i.alias("start"), _win_hash(i).alias("h")),
        ),
    ).otherwise(F.array().cast(empty_t))
    wins = docs.select("doc_id", F.explode(wins_arr).alias("w")).select(
        "doc_id", F.col("w.start").alias("start"), F.col("w.h").alias("h")
    )
    if sample_mod > 1:
        # content-defined sampling BEFORE the materialization: the kept 1/S
        # of windows is what shuffles, checkpoints, and joins downstream
        hnum = (
            F.col("h")
            if use_xxhash
            else F.conv(F.substring("h", 1, 15), 16, 10).cast("long")
        )
        wins = wins.where(F.pmod(hnum, F.lit(sample_mod)) == 0)
    # two consumers read the hashed-window frame (the df>=2 build and the
    # hits join-back) — materialize it ONCE so the corpus-bytes explode +
    # md5 doesn't run twice (the KMV single-materialization precedent;
    # measured ~25% at sf0.1: 9.3-9.9 s -> 7.1-8.5 s)
    wins = wins.localCheckpoint(eager=False)
    # "h appears in ≥2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id): one
    # hash exchange with map-side min/max partials (≤ |distinct h| rows
    # shuffle) instead of the previous distinct-pairs exchange + count
    # exchange, which shuffled the FULL corpus-chars window frame once
    # more just to dedup (doc_id, h) before counting (r13; guide §2.3-2.4)
    rep = (
        wins.groupBy("h")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .select("h")
    )
    hits = wins.join(rep, "h").select(
        "doc_id", "start", (F.col("start") + SUBSTR_L).alias("end")
    )
    w_prev = Window.partitionBy("doc_id").orderBy("start").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_run = Window.partitionBy("doc_id").orderBy("start").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    islands = (
        hits.withColumn(
            "opens",
            (F.col("start") >= F.coalesce(F.max("end").over(w_prev), F.lit(-1))).cast("int"),
        )
        .withColumn("island", F.sum("opens").over(w_run))
        .groupBy("doc_id", "island")
        .agg((F.max("end") - F.min("start")).alias("span_chars"))
    )
    per_doc = islands.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_chars").alias("chars_flagged"),
        F.max("span_chars").alias("longest_span"),
    )
    return (
        per_doc.join(docs.select("doc_id", "n_chars"), "doc_id")
        .select(
            "doc_id",
            "n_spans",
            "chars_flagged",
            "longest_span",
            F.round(F.col("chars_flagged") / F.col("n_chars"), 6).alias("frac_flagged"),
        )
        .orderBy("doc_id")
    )


Q_SUBSTR_SPANS_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text, n_chars, length(text) AS L
  FROM documents
),
w AS (
  SELECT doc_id, CAST(i AS INT) AS start, md5(substr(text, CAST(i AS INT), {SUBSTR_L})) AS h
  FROM d, unnest(generate_series(1, L - {SUBSTR_L - 1})) AS u(i)
  WHERE L >= {SUBSTR_L}
),
rep AS (
  SELECT h FROM (SELECT DISTINCT doc_id, h FROM w) GROUP BY h HAVING count(*) >= 2
),
hits AS (
  SELECT doc_id, start, start + {SUBSTR_L} AS "end" FROM w JOIN rep USING (h)
),
flagged AS (
  SELECT doc_id, start, "end",
         CASE WHEN start >= coalesce(max("end") OVER (
                PARTITION BY doc_id ORDER BY start
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS opens
  FROM hits
),
islands AS (
  SELECT doc_id, island, max("end") - min(start) AS span_chars
  FROM (
    SELECT doc_id, start, "end",
           sum(opens) OVER (PARTITION BY doc_id ORDER BY start
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM flagged
  ) GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id, count(*) AS n_spans, sum(span_chars) AS chars_flagged,
         max(span_chars) AS longest_span
  FROM islands GROUP BY doc_id
)
SELECT p.doc_id, p.n_spans, CAST(p.chars_flagged AS BIGINT) AS chars_flagged,
       CAST(p.longest_span AS BIGINT) AS longest_span,
       round(p.chars_flagged / CAST(d.n_chars AS DOUBLE), 6) AS frac_flagged
FROM per_doc p JOIN d USING (doc_id)
ORDER BY doc_id
"""


# --- per-source duplication health metric ----------------------------------------
# The corpus-health ROLLUP of dedup_exact: per ingest source, how much of
# the shard is redundant BEFORE any expensive near-dup pass runs — the
# number a curation pipeline uses to rank which crawl sources to dedup
# (or drop) first, and to watch a source's dup ratio drift release over
# release. Reports per source: docs, distinct texts, duplicate docs
# (docs − distinct), dup_ratio, and the largest single duplicate group.
#
# Scale shape (100 TB): ONE (source, md5) exchange — group sizes and the
# distinct count both fold from the same aggregated hash frame (sum = n
# docs, count = distinct, max = biggest group), so the corpus is scanned
# once and nothing corpus-scale is joined or collected.


def q_dup_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    groups = (
        docs.select("source", F.md5(F.col("text").cast("binary")).alias("h"))
        .groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("g"))
    )
    return groups.groupBy("source").agg(
        F.sum("g").alias("n_docs"),
        F.count(F.lit(1)).alias("n_distinct_texts"),
        (F.sum("g") - F.count(F.lit(1))).alias("dup_docs"),
        F.round(
            (F.sum("g") - F.count(F.lit(1))) / F.sum("g").cast("double"), 6
        ).alias("dup_ratio"),
        F.max("g").alias("max_group_size"),
    )


Q_DUP_RATIO_ORACLE = """
WITH groups AS (
  SELECT source, md5(text) AS h, count(*) AS g FROM documents GROUP BY 1, 2
)
SELECT source,
       CAST(sum(g) AS BIGINT) AS n_docs,
       count(*) AS n_distinct_texts,
       CAST(sum(g) - count(*) AS BIGINT) AS dup_docs,
       round((sum(g) - count(*)) / CAST(sum(g) AS DOUBLE), 6) AS dup_ratio,
       max(g) AS max_group_size
FROM groups GROUP BY source
"""


QUERIES = [
    QuerySpec("dup_ratio_by_source", q_dup_ratio_by_source, Q_DUP_RATIO_ORACLE, "per-source duplication health: dup ratio + largest group from one (source, hash) pass", ("dedup", "profiling")),
    QuerySpec("dedup_substring_spans", q_dedup_substring_spans, Q_SUBSTR_SPANS_ORACLE, "exact cross-doc substring spans (ExactSubstr, character-level) with interval merge", ("dedup",)),
    QuerySpec("dedup_exact", q_dedup_exact, Q_DEDUP_EXACT_ORACLE, "content-hash exact dedup", ("dedup",)),
    QuerySpec("dedup_span_scrub", q_dedup_span_scrub, Q_SPAN_SCRUB_ORACLE, "boilerplate span REMOVAL with relational interval merging", ("dedup",)),
    QuerySpec("dedup_containment", q_dedup_containment, Q_CONTAINMENT_ORACLE, "directed shingle-containment (quote-inclusion) pairs via prefix-probe join", ("dedup",)),
    QuerySpec("dedup_containment_kmv", q_dedup_containment_kmv, Q_CONTAINMENT_KMV_ORACLE, "approximate containment via K-minimum-values sketches (shuffle-free sketching, K-bounded probe)", ("dedup",)),
    QuerySpec("dedup_common_spans", q_dedup_common_spans, Q_COMMON_SPANS_ORACLE, "C4-style corpus-common span (boilerplate) detection", ("dedup",)),
    QuerySpec("dedup_ngram_jaccard", q_dedup_ngram_jaccard, _JACCARD_PAIRS_SQL, "exact char-8-gram Jaccard pairs", ("dedup",)),
    QuerySpec("dedup_minhash_lsh", q_dedup_minhash_lsh, _JACCARD_PAIRS_SQL, "MinHash-LSH + exact verify (== exact pairs)", ("dedup",)),
    QuerySpec("dedup_simhash", q_dedup_simhash, _simhash_oracle(), "SimHash hamming≤3 pairs via exact pigeonhole banding", ("dedup",)),
    QuerySpec("dedup_embedding_cosine", q_dedup_embedding_cosine, Q_EMB_NEARDUP_ORACLE, "embedding cosine≥0.4 near-dup pairs", ("dedup",)),
    QuerySpec("dedup_embedding_lsh", q_dedup_embedding_lsh, Q_EMB_LSH_ORACLE, "random-hyperplane LSH banding + exact verify at cosine≥0.9 (sub-quadratic embedding dedup)", ("dedup",)),
    QuerySpec("dedup_components", q_dedup_components, Q_COMPONENTS_ORACLE, "near-dup pairs → connected-component clusters", ("dedup",)),
    QuerySpec("dedup_keep_canonical", q_dedup_keep_canonical, Q_KEEP_CANONICAL_ORACLE, "surviving corpus after cluster resolution (anti-join)", ("dedup",)),
    QuerySpec("dedup_incremental", q_dedup_incremental, Q_DEDUP_INCREMENTAL_ORACLE, "incoming batch vs materialized bucketed band index", ("dedup",)),
    QuerySpec("dedup_two_tier", q_dedup_two_tier, Q_TWO_TIER_ORACLE, "exact-group representatives → MinHash over reps → full-corpus cluster labels", ("dedup",)),
]


