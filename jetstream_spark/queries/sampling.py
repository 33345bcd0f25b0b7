"""Training-data assembly operators (SURVEY.md §2.3 extensions): split and
pack. Both are the shapes a pre-training pipeline needs just before
tokenizer/trainer handoff.

- sample_split: deterministic hash-based train/val/test assignment.
  Bucket = first 16 bits of md5(doc_id) mod 100 — engine-independent
  arithmetic (no engine hash function), so membership is stable across
  reruns, engines, and cluster sizes: the property that matters so a
  document can never migrate between train and eval.

- doc_packing: shard-parallel greedy "concat-and-chunk" packing of
  documents into fixed token-budget context windows. Sharding first
  (doc_id mod N_SHARDS) makes packing embarrassingly parallel — each
  shard's prefix-sum runs inside one partition, the way a per-worker
  packer behaves at 100 TB — while keeping the output deterministic and
  SQL-checkable (no dependence on Spark partition boundaries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jetstream_spark.queries.spec import QuerySpec
from jetstream_spark.tables import table

TRAIN_PCT = 80
VAL_PCT = 10  # test = remainder

PACK_BUDGET = 256  # tokens per context window
N_SHARDS = 32

# token count shared with text.py's tokenization contract
_N_TOKENS_EXPR = "size(filter(split(lower(text), '[^a-z0-9]+'), x -> x != ''))"
_N_TOKENS_SQL = "len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))"


def _bucket_expr() -> F.Column:
    # first 4 hex chars of md5 → 16-bit int → mod 100
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    return (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % 100).alias("bucket")


# DuckDB has no hex→int conversion in old releases: fold the 4 hex chars with
# strpos arithmetic (LCD-portable).
_BUCKET_SQL = (
    "(("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    )
    + ") % 100)"
)


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 split with per-split corpus stats — the stratification
    check a pipeline runs before training."""
    docs = table(spark, sf_dir, "documents")
    bucket = _bucket_expr()
    split = (
        F.when(F.col("bucket") < TRAIN_PCT, "train")
        .when(F.col("bucket") < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        docs.select("doc_id", "n_chars", bucket)
        .withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


Q_SAMPLE_SPLIT_ORACLE = f"""
WITH b AS (
  SELECT doc_id, n_chars, {_BUCKET_SQL} AS bucket FROM documents
), s AS (
  SELECT doc_id, n_chars,
         CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
              WHEN bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM b
)
SELECT split,
       count(*) AS n_docs,
       round(avg(n_chars), 6) AS avg_chars,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM s
GROUP BY split
"""


def q_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack docs into {PACK_BUDGET}-token windows per shard: window id =
    floor(exclusive-prefix-sum(tokens) / budget) over doc_id order within
    the shard (concat-and-chunk with document alignment). One shuffle on
    the shard key; every shard's window function is partition-local."""
    docs = table(spark, sf_dir, "documents")
    n_tokens = F.expr(_N_TOKENS_EXPR)
    shard = (F.col("doc_id") % N_SHARDS).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    packed = (
        docs.select("doc_id", shard, n_tokens.alias("n_tokens"))
        .withColumn("win_id", F.floor(cum_before / PACK_BUDGET).cast("long"))
    )
    return packed.groupBy("shard", "win_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens_packed"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
    )


Q_DOC_PACKING_ORACLE = f"""
WITH t AS (
  SELECT doc_id, doc_id % {N_SHARDS} AS shard, {_N_TOKENS_SQL} AS n_tokens FROM documents
), p AS (
  SELECT doc_id, shard, n_tokens,
         CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    / {PACK_BUDGET}) AS BIGINT) AS win_id
  FROM t
)
SELECT shard, win_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_packed,
       min(doc_id) AS first_doc_id,
       max(doc_id) AS last_doc_id
FROM p
GROUP BY shard, win_id
"""


CHUNK_TOKENS = 64
CHUNK_STRIDE = 32


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (context-window preparation) as a
    Spark 4 Python UDTF driven through a LATERAL join — the UDTF surface of
    §2.2 (one input row → N chunk rows with their own schema). Arrow-
    optimized; row-level Python is acceptable here because chunk text
    assembly is inherently per-row string work, but the token counting that
    feeds packing/stats stays in codegen HOFs (doc_packing above)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx int, chunk_tokens int, chunk_text string", useArrow=True)
    class DocChunker:
        def eval(self, doc_id: int, text: str):
            import re

            toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
            n = max(len(toks), 1)
            for i in range((n - 1) // CHUNK_STRIDE + 1):
                chunk = toks[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_TOKENS]
                yield doc_id, i, len(chunk), " ".join(chunk)

    spark.udtf.register("doc_chunker", DocChunker)
    table(spark, sf_dir, "documents").createOrReplaceTempView("_chunk_docs")
    return spark.sql(
        "SELECT c.doc_id, c.chunk_idx, c.chunk_tokens, c.chunk_text "
        "FROM _chunk_docs, LATERAL doc_chunker(doc_id, text) c"
    )


Q_DOC_CHUNKING_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {_N_TOKENS_SQL.replace("len(", "len(", 1)} AS n_tok,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
), c AS (
  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         toks[CAST(i * {CHUNK_STRIDE} + 1 AS BIGINT):CAST(i * {CHUNK_STRIDE} + {CHUNK_TOKENS} AS BIGINT)] AS chunk
  FROM t, unnest(generate_series(0, CAST(floor((greatest(n_tok, 1) - 1) / {CHUNK_STRIDE}.0) AS BIGINT))) AS u(i)
)
SELECT doc_id, chunk_idx, len(chunk) AS chunk_tokens, array_to_string(chunk, ' ') AS chunk_text
FROM c
"""


# --- stratified sampling ---------------------------------------------------------
STRATUM_SAMPLE_PCT = 10  # deterministic 10% per language stratum


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum (language) deterministic sampling: the same engine-
    independent md5 bucket as sample_split selects ~10% of each stratum,
    and the per-stratum audit (totals, sampled count, sampled stats) comes
    out of ONE aggregation — no join, no second scan. The shape of drawing
    a balanced eval slice from a multilingual corpus."""
    docs = table(spark, sf_dir, "documents")
    in_sample = F.col("bucket") < STRATUM_SAMPLE_PCT
    return (
        docs.select("lang", "doc_id", "n_chars", _bucket_expr())
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(in_sample.cast("long")).alias("n_sampled"),
            F.round(F.avg(F.when(in_sample, F.col("n_chars"))), 6).alias("sampled_avg_chars"),
            F.min(F.when(in_sample, F.col("doc_id"))).alias("first_sampled_doc"),
        )
    )


Q_STRATIFIED_ORACLE = f"""
WITH b AS (
  SELECT lang, doc_id, n_chars, {_BUCKET_SQL} AS bucket FROM documents
)
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN bucket < {STRATUM_SAMPLE_PCT} THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       round(avg(CASE WHEN bucket < {STRATUM_SAMPLE_PCT} THEN n_chars END), 6) AS sampled_avg_chars,
       min(CASE WHEN bucket < {STRATUM_SAMPLE_PCT} THEN doc_id END) AS first_sampled_doc
FROM b
GROUP BY lang
"""


# --- split decontamination --------------------------------------------------------
DECONTAM_GRAM_N = 8  # word n-gram size, the Dolma/FineWeb-style decontam unit


def q_decontaminate_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set contamination check: for every TEST-split document, how many
    of its distinct word 8-grams also occur anywhere in the TRAIN split.
    This is the decontamination pass run before evals are trusted — overlap
    at the n-gram level catches verbatim leakage that document-level dedup
    misses (a test doc quoted inside a larger train doc).

    Scale shape: both sides explode to (doc_id, gram) / (gram) with
    map-side distinct; the contamination join shuffles on the gram string —
    the standard decontam pipeline shape. The train side collapses to its
    DISTINCT gram set first (vocabulary-sized, not corpus-sized). Hot
    boilerplate grams skew the join key; AQE skew-split handles it (same
    policy as the dedup band joins).
    """
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit(""))
    # Spark's sequence(1, n) DESCENDS when n < 1 — guard short docs explicitly
    grams = F.when(
        F.size("toks") >= DECONTAM_GRAM_N,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (DECONTAM_GRAM_N - 1)),
                lambda i: F.array_join(F.slice("toks", i, DECONTAM_GRAM_N), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = docs.select("doc_id", _bucket_expr(), toks.alias("toks")).select(
        "doc_id", "bucket", grams.alias("grams")
    )
    test = base.where(F.col("bucket") >= TRAIN_PCT + VAL_PCT)
    train_grams = (
        base.where(F.col("bucket") < TRAIN_PCT)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    test_grams = test.select("doc_id", F.explode("grams").alias("gram"))
    hits = (
        test_grams.join(train_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        test.select("doc_id", F.size("grams").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
            F.when(F.col("n_grams") == 0, F.lit(0.0))
            .otherwise(F.round(F.coalesce("n_contaminated", F.lit(0)) / F.col("n_grams"), 6))
            .alias("contamination"),
        )
    )


Q_DECONTAM_ORACLE = f"""
WITH b AS (
  SELECT doc_id, {_BUCKET_SQL} AS bucket,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
), g AS (
  SELECT doc_id, bucket,
         list_distinct(list_transform(generate_series(1, len(t) - {DECONTAM_GRAM_N - 1}),
                                      i -> array_to_string(t[i:i + {DECONTAM_GRAM_N - 1}], ' '))) AS grams
  FROM b
), tg AS (
  SELECT doc_id, unnest(grams) AS gram FROM g WHERE bucket >= {TRAIN_PCT + VAL_PCT}
), trg AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE bucket < {TRAIN_PCT}
), hits AS (
  SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
  FROM tg JOIN trg USING (gram) GROUP BY tg.doc_id
)
SELECT g.doc_id,
       len(g.grams) AS n_grams,
       coalesce(hits.n_contaminated, 0) AS n_contaminated,
       CASE WHEN len(g.grams) = 0 THEN 0.0
            ELSE round(coalesce(hits.n_contaminated, 0) / len(g.grams), 6) END AS contamination
FROM g LEFT JOIN hits ON g.doc_id = hits.doc_id
WHERE g.bucket >= {TRAIN_PCT + VAL_PCT}
"""


# --- bloom-filter decontamination ---------------------------------------------
# The membership structure for decontamination at 100 TB: the eval set is
# tiny, the train side is the corpus — so build a BITMAP over eval n-gram
# hash positions once, then probe train grams with pure bit arithmetic and
# no join at all. False positives are a bounded, deterministic property of
# (m, k, n); false negatives are impossible — the guarantee decontamination
# needs (never miss real leakage, over-flag slightly).
BLOOM_M_BITS = 1 << 16  # bitmap size
BLOOM_K = 3  # hash functions
_BLOOM_WORDS = BLOOM_M_BITS // 64


def _bloom_pos(gram: F.Column, i: int) -> F.Column:
    """Hash position i of a gram: first 5 hex chars of md5(gram + '#i') —
    engine-independent arithmetic, same contract as _bucket_expr."""
    h = F.md5(F.concat(gram, F.lit(f"#{i}")).cast("binary"))
    return F.conv(F.substring(h, 1, 5), 16, 10).cast("long") % BLOOM_M_BITS


def _bloom_pos_sql(gram_sql: str, i: int) -> str:
    fold = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({gram_sql} || '#{i}'), {j + 1}, 1)) - 1) * {16 ** (4 - j)}"
        for j in range(5)
    )
    return f"(({fold}) % {BLOOM_M_BITS})"


_GRAMS_SQL = (
    "list_distinct(list_transform("
    f"generate_series(1, len(t) - {DECONTAM_GRAM_N - 1}), "
    f"i -> array_to_string(t[i:i + {DECONTAM_GRAM_N - 1}], ' ')))"
)


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per TRAIN document: how many of its distinct word 8-grams the bloom
    filter built over the TEST split flags. Two phases:

    build — test grams hash to BLOOM_K positions; positions fold into
    64-bit words with a distributed bit_or aggregate (state bounded by the
    bitmap size, never the data), and the ≤1024-word bitmap comes back to
    the driver exactly like the IVF centroid matrix;

    probe — a map-only pass over train docs: each gram checks its K bits
    against the bitmap literal inside JVM codegen. No shuffle touches the
    train side at all (vs decontaminate_splits' gram join — this is the
    shape that wins when the corpus is 10^6× the eval set).

    Deterministic (md5 positions), so the DuckDB oracle reproduces the
    exact flag set: bloom membership == "all K positions in the set of
    set bits", which the oracle computes relationally."""
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit(""))
    grams = F.when(
        F.size("toks") >= DECONTAM_GRAM_N,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (DECONTAM_GRAM_N - 1)),
                lambda i: F.array_join(F.slice("toks", i, DECONTAM_GRAM_N), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = docs.select("doc_id", _bucket_expr(), toks.alias("toks")).select(
        "doc_id", "bucket", grams.alias("grams")
    )

    # build: distributed bitmap aggregate over test-split gram positions
    test_grams = (
        base.where(F.col("bucket") >= TRAIN_PCT + VAL_PCT)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    positions = test_grams.select(
        F.explode(F.array(*[_bloom_pos(F.col("gram"), i) for i in range(BLOOM_K)])).alias("pos")
    )
    word_rows = (
        positions.groupBy((F.col("pos") / 64).cast("int").alias("w"))
        .agg(
            F.bit_or(
                F.call_function(
                    "shiftleft", F.lit(1).cast("bigint"), (F.col("pos") % 64).cast("int")
                )
            ).alias("bits")
        )
        .collect()
    )
    words = [0] * _BLOOM_WORDS
    for r in word_rows:
        words[r["w"]] = r["bits"]
    bitmap = F.array(*[F.lit(w).cast("bigint") for w in words])

    def flagged(g: F.Column) -> F.Column:
        hit = F.lit(True)
        for i in range(BLOOM_K):
            pos = _bloom_pos(g, i)
            word = F.element_at(bitmap, (pos / 64).cast("int") + 1)
            mask = F.call_function(
                "shiftleft", F.lit(1).cast("bigint"), (pos % 64).cast("int")
            )
            hit = hit & (word.bitwiseAND(mask) != 0)
        return hit

    train = base.where(F.col("bucket") < TRAIN_PCT)
    return train.select(
        "doc_id",
        F.size("grams").alias("n_grams"),
        F.size(F.filter("grams", flagged)).alias("n_flagged"),
    ).select(
        "doc_id",
        "n_grams",
        F.col("n_flagged").cast("long").alias("n_flagged"),
        F.when(F.col("n_grams") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("n_flagged") / F.col("n_grams"), 6))
        .alias("flag_rate"),
    )


Q_DECONTAM_BLOOM_ORACLE = f"""
WITH b AS (
  SELECT doc_id, {_BUCKET_SQL} AS bucket,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
), g AS (
  SELECT doc_id, bucket,
         CASE WHEN len(t) >= {DECONTAM_GRAM_N} THEN {_GRAMS_SQL}
              ELSE [] END AS grams
  FROM b
), tg AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE bucket >= {TRAIN_PCT + VAL_PCT}
), pos AS (
  SELECT DISTINCT p FROM (
    {" UNION ALL ".join(f"SELECT {_bloom_pos_sql('gram', i)} AS p FROM tg" for i in range(BLOOM_K))}
  )
), trg AS (
  SELECT doc_id, unnest(grams) AS gram FROM g WHERE bucket < {TRAIN_PCT}
), flags AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
  FROM trg
  WHERE {" AND ".join(f"{_bloom_pos_sql('gram', i)} IN (SELECT p FROM pos)" for i in range(BLOOM_K))}
  GROUP BY doc_id
)
SELECT g.doc_id,
       len(g.grams) AS n_grams,
       coalesce(flags.n_flagged, 0) AS n_flagged,
       CASE WHEN len(g.grams) = 0 THEN 0.0
            ELSE round(coalesce(flags.n_flagged, 0) / len(g.grams), 6) END AS flag_rate
FROM g LEFT JOIN flags ON g.doc_id = flags.doc_id
WHERE g.bucket < {TRAIN_PCT}
"""


# --- token-budget corpus selection --------------------------------------------
SELECT_BUDGET = 15_000  # token budget — binding at every test SF
_SCORE_BUCKETS = 1000  # score quantization for the threshold pass


def q_corpus_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select the best documents under a global token budget: walk the
    corpus in (quality score desc, doc_id) order and keep docs while the
    running token total stays ≤ SELECT_BUDGET — the data-selection step of
    a curation pipeline (score here = distinct-token ratio; any per-doc
    score slots in).

    The naive form is a GLOBAL sort + unpartitioned running-sum window —
    a single-task bottleneck at any real scale. This runs the equivalent
    two-phase threshold plan instead:

      1. quantize score into monotone buckets; ONE aggregation to
         ≤ _SCORE_BUCKETS rows gives per-bucket token totals; the driver
         walks the (tiny) histogram to find the boundary bucket and the
         budget remaining inside it — same trick as the CMS/centroid
         collects, state bounded by a constant, never the corpus;
      2. everything above the boundary bucket is selected with a map-only
         filter; only the boundary bucket itself (corpus/1000 on average)
         pays a sort+window, and it's partition-pruned by the bucket
         filter first.

    Because the bucket function is monotone in the global order, the
    result is EXACTLY the global greedy prefix — the DuckDB oracle
    computes it with the naive global window and must match row-for-row."""
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit(""))
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.round(F.size(F.array_distinct("toks")) / F.size("toks"), 6).alias("score"),
    )
    base = base.withColumn(
        "bucket", F.floor(F.col("score") * _SCORE_BUCKETS).cast("int")
    )

    hist = (
        base.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bucket_tokens"))
        .collect()
    )
    hist.sort(key=lambda r: -r["bucket"])
    cum, boundary, remaining = 0, None, 0
    for r in hist:
        if cum + r["bucket_tokens"] > SELECT_BUDGET:
            boundary, remaining = r["bucket"], SELECT_BUDGET - cum
            break
        cum += r["bucket_tokens"]
    if boundary is None:  # whole corpus fits the budget
        return base.select("doc_id", "score", "n_tokens")

    full = base.where(F.col("bucket") > boundary)
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    partial = (
        base.where(F.col("bucket") == boundary)
        .withColumn("cum", F.sum("n_tokens").over(w))
        .where(F.col("cum") <= remaining)
    )
    return full.select("doc_id", "score", "n_tokens").unionByName(
        partial.select("doc_id", "score", "n_tokens")
    )


Q_BUDGET_SELECT_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS score
  FROM t
), o AS (
  SELECT doc_id, score, n_tokens,
         sum(n_tokens) OVER (ORDER BY score DESC, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM s
)
SELECT doc_id, score, n_tokens FROM o WHERE cum <= {SELECT_BUDGET}
"""


# --- weighted sampling (Efraimidis–Spirakis A-Res) ----------------------------
SAMPLE_K = 50  # docs to draw


def _uniform_expr() -> F.Column:
    """Deterministic uniform in (0,1) from the doc id: first 8 hex chars of
    md5 → 32-bit int v → (v + 0.5) / 2^32. Same engine-independent md5
    arithmetic as _bucket_expr, so the draw is reproducible anywhere."""
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    v = F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
    return (v + 0.5) / float(1 << 32)


_UNIFORM_SQL = (
    "(("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    + f") + 0.5) / {float(1 << 32)}"
)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    each doc draws key = u^(1/w) with u uniform from md5(doc_id) and weight
    w = its quality score (distinct-token ratio); the global top-k keys ARE
    a w-weighted sample — the data-selection primitive for "sample the
    corpus proportionally to quality" (vs corpus_budget_selection's greedy
    prefix).

    Scale shape: key computation is map-only codegen; the top-k compiles to
    TakeOrderedAndProject — per-partition k-row heaps, then a k·P-row merge
    on one reducer. No global sort, no corpus shuffle, identical to the ANN
    top-k shape. Deterministic: u and w are pure functions of the row, key
    is rounded to 6 digits BEFORE ordering (float contract) and doc_id
    breaks ties, so Spark and DuckDB select the identical sample."""
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit(""))
    base = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        (F.size(F.array_distinct("toks")) / F.size("toks")).alias("w"),
    ).where(F.col("n_tokens") > 0)
    key = F.round(F.pow(_uniform_expr(), 1.0 / F.col("w")), 6)
    return (
        base.select(
            "doc_id",
            F.round("w", 6).alias("weight"),
            key.alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), F.col("doc_id"))
        .limit(SAMPLE_K)
    )


Q_WEIGHTED_SAMPLE_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) * 1.0 / len(toks) AS w
  FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       round(w, 6) AS weight,
       round(pow({_UNIFORM_SQL}, 1.0 / w), 6) AS sample_key
FROM s
ORDER BY sample_key DESC, doc_id
LIMIT {SAMPLE_K}
"""


# --- cluster-aware (leakage-free) splitting ------------------------------------
def _cluster_bucket_sql(col: str) -> str:
    return (
        "(("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr(md5(CAST({col} AS VARCHAR)), {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
            for i in range(4)
        )
        + ") % 100)"
    )


def q_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test assignment: the md5 split bucket is
    computed on the NEAR-DUP CLUSTER id (dedup_two_tier's full-corpus
    labels), not the doc id — so a near-duplicate pair can never straddle
    train and eval, the leak document-level splitting silently permits
    (a doc and its near-copy landing on opposite sides inflates eval).
    Output: per-split doc and cluster counts.

    Scale shape: two_tier's shuffles + one md5-arithmetic projection and a
    3-row aggregate; assignment stays a pure function of cluster id, so
    membership is stable across reruns/engines exactly like sample_split."""
    from jetstream_spark.queries.dedup import q_dedup_two_tier

    labels = q_dedup_two_tier(spark, sf_dir)
    h = F.md5(F.col("cluster_id").cast("string").cast("binary"))
    bucket = (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % 100)
    split = (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        labels.select("doc_id", "cluster_id", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            F.min("cluster_id").alias("min_cluster"),
        )
    )


def _two_tier_labels_cte() -> str:
    # the dedup_two_tier oracle body as a reusable CTE tail (labels view)
    from jetstream_spark.queries.dedup import JACCARD_T, _SHINGLES_SQL

    return f"""
g AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM documents
), shx AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
  WHERE doc_id IN (SELECT DISTINCT rep FROM g)
), sizes AS (
  SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id
), rp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
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
), labels AS (
  SELECT g.doc_id, CAST(coalesce(lab.component, g.rep) AS BIGINT) AS cluster_id
  FROM g LEFT JOIN lab ON g.rep = lab.v
)"""


def _cluster_split_oracle() -> str:
    return f"""
WITH RECURSIVE {_two_tier_labels_cte()}, assigned AS (
  SELECT doc_id, cluster_id,
         CASE WHEN {_cluster_bucket_sql('cluster_id')} < {TRAIN_PCT} THEN 'train'
              WHEN {_cluster_bucket_sql('cluster_id')} < {TRAIN_PCT + VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM labels
)
SELECT split,
       count(*) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       min(cluster_id) AS min_cluster
FROM assigned GROUP BY split
"""


# --- split drift (PSI) --------------------------------------------------------
PSI_BINS = 10
# (feature, bin lower bound, bin width) — fixed-width bins, clamped to
# [0, PSI_BINS-1]; constants shared verbatim with the oracle
PSI_FEATURES = (("n_chars", 0.0, 40.0), ("n_tokens", 0.0, 8.0))


def q_split_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the train and test md5 splits,
    per document feature — the drift/monitoring gate a pipeline runs when
    a new crawl batch lands (is the distribution the eval set was drawn
    from still the distribution we train on?). PSI = Σ_b (p_b − q_b)·
    ln(p_b/q_b) over {PSI_BINS} fixed-width bins, Laplace-smoothed
    ((count+0.5)/(n+{PSI_BINS}/2)); a bin empty on BOTH sides is skipped
    (its smoothed p and q differ only via the totals — the convention,
    identical in both engines, effectively treats never-observed bins as
    out-of-support). For the identically-distributed md5 split PSI ≈ 0 —
    the operator's point is the arithmetic, verified cross-engine.

    Scale shape: bin assignment is map-only codegen; the only shuffle is
    the (feature, bin) count aggregate (≤ |features|·{PSI_BINS} groups,
    map-side partials); totals and the PSI fold run over that tiny frame."""
    docs = table(spark, sf_dir, "documents")
    n_tokens = F.size(
        F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != F.lit(""))
    )
    feats = {"n_chars": F.col("n_chars").cast("double"), "n_tokens": n_tokens.cast("double")}

    def bin_of(col, lo, w):
        return F.least(
            F.greatest(F.floor((col - F.lit(lo)) / F.lit(w)).cast("int"), F.lit(0)),
            F.lit(PSI_BINS - 1),
        )

    base = docs.select(
        _bucket_expr(),
        *[bin_of(feats[name], lo, w).alias(f"bin_{name}") for name, lo, w in PSI_FEATURES],
    ).where((F.col("bucket") < TRAIN_PCT) | (F.col("bucket") >= TRAIN_PCT + VAL_PCT))
    stacked = base.select(
        (F.col("bucket") < TRAIN_PCT).alias("is_train"),
        F.expr(
            "stack({}, {})".format(
                len(PSI_FEATURES),
                ", ".join(f"'{name}', bin_{name}" for name, _, _ in PSI_FEATURES),
            )
        ).alias("feature", "bin"),
    )
    counts = stacked.groupBy("feature", "bin").agg(
        F.sum(F.col("is_train").cast("long")).alias("ct"),
        F.sum((~F.col("is_train")).cast("long")).alias("cq"),
    )
    totals = counts.groupBy("feature").agg(
        F.sum("ct").alias("n_train"), F.sum("cq").alias("n_test")
    )
    half = PSI_BINS / 2.0
    p = (F.col("ct") + 0.5) / (F.col("n_train") + F.lit(half))
    q = (F.col("cq") + 0.5) / (F.col("n_test") + F.lit(half))
    return (
        counts.join(totals, "feature")
        .groupBy("feature", "n_train", "n_test")
        .agg(F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"))
    )


def _psi_oracle() -> str:
    tokens_sql = "len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))"
    feat_sql = {"n_chars": "CAST(n_chars AS DOUBLE)", "n_tokens": f"CAST({tokens_sql} AS DOUBLE)"}
    selects = " UNION ALL ".join(
        f"SELECT '{name}' AS feature, "
        f"least(greatest(CAST(floor(({feat_sql[name]} - {lo}) / {w}) AS INT), 0), {PSI_BINS - 1}) AS bin, "
        "is_train FROM s"
        for name, lo, w in PSI_FEATURES
    )
    half = PSI_BINS / 2.0
    return f"""
WITH b AS (
  SELECT text, n_chars, {_BUCKET_SQL} AS bucket FROM documents
), s AS (
  SELECT text, n_chars, bucket < {TRAIN_PCT} AS is_train
  FROM b WHERE bucket < {TRAIN_PCT} OR bucket >= {TRAIN_PCT + VAL_PCT}
), u AS (
  {selects}
), counts AS (
  SELECT feature, bin,
         sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS ct,
         sum(CASE WHEN is_train THEN 0 ELSE 1 END) AS cq
  FROM u GROUP BY 1, 2
), tot AS (
  SELECT feature, CAST(sum(ct) AS BIGINT) AS n_train, CAST(sum(cq) AS BIGINT) AS n_test
  FROM counts GROUP BY 1
)
SELECT feature, n_train, n_test,
       round(sum(((ct + 0.5) / (n_train + {half}) - (cq + 0.5) / (n_test + {half}))
                 * ln(((ct + 0.5) / (n_train + {half})) / ((cq + 0.5) / (n_test + {half})))), 6) AS psi
FROM counts JOIN tot USING (feature)
GROUP BY feature, n_train, n_test
"""


# --- temperature-based domain mixture sampling --------------------------------
TEMP_TAU = 0.7  # multilingual-LM-style temperature: flattens big domains
TEMP_FRAC = 0.5  # overall token budget as a fraction of the corpus


def q_domain_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-resampled domain mixture: target token share of domain
    s is n_s^τ / Σ n^τ (τ={TEMP_TAU} flattens the head the way
    multilingual LM training mixes languages), realized by per-doc
    deterministic acceptance u(doc) < a_s with a_s = min(1, budget_s /
    n_s), a_s quantized to 6 decimals on BOTH engines so the integer
    kept-counts cannot flip on a last-ulp pow() difference.

    Scale shape: one (source) agg shuffle + the |domains|-row mixture
    frame broadcast back; the accept filter is map-only codegen over the
    doc scan — no global sort, no second corpus shuffle."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_N_TOKENS_EXPR).alias("n_tok")
    )
    dom = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    # r14 (guide §6/§2.4): wsum/tok_total were an agg+crossJoin that
    # re-derived dom (a second corpus tokenize+scan), and the mix frame's
    # two consumers (the accept broadcast, the final join) re-derived the
    # whole chain again — 5 corpus scans per run. The totals ride a
    # whole-frame window over the |domains|-row dom frame, and the tiny
    # mix frame is materialized ONCE per run via a lazy in-run
    # localCheckpoint: 5 corpus scans -> 2 (dom build + accept filter).
    w_all = Window.partitionBy()
    wsum = F.sum(F.pow("n_tokens", F.lit(TEMP_TAU))).over(w_all)
    tok_total = F.sum("n_tokens").over(w_all)
    mix = dom.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.pow("n_tokens", F.lit(TEMP_TAU)) / wsum, 6).alias("target_share"),
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(TEMP_FRAC)
                * tok_total
                * (F.pow("n_tokens", F.lit(TEMP_TAU)) / wsum)
                / F.col("n_tokens"),
            ),
            6,
        ).alias("accept_prob"),
    ).localCheckpoint(eager=False)
    kept = (
        docs.join(F.broadcast(mix.select("source", "accept_prob")), "source")
        .filter(_uniform_expr() < F.col("accept_prob"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("n_tok").alias("kept_tokens"),
        )
    )
    return (
        mix.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "target_share",
            "accept_prob",
            F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
        )
    )


Q_TEMP_SAMPLE_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, source, {_N_TOKENS_SQL} AS n_tok FROM documents
), dom AS (
  SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
  FROM docs GROUP BY source
), tot AS (
  SELECT sum(pow(n_tokens, CAST({TEMP_TAU} AS DOUBLE))) AS wsum,
         CAST(sum(n_tokens) AS BIGINT) AS tok_total
  FROM dom
), mix AS (
  SELECT source, n_docs, n_tokens,
         round(pow(n_tokens, CAST({TEMP_TAU} AS DOUBLE)) / wsum, 6) AS target_share,
         round(least(CAST(1 AS DOUBLE),
               CAST({TEMP_FRAC} AS DOUBLE) * tok_total
               * (pow(n_tokens, CAST({TEMP_TAU} AS DOUBLE)) / wsum) / n_tokens), 6) AS accept_prob
  FROM dom CROSS JOIN tot
), kept AS (
  SELECT d.source, count(*) AS kept_docs, CAST(sum(d.n_tok) AS BIGINT) AS kept_tokens
  FROM docs d JOIN mix m ON m.source = d.source
  WHERE {_UNIFORM_SQL} < m.accept_prob
  GROUP BY d.source
)
SELECT m.source, m.n_docs, m.n_tokens, m.target_share, m.accept_prob,
       coalesce(k.kept_docs, 0) AS kept_docs,
       coalesce(k.kept_tokens, 0) AS kept_tokens
FROM mix m LEFT JOIN kept k ON k.source = m.source
"""


# --- deterministic negative sampling ------------------------------------------
NEG_K = 4  # negatives drawn per anchor document


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    each anchor doc draws {NEG_K} pseudo-random partner docs via
    md5(doc_id # j) mod N over a dense rank space, self-draws dropped —
    reproducible anywhere (no RNG state), so the training set is a pure
    function of the corpus.

    Scale shape: the rank table here is a global row_number (oracle-parity
    form); at 100 TB it becomes a two-phase rank (per-partition counts,
    then each partition's cumulative offset). Draws are map-only
    codegen; resolving rank→doc is one join against the node-scale rank
    table."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents").select("doc_id")
    ranked = docs.withColumn(
        "rnk", F.row_number().over(Window.orderBy("doc_id")) - 1
    )
    n = ranked.count()  # scalar action
    js = spark.range(NEG_K).select(F.col("id").cast("int").alias("j"))
    h = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit("#"), F.col("j").cast("string")).cast("binary")
    )
    draws = ranked.crossJoin(F.broadcast(js)).select(
        F.col("doc_id").alias("anchor_doc"),
        "j",
        (F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % n).alias("neg_rnk"),
        F.col("rnk").alias("own_rnk"),
    ).where(F.col("neg_rnk") != F.col("own_rnk"))
    return (
        draws.join(
            ranked.select(F.col("rnk").alias("neg_rnk"), F.col("doc_id").alias("neg_doc")),
            "neg_rnk",
        )
        .select("anchor_doc", "j", "neg_doc")
    )


_NEG_H_SQL = (
    "CAST(('0x' || substr(md5(CAST(anchor_doc AS VARCHAR) || '#' || CAST(j AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT)"
)

Q_NEGATIVE_SAMPLES_ORACLE = f"""
WITH ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rnk FROM documents
), nn AS (SELECT count(*) AS n FROM ranked
), draws AS (
  SELECT r.doc_id AS anchor_doc, j.j AS j, r.rnk AS own_rnk,
         {_NEG_H_SQL.replace('anchor_doc', 'r.doc_id').replace('CAST(j AS', 'CAST(j.j AS')} % (SELECT n FROM nn) AS neg_rnk
  FROM ranked r CROSS JOIN (SELECT unnest(generate_series(0, {NEG_K - 1})) AS j) j
)
SELECT d.anchor_doc, CAST(d.j AS INTEGER) AS j, r2.doc_id AS neg_doc
FROM draws d JOIN ranked r2 ON r2.rnk = d.neg_rnk
WHERE d.neg_rnk <> d.own_rnk
"""


# --- deterministic global shuffle into training shards ---------------------------
SHUFFLE_SEED = 13
N_TRAIN_SHARDS = 16


def _shuffle_key() -> F.Column:
    """Seeded, engine-independent shuffle key: md5(doc_id ':' seed). The
    hex string is the within-shard sort key; its first 4 hex chars give
    the shard. Changing the seed is a full reshuffle; fixing it makes the
    training order perfectly reproducible across reruns and engines."""
    return F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":{SHUFFLE_SEED}")).cast("binary")
    )


def shuffled_shards(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, shard, skey) — the shard assignment + order key
    every consumer below shares."""
    h = _shuffle_key()
    return docs.select(
        "doc_id",
        F.expr(_N_TOKENS_EXPR).alias("n_tokens"),
        (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % N_TRAIN_SHARDS).alias("shard"),
        h.alias("skey"),
    )


def write_training_shards(docs: DataFrame, out_dir: str) -> None:
    """The side-effecting writer: ONE hash repartition on the shard key +
    an in-partition sort by the shuffle key, then a partitioned parquet
    write — the 'materialize the training order' step. At 100 TB this is
    exactly one shuffle of the corpus (unavoidable: a global shuffle IS
    the operator) with no global sort — order is only ever needed within
    a shard, which is what sortWithinPartitions provides."""
    # sort by (shard, skey), not skey alone: FileFormatWriter requires each
    # task's rows sorted by the partition columns and INSERTS ITS OWN
    # non-stable sort by `shard` if the incoming order doesn't already
    # satisfy that — which would scramble the skey order inside each shard
    # file. Leading with `shard` makes the writer's requirement a prefix of
    # our ordering, so no extra sort is added and skey order survives.
    (
        shuffled_shards(docs)
        .repartition(N_TRAIN_SHARDS, "shard")
        .sortWithinPartitions("shard", "skey")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(out_dir)
    )


def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifest of the deterministic global shuffle: per shard, the
    doc/token counts plus the first and last doc in training order (the
    determinism witnesses — if either moves, the order moved). The
    verifiable face of write_training_shards: same assignment + order
    key, aggregated instead of materialized, so the manifest is
    hash-checkable against DuckDB while the writer itself is exercised in
    tests. Plan: map-only key derivation + ONE shard aggregate."""
    s = shuffled_shards(table(spark, sf_dir, "documents"))
    return (
        s.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min_by("doc_id", "skey").alias("head_doc_id"),
            F.max_by("doc_id", "skey").alias("tail_doc_id"),
        )
        .orderBy("shard")
    )


_SKEY_SQL = f"md5(CAST(doc_id AS VARCHAR) || ':{SHUFFLE_SEED}')"
_SHARD_SQL = (
    "(("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr({_SKEY_SQL}, {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    )
    + f") % {N_TRAIN_SHARDS})"
)

Q_TRAINING_SHARDS_ORACLE = f"""
WITH s AS (
  SELECT doc_id, {_N_TOKENS_SQL} AS n_tokens,
         {_SHARD_SQL} AS shard, {_SKEY_SQL} AS skey
  FROM documents
)
SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       arg_min(doc_id, skey) AS head_doc_id,
       arg_max(doc_id, skey) AS tail_doc_id
FROM s GROUP BY shard ORDER BY shard
"""


QUERIES = [
    QuerySpec("training_shards", q_training_shards, Q_TRAINING_SHARDS_ORACLE, "deterministic seeded global shuffle into training shards: per-shard manifest", ("sampling",)),
    QuerySpec("negative_samples", q_negative_samples, Q_NEGATIVE_SAMPLES_ORACLE, "deterministic md5 negative sampling over a dense rank space", ("sampling",)),
    QuerySpec("domain_temperature_sample", q_domain_temperature_sample, Q_TEMP_SAMPLE_ORACLE, "temperature-flattened domain mixture via quantized deterministic acceptance", ("sampling",)),
    QuerySpec("split_drift_psi", q_split_drift_psi, _psi_oracle(), "PSI drift between train/test splits over binned doc features", ("sampling", "monitoring")),
    QuerySpec("cluster_aware_split", q_cluster_aware_split, _cluster_split_oracle(), "leakage-free split: buckets on near-dup cluster id, not doc id", ("sampling",)),
    QuerySpec("weighted_sample", q_weighted_sample, Q_WEIGHTED_SAMPLE_ORACLE, "Efraimidis–Spirakis quality-weighted sample via top-k keys", ("sampling",)),
    QuerySpec("decontaminate_bloom", q_decontaminate_bloom, Q_DECONTAM_BLOOM_ORACLE, "bloom-filter decontamination: map-only train-side probe", ("sampling",)),
    QuerySpec("corpus_budget_selection", q_corpus_budget_selection, Q_BUDGET_SELECT_ORACLE, "global token-budget greedy selection without a global sort", ("sampling",)),
    QuerySpec("stratified_sample", q_stratified_sample, Q_STRATIFIED_ORACLE, "per-language deterministic sampling audit", ("sampling",)),
    QuerySpec("decontaminate_splits", q_decontaminate_splits, Q_DECONTAM_ORACLE, "test-split n-gram contamination vs train split", ("sampling",)),
    QuerySpec("sample_split", q_sample_split, Q_SAMPLE_SPLIT_ORACLE, "deterministic hash train/val/test split", ("sampling",)),
    QuerySpec("doc_packing", q_doc_packing, Q_DOC_PACKING_ORACLE, "shard-parallel token-budget sequence packing", ("sampling",)),
    QuerySpec("doc_chunking", q_doc_chunking, Q_DOC_CHUNKING_ORACLE, "overlapping context-window chunking via Spark 4 UDTF + LATERAL", ("sampling",)),
]
