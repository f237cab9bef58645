"""Training-data pipeline queries: deterministic splits, repetition
quality gate, sequence packing (operators/training.py) — each with an
exact DuckDB oracle (all three ops are deterministic functions of the
data, so the oracle replays them value-for-value: the md5 bucket for
splits, the same HOF arithmetic for repetition, a per-shard recursive
CTE for the greedy pack)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.operators.training import (
    hash_split_column,
    hash_split_oracle_bucket_sql,
    pack_sequences,
    repetition_stats,
    shuffle_shard,
)
from gcs2postgres_spark.queries.registry import register

_SPLIT_SEED = "split-v1"
_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}

DATASET_SPLIT_ORACLE = f"""
WITH assigned AS (
  SELECT doc_id, n_chars,
         CASE WHEN {hash_split_oracle_bucket_sql("doc_id", _SPLIT_SEED)} < 9000 THEN 'train'
              WHEN {hash_split_oracle_bucket_sql("doc_id", _SPLIT_SEED)} < 9500 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split,
       CAST(count(*) AS BIGINT)  AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(min(doc_id) AS BIGINT)  AS first_doc
FROM assigned GROUP BY split ORDER BY split
"""


@register("dataset_split_assign", oracle=DATASET_SPLIT_ORACLE)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split via the portable md5
    bucket (operators/training.py) — zero shuffles to assign, one to
    aggregate the per-split profile. The oracle recomputes the identical
    bucket in DuckDB, so a single relocated document fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    assigned = docs.select(
        "doc_id",
        "n_chars",
        hash_split_column(F.col("doc_id"), _WEIGHTS, _SPLIT_SEED).alias("split"),
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("split")
    )


TEXT_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), stats AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_words,
         round(1.0 - len(list_distinct(t)) / CAST(len(t) AS DOUBLE), 5) AS repetition_ratio
  FROM toks
)
SELECT doc_id, n_words, n_distinct_words, repetition_ratio,
       repetition_ratio > 0.5 AS is_repetitive
FROM stats
ORDER BY doc_id
"""


@register("text_repetition_filter", oracle=TEXT_REPETITION_ORACLE)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition/boilerplate quality gate: word-level distinct ratio per
    document as pure Catalyst HOFs (no shuffle, no UDF). The >0.5 flag is
    the cheap pre-filter run before any near-dup pass at scale.
    repetition_ratio rounded to 5dp on both sides (identical quantization
    policy as agg_corr_covar).

    Widened first (guide §2.5): the split + array_sort + run-length
    aggregate per doc is the heavy stage and otherwise runs at the
    compact corpus scan's width."""
    from gcs2postgres_spark.operators.caching import widen_doc_scan

    docs = widen_doc_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    s = repetition_stats(F.col("text"))
    ratio = F.round(s["repetition_ratio"], 5)
    return docs.select(
        "doc_id",
        s["n_words"].alias("n_words"),
        s["n_distinct_words"].alias("n_distinct_words"),
        ratio.alias("repetition_ratio"),
        (ratio > 0.5).alias("is_repetitive"),
    ).orderBy("doc_id")


_MIX_WEIGHTS = {"web": 0.5, "books": 0.9, "code": 1.0, "wiki": 1.0, "news": 0.25}

_MIX_CASES_SQL = " ".join(
    f"WHEN source = '{s}' THEN {int(round(w * 10000))}" for s, w in _MIX_WEIGHTS.items()
)

DOMAIN_MIX_ORACLE = f"""
WITH keep AS (
  SELECT doc_id, source, n_chars,
         {hash_split_oracle_bucket_sql("doc_id", "mix-v1")} AS bucket,
         CASE {_MIX_CASES_SQL} ELSE 10000 END AS keep_below
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN bucket < keep_below THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(min(CASE WHEN bucket < keep_below THEN doc_id END) AS BIGINT) AS first_kept
FROM keep GROUP BY source ORDER BY source
"""


@register("domain_mix_sample", oracle=DOMAIN_MIX_ORACLE)
def domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture downsampling (pretraining data
    recipe: per-source keep rates, e.g. downweight web/news, keep all
    code/wiki): keep iff the portable md5 bucket of the doc id falls
    under the source's rate. Zero shuffles to decide membership — the
    sample is a pure projection, reproducible by any engine from the id
    alone, and re-running with a tweaked recipe reuses nothing but the
    hash. Output profiles kept/total per source."""
    from gcs2postgres_spark.operators.dedup import portable_hash60

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(
        portable_hash60(F.concat(F.lit("mix-v1|"), F.col("doc_id").cast("string"))),
        F.lit(10000),
    )
    keep_below = None
    for s, w in _MIX_WEIGHTS.items():
        thr = int(round(w * 10000))
        keep_below = (
            F.when(F.col("source") == s, thr)
            if keep_below is None
            else keep_below.when(F.col("source") == s, thr)
        )
    keep_below = keep_below.otherwise(10000)
    kept = bucket < keep_below
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.min(F.when(kept, F.col("doc_id"))).alias("first_kept"),
        )
        .orderBy("source")
    )


_DECON_NGRAM = 5
_DECON_MIN_SHARED = 2

DECONTAMINATE_ORACLE = f"""
WITH eval_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
), train_docs AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
), eval_grams AS (
  SELECT DISTINCT unnest(list_transform(
           range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\\s+')) - {_DECON_NGRAM - 2}, 2)),
           i -> array_to_string(list_slice(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                           i, i + {_DECON_NGRAM - 1}), ' ')
         )) AS gram
  FROM eval_docs
), train_grams AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\\s+')) - {_DECON_NGRAM - 2}, 2)),
           i -> array_to_string(list_slice(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                           i, i + {_DECON_NGRAM - 1}), ' ')
         ))) AS gram
  FROM train_docs
)
SELECT CAST(t.doc_id AS BIGINT) AS doc_id,
       CAST(count(*) AS BIGINT) AS n_shared_grams
FROM train_grams t JOIN eval_grams e ON t.gram = e.gram
GROUP BY t.doc_id
HAVING count(*) >= {_DECON_MIN_SHARED}
ORDER BY doc_id
"""


@register("decontaminate_against_eval", oracle=DECONTAMINATE_ORACLE)
def decontaminate_against_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥2
    distinct word 5-grams with any eval-set document (eval simulated as
    every 50th doc). The scale shape is the sparse inverted-index
    semi-join — shingle both sides (same shingler as MinHash,
    operators/dedup.py), distinct per doc, equi-join on the gram, count
    per train doc. Never all-pairs: work is bounded by gram collisions,
    and the eval side (small by construction) broadcasts at any corpus
    size. At 100 TB this is THE pass that keeps test benchmarks out of
    the training set."""
    from gcs2postgres_spark.operators.dedup import shingle_docs

    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 50 == 0)
    train_docs = docs.filter(F.col("doc_id") % 50 != 0)
    eval_grams = (
        shingle_docs(eval_docs, "doc_id", "text", _DECON_NGRAM)
        .select(F.col("shingle").alias("gram"))
        .distinct()
    )
    train_grams = shingle_docs(train_docs, "doc_id", "text", _DECON_NGRAM).select(
        "doc_id", F.col("shingle").alias("gram")
    )
    return (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= _DECON_MIN_SHARED)
        .orderBy("doc_id")
    )


_DECON13_N = 13

# DuckDB replay of ngram_decontaminate at n=13/min_matches=1: the same
# tokenize → n-gram (whole-text fallback under 13 tokens) → portable
# 60-bit md5 hash → hash equi-join → distinct-match count. Joining on
# the HASH (not the raw gram) mirrors the operator exactly, collisions
# included.
_D13_GRAMS = f"""
      CASE WHEN len(t) >= {_DECON13_N}
        THEN list_distinct(list_transform(range(1, len(t) - {_DECON13_N - 2}),
               i -> array_to_string(list_slice(t, i, i + {_DECON13_N - 1}), ' ')))
        ELSE [array_to_string(t, ' ')] END
"""

DECON13_ORACLE = f"""
WITH bench_t AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents WHERE doc_id % 7 = 0
), corpus_t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents WHERE doc_id % 7 <> 0
), bg AS (
  SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM (SELECT unnest({_D13_GRAMS}) AS g FROM bench_t)
), cg AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest({_D13_GRAMS}) AS g FROM corpus_t)
)
SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
       CAST(count(DISTINCT c.h) AS BIGINT) AS n_matching_ngrams
FROM cg c JOIN bg b ON c.h = b.h
GROUP BY c.doc_id
ORDER BY doc_id
"""


@register("decontaminate_ngram13_audit", oracle=DECON13_ORACLE)
def decontaminate_ngram13_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published pretraining-report decontamination recipe (13-gram
    overlap against the eval set, whole-text fallback for short eval
    entries so nothing is silently unmatched), via
    operators/training.ngram_decontaminate — the audit-trail side: one
    row per contaminated corpus document with its distinct-match count,
    exactly what a data card reports. Eval simulated as every 7th doc.

    Scale shape: both sides reduce to 60-bit gram hashes; the eval side
    (small by nature) is explicitly broadcast, so the corpus is scanned
    once and never shuffled before the per-doc count. The oracle replays
    the identical hash, so this certifies tokenization, the n-gram
    window arithmetic, the fallback branch, and the join — any drift
    fails the value hash."""
    from gcs2postgres_spark.operators.training import ngram_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    _clean, flagged = ngram_decontaminate(
        corpus, bench, id_col="doc_id", text_col="text", n=_DECON13_N
    )
    return flagged.select(
        "doc_id", F.col("n_matching_ngrams").cast("long").alias("n_matching_ngrams")
    ).orderBy("doc_id")


_PACK_BUDGET = 128
_PACK_SHARDS = 8


def sequence_pack_oracle_sql(budget: int, n_shards: int, shard_sql: str | None = None) -> str:
    """Recursive-CTE replay of pack_sequences' greedy recurrence,
    parametrized so the property test can run it at several shard counts
    and shard expressions (tests/test_operators.py) with the registered
    query using one instance. ``shard_sql`` defaults to the pmod-of-id
    sharding; pass the md5-bucket expression to mirror ``shard_cols``.
    seq_id uses the same (shard << 40) + seq_local composition as
    operators/training.py (2^40 = 1099511627776)."""
    shard_sql = shard_sql or f"doc_id % {n_shards}"
    return f"""
WITH RECURSIVE ordered AS (
  SELECT {shard_sql} AS shard, doc_id,
         CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY {shard_sql} ORDER BY doc_id) AS rn
  FROM documents
), pack AS (
  SELECT shard, rn, doc_id, n_tokens, n_tokens AS acc, CAST(0 AS BIGINT) AS seq_local
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN p.acc + o.n_tokens > {budget} THEN o.n_tokens
              ELSE p.acc + o.n_tokens END,
         CASE WHEN p.acc + o.n_tokens > {budget} THEN p.seq_local + 1
              ELSE p.seq_local END
  FROM ordered o JOIN pack p ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(shard * 1099511627776 + seq_local AS BIGINT) AS seq_id,
       n_tokens, seq_local
FROM pack ORDER BY doc_id
"""


SEQUENCE_PACK_ORACLE = sequence_pack_oracle_sql(_PACK_BUDGET, _PACK_SHARDS)


TOP_WORD_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), counts AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(t) AS w FROM toks)
  GROUP BY doc_id, w
), agg AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_words,
         CAST(max(c) AS BIGINT) AS top_word_count
  FROM counts GROUP BY doc_id
)
SELECT doc_id, n_words, top_word_count,
       round(CAST(top_word_count AS DOUBLE) / n_words, 5) AS top_word_ratio
FROM agg ORDER BY doc_id
"""


@register("text_top_word_ratio", oracle=TOP_WORD_ORACLE)
def text_top_word_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent-word frequency per document — the boilerplate
    signal (pages that repeat one token). Computed as the max run length
    over the sorted token array in ONE linear F.aggregate pass
    (operators/training.py repetition_stats), replacing the quadratic
    transform×filter shape; the oracle recounts word frequencies the
    straightforward unnest/groupBy way, so the run-length arithmetic is
    certified value-for-value. Widened first (guide §2.5, same reason
    as text_repetition_filter)."""
    from gcs2postgres_spark.operators.caching import widen_doc_scan

    docs = widen_doc_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    s = repetition_stats(F.col("text"))
    return docs.select(
        "doc_id",
        s["n_words"].alias("n_words"),
        s["top_word_count"].alias("top_word_count"),
        F.round(s["top_word_ratio"], 5).alias("top_word_ratio"),
    ).orderBy("doc_id")


@register("sequence_pack_greedy", oracle=SEQUENCE_PACK_ORACLE)
def sequence_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing (pretraining batch prep): greedy
    per-shard pack at budget=128 whitespace tokens, shard = doc_id % 8.
    One shuffle + linear Arrow-batched greedy; the oracle replays the
    exact recurrence as a per-shard recursive CTE, so a single
    off-by-one in the boundary condition fails the hash."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    ).orderBy("doc_id")


_SHUF_SEED = "epoch0"
_SHUF_SHARDS = 16

SHUFFLE_SHARD_ORACLE = f"""
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5('{_SHUF_SEED}|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           AS sort_key
  FROM documents
)
SELECT doc_id, sort_key % {_SHUF_SHARDS} AS shard,
       CAST(row_number() OVER (PARTITION BY sort_key % {_SHUF_SHARDS}
                               ORDER BY sort_key, doc_id) AS BIGINT) AS pos,
       sort_key
FROM h ORDER BY shard, pos
"""


@register("dataset_shuffle_shard", oracle=SHUFFLE_SHARD_ORACLE)
def dataset_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard for epoch ordering: sort_key
    is the portable md5 hash of (seed, doc_id), shard = key mod 16, pos =
    rank within shard — the exact byte order a sequential trainer reads.
    Reproducible on any engine with md5 (the oracle re-derives every
    (shard, pos) pair); a new epoch is a new seed, no stored permutation.
    One shuffle (the per-shard window), uniform by construction."""
    docs = load_table(spark, sf_dir, "documents")
    return shuffle_shard(docs, n_shards=_SHUF_SHARDS, seed=_SHUF_SEED).orderBy("shard", "pos")


STRAT_SAMPLE_ORACLE = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || '#strat'), doc_id
         ) AS rn
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM ranked WHERE rn <= 20
GROUP BY source ORDER BY source
"""


@register("sample_stratified_exact", oracle=STRAT_SAMPLE_ORACLE)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampler with EXACT per-stratum counts: rank each
    stratum by a portable hash of the id (md5 — any engine re-derives
    the identical sample) and keep the first k. Unlike sampleBy's
    Bernoulli draw this hits the quota exactly and reproducibly — the
    property a train/eval split pipeline needs for auditability. One
    window per stratum over the hash order (WindowGroupLimit prunes to
    k per partition map-side); summarized as per-source (n, id_sum) so
    the driver certifies the exact membership."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#strat"))),
        F.col("doc_id"),
    )
    picked = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 20)
    return (
        picked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("source")
    )


WEIGHTED_BOTTOMK_ORACLE = """
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
         CAST(('0x' || substr(md5('wsample-v1|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              // n_chars AS BIGINT) AS pkey
  FROM documents
)
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, pkey
FROM keyed ORDER BY pkey, doc_id LIMIT 200
"""


@register("sample_weighted_bottomk", oracle=WEIGHTED_BOTTOMK_ORACLE)
def sample_weighted_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted bottom-k priority sample: each doc gets the integer
    priority key hash(doc_id)/weight (weight = n_chars, the token-budget
    proxy) and the k smallest keys win — selection probability rises
    with weight, the weighted-minwise/bottom-k estimator shape
    (coordinated sampling: two engines, or two runs over overlapping
    corpora, pick consistent docs because the key depends only on the
    id). All-INTEGER arithmetic on the portable md5 hash, so the sample
    is bit-reproducible by any engine — no float ln() whose last ulp
    could flip a rank. Scale shape: the key is a projection (zero
    shuffle to compute), global bottom-k is TakeOrdered — per-partition
    k then a k-sized driver merge, never a full sort."""
    from gcs2postgres_spark.operators.dedup import portable_hash60

    d = load_table(spark, sf_dir, "documents")
    h = portable_hash60(F.concat(F.lit("wsample-v1|"), F.col("doc_id").cast("string")))
    return (
        d.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            h.alias("__h"),
        )
        # SQL `div` = exact integer division; float `/`+floor would
        # round the >2^53 hash before dividing and flip low-bit keys
        .select("doc_id", "lang", "n_chars", F.expr("__h div n_chars").cast("long").alias("pkey"))
        .orderBy("pkey", "doc_id")
        .limit(200)
    )


# ---------------------------------------------------------------------------
# Training-data manifest: the composed export of the whole prep pipeline
# ---------------------------------------------------------------------------

TRAIN_MANIFEST_ORACLE = f"""
WITH feat AS (
  SELECT doc_id, text, length(text) AS len,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
), flags AS (
  SELECT doc_id,
         CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY text)
              THEN 1 ELSE 0 END AS keep_dedup,
         CASE WHEN len >= 200 AND len(toks) >= 45
                   AND 100 * len(list_distinct(toks)) >= 33 * len(toks)
                   AND 100 * len <= 565 * len(toks)
              THEN 1 ELSE 0 END AS quality_pass,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN {hash_split_oracle_bucket_sql("doc_id", _SPLIT_SEED)} < 9000
                THEN 'train'
              WHEN {hash_split_oracle_bucket_sql("doc_id", _SPLIT_SEED)} < 9500
                THEN 'val'
              ELSE 'test' END AS split
  FROM feat
)
SELECT doc_id, split,
       CAST(keep_dedup AS INT) AS keep_dedup,
       CAST(quality_pass AS INT) AS quality_pass,
       n_tokens,
       CAST(CASE WHEN keep_dedup = 1 AND quality_pass = 1 THEN 1 ELSE 0 END
            AS INT) AS selected
FROM flags ORDER BY doc_id
"""


@register("dataset_train_manifest", oracle=TRAIN_MANIFEST_ORACLE)
def dataset_train_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed DELIVERABLE of the training-data prep pipeline: one
    manifest row per document carrying its md5 split, exact-dedup keep
    flag (min-doc_id-wins per identical text), integer-exact quality
    gate (the corpus_filter_funnel rules as one conjunction), token
    count, and the final ``selected`` bit — exactly the table a
    downstream tokenizer job consumes. Every component is an
    already-certified operator (dataset_split_assign, dedup_exact,
    corpus_filter_funnel); this query certifies their COMPOSITION
    end-to-end.

    Scale shape: one text-keyed window for the dedup flag (the only
    shuffle), everything else map-side — split hash, gates, and token
    count are per-row codegen; the manifest streams out partitioned.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    feat = d.select(
        "doc_id",
        "text",
        F.length("text").alias("len"),
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    w = Window.partitionBy("text")
    quality = (
        (F.col("len") >= 200)
        & (F.col("n_toks") >= 45)
        & (100 * F.col("n_distinct") >= 33 * F.col("n_toks"))
        & (100 * F.col("len") <= 565 * F.col("n_toks"))
    )
    flags = feat.select(
        "doc_id",
        F.when(F.col("doc_id") == F.min("doc_id").over(w), 1)
        .otherwise(0)
        .alias("keep_dedup"),
        F.when(quality, 1).otherwise(0).alias("quality_pass"),
        F.col("n_toks").cast("long").alias("n_tokens"),
        hash_split_column(
            F.col("doc_id"), {"train": 0.9, "val": 0.05, "test": 0.05}, _SPLIT_SEED
        ).alias("split"),
    )
    return flags.select(
        "doc_id",
        "split",
        F.col("keep_dedup").cast("int").alias("keep_dedup"),
        F.col("quality_pass").cast("int").alias("quality_pass"),
        "n_tokens",
        (F.col("keep_dedup") * F.col("quality_pass")).cast("int").alias("selected"),
    ).orderBy("doc_id")
