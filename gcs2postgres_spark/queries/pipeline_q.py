"""Warehouse-maintenance + vector-compression queries: CDC merge-upsert,
int8 embedding quantization, PII redaction. Each deterministic, each
with an exact DuckDB oracle.

The reference is append-only (no upsert anywhere — reference
src/db/db.go:175-180, no DDL/DELETE in the repo); merge_upsert_latest
is the op its users graduate to first. The other two are standard
training-data hygiene: compressing an embedding store 4× before
serving, and scrubbing contact strings before anything trains on them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.queries.registry import register

MERGE_UPSERT_ORACLE = """
WITH updates AS (
  SELECT o_orderkey, 'X-UPDATED' AS o_orderpriority, 2 AS src
  FROM orders WHERE o_orderkey % 10 = 0
), unioned AS (
  SELECT o_orderkey, o_orderpriority, 1 AS src FROM orders
  UNION ALL
  SELECT o_orderkey, o_orderpriority, src FROM updates
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
  FROM unioned
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(min(o_orderkey) AS BIGINT) AS first_key
FROM ranked WHERE rn = 1
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@register("merge_upsert_latest", oracle=MERGE_UPSERT_ORACLE)
def merge_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply / SCD-1 merge: base ∪ updates → latest row per key wins
    (updates outrank base). One union + one window shuffle on the key —
    the scalable merge shape (MERGE INTO without a transactional table
    format; with Iceberg/Delta jars the same frame feeds MERGE
    directly). Update set simulated deterministically (every 10th
    order re-prioritized) so the oracle replays it exactly."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    base = o.withColumn("src", F.lit(1))
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderpriority", F.lit("X-UPDATED"))
        .withColumn("src", F.lit(2))
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.col("src").desc())
    merged = (
        base.unionByName(updates)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return (
        merged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderkey").alias("first_key"),
        )
        .orderBy("o_orderpriority")
    )


EMBED_QUANT_ORACLE = """
WITH q AS (
  SELECT vec_id,
         list_min(embedding) AS mn,
         list_max(embedding) AS mx,
         (list_max(embedding) - list_min(embedding)) / 255.0 AS scale,
         embedding
  FROM embeddings
), err AS (
  SELECT vec_id, mn, mx, scale,
         CASE WHEN scale = 0 THEN 0.0 ELSE
           list_aggregate(
             list_transform(embedding,
               x -> pow(x - (mn + round((x - mn) / scale) * scale), 2)),
             'sum') / len(embedding)
         END AS mse
  FROM q
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       round(CAST(mn AS DOUBLE), 5) AS v_min,
       round(CAST(mx AS DOUBLE), 5) AS v_max,
       mse <= scale * scale / 4.0 + 1e-12 AS mse_within_bound
FROM err ORDER BY vec_id
"""


@register("embedding_quantize_int8", oracle=EMBED_QUANT_ORACLE)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding store (min-max per
    vector → 255 levels) with per-vector reconstruction MSE — the 4×
    compression pass before serving an ANN index. Pure array HOFs
    (transform/aggregate), zero shuffles, zero UDFs; the oracle replays
    the identical arithmetic via DuckDB list functions. The MSE is
    certified through a boolean contract against the theoretical bound
    (round-to-nearest error ≤ scale/2 per element ⇒ mse ≤ scale²/4)
    rather than an exact hash — float summation order differs across
    engines at the last ulp (same policy as the HLL/approx contracts)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # TWO projections, like the winnower's gram/minima split: if the
    # min/max/scale expressions sit inline in the per-element lambda,
    # CollapseProject substitutes the whole array_min/array_max scan
    # into EVERY element term — O(dim²) interpreted-HOF work per row
    # (measured 38 s at sf3; ~4 s split). As multiply-referenced
    # non-cheap aliases the stats survive as their own projection and
    # the lambda reads plain attributes.
    stats = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").alias("v"),
        F.array_min("embedding").cast("double").alias("mn"),
        F.array_max("embedding").cast("double").alias("mx"),
        (
            (F.array_max("embedding").cast("double")
             - F.array_min("embedding").cast("double")) / F.lit(255.0)
        ).alias("scale"),
    )
    mn, mx, scale = F.col("mn"), F.col("mx"), F.col("scale")
    dequant = lambda x: mn + F.round((x.cast("double") - mn) / scale) * scale  # noqa: E731
    mse = F.when(scale == 0, F.lit(0.0)).otherwise(
        F.aggregate(
            F.transform(
                F.col("v"),
                lambda x: F.pow(x.cast("double") - dequant(x), F.lit(2.0)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.size(F.col("v"))
    )
    return stats.select(
        "vec_id",
        F.round(mn, 5).alias("v_min"),
        F.round(mx, 5).alias("v_max"),
        (mse <= scale * scale / F.lit(4.0) + F.lit(1e-12)).alias("mse_within_bound"),
    ).orderBy("vec_id")


_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\b555-[0-9]{3,6}\\b"

PII_REDACT_ORACLE = f"""
WITH tagged AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 555-' || CAST(1000 + doc_id AS VARCHAR) AS raw
  FROM documents
), red AS (
  SELECT doc_id, raw,
         regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                        '{_PHONE_RE}', '[PHONE]', 'g') AS clean,
         len(regexp_extract_all(raw, '{_EMAIL_RE}'))  AS n_emails,
         len(regexp_extract_all(raw, '{_PHONE_RE}'))  AS n_phones
  FROM tagged
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_phones AS BIGINT) AS n_phones,
       contains(clean, '[EMAIL]') AS has_email_token,
       NOT contains(clean, '@') AS no_at_left,
       md5(clean) AS clean_md5
FROM red ORDER BY doc_id
"""


@register("pii_redact_scrub", oracle=PII_REDACT_ORACLE)
def pii_redact_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub before training: regexp redaction of emails/phones with
    per-doc match counts and an md5 of the scrubbed text (so the oracle
    certifies the exact output string, not just the counts). Contact
    strings are injected deterministically per doc_id since the synthetic
    corpus contains none. Pure Catalyst regexp, and at 100 TB this is a
    map-only pass that pipelines with any adjacent op.

    Widened first (guide §2.5, r17): the regex chain is per-doc-heavy
    and otherwise runs at the compact corpus scan's width (sf3 sweep:
    51.5 s as the #1 ceiling before the guard); the widen repartition
    is the plan's only shuffle besides the final sort."""
    from gcs2postgres_spark.operators.caching import widen_doc_scan

    docs = widen_doc_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        (F.col("doc_id") + 1000).cast("string"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.regexp_count(raw, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(raw, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.contains(clean, F.lit("[EMAIL]")).alias("has_email_token"),
        (~F.contains(clean, F.lit("@"))).alias("no_at_left"),
        F.md5(clean).alias("clean_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Snapshot diff (CDC table comparison)
# ---------------------------------------------------------------------------

SNAPSHOT_DIFF_ORACLE = """
WITH snap_a AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 11 <> 0
), snap_b AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 13 <> 0
), diff AS (
  SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
         CASE WHEN a.o_orderkey IS NULL THEN 'added'
              WHEN b.o_orderkey IS NULL THEN 'removed'
              WHEN a.o_orderstatus = b.o_orderstatus
               AND a.o_totalprice = b.o_totalprice THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM snap_a a FULL OUTER JOIN snap_b b ON a.o_orderkey = b.o_orderkey
)
SELECT status, count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
FROM diff GROUP BY status ORDER BY status
"""


@register("snapshot_diff_cdc", oracle=SNAPSHOT_DIFF_ORACLE)
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff between two deterministic snapshots of orders
    (keys %11 dropped from A, %13 dropped from B, %5 repriced in B):
    added/removed/changed/unchanged per key via ONE full-outer null-safe
    join (operators/diff.py), summarized as (status, n, key_sum) so the
    hash certifies the complete classification. The incremental-load
    validation every warehouse runs."""
    o = load_table(spark, sf_dir, "orders")
    snap_a = o.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    snap_b = o.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    from gcs2postgres_spark.operators.diff import snapshot_diff

    d = snapshot_diff(
        snap_a, snap_b, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    return (
        d.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .orderBy("status")
    )


# ---------------------------------------------------------------------------
# Portable Bloom-filter semi-join prune
# ---------------------------------------------------------------------------

BLOOM_PRUNE_ORACLE = """
WITH keys AS (
  SELECT DISTINCT CAST(s_suppkey AS VARCHAR) AS k
  FROM supplier WHERE s_acctbal > 9000
), hashes AS (
  SELECT ('0x' || substr(md5(k || '#' || CAST(t.j AS VARCHAR)), 1, 15))::BIGINT % 1024 AS h
  FROM keys CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) t
), words AS (
  -- bit 63: DuckDB raises on 1::BIGINT << 63 (signed overflow) while
  -- Spark's shiftleft wraps Java-style to the sign bit; write the
  -- wrapped value explicitly so both engines build the same word
  SELECT CAST(h // 64 AS INT) AS w,
         bit_or(CASE WHEN CAST(h % 64 AS INT) = 63
                     THEN (-9223372036854775807 - 1)
                     ELSE 1::BIGINT << CAST(h % 64 AS INT) END) AS m
  FROM hashes GROUP BY 1
), p AS (
  SELECT l_suppkey,
    ('0x' || substr(md5(CAST(l_suppkey AS VARCHAR) || '#0'), 1, 15))::BIGINT % 1024 AS h0,
    ('0x' || substr(md5(CAST(l_suppkey AS VARCHAR) || '#1'), 1, 15))::BIGINT % 1024 AS h1,
    ('0x' || substr(md5(CAST(l_suppkey AS VARCHAR) || '#2'), 1, 15))::BIGINT % 1024 AS h2
  FROM lineitem
), hit AS (
  SELECT p.l_suppkey,
         coalesce((w0.m >> CAST(h0 % 64 AS INT)) & 1 = 1, FALSE)
     AND coalesce((w1.m >> CAST(h1 % 64 AS INT)) & 1 = 1, FALSE)
     AND coalesce((w2.m >> CAST(h2 % 64 AS INT)) & 1 = 1, FALSE) AS pass
  FROM p
  LEFT JOIN words w0 ON CAST(h0 // 64 AS INT) = w0.w
  LEFT JOIN words w1 ON CAST(h1 // 64 AS INT) = w1.w
  LEFT JOIN words w2 ON CAST(h2 // 64 AS INT) = w2.w
), truth AS (
  SELECT DISTINCT s_suppkey FROM supplier WHERE s_acctbal > 9000
)
SELECT (SELECT count(*) FROM lineitem) AS n_scanned,
       (SELECT count(*) FROM hit WHERE pass) AS n_pass_bloom,
       (SELECT count(*) FROM lineitem JOIN truth ON l_suppkey = s_suppkey) AS n_true_semi,
       (SELECT count(*) FROM hit LEFT JOIN truth t ON hit.l_suppkey = t.s_suppkey
        WHERE pass AND t.s_suppkey IS NULL) AS n_false_pos
"""


@register("bloom_semi_prune", oracle=BLOOM_PRUNE_ORACLE)
def bloom_semi_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit runtime-filter: a 1024-bit / 3-hash Bloom bitmap built
    from the filtered supplier side (md5-portable hashes), broadcast as
    one map row, and probed in the lineitem scan with pure bit
    arithmetic — the fact table is pruned without joining it. The
    output certifies the bitmap bit-for-bit: scanned / bloom-passed /
    exact-semi-join / false-positive counts must all match an
    independent SQL reconstruction of the same filter."""
    from gcs2postgres_spark.operators.bloom import bloom_build, bloom_prune

    sup = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000)
    li = load_table(spark, sf_dir, "lineitem")
    bloom = bloom_build(sup, "s_suppkey")
    probed = bloom_prune(li, bloom, "l_suppkey", flag_col="pass")
    truth = sup.select("s_suppkey").distinct()
    n_scanned = li.agg(F.count(F.lit(1)).alias("n_scanned"))
    n_pass = probed.agg(
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).cast("long").alias("n_pass_bloom")
    )
    n_true = li.join(
        F.broadcast(truth), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi"
    ).agg(F.count(F.lit(1)).alias("n_true_semi"))
    n_fp = (
        probed.filter(F.col("pass"))
        .join(
            F.broadcast(truth), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        .agg(F.count(F.lit(1)).alias("n_false_pos"))
    )
    return n_scanned.crossJoin(n_pass).crossJoin(n_true).crossJoin(n_fp)


# ---------------------------------------------------------------------------
# Table profiler (data-quality pass)
# ---------------------------------------------------------------------------

PROFILE_ORACLE = """
SELECT col, n_nulls, n_distinct FROM (
  SELECT 'o_orderkey' AS col,
         count(*) FILTER (WHERE o_orderkey IS NULL) AS n_nulls,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders
  UNION ALL
  SELECT 'o_custkey', count(*) FILTER (WHERE o_custkey IS NULL),
         count(DISTINCT o_custkey) FROM orders
  UNION ALL
  SELECT 'o_orderstatus', count(*) FILTER (WHERE o_orderstatus IS NULL),
         count(DISTINCT o_orderstatus) FROM orders
  UNION ALL
  SELECT 'o_totalprice', count(*) FILTER (WHERE o_totalprice IS NULL),
         count(DISTINCT o_totalprice) FROM orders
  UNION ALL
  SELECT 'o_orderdate', count(*) FILTER (WHERE o_orderdate IS NULL),
         count(DISTINCT o_orderdate) FROM orders
  UNION ALL
  SELECT 'o_orderpriority', count(*) FILTER (WHERE o_orderpriority IS NULL),
         count(DISTINCT o_orderpriority) FROM orders
) ORDER BY col
"""


@register("profile_table_quality", oracle=PROFILE_ORACLE)
def profile_table_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profile pass (null counts + exact distinct per column) —
    the data-quality preamble of every ingest pipeline. All six columns
    profile in ONE scan: null counts are plain conditional sums and the
    distincts compile to Spark's expand+two-phase distinct aggregate
    (one shuffle carrying (col-id, value) partials, not one job per
    column — the profiling shape that stays affordable at 100 TB; at
    extreme widths swap exact distinct for approx_count_distinct, same
    plan). Output unpivoted to (col, n_nulls, n_distinct)."""
    o = load_table(spark, sf_dir, "orders")
    cols = [
        "o_custkey",
        "o_orderdate",
        "o_orderkey",
        "o_orderpriority",
        "o_orderstatus",
        "o_totalprice",
    ]
    aggs = []
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}__nulls")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"{c}__distinct"))
    wide = o.agg(*aggs)
    pairs = []
    for c in cols:
        pairs.extend(
            [
                F.lit(c),
                F.struct(
                    F.col(f"{c}__nulls").alias("n_nulls"),
                    F.col(f"{c}__distinct").alias("n_distinct"),
                ),
            ]
        )
    long = wide.select(
        F.explode(F.create_map(*pairs)).alias("col", "stats")
    )
    return long.select(
        "col",
        F.col("stats.n_nulls").alias("n_nulls"),
        F.col("stats.n_distinct").alias("n_distinct"),
    ).orderBy("col")


# ---------------------------------------------------------------------------
# Incremental view maintenance: rollup + delta batch == recompute
# ---------------------------------------------------------------------------

IVM_ORACLE = """
SELECT CAST(o_orderdate AS DATE) AS order_date,
       count(*) AS n,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
GROUP BY 1 ORDER BY 1
"""


@register("incremental_rollup_update", oracle=IVM_ORACLE)
def incremental_rollup_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance, certified: the daily revenue rollup
    is built from the base partition (keys %7 != 0), then a CDC insert
    batch (keys %7 == 0) is applied INCREMENTALLY — aggregate the delta
    alone, full-outer merge on the day, add the partials — while the
    oracle recomputes from scratch. Hash equality proves
    incremental == recompute, the invariant every materialized-view
    maintenance pipeline rests on. Cost shape at 100 TB: the update
    touches |delta| rows + |dirty days| rollup rows, never the base
    table."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("order_date"), "o_totalprice", "o_orderkey"
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("order_date").agg(
            F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("revenue")
        )

    base = rollup(o.filter(F.col("o_orderkey") % 7 != 0))
    delta = rollup(o.filter(F.col("o_orderkey") % 7 == 0)).select(
        F.col("order_date").alias("d_date"),
        F.col("n").alias("d_n"),
        F.col("revenue").alias("d_revenue"),
    )
    merged = base.join(
        delta, base["order_date"].eqNullSafe(delta["d_date"]), "full_outer"
    ).select(
        F.coalesce(F.col("order_date"), F.col("d_date")).alias("order_date"),
        (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("d_n"), F.lit(0))).alias(
            "n"
        ),
        F.round(
            F.coalesce(F.col("revenue"), F.lit(0.0))
            + F.coalesce(F.col("d_revenue"), F.lit(0.0)),
            2,
        ).alias("revenue"),
    )
    return merged.orderBy("order_date")


# Bucketed table checksum replayed value-for-value: the row digest is the
# portable 60-bit md5 hash (operators/dedup.portable_hash60) over a
# canonical string row encoding (ints/dates/cents only — no float
# formatting ambiguity), folded per bucket with XOR (associative +
# commutative + overflow-free, so partition order can never change the
# result).
CHECKSUM_ORACLE = """
WITH r AS (
  SELECT o_orderkey % 16 AS bucket,
         ('0x' || substr(md5(concat_ws('|',
             CAST(o_orderkey AS VARCHAR),
             CAST(o_custkey AS VARCHAR),
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
             o_orderstatus,
             CAST(CAST(o_orderdate AS DATE) AS VARCHAR))), 1, 15))::BIGINT AS h
  FROM orders
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(h) AS BIGINT) AS xor_checksum
FROM r GROUP BY bucket ORDER BY bucket
"""


@register("pipeline_checksum_buckets", oracle=CHECKSUM_ORACLE)
def pipeline_checksum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-system table-integrity checksum — the validation step a
    copy pipeline (the reference's entire job: GCS → BigQuery → Postgres,
    src/db/db.go:149-185) should run after every load: bucket rows by
    key, fold a portable per-row digest with XOR, and compare the 16
    (bucket, count, checksum) triples against the same query run on the
    TARGET engine. Any dropped/duplicated/bit-flipped row flips exactly
    its bucket, so a mismatch localizes the damage to 1/16th of the key
    space (recurse to binary-search the bad rows). Engineering for
    cross-engine identity: the row encoding uses only integers, dates
    and cents (float formatting never enters), the digest is the
    md5-based portable hash both engines compute bit-identically, and
    XOR folding is order-free — partition count, shuffle order, engine:
    nothing changes the checksum. One map-side projection + one 16-group
    aggregate; scales to any table size with map-side partials."""
    from gcs2postgres_spark.operators.dedup import portable_hash60

    o = load_table(spark, sf_dir, "orders")
    row_repr = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        F.col("o_orderstatus"),
        F.to_date("o_orderdate").cast("string"),
    )
    return (
        o.select(
            (F.col("o_orderkey") % 16).alias("bucket"),
            portable_hash60(row_repr).alias("h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor("h").alias("xor_checksum"),
        )
        .orderBy("bucket")
    )
