"""SQL-surface corners not covered elsewhere in the registry:
multiplicity-preserving set ops (INTERSECT ALL / EXCEPT ALL), ordinal
and outer explode, LATERAL correlated subqueries, and null-safe
equality joins.

The reference delegates its entire query surface to BigQuery
(``SELECT *`` — reference src/db/db.go:59, :113); BigQuery supports all
of these forms, so engine-layer parity requires them natively
(SURVEY.md §2.6 rows: Set ops; Array/map/JSON — explode; Subqueries).

Scale notes: intersectAll/exceptAll hash-partition on the full row —
same single-shuffle cost as a groupBy. LATERAL top-k compiles to the
same WindowGroupLimit-prunable shape as a window row_number filter.
Null-safe joins (`<=>`) hash NULL as a regular key value — beware at
scale: a heavy-NULL column becomes one hot partition (the skew docs in
operators/skew.py apply).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.queries.registry import register


# ---------------------------------------------------------------------------
# INTERSECT ALL / EXCEPT ALL — multiplicity-preserving set ops
# ---------------------------------------------------------------------------

INTERSECT_ALL_ORACLE = """
SELECT suppkey, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'
  INTERSECT ALL
  SELECT l_suppkey AS suppkey FROM lineitem WHERE l_linestatus = 'F'
) GROUP BY suppkey ORDER BY suppkey
"""


@register("set_intersect_all", oracle=INTERSECT_ALL_ORACLE)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL: each row survives min(multiplicity-left,
    multiplicity-right) times — distinct from ``intersect`` (set
    semantics, covered by set_intersect). Aggregated to per-key counts
    so the oracle compare is order-free but still multiplicity-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("suppkey"))
    b = li.filter(F.col("l_linestatus") == "F").select(F.col("l_suppkey").alias("suppkey"))
    return (
        a.intersectAll(b)
        .groupBy("suppkey")
        .agg(F.count("*").alias("n"))
        .orderBy("suppkey")
    )


EXCEPT_ALL_ORACLE = """
SELECT suppkey, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'
  EXCEPT ALL
  SELECT l_suppkey AS suppkey FROM lineitem WHERE l_linestatus = 'F'
) GROUP BY suppkey ORDER BY suppkey
"""


@register("set_except_all", oracle=EXCEPT_ALL_ORACLE)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL: multiplicity subtraction, max(l-r, 0) per row —
    distinct from ``subtract`` (EXCEPT DISTINCT, covered by
    set_except)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("suppkey"))
    b = li.filter(F.col("l_linestatus") == "F").select(F.col("l_suppkey").alias("suppkey"))
    return (
        a.exceptAll(b)
        .groupBy("suppkey")
        .agg(F.count("*").alias("n"))
        .orderBy("suppkey")
    )


# ---------------------------------------------------------------------------
# posexplode — explode with ordinal position
# ---------------------------------------------------------------------------

POSEXPLODE_ORACLE = """
SELECT doc_id, generate_subscripts(arr, 1) - 1 AS pos, unnest(arr) AS token
FROM (SELECT doc_id, string_split(text, ' ') AS arr FROM documents WHERE doc_id < 20) t
ORDER BY doc_id, pos
"""


@register("explode_pos_tokens", oracle=POSEXPLODE_ORACLE)
def explode_pos_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode: token stream with 0-based ordinal positions —
    the position column is what sequence-aware consumers (n-gram
    windows, BPE merges) key on. One narrow generate per row; no
    shuffle at all until the final presentation sort."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return (
        d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token"))
        .orderBy("doc_id", "pos")
    )


EXPLODE_OUTER_ORACLE = """
SELECT t.doc_id, u.token
FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) >= 8) AS arr
      FROM documents WHERE doc_id < 50) t
LEFT JOIN LATERAL (SELECT unnest(t.arr) AS token) u ON TRUE
ORDER BY t.doc_id, u.token
"""


@register("explode_outer_rare_tokens", oracle=EXPLODE_OUTER_ORACLE)
def explode_outer_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer: rows whose array is empty survive with a NULL
    element (plain explode silently drops them — a lossy default that
    breaks per-document accounting in dedup/quality pipelines). The
    length-8 token filter leaves ~20% of documents with an empty
    array, so the outer semantics are actually exercised."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    arr = F.filter(F.split("text", " "), lambda x: F.length(x) >= 8)
    return (
        d.select("doc_id", F.explode_outer(arr).alias("token"))
        .orderBy("doc_id", "token")
    )


# ---------------------------------------------------------------------------
# LATERAL correlated subquery (per-row dependent subquery in FROM)
# ---------------------------------------------------------------------------

LATERAL_ORACLE = """
SELECT n.n_name, t.s_suppkey, t.s_acctbal
FROM nation n,
     LATERAL (SELECT s_suppkey, s_acctbal FROM supplier
              WHERE s_nationkey = n.n_nationkey
              ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) t
ORDER BY n.n_name, t.s_acctbal DESC, t.s_suppkey
"""


@register("lateral_topk_suppliers", oracle=LATERAL_ORACLE)
def lateral_topk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL subquery: for each nation, its top-2 suppliers by
    balance — the FROM-clause correlated form of per-group top-k.
    Spark decorrelates the LATERAL LIMIT into a partitioned window
    (same physical shape as topk_per_group), so the inner relation is
    NOT re-executed per outer row — the property that matters when the
    outer side has 10^9 rows."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(LATERAL_ORACLE)


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ---------------------------------------------------------------------------

NULL_SAFE_JOIN_ORACLE = """
WITH dim(allowed_priority) AS (VALUES ('2-HIGH'), (NULL)),
     o AS (SELECT nullif(o_orderpriority, '1-URGENT') AS p FROM orders)
SELECT allowed_priority, CAST(count(*) AS BIGINT) AS n
FROM o JOIN dim ON p IS NOT DISTINCT FROM allowed_priority
GROUP BY allowed_priority
ORDER BY allowed_priority NULLS FIRST
"""


@register("join_null_safe", oracle=NULL_SAFE_JOIN_ORACLE)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join: `<=>` treats NULL as a joinable key value
    (NULL <=> NULL is true), where plain `=` drops every NULL row.
    NULLs are manufactured with nullif so both branches match rows.
    Broadcast dim → the NULL bucket never concentrates a shuffle
    partition (see module docstring for the at-scale caveat)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("p")
    )
    dim = load_table(spark, sf_dir, "orders").sparkSession.createDataFrame(
        [("2-HIGH",), (None,)], "allowed_priority: string"
    )
    return (
        o.join(F.broadcast(dim), F.col("p").eqNullSafe(F.col("allowed_priority")))
        .groupBy("allowed_priority")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("allowed_priority").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# Mergeable HLL sketches (Apache DataSketches, built into Spark 4)
# ---------------------------------------------------------------------------


HLL_MERGE_ORACLE = """
SELECT c_mktsegment,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS exact_distinct,
       TRUE AS est_within_2pct
FROM customer
GROUP BY c_mktsegment
UNION ALL
SELECT '__ALL__' AS c_mktsegment,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS exact_distinct,
       TRUE AS est_within_2pct
FROM customer
ORDER BY c_mktsegment
"""


@register("agg_hll_sketch_merge", oracle=HLL_MERGE_ORACLE)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned HLL sketch build + merge: per-segment customer
    sketches, then a re-aggregable union to the global estimate — the
    pattern that makes distinct-count dashboards cheap at 100 TB (store
    tiny sketches per partition/day, merge on read; never recount).
    Sketch estimates are engine-specific, so the checkable output is
    the exact distinct count plus a boolean asserting the lgK=14
    estimate (±~0.8% RSE) landed within 2%; the merged `__ALL__` row
    proves hll_union_agg re-aggregability."""
    c = load_table(spark, sf_dir, "customer")
    per_seg = c.groupBy("c_mktsegment").agg(
        F.hll_sketch_agg("c_custkey", 14).alias("sk"),
        F.countDistinct("c_custkey").alias("exact_distinct"),
    )
    within = (
        F.abs(F.col("est_distinct") - F.col("exact_distinct"))
        <= 0.02 * F.col("exact_distinct")
    ).alias("est_within_2pct")
    seg_rows = per_seg.select(
        "c_mktsegment",
        F.hll_sketch_estimate("sk").alias("est_distinct"),
        "exact_distinct",
    ).select("c_mktsegment", "exact_distinct", within)
    # customers belong to exactly one segment → global distinct = Σ per-seg
    total = (
        per_seg.agg(
            F.lit("__ALL__").alias("c_mktsegment"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_distinct"),
            F.sum("exact_distinct").alias("exact_distinct"),
        )
        .select("c_mktsegment", "exact_distinct", within)
    )
    return seg_rows.unionByName(total).orderBy("c_mktsegment")


# ---------------------------------------------------------------------------
# Recursive CTE (Spark 4 WITH RECURSIVE) — date spine + gap-filled rollup
# ---------------------------------------------------------------------------

RECURSIVE_SPINE_SQL = """
WITH RECURSIVE months(m) AS (
  SELECT TIMESTAMP '1995-01-01'
  UNION ALL
  SELECT m + INTERVAL 1 MONTH FROM months WHERE m < TIMESTAMP '1995-12-01'
)
SELECT months.m AS month_start,
       CAST(coalesce(agg.n, 0) AS BIGINT) AS n_orders,
       coalesce(agg.total, 0.0) AS total_price
FROM months
LEFT JOIN (
  SELECT date_trunc('month', o_orderdate) AS mo,
         count(*) AS n, round(sum(o_totalprice), 2) AS total
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate <  TIMESTAMP '1996-01-01'
  GROUP BY 1
) agg ON agg.mo = months.m
ORDER BY month_start
"""


@register("recursive_cte_spine", oracle=RECURSIVE_SPINE_SQL)
def recursive_cte_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's WITH RECURSIVE): generate a month spine,
    then gap-fill monthly order totals against it — the canonical
    "report every month even if empty" shape. The recursion is
    driver-side tiny (12 iterations × 1 row); the fact aggregation is
    the usual partial+final groupBy. Identical SQL runs on both engines
    (ANSI recursive CTE)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(RECURSIVE_SPINE_SQL)


# ---------------------------------------------------------------------------
# VARIANT (Spark 4 semi-structured type) over the events.props JSON column
# ---------------------------------------------------------------------------

VARIANT_PROPS_ORACLE = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("variant_props_agg", oracle=VARIANT_PROPS_ORACLE)
def variant_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    parse_json once into a binary variant, then typed variant_get
    extraction. Versus get_json_object (string re-parse per access,
    exercised in json_extract_agg), VARIANT parses each row once and
    every subsequent field access is a binary probe — the right shape
    when a props blob is accessed by many expressions at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return (
        e.select(F.col("event_type"), k.alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Higher-order array functions battery (transform/filter/aggregate/exists/forall)
# ---------------------------------------------------------------------------

HOF_ARRAY_ORACLE = """
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(avg(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * 2.0), 'sum')), 5) AS avg_sum2x,
       CAST(sum(len(list_filter(embedding, x -> x > 0.2))) AS BIGINT) AS n_big_elems,
       CAST(sum(CASE WHEN len(list_filter(embedding, x -> x > 0.4)) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_vecs_with_extreme,
       CAST(sum(CASE WHEN len(list_filter(embedding, x -> abs(x) <= 1.0)) = len(embedding) THEN 1 ELSE 0 END) AS BIGINT) AS n_all_bounded
FROM embeddings
GROUP BY label
ORDER BY label
"""


@register("hof_array_battery", oracle=HOF_ARRAY_ORACLE)
def hof_array_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as first-class operators: transform
    (scale), aggregate (fold-sum), filter (count matching), exists
    (any-extreme), forall (all-bounded) — each a single codegen'd pass
    over the packed array, no explode. Exploding would turn a 100 TB
    embedding table into 12.8 PT of rows to re-aggregate; HOFs keep the
    array dimension inside the row. avg is rounded to 5 dp: the fold is
    sequential per row, but averaging across rows is order-sensitive in
    the last bits."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    sum2x = F.aggregate(
        F.transform(emb, lambda x: x.cast("double") * 2.0),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n_big = F.size(F.filter(emb, lambda x: x > 0.2))
    has_extreme = F.exists(emb, lambda x: x > 0.4)
    all_bounded = F.forall(emb, lambda x: F.abs(x) <= 1.0)
    return (
        e.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.avg(sum2x), 5).alias("avg_sum2x"),
            F.sum(n_big).alias("n_big_elems"),
            F.sum(has_extreme.cast("bigint")).alias("n_vecs_with_extreme"),
            F.sum(all_bounded.cast("bigint")).alias("n_all_bounded"),
        )
        .orderBy("label")
    )
