"""Relational engine-layer queries: filters, projection, aggregation,
scalar functions, set ops, distinct, subqueries (SURVEY.md §2.6).

The reference delegates all of these to BigQuery (its only query shape
is ``SELECT *`` — reference src/db/db.go:59, :113); here each is a
native DataFrame plan that Catalyst compiles with pushdown + partial
aggregation. Every oracle string is DuckDB-runnable ANSI SQL over the
pre-registered parquet views.

Type-alignment policy with the DuckDB oracle:
- integer aggregates are cast to BIGINT on both sides (DuckDB sum(int)
  returns HUGEINT; Spark returns long),
- floats stay double (driver hashing is FP-tolerant),
- timestamps in output are truncated/cast to DATE when possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (scan → filter → agg → sort)
# ---------------------------------------------------------------------------

Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity)                                          AS sum_qty,
       round(sum(l_extendedprice), 2)                           AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2)        AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6)                                AS avg_qty,
       round(avg(l_extendedprice), 6)                           AS avg_price,
       round(avg(l_discount), 6)                                AS avg_disc,
       count(*)                                                 AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: scan -> shipdate filter -> groupBy(flag,status) -> 8 aggregates -> sort (the flagship)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# TPC-H Q6-style: pure filter + scalar aggregate (pushdown showcase)
# ---------------------------------------------------------------------------

Q6_ORACLE = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*)                          AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 24
"""


@register("q6_revenue_forecast", oracle=Q6_ORACLE)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate on range predicates; zero joins, one partial+final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01 00:00:00")))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Filter battery: IN / LIKE / range / boolean combos  (SURVEY §2.6 row 1)
# ---------------------------------------------------------------------------

FILTER_IN_LIKE_ORACLE = """
SELECT o_orderkey, o_orderpriority, o_orderstatus, o_totalprice
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_orderstatus LIKE 'F%'
  AND o_totalprice > 50000.0
ORDER BY o_orderkey
"""


@register("filter_in_like", oracle=FILTER_IN_LIKE_ORACLE)
def filter_in_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list + LIKE + range predicates combined; all pushed to the parquet scan."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & F.col("o_orderstatus").like("F%")
            & (F.col("o_totalprice") > 50000.0)
        )
        .select("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    )


FILTER_NULL_BOOL_ORACLE = """
SELECT c_custkey, c_acctbal,
       nullif(c_mktsegment, 'BUILDING') AS seg_or_null
FROM customer
WHERE (c_acctbal < 0 OR c_acctbal > 9900)
  AND nullif(c_mktsegment, 'BUILDING') IS NOT NULL
ORDER BY c_custkey
"""


@register("filter_null_bool", oracle=FILTER_NULL_BOOL_ORACLE)
def filter_null_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS NULL / IS NOT NULL semantics (testdata has no physical NULLs, so
    nulls are manufactured with nullif — same on the oracle side)."""
    c = load_table(spark, sf_dir, "customer")
    seg_or_null = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return (
        c.withColumn("seg_or_null", seg_or_null)
        .filter(((F.col("c_acctbal") < 0) | (F.col("c_acctbal") > 9900)) & F.col("seg_or_null").isNotNull())
        .select("c_custkey", "c_acctbal", "seg_or_null")
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# Projection / CASE WHEN
# ---------------------------------------------------------------------------

PROJECT_CASE_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_totalprice >= 150000 THEN 'big'
            WHEN o_totalprice >= 50000  THEN 'mid'
            ELSE 'small' END            AS price_band,
       o_totalprice * 1.1               AS taxed,
       coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_resolved
FROM orders
ORDER BY o_orderkey
"""


@register("project_case_when", oracle=PROJECT_CASE_ORACLE)
def project_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN expression ladder + computed projections, all codegen'd."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.when(F.col("o_totalprice") >= 150000, "big")
            .when(F.col("o_totalprice") >= 50000, "mid")
            .otherwise("small")
            .alias("price_band"),
            (F.col("o_totalprice") * 1.1).alias("taxed"),
            F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
                "status_resolved"
            ),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# Aggregation battery
# ---------------------------------------------------------------------------

AGG_STATS_ORACLE = """
SELECT l_returnflag,
       CAST(sum(l_quantity) AS DOUBLE)  AS sum_qty,
       min(l_extendedprice)             AS min_price,
       max(l_extendedprice)             AS max_price,
       round(avg(l_discount), 6)        AS avg_disc,
       count(*)                         AS n,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_stats_basic", oracle=AGG_STATS_ORACLE)
def agg_stats_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum/avg/min/max/count/stddev in one pass — all partial-aggregatable, one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("l_suppkey").alias("n_supp"),
        )
        .orderBy("l_returnflag")
    )


AGG_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       count(*)                        AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@register("agg_rollup", oracle=AGG_ROLLUP_ORACLE)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (flag -> flag,status -> grand total) in one Expand + single shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").cast("double").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


AGG_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(avg(l_extendedprice), 6) AS avg_price,
       count(*)             AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@register("agg_cube", oracle=AGG_CUBE_ORACLE)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping combinations in one Expand + single shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.avg("l_extendedprice"), 6).alias("avg_price"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


AGG_FILTERED_ORACLE = """
SELECT o_orderpriority,
       count(*)                                                   AS n_total,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
       CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
       sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0.0 END) AS open_value
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("agg_filtered", oracle=AGG_FILTERED_ORACLE)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregates (sum/count over CASE WHEN) — predicates fold into the map-side partials."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
            F.sum(F.when(F.col("o_totalprice") > 100000, 1).otherwise(0)).cast("bigint").alias("n_big"),
            F.sum(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice")).otherwise(0.0)).alias(
                "open_value"
            ),
        )
        .orderBy("o_orderpriority")
    )


APPROX_DISTINCT_ORACLE = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       CAST(count(DISTINCT l_partkey) AS BIGINT)  AS exact_parts,
       TRUE AS orders_within_5pct,
       TRUE AS parts_within_5pct
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_approx_distinct", oracle=APPROX_DISTINCT_ORACLE)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): sketch values are
    engine-specific, so the verifiable output is the exact distinct
    count plus a boolean asserting the sketch landed within 5% of it
    (rsd=0.01 → ~5% is a generous ceiling). At 100 TB the sketch
    replaces exact count-distinct's full shuffle with a fixed-size
    mergeable state; here the exact count rides along only to make the
    estimate externally checkable."""
    li = load_table(spark, sf_dir, "lineitem")
    within = lambda approx, exact: (  # noqa: E731
        F.abs(F.col(approx) - F.col(exact)) <= 0.05 * F.col(exact)
    )
    # TWO aggregations joined on the group key, NOT one combined agg:
    # multi-column countDistinct plans an Expand (x3 input rows), and
    # putting the rsd=0.01 HLL sketches in the same aggregate runs
    # their heavy register updates over the EXPANDED rows — measured
    # 131.8 s at sf1 combined vs 2.9 s + 4.0 s split (the r5b sweep
    # catch); the join is |groups|-sized and free.
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
    )
    return (
        exact.join(approx, "l_returnflag")
        .select(
            "l_returnflag",
            "exact_orders",
            "exact_parts",
            within("approx_orders", "exact_orders").alias("orders_within_5pct"),
            within("approx_parts", "exact_parts").alias("parts_within_5pct"),
        )
        .orderBy("l_returnflag")
    )


PERCENTILE_ORACLE = """
SELECT o_orderpriority,
       CAST(median(o_totalprice) AS DOUBLE) AS median_price,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("agg_percentile", oracle=PERCENTILE_ORACLE)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median via percentile (interpolating, matches DuckDB median on
    doubles); approx variant would use percentile_approx at scale."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Scalar function batteries (string / date / math / conditional)
# ---------------------------------------------------------------------------

SCALAR_STRING_ORACLE = """
SELECT c_custkey,
       upper(c_mktsegment)                          AS seg_upper,
       lower(c_name)                                AS name_lower,
       substr(c_name, 1, 8)                         AS name_prefix,
       concat(c_mktsegment, ':', c_name)            AS seg_name,
       trim(concat('  ', c_name, '  '))             AS name_trim,
       CAST(length(c_name) AS BIGINT)               AS name_len,
       regexp_replace(c_name, '[0-9]+', '#')        AS name_masked,
       replace(c_name, 'Customer', 'Cust')          AS name_short
FROM customer
WHERE c_custkey < 500
ORDER BY c_custkey
"""


@register("scalar_string_funcs", oracle=SCALAR_STRING_ORACLE)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar battery: concat, substr, upper/lower, trim, lpad, regexp_replace."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_custkey") < 500)
        .select(
            "c_custkey",
            F.upper("c_mktsegment").alias("seg_upper"),
            F.lower("c_name").alias("name_lower"),
            F.substring("c_name", 1, 8).alias("name_prefix"),
            F.concat(F.col("c_mktsegment"), F.lit(":"), F.col("c_name")).alias("seg_name"),
            F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias("name_trim"),
            F.length("c_name").cast("bigint").alias("name_len"),
            F.regexp_replace(F.col("c_name"), "[0-9]+", "#").alias("name_masked"),
            F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
        )
        .orderBy("c_custkey")
    )


SCALAR_DATE_ORACLE = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER)     AS order_year,
       CAST(month(o_orderdate) AS INTEGER)    AS order_month,
       CAST(day(o_orderdate) AS INTEGER)      AS order_day,
       CAST(quarter(o_orderdate) AS INTEGER)  AS order_quarter,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       CAST(datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INTEGER) AS days_since_epoch_start,
       CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date
FROM orders
WHERE o_orderkey < 500
ORDER BY o_orderkey
"""


@register("scalar_date_funcs", oracle=SCALAR_DATE_ORACLE)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar battery: date_trunc, datediff, extract, add_months et al."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderkey") < 500)
        .select(
            "o_orderkey",
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
            F.dayofmonth("o_orderdate").alias("order_day"),
            F.quarter("o_orderdate").alias("order_quarter"),
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
            F.datediff(F.col("o_orderdate"), F.to_timestamp(F.lit("1995-01-01 00:00:00")))
            .cast("int")
            .alias("days_since_epoch_start"),
            F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        )
        .orderBy("o_orderkey")
    )


SCALAR_MATH_ORACLE = """
SELECT p_partkey,
       abs(p_retailprice - 1000.0)        AS abs_diff,
       floor(p_retailprice)               AS price_floor,
       ceil(p_retailprice)                AS price_ceil,
       round(p_retailprice, 1)            AS price_round1,
       round(ln(p_retailprice + 1.0), 6)  AS log_price,
       round(sqrt(CAST(p_size AS DOUBLE)), 6) AS sqrt_size,
       CAST(p_size % 7 AS INTEGER)        AS size_mod,
       power(CAST(p_size AS DOUBLE), 2.0) AS size_sq
FROM part
WHERE p_partkey < 1000
ORDER BY p_partkey
"""


@register("scalar_math_funcs", oracle=SCALAR_MATH_ORACLE)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar battery: round, abs, log, sqrt, power, sign, mod."""
    p = load_table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_partkey") < 1000)
        .select(
            "p_partkey",
            F.abs(F.col("p_retailprice") - 1000.0).alias("abs_diff"),
            F.floor("p_retailprice").cast("double").alias("price_floor"),
            F.ceil("p_retailprice").cast("double").alias("price_ceil"),
            F.round(F.col("p_retailprice"), 1).alias("price_round1"),
            F.round(F.log(F.col("p_retailprice") + 1.0), 6).alias("log_price"),
            F.round(F.sqrt(F.col("p_size").cast("double")), 6).alias("sqrt_size"),
            (F.col("p_size") % 7).cast("int").alias("size_mod"),
            F.pow(F.col("p_size").cast("double"), 2.0).alias("size_sq"),
        )
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k
# ---------------------------------------------------------------------------

TOPK_GLOBAL_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


@register("topk_global", oracle=TOPK_GLOBAL_ORACLE)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: Spark plans this as TakeOrderedAndProject — per-partition
    heap + single-driver merge of k rows, no global sort. Tie-broken on the
    unique key so results are deterministic."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

SET_UNION_ORACLE = """
SELECT nationkey FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION
  SELECT s_nationkey AS nationkey FROM supplier
) ORDER BY nationkey
"""


@register("set_union", oracle=SET_UNION_ORACLE)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT: union followed by dedup — one hash shuffle on the full row."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct().orderBy("nationkey")


SET_INTERSECT_ORACLE = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
"""


@register("set_intersect", oracle=SET_INTERSECT_ORACLE)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT DISTINCT: set intersection with dedup semantics."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s).orderBy("nationkey")


SET_EXCEPT_ORACLE = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
ORDER BY nationkey
"""


@register("set_except", oracle=SET_EXCEPT_ORACLE)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT DISTINCT (subtract): set difference of nation keys across two tables."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    # subtract = EXCEPT DISTINCT (set semantics); exceptAll would keep
    # per-row multiplicity and over-report
    return c.subtract(s).orderBy("nationkey")


UNION_ALL_ORACLE = """
SELECT kind, count(*) AS n FROM (
  SELECT 'cust' AS kind, c_nationkey AS nationkey FROM customer
  UNION ALL
  SELECT 'supp' AS kind, s_nationkey AS nationkey FROM supplier
) GROUP BY kind ORDER BY kind
"""


@register("set_union_all", oracle=UNION_ALL_ORACLE)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL: bag union, no dedup shuffle, then aggregated per source tag."""
    c = load_table(spark, sf_dir, "customer").select(
        F.lit("cust").alias("kind"), F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("supp").alias("kind"), F.col("s_nationkey").alias("nationkey")
    )
    return c.unionAll(s).groupBy("kind").agg(F.count(F.lit(1)).alias("n")).orderBy("kind")


# ---------------------------------------------------------------------------
# Distinct / exact dedup on a key subset
# ---------------------------------------------------------------------------

DISTINCT_ORACLE = """
SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1995-03-01 00:00:00'
ORDER BY l_returnflag, l_linestatus, l_shipdate
"""


@register("distinct_subset", oracle=DISTINCT_ORACLE)
def distinct_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates on a key subset — hash-shuffle on the subset, first row per key."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") < F.to_timestamp(F.lit("1995-03-01 00:00:00")))
        .select("l_returnflag", "l_linestatus", "l_shipdate")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus", "l_shipdate")
    )


# ---------------------------------------------------------------------------
# Subqueries / CTE (via spark.sql — same Catalyst plan as DataFrame API)
# ---------------------------------------------------------------------------

SUBQUERY_CTE_ORACLE = """
WITH big_orders AS (
  SELECT o_custkey, count(*) AS n_big
  FROM orders
  WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
  GROUP BY o_custkey
)
SELECT c_mktsegment,
       count(*)                   AS n_customers,
       CAST(sum(n_big) AS BIGINT) AS total_big_orders
FROM customer JOIN big_orders ON c_custkey = o_custkey
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("subquery_cte", oracle=SUBQUERY_CTE_ORACLE)
def subquery_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery + IN-subquery + CTE. Catalyst decorrelates the IN
    into a left-semi join and the scalar subquery into a broadcast."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        WITH big_orders AS (
          SELECT o_custkey, count(*) AS n_big
          FROM orders
          WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
          GROUP BY o_custkey
        )
        SELECT c_mktsegment,
               count(*)                   AS n_customers,
               CAST(sum(n_big) AS BIGINT) AS total_big_orders
        FROM customer JOIN big_orders ON c_custkey = o_custkey
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )
