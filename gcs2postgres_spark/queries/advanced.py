"""Advanced relational coverage: grouping sets, pivot, EXISTS /
scalar subqueries, correlation aggregates, deterministic sampling,
map/array column ops, TPC-H-style multi-join aggregations (Q4/Q12/
Q14/Q18 adapted to the testdata schema).

These extend queries/relational.py (SURVEY.md §2.6 rows: Aggregations
— grouping sets; Subqueries; Array/map/JSON; Scalar functions). The
reference delegates every one of these to BigQuery (its only query is
``SELECT *`` — reference src/db/db.go:59); each is rebuilt here as a
native Catalyst plan with a DuckDB oracle.

Scale notes: every query below is a scan → (broadcast-)join →
partial+final agg shape; no driver-side loops, no Python in the row
path. Pivot uses an explicit value list (no extra pass to discover
values, and a stable output schema for the oracle).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, MapType, StringType

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.operators.prefix import driver_prefix_sums
from gcs2postgres_spark.queries.registry import register


def _sql(spark: SparkSession, sf_dir: str, tables: list[str], query: str) -> DataFrame:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(query)


# ---------------------------------------------------------------------------
# Aggregation: GROUPING SETS
# ---------------------------------------------------------------------------

GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n_items,
       sum(l_quantity)          AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@register("agg_grouping_sets", oracle=GROUPING_SETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (finer control than rollup/cube) — one
    shuffle; Spark expands the sets with a single Expand operator, so the
    scan is read once regardless of how many sets are listed."""
    return _sql(spark, sf_dir, ["lineitem"], GROUPING_SETS_SQL)


# ---------------------------------------------------------------------------
# Pivot (explicit value list → stable schema, no discovery pass)
# ---------------------------------------------------------------------------

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PIV_ALIAS = {p: "n_" + p.split("-", 1)[1].lower().replace(" ", "_") for p in PRIORITIES}

PIVOT_ORACLE = f"""
SELECT o_orderstatus,
       {", ".join(f"CAST(count(*) FILTER (WHERE o_orderpriority = '{p}') AS BIGINT) AS {a}"
                  for p, a in _PIV_ALIAS.items())}
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("pivot_order_priority", oracle=PIVOT_ORACLE)
def pivot_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list: one shuffle on the groupBy key;
    passing the values avoids Spark's extra distinct-discovery job AND
    pins the output schema (a discovery pass at 100 TB is a full extra
    scan)."""
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renamed = piv.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("bigint").alias(a) for p, a in _PIV_ALIAS.items()],
    )
    return renamed.orderBy("o_orderstatus")


# ---------------------------------------------------------------------------
# Subqueries: EXISTS / NOT EXISTS / scalar
# ---------------------------------------------------------------------------

Q4_STYLE_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("subquery_exists_q4", oracle=Q4_STYLE_SQL)
def subquery_exists_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adapted (correlated EXISTS): Catalyst rewrites the EXISTS
    into a left-semi join on l_orderkey — shuffle on the join key, then a
    small agg. No per-row subquery execution."""
    return _sql(spark, sf_dir, ["orders", "lineitem"], Q4_STYLE_SQL)


NOT_EXISTS_SQL = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers_no_big_orders
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 250000
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("subquery_not_exists", oracle=NOT_EXISTS_SQL)
def subquery_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS → left-anti join (null-safe, unlike NOT IN).
    The price predicate keeps the result non-trivial at test scale."""
    return _sql(spark, sf_dir, ["customer", "orders"], NOT_EXISTS_SQL)


SCALAR_SUBQ_SQL = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_above_avg,
       round(sum(o_totalprice), 2) AS sum_above_avg
FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("subquery_scalar_avg", oracle=SCALAR_SUBQ_SQL)
def subquery_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: Spark runs it once as a separate tiny
    job and broadcasts the scalar into the filter — the scan happens twice
    but the second is filtered at the source."""
    return _sql(spark, sf_dir, ["orders"], SCALAR_SUBQ_SQL)


# ---------------------------------------------------------------------------
# TPC-H-style multi-join aggregations adapted to the testdata schema
# ---------------------------------------------------------------------------

Q12_STYLE_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("q12_priority_caseagg", oracle=Q12_STYLE_SQL)
def q12_priority_caseagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted: join + conditional-sum (CASE inside agg). The
    CASE folds into the partial aggregate, so the shuffle carries two
    longs per group, not rows."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q14_STYLE_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
         / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
"""


@register("q14_promo_revenue", oracle=Q14_STYLE_SQL)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 adapted: part is the small side → broadcast hash join, no
    shuffle of lineitem; the global agg is a two-stage partial/final."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


Q18_STYLE_SQL = """
SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date, qty_sum
FROM (
  SELECT l_orderkey, sum(l_quantity) AS qty_sum
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
) big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY qty_sum DESC, o_orderkey
"""


@register("q18_large_orders", oracle=Q18_STYLE_SQL)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 adapted: HAVING on a grouped sum, then join back to the
    order/customer dims. The agg shrinks lineitem to one row per orderkey
    BEFORE the joins — the order matters at scale (agg-then-join, never
    join-then-agg when the agg is on the fact side alone)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty_sum"))
        .filter(F.col("qty_sum") > 150)
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "qty_sum",
        )
        .orderBy(F.col("qty_sum").desc(), "o_orderkey")
    )


Q2_STYLE_SQL = """
WITH min_price AS (
  SELECT p_type, min(p_retailprice) AS min_rp FROM part GROUP BY p_type
)
SELECT p.p_type, CAST(count(*) AS BIGINT) AS n_cheapest, min(p.p_partkey) AS sample_partkey
FROM part p JOIN min_price m ON p.p_type = m.p_type AND p.p_retailprice = m.min_rp
GROUP BY p.p_type
ORDER BY p.p_type
"""


@register("q2_min_per_group_joinback", oracle=Q2_STYLE_SQL)
def q2_min_per_group_joinback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's core shape: rows matching their group's minimum —
    aggregate-then-join-back. The per-group min relation is tiny →
    broadcast, so the fact side never shuffles."""
    p = load_table(spark, sf_dir, "part")
    mins = p.groupBy(F.col("p_type").alias("mt")).agg(F.min("p_retailprice").alias("min_rp"))
    return (
        p.join(
            F.broadcast(mins),
            (F.col("p_type") == F.col("mt")) & (F.col("p_retailprice") == F.col("min_rp")),
        )
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cheapest"),
            F.min("p_partkey").alias("sample_partkey"),
        )
        .orderBy("p_type")
    )


Q10_STYLE_SQL = """
SELECT c_custkey, c_mktsegment,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue_lost
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_mktsegment
ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, c_custkey
LIMIT 20
"""


@register("q10_returned_items", oracle=Q10_STYLE_SQL)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 adapted: revenue lost to returns per customer — filter
    pushes to the lineitem scan, customer dim broadcasts, global top-20
    compiles to TakeOrderedAndProject (per-partition heap, no full
    sort)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.sum(rev).alias("revenue_lost"))
        .orderBy(F.col("revenue_lost").desc(), "c_custkey")
        .limit(20)
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round("revenue_lost", 2).alias("revenue_lost"),
        )
    )


Q8_STYLE_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_1'
                THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
         / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN region   ON r_regionkey = n1.n_regionkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
WHERE r_name = 'ASIA'
GROUP BY 1
ORDER BY o_year
"""


@register("q8_market_share", oracle=Q8_STYLE_SQL)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 adapted: one supplier nation's share of revenue among one
    region's customers, by year — a 7-table join where the CASE folds
    into the partial aggregate (share = conditional-sum / sum in one
    pass). All dims broadcast; lineitem↔orders is the only shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA").select("r_regionkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# ---------------------------------------------------------------------------
# Statistical aggregates
# ---------------------------------------------------------------------------

CORR_ORACLE = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 5)       AS qty_price_corr,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
       round(stddev_samp(l_extendedprice), 4)            AS price_stddev,
       round(var_samp(l_extendedprice), 1)               AS price_var
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_corr_covar", oracle=CORR_ORACLE)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation/covariance/variance — single-pass partial-aggregatable
    moments (Spark and DuckDB both use streaming co-moment updates).

    Outputs are quantized (round) identically on both sides: the two
    engines accumulate co-moments in different orders, so the raw
    doubles differ in the last ulp and an exact value-hash would flap.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 5).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("qty_price_covar"),
            F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
            F.round(F.var_samp("l_extendedprice"), 1).alias("price_var"),
        )
        .orderBy("l_returnflag")
    )


MINBY_ORACLE = """
SELECT l_returnflag,
       min_by(l_orderkey, l_extendedprice) AS cheapest_orderkey,
       max_by(l_orderkey, l_extendedprice) AS priciest_orderkey,
       mode(l_linestatus)                  AS modal_status
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_minby_maxby_mode", oracle=MINBY_ORACLE)
def agg_minby_maxby_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax/mode aggregates — single-pass, partial-aggregatable
    (each carries one candidate row of state per group)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.min_by("l_orderkey", "l_extendedprice").alias("cheapest_orderkey"),
            F.max_by("l_orderkey", "l_extendedprice").alias("priciest_orderkey"),
            F.mode("l_linestatus").alias("modal_status"),
        )
        .orderBy("l_returnflag")
    )


Q7_STYLE_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS volume
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY n1.n_name, n2.n_name
ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, supp_nation, cust_nation
LIMIT 10
"""


@register("q7_nation_volume", oracle=Q7_STYLE_SQL)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 adapted: cross-nation shipping volume — a 6-table join
    where every dimension broadcasts (nation twice, under two aliases);
    only lineitem↔orders shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(F.sum(rev).alias("volume"))
        .orderBy(F.col("volume").desc(), "supp_nation", "cust_nation")
        .limit(10)
        .select(
            "supp_nation", "cust_nation", F.round("volume", 2).alias("volume")
        )
    )


Q19_STYLE_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_matched,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
   OR (p_type = 'PROMO' AND l_discount > 0.05)
"""


@register("q19_disjunctive_pred", oracle=Q19_STYLE_SQL)
def q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19's shape: OR-of-ANDs mixing both join sides. The mixed
    disjuncts can only be evaluated post-join, but Catalyst derives the
    common implied predicates where possible and the part side still
    broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size", "p_type")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 35)
        )
        | ((F.col("p_type") == "PROMO") & (F.col("l_discount") > 0.05))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched"),
            F.round(F.sum(rev), 2).alias("revenue"),
        )
    )


COLLECT_ORACLE = """
SELECT l_returnflag,
       array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS statuses_csv,
       CAST(len(list_distinct(list(l_linestatus))) AS BIGINT)             AS n_statuses
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_collect_set_listagg", oracle=COLLECT_ORACLE)
def agg_collect_set_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-building aggregates: collect_set → sorted array (made
    deterministic with array_sort — raw collect order is partition-
    dependent) exposed via its string_agg/listagg form (concat_ws) plus
    cardinality. Output cells stay scalar: the verification harness
    canonicalizes row values by hashing, and raw array cells are
    unhashable there."""
    li = load_table(spark, sf_dir, "lineitem")
    statuses = F.array_sort(F.collect_set("l_linestatus"))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.array_join(statuses, ",").alias("statuses_csv"),
            F.size(statuses).cast("long").alias("n_statuses"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Deterministic sampling (hash/mod — reproducible across engines & runs)
# ---------------------------------------------------------------------------

SAMPLE_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_sampled,
       round(sum(o_totalprice), 2) AS sampled_value
FROM orders
WHERE o_orderkey % 20 = 0
"""


@register("sample_deterministic_mod", oracle=SAMPLE_ORACLE)
def sample_deterministic_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% sample by key mod — the reproducible alternative
    to df.sample() for pipeline debugging (same rows every run, every
    engine; at 100 TB the predicate pushes to the scan)."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 20 == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.round(F.sum("o_totalprice"), 2).alias("sampled_value"),
    )


# ---------------------------------------------------------------------------
# Map / array column operations (events.props JSON → typed map)
# ---------------------------------------------------------------------------

MAP_OPS_ORACLE = """
SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS INTEGER) AS k_bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
FROM events
GROUP BY 1
ORDER BY k_bucket
"""


@register("map_props_ops", oracle=MAP_OPS_ORACLE)
def map_props_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-string column → typed MapType via from_json, then map access
    (element_at) and aggregation. The parse happens once in the projection
    (codegen'd Jackson parse), not per map access."""
    e = load_table(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), MapType(StringType(), IntegerType()))
    k = F.element_at(m, "k")
    return (
        e.select(k.alias("k"))
        .groupBy((F.col("k") % 10).cast("int").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("k").cast("int").alias("max_k"),
        )
        .orderBy("k_bucket")
    )


ARRAY_OPS_ORACLE = """
SELECT label,
       CAST(count(*) AS BIGINT)                    AS n_vecs,
       CAST(max(len(embedding)) AS INTEGER)        AS dim,
       avg(CAST(embedding[1] AS DOUBLE))           AS avg_first,
       avg(CAST(embedding[64] AS DOUBLE))          AS avg_last,
       avg(CAST(list_max(embedding) AS DOUBLE))    AS avg_max_elem
FROM embeddings
GROUP BY label
ORDER BY label
"""


@register("array_ops_battery", oracle=ARRAY_OPS_ORACLE)
def array_ops_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column op battery: element_at (1-based, both engines), size,
    array_max — all Catalyst expressions over the packed array, no
    explode (exploding 100 TB of embeddings to average one element would
    be a 64× row blowup)."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.max(F.size(emb)).cast("int").alias("dim"),
            F.avg(F.element_at(emb, 1).cast("double")).alias("avg_first"),
            F.avg(F.element_at(emb, 64).cast("double")).alias("avg_last"),
            F.avg(F.array_max(emb).cast("double")).alias("avg_max_elem"),
        )
        .orderBy("label")
    )


EXPLODE_ORACLE = """
SELECT tok AS token, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT unnest(string_split(lower(trim(text)), ' ')) AS tok
  FROM documents WHERE doc_id < 500
)
WHERE tok <> ''
GROUP BY tok
ORDER BY n DESC, token
LIMIT 20
"""


@register("explode_token_counts", oracle=EXPLODE_ORACLE)
def explode_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode/unnest parity: split → explode → count — the classic
    word-count shape (explode is generate-side, the agg is partial+final
    so the shuffle carries (token, count) pairs, not raw tokens)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return (
        d.select(F.explode(F.split(F.lower(F.trim(F.col("text"))), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


Q22_STYLE_SQL = """
WITH rich AS (
  SELECT * FROM customer
  WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_custs,
       round(sum(c_acctbal), 2) AS total_bal
FROM rich
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 250000
)
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("q22_global_sales_opportunity", oracle=Q22_STYLE_SQL)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22's shape: scalar-subquery threshold + anti join (rich
    customers with no large order). The scalar runs as its own tiny job;
    the NOT EXISTS becomes a left-anti join. The price predicate keeps
    the result non-trivial at test scale."""
    return _sql(spark, sf_dir, ["customer", "orders"], Q22_STYLE_SQL)


UNPIVOT_ORACLE = """
SELECT l_returnflag, metric, value FROM (
  SELECT l_returnflag, 'sum_qty' AS metric, sum(l_quantity) AS value
  FROM lineitem GROUP BY l_returnflag
  UNION ALL
  SELECT l_returnflag, 'sum_price', round(sum(l_extendedprice), 2) FROM lineitem GROUP BY l_returnflag
  UNION ALL
  SELECT l_returnflag, 'sum_disc', round(sum(l_discount), 2) FROM lineitem GROUP BY l_returnflag
)
ORDER BY l_returnflag, metric
"""


@register("unpivot_metrics", oracle=UNPIVOT_ORACLE)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide per-group aggregates → long (metric, value)
    rows via DataFrame.unpivot — one aggregation pass then a
    generate-side expand (the oracle's UNION ALL form would scan three
    times; unpivot reads the aggregate once)."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.sum("l_discount"), 2).alias("sum_disc"),
    )
    return (
        wide.unpivot(
            ids=["l_returnflag"],
            values=["sum_qty", "sum_price", "sum_disc"],
            variableColumnName="metric",
            valueColumnName="value",
        )
        .orderBy("l_returnflag", "metric")
    )


# ---------------------------------------------------------------------------
# UDF surface: grouped-map (applyInPandas) + grouped-agg pandas UDF
# ---------------------------------------------------------------------------

REGR_ORACLE = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 4)     AS price_per_qty,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       CAST(count(*) AS BIGINT)                    AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("grouped_map_ols", oracle=REGR_ORACLE)
def grouped_map_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDF surface (applyInPandas): per-group OLS fit in
    numpy, checked against DuckDB's regr_slope/regr_intercept. The group
    is the parallelism unit — each Arrow batch holds one whole group, so
    this is the pattern for per-key model fits / custom group algorithms
    that SQL can't express. Closure is self-contained (pickles by value;
    executors don't import this package)."""

    def ols(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        x = pdf["l_quantity"].to_numpy(dtype=float)
        y = pdf["l_extendedprice"].to_numpy(dtype=float)
        xm, ym = x.mean(), y.mean()
        slope = float(((x - xm) * (y - ym)).sum() / ((x - xm) ** 2).sum())
        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "price_per_qty": [slope],
                "intercept": [ym - slope * xm],
                "n": [len(pdf)],
            }
        )

    li = load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity", "l_extendedprice")
    return (
        li.groupBy("l_returnflag")
        .applyInPandas(
            ols, schema="l_returnflag string, price_per_qty double, intercept double, n bigint"
        )
        .select(
            "l_returnflag",
            F.round("price_per_qty", 4).alias("price_per_qty"),
            F.round("intercept", 4).alias("intercept"),
            "n",
        )
        .orderBy("l_returnflag")
    )


WMEAN_ORACLE = """
SELECT l_linestatus,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS qty_weighted_price
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@register("grouped_agg_weighted_mean", oracle=WMEAN_ORACLE)
def grouped_agg_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF surface: a custom aggregate written in
    numpy over Arrow series. (This particular aggregate IS expressible as
    built-ins — which is exactly what makes it oracle-checkable; the
    surface being exercised is the UDAF plumbing.)"""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wmean(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(F.round(wmean("l_extendedprice", "l_quantity"), 4).alias("qty_weighted_price"))
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# Text normalization (cleaning pass of a training-data pipeline)
# ---------------------------------------------------------------------------

NORMALIZE_ORACLE = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS BIGINT)
         AS n_distinct_normalized
FROM documents
GROUP BY lang
ORDER BY lang
"""


@register("text_normalize_distinct", oracle=NORMALIZE_ORACLE)
def text_normalize_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization + dedup-by-fingerprint per language: lowercase, trim,
    collapse whitespace runs, md5 — the canonicalization step before exact
    dedup in a training-data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct(norm).cast("bigint").alias("n_distinct_normalized"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Salted skew join (manual AQE-skew-rewrite shape)
# ---------------------------------------------------------------------------

SALTED_JOIN_ORACLE = """
WITH fact AS (
  SELECT l_orderkey % 5 AS hot_key, l_extendedprice FROM lineitem
), dim AS (
  SELECT o_orderkey % 5 AS d_key, min(o_orderpriority) AS prio
  FROM orders WHERE o_orderkey % 5 IN (0, 1, 2, 3, 4)
  GROUP BY 1
)
SELECT prio, count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
FROM fact JOIN dim ON hot_key = d_key
GROUP BY prio ORDER BY prio
"""


@register("join_salted_skew", oracle=SALTED_JOIN_ORACLE)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pathologically skewed join, spread by salting: the fact key is
    collapsed to 5 hot values (600k rows → 5 keys — the shape where one
    reducer gets 120k rows and 27 idle), the 5-row dim is replicated
    ×8 salt buckets and joined on (key, salt). Broadcast is explicitly
    disabled inside the operator's join path at 100 TB scale-think —
    here the dim WOULD broadcast; the query demonstrates the exact
    salt/replicate algebra with a plain-join oracle proving no row is
    lost or doubled (operators/skew.py salted_skew_join)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 5).alias("hot_key"), "l_extendedprice", "l_orderkey"
    )
    o = load_table(spark, sf_dir, "orders").select((F.col("o_orderkey") % 5).alias("d_key"), "o_orderpriority")
    dim = o.groupBy("d_key").agg(F.min("o_orderpriority").alias("prio"))
    from gcs2postgres_spark.operators.skew import salted_skew_join

    joined = salted_skew_join(li, dim, "hot_key", "d_key", salt_buckets=8, salt_on="l_orderkey")
    return (
        joined.groupBy("prio")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("prio")
    )


# ---------------------------------------------------------------------------
# Pareto / ABC classification (cumulative contribution analysis)
# ---------------------------------------------------------------------------

ABC_ORACLE = """
WITH cents AS (
  -- exact integer arithmetic per ROW: price has 2 decimals, discount 2
  -- decimals, so price_cents * (100 - discount_pct_cents) is an exact
  -- int64 in units of 1/10000 currency; every downstream sum is then
  -- bit-identical on any engine (float sums drift at class scale)
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS rev_c
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, rev_c,
         round(CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / sum(rev_c) OVER (), 9) AS cum_share
  FROM cents
)
SELECT CASE WHEN cum_share <= 0.8 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev_c) AS DOUBLE) / 10000 AS class_revenue
FROM ranked
GROUP BY 1 ORDER BY 1
"""


@register("part_pareto_abc", oracle=ABC_ORACLE)
def part_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue contribution
    (A = first 80% of cumulative revenue, B = next 15%, C = tail).
    Determinism across engines is engineered by leaving floating point
    entirely: per-row revenue is exact int64 (price-cents ×
    (100−discount-points) — both columns carry 2 decimals), so per-part
    sums, the cumsum order (rev_c desc, partkey), every cumulative
    share, and the class totals are bit-identical on any engine. (The
    float path FAILED the exact driver compare twice: first on class
    re-sums drifting in the 2nd decimal, then on per-part sums sitting
    on round-half knife-edges — the repo's record of why money maths
    wants integers.) The global cumsum is TWO-PHASE: range-partition by
    the cumsum order, per-partition running sums in parallel, then add
    back broadcast per-partition offsets (a partition-count-sized frame)
    — no single-task global window, so the operator scales to hundreds
    of millions of parts instead of walling on one core."""
    li = load_table(spark, sf_dir, "lineitem")
    # exact integer arithmetic per ROW (price cents × discount points):
    # every sum afterwards is int64, bit-identical on any engine — a
    # float path drifts at class scale and flips rounding knife-edges
    row_c = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )
    cents = li.groupBy("l_partkey").agg(F.sum(row_c).cast("long").alias("rev_c"))
    from pyspark.sql import Window

    # Phase 1: range-partition on the total cumsum order (rev_c desc,
    # partkey asc — partkey is unique, so the order is total and the
    # split is deterministic wherever the range bounds fall), then a
    # per-partition running sum: all partitions work in parallel.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Materialize before branching: the window / per-partition-totals /
    # final-join branches must see ONE physical partitioning —
    # re-executed range exchanges re-sample bounds (rddId-seeded) and
    # re-coalesce under AQE, so spark_partition_id() would mean
    # different ranges per branch and the offsets would misalign (the
    # flake class events_watermark_late_drop exposed).
    ranged = (
        cents.repartitionByRange(n_parts, F.desc("rev_c"), F.asc("l_partkey"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_in = (
        Window.partitionBy("pid")
        .orderBy(F.desc("rev_c"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranged = ranged.withColumn("cum_in", F.sum("rev_c").over(w_in))
    # Phase 2: exclusive prefix offsets + grand total folded DRIVER-side
    # from one aggregate row per partition (operators/prefix.py —
    # bounded by the shuffle-partition count, NOT the data); replaces
    # the 32-row single-task window + broadcast join.
    pref, tot = driver_prefix_sums(ranged, ["rev_c"])
    ranked = ranged.withColumn(
        "cum_share",
        F.round(
            (F.col("cum_in") + pref["rev_c"]).cast("double")
            / F.lit(tot["rev_c"]).cast("long"),
            9,
        ),
    )
    cls = (
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
    )
    return (
        ranked.select(cls.alias("abc_class"), "rev_c")
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            (F.sum("rev_c").cast("double") / 10000).alias("class_revenue"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# Market-basket association rules (brand co-occurrence)
# ---------------------------------------------------------------------------

BASKET_RULES_ORACLE = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
  FROM lineitem JOIN part ON l_partkey = p_partkey
), n AS (SELECT count(DISTINCT basket) AS n_baskets FROM items),
item_cnt AS (SELECT item, count(*) AS cnt FROM items GROUP BY item),
pair_cnt AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS cnt
  FROM items a JOIN items b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2
)
SELECT p.item_a, p.item_b,
       CAST(p.cnt AS BIGINT) AS n_both,
       round(CAST(p.cnt AS DOUBLE) / n.n_baskets, 6) AS support,
       round(CAST(p.cnt AS DOUBLE) / ca.cnt, 6) AS confidence,
       round(CAST(p.cnt AS DOUBLE) * n.n_baskets / (ca.cnt * cb.cnt), 6) AS lift
FROM pair_cnt p
JOIN item_cnt ca ON p.item_a = ca.item
JOIN item_cnt cb ON p.item_b = cb.item
CROSS JOIN n
ORDER BY n_both DESC, lift DESC, item_a, item_b
LIMIT 20
"""


@register("basket_pair_rules", oracle=BASKET_RULES_ORACLE)
def basket_pair_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets: support, confidence
    and lift for brand pairs bought in the same order (top-20 by count
    then lift). The classic market-basket shape: dedupe to (basket,
    item), self-join WITHIN the basket key (an equi-join on basket —
    the pair explosion is bounded by basket-size², never cross-basket),
    aggregate pairs, then two broadcast joins against the tiny
    item-count table. At 100 TB the only heavy operator is the
    per-basket pair expansion, which partitions cleanly on the basket
    key; skewed mega-baskets would be capped or salted upstream."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("l_orderkey").alias("basket"), F.col("p_brand").alias("item"))
        .distinct()
    )
    n_baskets = items.agg(F.countDistinct("basket").alias("n_baskets"))
    item_cnt = items.groupBy("item").agg(F.count(F.lit(1)).alias("cnt"))
    b = items.select(F.col("basket").alias("b2"), F.col("item").alias("item_b"))
    pair_cnt = (
        items.join(b, (F.col("basket") == F.col("b2")) & (F.col("item") < F.col("item_b")))
        .groupBy(F.col("item").alias("item_a"), "item_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ca = item_cnt.select(F.col("item").alias("item_a"), F.col("cnt").alias("cnt_a"))
    cb = item_cnt.select(F.col("item").alias("item_b"), F.col("cnt").alias("cnt_b"))
    return (
        pair_cnt.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "n_both",
            F.round(F.col("n_both") / F.col("n_baskets"), 6).alias("support"),
            F.round(F.col("n_both") / F.col("cnt_a"), 6).alias("confidence"),
            F.round(
                F.col("n_both") * F.col("n_baskets") / (F.col("cnt_a") * F.col("cnt_b")), 6
            ).alias("lift"),
        )
        .orderBy(F.desc("n_both"), F.desc("lift"), "item_a", "item_b")
        .limit(20)
    )
