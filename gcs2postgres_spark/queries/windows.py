"""Window-function queries: ranking, lag/lead, running/moving frames,
ntile, per-group top-k (SURVEY.md §2.6 "Window functions").

Determinism: every window ORDER BY ends in a unique key (orderkey /
linenumber) so row_number / lag / frames are reproducible against the
oracle. Scale note: windows shuffle on partitionBy keys — these
queries partition on mid-cardinality keys (custkey, suppkey), never on
a constant (a global window would serialize onto one task; the one
global-ish query here, ntile, partitions by priority first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.operators.joins import topk_per_group
from gcs2postgres_spark.queries.registry import register


WINDOW_RANK_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS BIGINT) AS rn,
       CAST(rank()       OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk
FROM orders
WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


@register("window_rank", oracle=WINDOW_RANK_ORACLE)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/row_number over per-group orderings, ties included."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


WINDOW_LAG_LEAD_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice,
       lag(o_totalprice)  OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       o_totalprice - coalesce(lag(o_totalprice) OVER w, o_totalprice) AS price_delta
FROM orders
WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


@register("window_lag_lead", oracle=WINDOW_LAG_LEAD_ORACLE)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead offsets within per-customer order history (1-row frames)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            prev.alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
            (F.col("o_totalprice") - F.coalesce(prev, F.col("o_totalprice"))).alias("price_delta"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


WINDOW_RUNNING_ORACLE = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       sum(l_quantity) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty,
       avg(l_extendedprice) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)    AS moving_avg_price
FROM lineitem
WHERE l_suppkey < 20
ORDER BY l_suppkey, l_orderkey, l_linenumber
"""


@register("window_running", oracle=WINDOW_RUNNING_ORACLE)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum/avg over an ordered unbounded-preceding frame per key."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 20)
    base = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    return (
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.sum("l_quantity").over(base.rowsBetween(Window.unboundedPreceding, 0)).alias("running_qty"),
            F.avg("l_extendedprice").over(base.rowsBetween(-2, 0)).alias("moving_avg_price"),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )


WINDOW_NTILE_ORACLE = """
SELECT o_orderkey, o_orderpriority,
       CAST(ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
FROM orders
WHERE o_orderkey < 2000
ORDER BY o_orderkey
"""


@register("window_ntile", oracle=WINDOW_NTILE_ORACLE)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) quartile assignment per mktsegment partition."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
        )
        .orderBy("o_orderkey")
    )


WINDOW_RANGE_FRAME_ORACLE = """
SELECT c_custkey, c_acctbal,
       CAST(count(*) OVER (ORDER BY c_acctbal RANGE BETWEEN 100.0 PRECEDING AND 100.0 FOLLOWING) AS BIGINT)
         AS n_within_100
FROM customer
WHERE c_custkey < 300
ORDER BY c_custkey
"""


@register("window_range_frame", oracle=WINDOW_RANGE_FRAME_ORACLE)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering column (value-based frame, not
    row-based). Unpartitioned window — acceptable only because the input is
    pre-filtered small; at scale, range-bucket first."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    # rangeBetween() only takes integer offsets in the Python API; the SQL
    # window form supports fractional RANGE bounds
    frame = F.expr(
        "count(*) OVER (ORDER BY c_acctbal RANGE BETWEEN 100.0 PRECEDING AND 100.0 FOLLOWING)"
    )
    return (
        c.select(
            "c_custkey",
            "c_acctbal",
            frame.cast("bigint").alias("n_within_100"),
        )
        .orderBy("c_custkey")
    )


TOPK_PER_GROUP_ORACLE = """
SELECT c_mktsegment, o_orderkey, o_totalprice
FROM (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders JOIN customer ON o_custkey = c_custkey
) WHERE rn <= 3
ORDER BY c_mktsegment, o_totalprice DESC, o_orderkey
"""


@register("topk_per_group", oracle=TOPK_PER_GROUP_ORACLE)
def topk_per_group_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via window row_number <= k; WindowGroupLimit prunes map-side."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "c_mktsegment", "o_orderkey", "o_totalprice"
    )
    return topk_per_group(
        joined,
        ["c_mktsegment"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
    ).orderBy("c_mktsegment", F.col("o_totalprice").desc(), "o_orderkey")


WINDOW_DIST_ORACLE = """
SELECT s_suppkey, s_nationkey, s_acctbal,
       round(percent_rank() OVER w, 6)              AS pct_rank,
       round(cume_dist()    OVER w, 6)              AS cum_dist,
       first_value(s_suppkey) OVER w                AS poorest,
       last_value(s_suppkey)
         OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS richest,
       nth_value(s_suppkey, 2)
         OVER (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_poorest
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
ORDER BY s_nationkey, s_acctbal, s_suppkey
"""


@register("window_dist_funcs", oracle=WINDOW_DIST_ORACLE)
def window_dist_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank, cume_dist) plus
    first/last/nth_value. last_value and nth_value use an explicit
    UNBOUNDED..UNBOUNDED frame — the default frame stops at CURRENT ROW,
    which silently turns last_value into "current value" (a classic
    SQL-window footgun; identical semantics in Spark and DuckDB, so the
    oracle locks the correct frame in). Rounded to 6 dp so the oracle
    compare is float-order safe."""
    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        s.select(
            "s_suppkey",
            "s_nationkey",
            "s_acctbal",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
            F.first("s_suppkey").over(w_full).alias("poorest"),
            F.last("s_suppkey").over(w_full).alias("richest"),
            F.nth_value("s_suppkey", 2).over(w_full).alias("second_poorest"),
        )
        .orderBy("s_nationkey", "s_acctbal", "s_suppkey")
    )
