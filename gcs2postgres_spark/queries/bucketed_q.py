"""Bucketed-warehouse variants of the fact-fact TPC-H shapes.

The six perf-weak queries in the round-2 audit (q3/q5/q9/q12/q18/q21)
all pay one shape: the lineitem×orders shuffle. Bucketing both facts by
orderkey at WRITE time removes that Exchange from every one of them —
this module registers bucketed variants of the two heaviest (q18, q21)
reading a lazily-materialized bucketed warehouse, with the SAME oracle
SQL as the unbucketed originals (layout is physical, semantics are
identical — any divergence is a bug the driver's hash compare catches).

Why this is the 100 TB lever: q21 touches lineitem three times on
orderkey (scan, per-order agg, join-back) plus the orders join; with
orderkey bucketing ALL of those reuse the bucket partitioning — zero
hash exchanges of the fact table per query, amortized across every
orderkey query that reads the warehouse. The bucketed write itself is
one shuffle, paid once at ingest (the reference pays a full rewrite
into BigQuery-managed storage at the same point in its pipeline —
reference src/db/db.go:149-180).

Plan shape is pinned by tests/test_layout.py::test_q18_q21_bucketed_*:
no ``Exchange hashpartitioning`` at or below the fact join.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.layout import write_bucketed
from gcs2postgres_spark.queries.advanced import Q12_STYLE_SQL, Q18_STYLE_SQL
from gcs2postgres_spark.queries.joins import Q3_ORACLE
from gcs2postgres_spark.queries.registry import register
from gcs2postgres_spark.queries.tpch_rest import Q21_STYLE_SQL


def _n_buckets(spark: SparkSession) -> int:
    """Bucket count: BUCKETS ≥ CORES, or the scan (one task per bucket)
    caps parallelism below the machine and the bucketed plan loses to
    plain shuffle — the BASELINE.md q21 A/B settlement; the round-5
    fixture demoed the losing configuration (8 buckets on 32 cores).
    Default = the session's defaultParallelism (total cores on local[n]),
    overridable with SPARK_GRAFT_BUCKETS. At 100 TB size instead to
    ~128-512 MB of lineitem per bucket (thousands) — which satisfies
    buckets ≥ cores automatically at that scale."""
    env = os.environ.get("SPARK_GRAFT_BUCKETS")
    if env:
        return int(env)
    return int(spark.sparkContext.defaultParallelism)


def bucketed_fact_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Idempotently materialize lineitem+orders bucketed by orderkey for
    this sf_dir and return the table names. Names encode (sf_dir, bucket
    count) so different scales/sessions never collide; an existing table
    is reused — the write is the once-per-warehouse ingest cost."""
    import tempfile

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    n = _n_buckets(spark)
    # tag includes source-file (mtime, size): regenerated testdata at the
    # same path gets a NEW table, never a stale bucketed copy
    src_fp = "|".join(
        f"{os.path.getmtime(p)}:{os.path.getsize(p)}"
        for p in (
            os.path.join(sf_dir, "lineitem.parquet"),
            os.path.join(sf_dir, "orders.parquet"),
        )
    )
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{n}|{src_fp}".encode()
    ).hexdigest()[:10]
    li_t, o_t = f"lineitem_bkt_{tag}", f"orders_bkt_{tag}"
    base = os.path.join(tempfile.gettempdir(), "spark_graft_warehouse")
    if not spark.catalog.tableExists(li_t):
        write_bucketed(
            load_table(spark, sf_dir, "lineitem"), li_t, "l_orderkey", n,
            sort_col="l_orderkey", path=os.path.join(base, li_t),
        )
    if not spark.catalog.tableExists(o_t):
        write_bucketed(
            load_table(spark, sf_dir, "orders"), o_t, "o_orderkey", n,
            sort_col="o_orderkey", path=os.path.join(base, o_t),
        )
    return li_t, o_t


@register("q18_large_orders_bucketed", oracle=Q18_STYLE_SQL)
def q18_large_orders_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 over the bucketed warehouse: the per-orderkey aggregate AND the
    big⋈orders join both reuse the bucket partitioning — the only
    exchanges left are the (tiny) filtered-result joins and the final
    sort. Semantics identical to q18_large_orders (same oracle)."""
    li_t, o_t = bucketed_fact_tables(spark, sf_dir)
    li, o = spark.table(li_t), spark.table(o_t)
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


@register("q3_shipping_priority_bucketed", oracle=Q3_ORACLE)
def q3_shipping_priority_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 over the bucketed warehouse, join order re-arranged to protect
    the bucket partitioning: (lineitem ⋈ orders) FIRST — shuffle-free on
    the buckets — then the segment-filtered customer side joins the much
    smaller result (broadcast at test scale, AQE decides at 100 TB). The
    groupBy keys include l_orderkey, so the aggregate also rides the
    bucket partitioning. Same oracle as q3_shipping_priority."""
    li_t, o_t = bucketed_fact_tables(spark, sf_dir)
    cutoff = F.to_timestamp(F.lit("1998-03-15 00:00:00"))
    li = spark.table(li_t).filter(F.col("l_shipdate") > cutoff)
    o = spark.table(o_t).filter(F.col("o_orderdate") < cutoff)
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.round("revenue", 2).alias("revenue"),
            "order_date",
            "o_orderpriority",
        )
    )


@register("q12_priority_caseagg_bucketed", oracle=Q12_STYLE_SQL)
def q12_priority_caseagg_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 over the bucketed warehouse: the orders⋈lineitem join is
    shuffle-free on the buckets; the only remaining exchange carries two
    longs per l_returnflag group (the CASE folds into the partials).
    Same oracle as q12_priority_caseagg."""
    li_t, o_t = bucketed_fact_tables(spark, sf_dir)
    o, li = spark.table(o_t), spark.table(li_t)
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


@register("q21_waiting_supplier_bucketed", oracle=Q21_STYLE_SQL)
def q21_waiting_supplier_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 over the bucketed warehouse — the biggest beneficiary.
    Decorrelation logic identical to q21_waiting_supplier (same oracle).

    Under the r8 cascaded-aggregate shape (see q21_waiting_supplier)
    the bucket layout is an even cleaner fit: hashpartitioning(orderkey)
    from the buckets satisfies ClusteredDistribution for the join, the
    (orderkey, suppkey) pre-agg, AND the per-order rollup (partitioning
    keys ⊆ grouping keys), so the fact never hash-exchanges at all."""
    li_t, o_t = bucketed_fact_tables(spark, sf_dir)
    li = spark.table(li_t)
    o = spark.table(o_t).filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    lo = li.join(o, F.col("o_orderkey") == F.col("l_orderkey")).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    per_os = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum(F.when(F.col("is_late"), 1).otherwise(0)).alias("late_lines")
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.when(F.col("late_lines") > 0, 1).otherwise(0)).alias(
            "n_late_supp"
        ),
        F.max(F.when(F.col("late_lines") > 0, F.col("l_suppkey"))).alias(
            "late_supp"
        ),
        F.sum("late_lines").alias("order_late_lines"),
    )
    qual = per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    return (
        qual.join(F.broadcast(s), F.col("s_suppkey") == F.col("late_supp"))
        .groupBy("s_name")
        .agg(F.sum("order_late_lines").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )
