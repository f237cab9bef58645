"""Z-order (Morton-curve) layout variant of the scan-heavy TPC-H Q6.

Same idea as the bucketed tier (queries/bucketed_q.py): the layout is
physical, the semantics — and therefore the oracle SQL — are identical
to the plain query; any divergence is a bug the driver's hash compare
catches. The 100 TB story: Q6 filters on BOTH l_shipdate and
l_discount; a date-sorted warehouse prunes only the date dimension,
while the Morton curve tightens per-file min/max on both, so parquet
footer pruning skips the product of both selectivities' worth of files
(tests/test_zorder.py pins the actual file-level min/max bounds).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.layout import write_zordered, zorder_key
from gcs2postgres_spark.queries.registry import register
from gcs2postgres_spark.queries.relational import Q6_ORACLE


def zordered_lineitem_path(spark: SparkSession, sf_dir: str, n_files: int = 16) -> str:
    """Idempotently materialize lineitem z-ordered on
    (shipdate-days, discount-cents); the tag includes the source file's
    (mtime, size) so regenerated testdata always re-clusters."""
    src = os.path.join(sf_dir, "lineitem.parquet")
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|z|{n_files}|{os.path.getmtime(src)}:{os.path.getsize(src)}".encode()
    ).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), "spark_graft_warehouse", f"lineitem_z_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        li = load_table(spark, sf_dir, "lineitem")
        # normalize BOTH dimensions to the same 8-bit rank range before
        # interleaving — Morton needs comparable bit widths: raw
        # days-since-1992 (0..~2557) against discount-cents (0..10)
        # would put every discriminating bit on the date axis and the
        # curve degenerates to a plain date sort (no discount pruning)
        days = F.datediff(F.col("l_shipdate"), F.to_timestamp(F.lit("1992-01-01")))
        day8 = F.least(F.floor(days / 10.0), F.lit(255)).cast("long")
        disc8 = F.least(
            F.round(F.col("l_discount") * 100 * 23).cast("long"), F.lit(255)
        )
        zkey = zorder_key([day8, disc8], bits=8)
        write_zordered(li, path, zkey, n_files=n_files)
    return path


@register("q6_revenue_zorder", oracle=Q6_ORACLE)
def q6_revenue_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 over the z-ordered lineitem copy — identical semantics
    and oracle to q6_revenue_forecast; the Morton layout turns the
    2-D (shipdate, discount) range predicate into file-level parquet
    footer pruning on BOTH dimensions."""
    path = zordered_lineitem_path(spark, sf_dir)
    li = spark.read.parquet(path)
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
