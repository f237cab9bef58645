"""Table catalog over the harness testdata.

The reference registers each GCS file as an external table named
after the file basename (reference: src/db/db.go:22-30); here the
equivalent is loading ``{sf_dir}/{name}.parquet`` and registering a
temp view under the bare table name.

At 100 TB these would be partitioned/bucketed catalog tables — the
loader is the single seam where that swap happens (read path only;
every operator downstream sees a DataFrame either way).

Schemas resolve through ``sources.readers.read_inferred``, the one
seam the parity layer's ``read_source`` uses too: a table's parquet
footer is read once per file version per session (a bench of ~3 tables
per query over 10 distinct files otherwise pays a driver-side footer
job per call, ~0.1 s each at sf1), and every call still builds a
fresh relation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from gcs2postgres_spark.sources.readers import read_inferred

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = {"region", "nation", "supplier"}

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (columnar parquet scan).

    events.ts normalization — the generated parquet has shipped with two
    physical types across rounds, and both must land as a plain
    session-tz TIMESTAMP so every query (and the streaming twins built
    with timestamp_micros) sees one type:
    - TIMESTAMP(NANOS): Spark has no nanos type; with
      ``spark.sql.legacy.parquet.nanosAsLong=true`` (pinned by session.py)
      it reads as long nanoseconds, converted here to
      a µs timestamp (floor — matches DuckDB's CAST(ts_ns AS TIMESTAMP));
    - TIMESTAMP(MICROS) without tz: Spark reads TIMESTAMP_NTZ, which
      Spark 4 refuses to cast to double (sessionize's lag-gap math) —
      cast to TIMESTAMP (UTC session tz, value-identical).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = read_inferred(spark, path, "parquet")
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: epoch-nanos exceed double's 2^53 exact range
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table and register temp views for the SQL API."""
    out = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
