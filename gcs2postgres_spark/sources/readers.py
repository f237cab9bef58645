"""Multi-format source readers (parity layer, OP-1/OP-2/OP-3).

The reference registers a GCS object as a BigQuery external table with
the format derived from the upper-cased file extension (reference
src/db/db.go:22-43, format-from-extension at :27) and lets BigQuery
infer the schema (src/db/db.go:45-56). Here each format maps to the
native Spark reader; schema comes free for self-describing formats and
via inference (or an explicit StructType) for CSV/JSON.

Avro: the native spark-avro reader is tried first; when that module is
not on the classpath the reader falls back to the pure-Python
distributed container codec (sources/avro_py.py — spec-conformance
cross-checked against the bundled Java Avro implementation). Iceberg
likewise prefers the native reader and falls back to the jar-less
metadata-chain walker (sources/iceberg_py.py) when iceberg-spark-runtime
is absent, and Delta falls back to the jar-less _delta_log replay
(sources/delta_py.py) when delta-spark is absent; unsupported table
features raise a clear error naming the package (README.md:11 lists
CSV/JSON/Parquet/Avro/Iceberg as the reference's formats; delta extends
the list the same way).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SUPPORTED_FORMATS = {"parquet", "csv", "json", "orc", "avro", "iceberg", "delta", "bigquery"}


def _jar_absent(e: Exception) -> bool:
    """True when a native reader failed only because its data source
    jar is not on the classpath."""
    msg = str(e)
    return "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg


def format_from_extension(path: str) -> str:
    """Reference behavior: format = file extension (src/db/db.go:27)."""
    ext = os.path.splitext(path)[1].lstrip(".").lower()
    if ext == "jsonl":
        ext = "json"
    if ext not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported source format {ext!r} for {path!r}")
    return ext


def table_id_from_path(path: str) -> str:
    """Reference behavior: table id = basename minus extension
    (src/db/db.go:23)."""
    return os.path.splitext(os.path.basename(path))[0]


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    schema: StructType | str | None = None,
    register_view: bool = False,
    **options,
) -> DataFrame:
    """Read a file/directory as a DataFrame; optionally register a temp view
    named after the file (idempotent, like the reference's reuse-if-exists
    registration at src/db/db.go:35-43).

    CSV defaults to header=True + schema inference when no schema is given
    (BigQuery autodetect equivalent); pass an explicit schema in production
    — inference scans the data twice.
    """
    fmt = fmt or format_from_extension(path)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", True)
        if schema is None:
            options.setdefault("inferSchema", True)
    if fmt == "avro":
        try:
            df = reader.format("avro").options(**options).load(path)
        except Exception as e:
            # Fall back ONLY on the module-absent condition; a genuine
            # native-reader failure (corrupt file, bad option) must
            # surface, not be silently retried with the Python codec.
            if not _jar_absent(e):
                raise
            # spark-avro module absent: fall back to the pure-Python
            # distributed container reader (sources/avro_py.py) — same
            # rows, per-file parallelism, one Arrow batch per Avro block
            # out of mapInArrow, no driver materialization
            from gcs2postgres_spark.sources.avro_py import read_avro_distributed

            df = read_avro_distributed(spark, path)
    elif fmt == "iceberg":
        try:
            df = reader.format("iceberg").options(**options).load(path)
        except Exception as e:
            if not _jar_absent(e):
                raise
            # iceberg-spark-runtime absent: walk the table's metadata
            # chain in pure Python (metadata JSON → Avro manifests →
            # parquet file list) and scan with the native parquet
            # reader — full executor parallelism, no jar. v2 position/
            # equality deletes are applied as anti-joins; time travel
            # via the same option names the native reader uses
            # (sources/iceberg_py.py)
            from gcs2postgres_spark.sources.iceberg_py import read_iceberg_py

            snap = options.get("snapshot-id")
            as_of = options.get("as-of-timestamp")
            # branch/tag are the native reader's named-ref options
            ref = options.get("branch") or options.get("tag")
            df = read_iceberg_py(
                spark,
                path,
                snapshot_id=int(snap) if snap is not None else None,
                as_of_ms=int(as_of) if as_of is not None else None,
                ref=ref,
            )
    elif fmt == "delta":
        try:
            df = reader.format("delta").options(**options).load(path)
        except Exception as e:
            if not _jar_absent(e):
                raise
            # delta-spark absent: replay the public _delta_log protocol
            # in pure Python (JSON commits + optional parquet checkpoint)
            # and scan the live files with the native parquet reader —
            # full executor parallelism, partition columns injected as
            # plan-time literals (sources/delta_py.py). Time travel via
            # the same option names the native reader uses.
            from gcs2postgres_spark.sources.delta_py import read_delta_py

            ver = options.get("versionAsOf")
            ts = options.get("timestampAsOf")
            df = read_delta_py(
                spark,
                path,
                version_as_of=int(ver) if ver is not None else None,
                timestamp_as_of_ms=int(ts) if ts is not None else None,
            )
    elif fmt == "bigquery":
        # reference OP-2 native BigQuery scan (src/db/db.go:95-147) —
        # needs the spark-bigquery-connector; in-harness, native tables
        # map to spark.table/catalog parquet (SURVEY §2.1 OP-2)
        try:
            df = reader.format("bigquery").options(**options).load(path)
        except Exception as e:
            if _jar_absent(e):
                raise RuntimeError(
                    "bigquery source needs the spark-bigquery-connector jar "
                    "(spark.jars.packages=com.google.cloud.spark:"
                    "spark-bigquery-with-dependencies_2.13); not bundled in "
                    "this environment — use spark.table()/parquet for native "
                    "tables in-harness"
                ) from e
            raise
    else:
        df = getattr(reader.options(**options), fmt)(path)
    if register_view:
        df.createOrReplaceTempView(table_id_from_path(path))
    return df
