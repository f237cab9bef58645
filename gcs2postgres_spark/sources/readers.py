"""Multi-format source readers (parity layer, OP-1/OP-2/OP-3).

The reference registers a GCS object as a BigQuery external table with
the format derived from the upper-cased file extension (reference
src/db/db.go:22-43, format-from-extension at :27) and lets BigQuery
infer the schema (src/db/db.go:45-56). Here each format maps to the
native Spark reader; schema comes free for self-describing formats and
via inference (or an explicit StructType) for CSV/JSON. Like the
reference's reuse of an existing registration, a source resolves once
per session while its files are unchanged: the inferred schema is kept
under the files' fingerprint and handed back to later reads, and a
missing native jar is remembered per SparkContext.

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
import stat
import weakref

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from gcs2postgres_spark.sources import fsio

SUPPORTED_FORMATS = {"parquet", "csv", "json", "orc", "avro", "iceberg", "delta", "bigquery"}

# Formats whose schema Spark infers from the files themselves when the
# caller gives none; read_inferred keeps what it inferred.
_INFERRED_FORMATS = {"parquet", "csv", "json", "orc"}

# The session confs that change an inferred type, read into every
# schema-cache key.
_INFER_CONFS = (
    "spark.sql.session.timeZone",  # CSV/JSON timestamps parse in it
    "spark.sql.timestampType",  # CSV/JSON infer TIMESTAMP or TIMESTAMP_NTZ
    "spark.sql.legacy.timeParserPolicy",  # which strings parse as dates/timestamps
    "spark.sql.caseSensitive",  # JSON keys and merged columns that differ in case
    "spark.sql.legacy.parquet.nanosAsLong",  # parquet TIMESTAMP(NANOS) as bigint
    "spark.sql.parquet.binaryAsString",  # parquet BINARY as string
    "spark.sql.parquet.int96AsTimestamp",  # parquet INT96 as timestamp
    "spark.sql.parquet.inferTimestampNTZ.enabled",  # zone-less parquet timestamps as NTZ
    "spark.sql.parquet.mergeSchema",  # the union of every footer, not one
    "spark.sql.orc.mergeSchema",  # the same for ORC
    "spark.sql.sources.partitionColumnTypeInference.enabled",  # key=value dirs typed, not strings
)

# (format, path, options, _INFER_CONFS values) -> (fingerprint, inferred
# schema): one entry per source, replaced when its files change.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}

# SparkContext -> formats whose native jar is not on its classpath.
_JAR_ABSENT: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _jar_absent(e: Exception) -> bool:
    """True when a native reader failed only because its data source
    jar is not on the classpath."""
    msg = str(e)
    return "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg


def _native(spark: SparkSession, reader, fmt: str, path: str, options: dict) -> DataFrame | None:
    """The native ``fmt`` reader's frame, or None when the SparkContext
    lacks its jar. The first read learns that and the context remembers
    it, so later reads go straight to the jar-less reader (a failed
    lookup costs a planning round trip, and spark-avro's absence logs a
    long ERROR each time)."""
    absent = _JAR_ABSENT.setdefault(spark.sparkContext, set())
    if fmt in absent:
        return None
    try:
        return reader.format(fmt).options(**options).load(path)
    except Exception as e:
        # Fall back ONLY on the module-absent condition; a genuine
        # native-reader failure (corrupt file, bad option) must surface,
        # not be silently retried with the Python reader.
        if not _jar_absent(e):
            raise
        absent.add(fmt)
        return None


def _fingerprint(path: str) -> tuple | None:
    """One version of a source's files: a posix file's (size, mtime ns);
    for a directory or a scheme'd path, the sorted (path, size, mtime ms)
    listing (one LIST on an object store). None when the path names no
    file or directory (a glob, or a path the reader reports missing)."""
    if not fsio.has_scheme(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        if not stat.S_ISDIR(st.st_mode):
            return st.st_size, st.st_mtime_ns
    try:
        return tuple(sorted(fsio.list_files_mtime(path)))
    except Py4JJavaError:
        return None


def read_inferred(spark: SparkSession, path: str, fmt: str, **options) -> DataFrame:
    """A fresh relation over ``path`` whose schema is inferred once per
    version of its files: a cache hit passes the kept schema back as
    ``.schema(...)`` and runs no inference job. Only the schema is kept,
    never the frame: two frames of one relation share attribute ids,
    and a self-join of them would be ambiguous."""
    reader = spark.read.format(fmt).options(**options)
    # fingerprint BEFORE inferring: a file that changes in between
    # leaves a fingerprint older than the schema, and the next read
    # re-infers
    fp = _fingerprint(path)
    if fp is None:
        return reader.load(path)
    key = (
        fmt,
        path,
        tuple(sorted((k, str(v)) for k, v in options.items())),
        tuple(spark.conf.get(c, None) for c in _INFER_CONFS),
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == fp:
        return reader.schema(hit[1]).load(path)
    df = reader.load(path)
    _SCHEMAS[key] = (fp, df.schema)
    return df


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
    (BigQuery autodetect equivalent). Parquet, CSV, JSON and ORC with no
    caller schema are inferred once per file version per session: the
    schema is kept under the files' fingerprint (a posix file's size and
    mtime, else the listing's paths, sizes and mtimes) and reused while
    it holds. Every call still builds a fresh relation.
    """
    fmt = fmt or format_from_extension(path)
    if fmt == "csv":
        options.setdefault("header", True)
        if schema is None:
            options.setdefault("inferSchema", True)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if schema is None and fmt in _INFERRED_FORMATS:
        df = read_inferred(spark, path, fmt, **options)
    elif fmt == "avro":
        df = _native(spark, reader, fmt, path, options)
        if df is None:
            # spark-avro module absent: fall back to the pure-Python
            # distributed container reader (sources/avro_py.py) — same
            # rows, per-file parallelism, one Arrow batch per Avro block
            # out of mapInArrow, no driver materialization
            from gcs2postgres_spark.sources.avro_py import read_avro_distributed

            df = read_avro_distributed(spark, path)
    elif fmt == "iceberg":
        df = _native(spark, reader, fmt, path, options)
        if df is None:
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
        df = _native(spark, reader, fmt, path, options)
        if df is None:
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
        df = reader.format(fmt).options(**options).load(path)
    if register_view:
        df.createOrReplaceTempView(table_id_from_path(path))
    return df
