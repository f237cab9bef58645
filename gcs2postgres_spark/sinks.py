"""Sinks (parity layer, OP-7/OP-8).

The reference buffers the WHOLE table in driver memory and issues one
Postgres COPY (reference src/db/db.go:160-180) — the #1 anti-pattern
for the 100 TB goal. Here every sink writes partition-wise from
executors; nothing transits the driver.

- ``write_jdbc``: Spark's JDBC batch writer, `numPartitions` bounds
  sink concurrency (too many writers melt the database),
  `batchsize` amortizes round-trips. Append-only, schema must
  pre-exist — the reference's load semantics (no DDL anywhere,
  src/db/db.go:175-180).
- ``write_jdbc_copy``: the COPY-speed path — per-partition psycopg
  COPY over ``mapInArrow``: each Arrow record batch (at most
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) is written as
  COPY csv by ``pyarrow.csv`` in C++ and sent as it arrives; columns
  Arrow cannot write in COPY's form (timestamps, binary, nested types)
  become strings in the JVM first. Gated behind an import-try since no
  Postgres driver ships in this harness.
- ``write_parquet``: the harness-checkable sink.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from gcs2postgres_spark.reconcile import quoted_name

# Same plain-identifier guard as reconcile.fetch_target_schema_jdbc: table
# and column names are config-controlled strings interpolated into SQL, and
# the write path is the dangerous side — validate before building COPY SQL.
_PLAIN_IDENTIFIER_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_TABLE_IDENTIFIER_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?$")


def _check_copy_identifiers(table: str, columns: list[str]) -> None:
    if not _TABLE_IDENTIFIER_RE.match(table):
        raise ValueError(f"unsafe table identifier for COPY: {table!r}")
    for c in columns:
        if not _PLAIN_IDENTIFIER_RE.match(c):
            raise ValueError(f"unsafe column identifier for COPY: {c!r}")


def write_parquet(df: DataFrame, path: str, mode: str = "append", partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    mode: str = "append",
    batchsize: int = 10_000,
    num_partitions: int | None = None,
) -> None:
    """Partition-wise JDBC append (replaces the reference's single
    whole-table CopyFrom, src/db/db.go:175-180)."""
    props = dict(properties or {})
    props.setdefault("batchsize", str(batchsize))
    out = df
    if num_partitions is not None:
        out = df.coalesce(num_partitions) if num_partitions < df.rdd.getNumPartitions() else df
    out.write.jdbc(url, table, mode=mode, properties=props)


def copy_sql(table: str, columns: list[str]) -> str:
    """The COPY statement for the partition sink (identifier-validated;
    reference src/db/db.go:175-180 issues the equivalent pgx.CopyFrom)."""
    _check_copy_identifiers(table, columns)
    return f"COPY {table} ({', '.join(columns)}) FROM STDIN (FORMAT csv)"


def make_copy_partition(dsn: str, table: str, columns: list[str], connect_factory=None):
    """Build the per-partition COPY function for ``mapInArrow``: Arrow
    record batches -> COPY csv, written by ``pyarrow.csv`` in C++ ->
    ``COPY ... FROM STDIN``. The connection opens on the first non-empty
    batch (an empty partition never connects) and each batch is sent as
    it arrives, so a partition holds at most one batch in memory. The
    function returns no rows.

    Arrow's writer gives COPY's forms: NULL is an unquoted empty field,
    every string cell is quoted (so ``""`` is the empty string and the
    end-of-data marker ``\\.`` never stands alone on a line), booleans
    are ``true``/``false``. Unlike ``pa.array`` it never imports pandas
    (see operators/arrowbuf.py).

    Factory-nested so cloudpickle ships it by value to executors that
    may not have this package on their sys.path (the
    operators/multimodal.py ``_make_decoder`` reasoning).
    ``connect_factory`` defaults to ``psycopg.connect`` (imported lazily
    ON THE EXECUTOR); tests inject a client with the same
    context-manager protocol."""
    stmt = copy_sql(table, columns)

    def copy_partition(batches):
        import itertools

        import pyarrow as pa
        import pyarrow.csv as pacsv

        connect = connect_factory
        if connect is None:
            import psycopg

            connect = psycopg.connect
        batches = (b for b in batches if b.num_rows)
        first = next(batches, None)
        if first is None:
            return iter(())  # empty partition: never open a connection
        options = pacsv.WriteOptions(include_header=False, quoting_style="needed")
        with connect(dsn) as conn, conn.cursor() as cur:
            # an exception below leaves the copy context with it, so
            # the server gets CopyFail and loads nothing
            with cur.copy(stmt) as cp:
                for batch in itertools.chain((first,), batches):
                    out = pa.BufferOutputStream()
                    pacsv.write_csv(batch, out, options)
                    cp.write(out.getvalue())
            conn.commit()
        return iter(())

    return copy_partition


def write_jdbc_copy(
    df: DataFrame, dsn: str, table: str, columns: list[str], connect_factory=None
) -> None:
    """COPY-protocol sink: each executor partition opens its own connection
    and streams its Arrow batches as COPY csv with COPY ... FROM STDIN
    (~10× plain JDBC inserts). Requires psycopg on executors (or an
    injected connect_factory); psycopg is not a dependency of this
    package, so without it the default raises with a clear message. The
    tests drive the whole path through an injected wire client."""
    if connect_factory is None:
        try:
            import psycopg  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "write_jdbc_copy needs psycopg on executors; use write_jdbc here"
            ) from e
    copy = make_copy_partition(dsn, table, columns, connect_factory)
    # the noop sink runs the job for its side effect; nothing reaches the driver
    _copy_columns(df).mapInArrow(copy, _NO_ROWS).write.format("noop").mode("overwrite").save()


def _copy_columns(df: DataFrame) -> DataFrame:
    """``df`` with every column Arrow's CSV writer cannot write in COPY's
    form turned into a string in the JVM, in one projection:

    - ``TIMESTAMP`` and ``TIMESTAMP_NTZ``: ``cast(ts as string)``, the
      session-zone form COPY reads for ``timestamp``
      (``2024-01-01 00:00:00``, fractional seconds without trailing
      zeros). A Python worker would format in its own local zone;
    - ``BINARY``: ``\\x`` and lower-case hex, Postgres' bytea input form
      (Arrow raises ``Invalid UTF8 payload`` on raw bytes);
    - any other type that is not a number, boolean, string or date
      (arrays, maps, structs, intervals): ``cast(c as string)``.

    A frame without such a column is returned as is, with no extra
    projection."""
    fields = df.schema.fields
    if all(isinstance(f.dataType, _CSV_NATIVE) for f in fields):
        return df
    exprs = []
    for f in fields:
        c = quoted_name(f.name)
        if isinstance(f.dataType, _CSV_NATIVE):
            exprs.append(c)
        elif isinstance(f.dataType, T.BinaryType):
            exprs.append(f"concat(chr(92), 'x', lower(hex({c}))) AS {c}")  # chr(92): a backslash
        else:
            exprs.append(f"CAST({c} AS STRING) AS {c}")
    return df.selectExpr(*exprs)


# The COPY function's output schema (it returns no rows); a StructType,
# not DDL text, which mapInArrow would parse in the JVM on every call.
_NO_ROWS = T.StructType([T.StructField("rows", T.LongType())])

# Types pyarrow.csv writes in the form COPY reads.
_CSV_NATIVE = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.StringType, T.DateType,
)
