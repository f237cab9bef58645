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
  COPY via foreachPartition, gated behind an import-try since no
  Postgres driver ships in this harness.
- ``write_parquet``: the harness-checkable sink.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

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


def _copy_serializers():
    """COPY csv cell/line serializers, built as ``<locals>`` closures so
    cloudpickle ships them BY VALUE into the foreachPartition closure
    (module-level functions pickle by reference and break on executors
    that don't have this package on sys.path — the _make_decoder
    lesson). The module-level ``copy_csv_cell``/``copy_csv_line`` below
    are the same objects, for unit tests and direct callers."""

    def cell(v) -> str:
        # One value in Postgres COPY csv form. Hand-rolled because
        # Python's csv.writer CANNOT express COPY's NULL convention:
        # COPY (FORMAT csv) reads an UNQUOTED empty field as NULL and a
        # QUOTED empty field ("") as the empty string, while csv.writer
        # emits both None and "" as the same unquoted empty field —
        # silently loading empty strings as NULL. Here: None → unquoted
        # empty; bool → t/f; bytes → bytea hex form; date/timestamp/
        # Decimal via str() (the ISO/plain form COPY accepts); quoted
        # iff empty or containing delimiter/quote/newline, with "
        # doubled per the csv quoting rule.
        if v is None:
            return ""
        if v is True:
            return "t"
        if v is False:
            return "f"
        if isinstance(v, bytes):
            s = "\\x" + v.hex()
        else:
            s = str(v)
        # '\.' must be quoted too: on PostgreSQL < 17 an unquoted line
        # consisting solely of \. terminates COPY input, so a
        # single-column row holding that value would silently truncate
        # the load (documented COPY CSV caveat).
        if s == "" or s == "\\." or any(c in s for c in (",", '"', "\n", "\r")):
            return '"' + s.replace('"', '""') + '"'
        return s

    def line(row) -> str:
        # One COPY csv input line (ordered per the COPY column list —
        # callers pass rows already column-resolved by reconcile).
        return ",".join(cell(v) for v in row) + "\n"

    return cell, line


copy_csv_cell, copy_csv_line = _copy_serializers()


def make_copy_partition(dsn: str, table: str, columns: list[str], connect_factory=None):
    """Build the per-partition COPY function (partition iterator → CSV
    lines → COPY ... FROM STDIN). The connection opens on the first row
    (an empty partition never connects) and each ~1 MiB of lines is
    sent as it fills, so a partition is never held whole in memory.
    Factory-nested so cloudpickle ships it by value to executors
    (workers may not have this package on their sys.path — same
    reasoning as operators/multimodal.py _make_decoder).

    ``connect_factory`` defaults to ``psycopg.connect`` (imported lazily
    ON THE EXECUTOR); tests inject a mock with the same context-manager
    protocol, which is what lets the reference's flagship sink path
    (pgx.CopyFrom, reference src/db/db.go:175-180) have executable
    evidence without a live Postgres. Statement assembly and row
    serialization live in copy_sql/copy_csv_line (unit-tested incl. the
    NULL-vs-empty-string and quote-escaping edges), so the only surface
    this closure adds is the socket itself."""
    stmt = copy_sql(table, columns)
    _serialize = copy_csv_line

    def copy_partition(rows) -> None:
        import itertools

        connect = connect_factory
        if connect is None:
            import psycopg

            connect = psycopg.connect
        rows = iter(rows)
        first = next(rows, None)
        if first is None:
            return  # empty partition: never open a connection
        with connect(dsn) as conn, conn.cursor() as cur:
            # an exception below leaves the copy context with it, so
            # the server gets CopyFail and loads nothing
            with cur.copy(stmt) as cp:
                buf: list[str] = []
                size = 0
                for row in itertools.chain((first,), rows):
                    line = _serialize(row)
                    buf.append(line)
                    size += len(line)
                    if size >= 1 << 20:
                        cp.write("".join(buf))
                        buf, size = [], 0
                if buf:
                    cp.write("".join(buf))
            conn.commit()

    return copy_partition


def write_jdbc_copy(
    df: DataFrame, dsn: str, table: str, columns: list[str], connect_factory=None
) -> None:
    """COPY-protocol sink: each executor partition opens its own connection
    and streams rows with COPY ... FROM STDIN (~10× plain JDBC inserts).
    Requires psycopg on executors (or an injected connect_factory) —
    psycopg is absent in this harness, so the default raises with a clear
    message; the plumbing is fully exercised by tests via the factory.

    ``TIMESTAMP`` columns are formatted as strings in the JVM, in the
    session zone, before the rows reach Python: PySpark builds their
    ``datetime`` cells with ``fromtimestamp``, i.e. in the Python
    worker's local zone, which need not be the session's."""
    if connect_factory is None:
        try:
            import psycopg  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "write_jdbc_copy needs psycopg on executors; use write_jdbc here"
            ) from e
    df = _session_zone_timestamps(df)
    df.foreachPartition(make_copy_partition(dsn, table, columns, connect_factory))


def _session_zone_timestamps(df: DataFrame) -> DataFrame:
    """``df`` with each top-level TIMESTAMP column cast to its session-zone
    string (``cast(ts as string)``: ``2024-01-01 00:00:00``, fractional
    seconds without trailing zeros), the form COPY reads for
    ``timestamp``. A frame without such a column is returned as is, with
    no extra projection."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    fields = df.schema.fields
    if not any(isinstance(f.dataType, TimestampType) for f in fields):
        return df
    cols = []
    for f in fields:
        c = F.col("`" + f.name.replace("`", "``") + "`")
        cols.append(c.cast("string").alias(f.name) if isinstance(f.dataType, TimestampType) else c)
    return df.select(*cols)
