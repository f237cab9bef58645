"""The COPY sink, end to end: ``write_jdbc_copy`` over Spark's Arrow
batches into ``tests/pg_wire.MiniPGServer``, with the payload decoded
back by COPY csv rules (``pg_wire.decode_copy_csv``).

COPY (FORMAT csv) reads an unquoted empty field as NULL and a quoted
empty field as '', so a writer that emits both the same way silently
loads empty strings as NULL. pyarrow's CSV writer quotes every string
cell and leaves NULL unquoted; these tests pin that, the quoting edges
and the text form of every scalar type.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pyarrow as pa
import pytest

from gcs2postgres_spark.sinks import copy_sql, make_copy_partition, write_jdbc_copy
from tests.pg_wire import MiniPGServer, decode_copy_csv, wire_connect_factory


def _copy(df):
    """``df`` through write_jdbc_copy into a fresh MiniPGServer."""
    with MiniPGServer(ncols=len(df.columns)) as srv:
        write_jdbc_copy(
            df,
            f"host=127.0.0.1 port={srv.port}",
            "public.tgt",
            df.columns,
            connect_factory=wire_connect_factory,
        )
    return srv


def test_null_vs_empty_string_are_distinct(spark):
    df = spark.createDataFrame([(None, "", None)], "a string, b string, c string").coalesce(1)
    srv = _copy(df)
    assert srv.copy_payload == b',"",\n'  # unquoted empty = NULL, "" = ''
    assert decode_copy_csv(srv.copy_payload) == [[None, "", None]]


def test_quoting_and_escaping(spark):
    values = ["plain", "has,comma", 'has"quote', "line\nbreak", "cr\rhere", "\\.", "a\\.b"]
    df = spark.createDataFrame(list(enumerate(values)), "id int, s string").coalesce(1)
    srv = _copy(df)
    rows = decode_copy_csv(srv.copy_payload)
    assert [r[1] for r in sorted(rows, key=lambda r: int(r[0]))] == values
    # \. alone on a line ends COPY input on PostgreSQL < 17, so it must
    # be quoted; the decoder would stop at an unquoted one
    assert b'"\\."' in srv.copy_payload and b'"a\\.b"' in srv.copy_payload
    # a one-column row holding only the marker does not end the data
    one = spark.createDataFrame([("\\.",), ("after",)], "s string").coalesce(1)
    assert decode_copy_csv(_copy(one).copy_payload) == [["\\."], ["after"]]


def test_scalar_type_forms(spark):
    df = spark.createDataFrame(
        [(True, False, 42, -1.5, Decimal("12.340"), dt.date(2024, 2, 29),
          dt.datetime(2024, 2, 29, 12, 30, 5), bytearray(b"\x00\xff"), "café")],
        "t boolean, f boolean, i long, x double, d decimal(10,3), day date,"
        " ts timestamp, b binary, u string",
    ).coalesce(1)
    [row] = decode_copy_csv(_copy(df).copy_payload)
    assert row == [
        "true", "false",  # Postgres boolin reads both
        "42", "-1.5", "12.340", "2024-02-29", "2024-02-29 12:30:05",
        "\\x00ff",  # bytea hex form
        "café",  # multi-byte UTF-8 across framing
    ]


def test_copy_sql_column_order_and_guards():
    assert (
        copy_sql("public.t", ["b", "a"])
        == "COPY public.t (b, a) FROM STDIN (FORMAT csv)"
    )
    with pytest.raises(ValueError, match="unsafe table"):
        copy_sql("t;DROP", ["a"])
    with pytest.raises(ValueError, match="unsafe column"):
        copy_sql("t", ["a", "b c"])


def test_copy_partition_pickles_by_value():
    # the batch function must ship by value to executors (workers may
    # not have this package importable); cloudpickle pickles <locals>
    # closures by value and module-level defs by reference
    assert "<locals>" in make_copy_partition("dsn", "t", ["a"]).__qualname__


class _FakeCopy:
    def __init__(self, log):
        self.log = log

    def __enter__(self):
        return self

    def __exit__(self, exc_type, *a):
        # psycopg sends CopyFail when the block exits with an exception
        self.log["copy_exit"] = exc_type
        return False

    def write(self, chunk):
        self.log.setdefault("chunks", []).append(bytes(chunk))


class _FakeCursor:
    def __init__(self, log):
        self.log = log

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False

    def copy(self, stmt):
        self.log["stmt"] = stmt
        return _FakeCopy(self.log)


class _FakeConn:
    def __init__(self, log):
        self.log = log

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False

    def cursor(self):
        return _FakeCursor(self.log)

    def commit(self):
        self.log["committed"] = True


def test_copy_partition_end_to_end_with_reconciled_rows(spark):
    """OP-6 lenient casts feeding the COPY sink: the payload Postgres
    would receive, decoded."""
    from gcs2postgres_spark.reconcile import reconcile_to_target

    df = spark.createDataFrame(
        [
            (1, 2**40, "ok", ""),
            (2, 3, None, "x,y"),
        ],
        "id long, big long, s string, t string",
    )
    # OP-6: int64 → int32 truncates; missing target col → NULL
    out = reconcile_to_target(
        df,
        [("id", "integer"), ("big", "integer"), ("s", "text"), ("t", "text"),
         ("absent", "text")],
    ).coalesce(1)
    want = [[str(v) if v is not None else None for v in r] for r in out.orderBy("id").collect()]
    srv = _copy(out)
    assert srv.queries == [
        "COPY public.tgt (id, big, s, t, absent) FROM STDIN (FORMAT csv)",
        "COMMIT",
    ]
    rows = sorted(decode_copy_csv(srv.copy_payload), key=lambda r: int(r[0]))
    assert rows == want
    # 2^40 truncated to int32 (pinned in tests/test_reconcile.py); the
    # empty string survives as '' and NULLs (s of row 2, absent) as NULL
    assert rows[0][1] == "0" and rows[0][3] == ""
    assert rows[1][2] is None and rows[0][4] is None and rows[1][4] is None


def test_copy_partition_empty_iterator_never_connects(spark):
    calls = []
    fn = make_copy_partition("dsn", "t", ["a"], connect_factory=lambda dsn: calls.append(dsn))
    fn(iter([]))
    fn(iter([pa.RecordBatch.from_pydict({"a": pa.array([], pa.int64())})]))
    assert calls == []
    # through Spark: 4 partitions, only the first holds rows
    df = spark.range(0, 8, 1, 4).filter("id < 2")
    srv = _copy(df)
    assert srv.connections == 1
    assert decode_copy_csv(srv.copy_payload) == [["0"], ["1"]]


def test_copy_partition_streams_bounded_buffers():
    """Each Arrow batch goes out as one write while the batches arrive;
    the partition is never held whole, and a failure mid-partition
    aborts the COPY without a commit."""
    batches = [
        pa.RecordBatch.from_pydict(
            {"a": pa.array(range(i, i + 1000), pa.int64()),
             "b": pa.array([f"row-{j:08d}-" + "x" * 60 for j in range(i, i + 1000)])}
        )
        for i in range(0, 5000, 1000)
    ]
    log: dict = {}
    fn = make_copy_partition("dsn", "t", ["a", "b"], connect_factory=lambda dsn: _FakeConn(log))
    fn(iter(batches))
    assert len(log["chunks"]) == len(batches)
    rows = decode_copy_csv(b"".join(log["chunks"]))
    assert rows == [[str(j), f"row-{j:08d}-" + "x" * 60] for j in range(5000)]
    assert log["copy_exit"] is None and log["committed"] is True

    def failing():
        yield from batches[:3]
        raise RuntimeError("source failed mid-partition")

    log = {}
    with pytest.raises(RuntimeError, match="mid-partition"):
        fn(failing())
    assert len(log["chunks"]) == 3  # sent before it failed
    assert log["copy_exit"] is RuntimeError
    assert "committed" not in log


def test_copy_partition_failure_sends_copyfail_and_never_commits(spark):
    """A partition whose COPY fails after its first batch went out leaves
    the copy block with the exception: the server gets CopyFail, and no
    COMMIT follows."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        df = spark.range(0, 500, 1, 1)
        with MiniPGServer() as srv:
            with pytest.raises(Exception, match="write failed mid-partition"):
                write_jdbc_copy(
                    df, f"host=127.0.0.1 port={srv.port} fail_at_write=2", "t",
                    df.columns, connect_factory=wire_connect_factory,
                )
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    # every attempt of the task aborted its COPY; nothing was loaded
    assert srv.connections >= 1
    assert srv.copy_fails == [b"aborted"] * srv.connections
    assert "COMMIT" not in srv.queries
    assert srv.copy_payload == b""


def test_copy_partition_over_real_socket_v3_framing(spark):
    """The sink's bytes crossing an ACTUAL socket inside actual
    PostgreSQL v3 protocol frames (StartupMessage → Query →
    CopyInResponse → CopyData* → CopyDone → CommandComplete → COMMIT),
    via tests/pg_wire.py's in-process server and psycopg-shaped raw-wire
    client. A framing bug (length off-by-one, unterminated query string,
    chunk split mid-frame) fails here, not against a prod database."""
    rows = [
        (1, None, ""),          # NULL vs empty-string must stay distinct
        (2, "\\.", "a,b"),      # \. alone would TERMINATE pre-PG17 COPY
        (3, 'he said "hi"', "line1\nline2"),
        (4, "plain", "café"),   # multi-byte UTF-8 across framing
    ]
    df = spark.createDataFrame(rows, "id int, a string, b string").coalesce(1)
    srv = _copy(df)
    assert srv.protocol_version == 196608  # v3.0
    assert srv.startup_params["user"] == "test"
    assert srv.queries == [
        "COPY public.tgt (id, a, b) FROM STDIN (FORMAT csv)",
        "COMMIT",
    ]
    assert srv.got_copy_done and srv.got_terminate
    got = sorted(decode_copy_csv(srv.copy_payload), key=lambda r: int(r[0]))
    assert got == [[str(i), a, b] for i, a, b in rows]
    # the server's CommandComplete count is csv-record-based: 4 logical
    # rows, not the 5 physical newlines (embedded \n in row 3's cell)
    assert srv.copy_row_count == 4


def test_copy_wire_client_chunks_split_mid_cell():
    """Frame boundaries are independent of csv cell boundaries: force
    1-byte CopyData frames and confirm the server reassembles the same
    logical stream — COPY's contract (protocol docs: data stream is a
    byte sequence; message boundaries carry no meaning)."""
    from tests.pg_wire import _WireConn

    with MiniPGServer(ncols=2) as srv:
        with _WireConn("127.0.0.1", srv.port) as conn, conn.cursor() as cur:
            payload = '1,"x,""y"\n2,\n'
            with cur.copy("COPY t (a, b) FROM STDIN (FORMAT csv)") as cp:
                for ch in payload:  # 1 char per CopyData frame
                    cp.write(ch)
            conn.commit()
    assert decode_copy_csv(srv.copy_payload) == [["1", 'x,"y'], ["2", None]]


def test_copy_sink_writes_timestamps_in_session_zone(spark):
    """TIMESTAMP cells reach COPY in the SESSION zone, whatever the
    Python worker's local zone is: the sink formats them in the JVM. A
    TZ entry in sc.environment starts a worker pool with that zone; the
    session zone stays UTC."""
    from gcs2postgres_spark.sinks import _copy_columns

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    df = spark.sql(
        "SELECT 1 AS id, timestamp'2024-01-01 00:00:00' AS ts,"
        " timestamp'2024-06-30 23:59:58.25' AS ts_frac,"
        " timestamp_ntz'2024-01-01 00:00:00' AS ntz, date'2024-01-01' AS d"
    ).coalesce(1)
    sc = spark.sparkContext
    sc.environment["TZ"] = "America/New_York"
    try:
        srv = _copy(df)
    finally:
        del sc.environment["TZ"]
    assert decode_copy_csv(srv.copy_payload) == [
        ["1", "2024-01-01 00:00:00", "2024-06-30 23:59:58.25", "2024-01-01 00:00:00", "2024-01-01"]
    ]
    # a frame with only Arrow-writable columns gets no extra projection
    no_ts = df.drop("ts", "ts_frac", "ntz")
    assert _copy_columns(no_ts) is no_ts


def test_copy_sink_stringifies_nested_types(spark):
    df = spark.sql(
        "SELECT 1 AS id, array(1, 2) AS arr, named_struct('k', 'v') AS st,"
        " CAST(NULL AS BINARY) AS b, X'' AS empty_b"
    ).coalesce(1)
    assert decode_copy_csv(_copy(df).copy_payload) == [["1", "[1, 2]", "{v}", None, "\\x"]]
