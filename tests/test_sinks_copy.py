"""COPY-protocol serializer pins (round-6 verdict item: make the socket
the ONLY untested surface of write_jdbc_copy).

The serializer is hand-rolled because Python's csv.writer cannot
express COPY (FORMAT csv) NULL semantics: COPY reads an unquoted empty
field as NULL and a quoted empty field as '' — csv.writer emits both
None and '' identically, silently loading empty strings as NULL.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from gcs2postgres_spark.sinks import (
    copy_csv_cell,
    copy_csv_line,
    copy_sql,
    make_copy_partition,
)


def test_null_vs_empty_string_are_distinct():
    # the csv.writer failure mode this serializer exists to avoid
    assert copy_csv_cell(None) == ""  # unquoted empty = NULL to COPY
    assert copy_csv_cell("") == '""'  # quoted empty = empty string
    assert copy_csv_line([None, "", None]) == ',"",\n'


def test_quoting_and_escaping():
    assert copy_csv_cell("plain") == "plain"
    assert copy_csv_cell("has,comma") == '"has,comma"'
    assert copy_csv_cell('has"quote') == '"has""quote"'
    assert copy_csv_cell("line\nbreak") == '"line\nbreak"'
    assert copy_csv_cell("cr\rhere") == '"cr\rhere"'
    # \. alone on a line ends COPY input on PostgreSQL < 17 — must be
    # quoted so a single-column row can't silently truncate the load
    assert copy_csv_cell("\\.") == '"\\."'
    assert copy_csv_line(["\\."]) == '"\\."\n'
    assert copy_csv_cell("a\\.b") == "a\\.b"  # only the exact sentinel
    # round-trippable by a strict csv reader with doubled quotes
    import csv
    import io

    line = copy_csv_line(["a,b", 'c"d', None, "", "x"])
    got = next(csv.reader(io.StringIO(line)))
    assert got == ["a,b", 'c"d', "", "", "x"]


def test_scalar_type_forms():
    assert copy_csv_cell(True) == "t"
    assert copy_csv_cell(False) == "f"
    assert copy_csv_cell(42) == "42"
    assert copy_csv_cell(-1.5) == "-1.5"
    assert copy_csv_cell(Decimal("12.340")) == "12.340"
    assert copy_csv_cell(dt.date(2024, 2, 29)) == "2024-02-29"
    assert copy_csv_cell(dt.datetime(2024, 2, 29, 12, 30, 5)) == (
        "2024-02-29 12:30:05"
    )
    assert copy_csv_cell(b"\x00\xff") == "\\x00ff"


def test_copy_sql_column_order_and_guards():
    assert (
        copy_sql("public.t", ["b", "a"])
        == "COPY public.t (b, a) FROM STDIN (FORMAT csv)"
    )
    with pytest.raises(ValueError, match="unsafe table"):
        copy_sql("t;DROP", ["a"])
    with pytest.raises(ValueError, match="unsafe column"):
        copy_sql("t", ["a", "b c"])


def test_serializers_pickle_by_value():
    # the closures must ship by value to executors (workers may not have
    # this package importable); cloudpickle pickles <locals> closures by
    # value and module-level defs by reference
    assert "<locals>" in copy_csv_line.__qualname__
    assert "<locals>" in copy_csv_cell.__qualname__


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
        self.log.setdefault("chunks", []).append(chunk)


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
    """Drive the full per-partition path — OP-6 lenient casts feeding the
    serializer feeding the (fake) COPY socket — and parse the stream back
    with a strict csv reader to assert what Postgres would receive."""
    import csv
    import io

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
    )
    rows = [tuple(r) for r in out.orderBy("id").collect()]
    log: dict = {}
    fn = make_copy_partition(
        "dsn://ignored", "public.tgt", ["id", "big", "s", "t", "absent"],
        connect_factory=lambda dsn: _FakeConn(log),
    )
    fn(iter(rows))
    assert log["stmt"] == (
        "COPY public.tgt (id, big, s, t, absent) FROM STDIN (FORMAT csv)"
    )
    assert log["committed"] is True
    stream = "".join(log["chunks"])
    parsed = list(csv.reader(io.StringIO(stream)))
    # 2^40 truncated to int32 (lenient-cast semantics pinned in
    # tests/test_reconcile.py); empty string survives as quoted ""
    assert parsed[0][0] == "1" and parsed[1][0] == "2"
    assert parsed[0][1] == str(rows[0][1])  # whatever OP-6 produced
    assert '""' in stream.splitlines()[0]  # empty string, NOT NULL
    # NULLs (s of row 2, absent of both) are unquoted empties
    assert stream.splitlines()[1].split(",")[2] == ""


def test_copy_partition_empty_iterator_never_connects():
    calls = []
    fn = make_copy_partition(
        "dsn", "t", ["a"], connect_factory=lambda dsn: calls.append(dsn)
    )
    fn(iter([]))
    assert calls == []


def test_copy_partition_streams_bounded_buffers():
    """A partition larger than one buffer is sent in ~1 MiB writes as
    rows arrive, never held whole; the payload is the same byte for
    byte, and a failure mid-partition aborts the COPY."""
    rows = [(i, f"row-{i:08d}-" + "x" * 60, None) for i in range(60_000)]
    old_payload = "".join(copy_csv_line(r) for r in rows)
    assert len(old_payload) > 3 * (1 << 20)
    longest = max(len(copy_csv_line(r)) for r in rows)
    log: dict = {}
    fn = make_copy_partition(
        "dsn", "t", ["a", "b", "c"], connect_factory=lambda dsn: _FakeConn(log)
    )
    fn(iter(rows))
    chunks = log["chunks"]
    assert len(chunks) >= 3
    assert all(len(c) <= (1 << 20) + longest for c in chunks)
    assert "".join(chunks) == old_payload
    assert log["copy_exit"] is None and log["committed"] is True

    def failing():
        yield from rows[:30_000]
        raise RuntimeError("source failed mid-partition")

    log = {}
    with pytest.raises(RuntimeError, match="mid-partition"):
        fn(failing())
    assert log["chunks"]  # some rows were already sent when it failed
    assert log["copy_exit"] is RuntimeError
    assert "committed" not in log


def test_copy_partition_over_real_socket_v3_framing():
    """Round-8 closure of the COPY story's last gap: the serializer's
    bytes crossing an ACTUAL socket inside actual PostgreSQL v3
    protocol frames (StartupMessage → Query → CopyInResponse →
    CopyData* → CopyDone → CommandComplete), via tests/pg_wire.py's
    in-process server + psycopg-shaped raw-wire client. Exercises
    length-prefixed framing, UTF-8 encoding, and the r7 `\\.`
    end-of-data quoting under real transport — a framing bug (length
    off-by-one, unterminated query string, chunk split mid-frame)
    fails here, not against a prod database."""
    import csv
    import io

    from tests.pg_wire import MiniPGServer, wire_connect_factory

    rows = [
        (1, None, ""),          # NULL vs empty-string must stay distinct
        (2, "\\.", "a,b"),      # \. alone would TERMINATE pre-PG17 COPY
        (3, 'he said "hi"', "line1\nline2"),
        (4, "plain", "café"),   # multi-byte UTF-8 across framing
    ]
    with MiniPGServer(ncols=3) as srv:
        fn = make_copy_partition(
            f"host=127.0.0.1 port={srv.port}",
            "public.tgt",
            ["id", "a", "b"],
            connect_factory=wire_connect_factory,
        )
        fn(iter(rows))

    assert srv.protocol_version == 196608  # v3.0
    assert srv.startup_params["user"] == "test"
    assert srv.queries == [
        "COPY public.tgt (id, a, b) FROM STDIN (FORMAT csv)"
    ]
    assert srv.got_copy_done and srv.got_terminate

    stream = srv.copy_payload.decode("utf-8")
    # the \. cell is quoted on the wire (unquoted it ends COPY input)
    assert '"\\."' in stream
    parsed = list(csv.reader(io.StringIO(stream)))
    assert [p[0] for p in parsed] == ["1", "2", "3", "4"]
    assert parsed[0][1] == ""            # NULL → unquoted empty
    assert stream.splitlines()[0].split(",")[2] == '""'  # '' stays quoted
    assert parsed[1][1] == "\\." and parsed[1][2] == "a,b"
    assert parsed[2][1] == 'he said "hi"'
    assert parsed[2][2] == "line1\nline2"
    assert parsed[3][2] == "café"
    # the server's CommandComplete count is csv-record-based: 4 logical
    # rows, not the 5 physical newlines (embedded \n in row 3's cell)
    assert srv.copy_row_count == 4


def test_copy_wire_client_chunks_split_mid_cell():
    """Frame boundaries are independent of csv cell boundaries: force
    1-byte CopyData frames and confirm the server reassembles the same
    logical stream — COPY's contract (protocol docs: data stream is a
    byte sequence; message boundaries carry no meaning)."""
    import csv
    import io

    from tests.pg_wire import MiniPGServer, _WireConn

    with MiniPGServer(ncols=2) as srv:
        with _WireConn("127.0.0.1", srv.port) as conn, conn.cursor() as cur:
            payload = copy_csv_line([1, 'x,"y'] ) + copy_csv_line([2, None])
            with cur.copy("COPY t (a, b) FROM STDIN (FORMAT csv)") as cp:
                for ch in payload:  # 1 char per CopyData frame
                    cp.write(ch)
            conn.commit()
    parsed = list(csv.reader(io.StringIO(srv.copy_payload.decode())))
    assert parsed == [["1", 'x,"y'], ["2", ""]]


def test_copy_sink_writes_timestamps_in_session_zone(spark):
    """TIMESTAMP cells reach COPY in the SESSION zone, whatever the
    Python worker's local zone is: PySpark builds worker-side datetimes
    with fromtimestamp (local time), so the sink formats them in the
    JVM first. A TZ entry in sc.environment starts a worker pool with
    that zone; the session zone stays UTC."""
    from gcs2postgres_spark.sinks import _session_zone_timestamps, write_jdbc_copy
    from tests.pg_wire import MiniPGServer, wire_connect_factory

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    df = spark.sql(
        "SELECT 1 AS id, timestamp'2024-01-01 00:00:00' AS ts,"
        " timestamp'2024-06-30 23:59:58.25' AS ts_frac,"
        " timestamp_ntz'2024-01-01 00:00:00' AS ntz, date'2024-01-01' AS d"
    ).coalesce(1)
    sc = spark.sparkContext
    sc.environment["TZ"] = "America/New_York"
    try:
        with MiniPGServer(ncols=5) as srv:
            write_jdbc_copy(
                df,
                f"host=127.0.0.1 port={srv.port}",
                "public.tgt",
                df.columns,
                connect_factory=wire_connect_factory,
            )
    finally:
        del sc.environment["TZ"]
    assert srv.copy_payload.decode() == (
        "1,2024-01-01 00:00:00,2024-06-30 23:59:58.25,2024-01-01 00:00:00,2024-01-01\n"
    )
    # a frame without a TIMESTAMP column gets no extra projection
    no_ts = df.drop("ts", "ts_frac")
    assert _session_zone_timestamps(no_ts) is no_ts
