"""Minimal PostgreSQL v3 wire-protocol COPY harness for tests.

Two halves, both speaking REAL length-prefixed v3 framing over a real
TCP socket (loopback):

- ``MiniPGServer``: an in-process server thread accepting connections
  one after another, answering ``COPY ... FROM STDIN`` Query messages
  with CopyInResponse, collecting CopyData payloads until CopyDone (or
  dropping them on CopyFail), and recording everything it saw
  (connections, startup params, query text, raw payload bytes).
- ``wire_connect_factory``: a psycopg-shaped client (connection/cursor/
  copy context managers, exactly the surface
  ``sinks.make_copy_partition`` uses) that performs the client side:
  StartupMessage -> AuthenticationOk/ReadyForQuery, Query ->
  CopyInResponse, CopyData stream, CopyDone -> CommandComplete,
  ``COMMIT`` on commit, Terminate on close.
- ``decode_copy_csv``: the payload back into rows by COPY csv rules.

This is what lets the COPY sink (reference src/db/db.go:175-180's
pgx.CopyFrom equivalent) have byte-level executable evidence without a
live Postgres or psycopg: the serializer's output crosses an actual
socket inside actual protocol frames, so framing bugs (length prefixes,
UTF-8 encoding, chunk splits mid-cell) would fail here, not in prod.

Message formats per the PostgreSQL protocol docs (public):
 startup: int32 len, int32 196608, (key\\0value\\0)*, \\0
 typed:   byte tag, int32 len(includes itself), payload
 CopyInResponse 'G': int8 overall-format, int16 ncols, int16 fmt*ncols
"""

from __future__ import annotations

import socket
import struct
import threading


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError(f"peer closed after {len(buf)}/{n} bytes")
        buf += chunk
    return buf


def _typed(tag: bytes, payload: bytes = b"") -> bytes:
    return tag + struct.pack("!I", 4 + len(payload)) + payload


class MiniPGServer:
    """COPY-IN server. Start with ``with MiniPGServer() as srv:``;
    srv.port is the ephemeral port. Connections are served one at a
    time, in arrival order. After the clients finish,
    ``srv.copy_payload`` holds the CopyData bytes of every completed
    COPY, ``srv.copy_fails`` the message of every CopyFail (whose data
    is dropped), ``srv.queries`` the Query texts received and
    ``srv.connections`` the number of connections."""

    def __init__(self, ncols: int = 1):
        self.ncols = ncols
        self.copy_payload = b""
        self.copy_fails: list[bytes] = []
        self.queries: list[str] = []
        self.connections = 0
        self.startup_params: dict[str, str] = {}
        self.protocol_version: int | None = None
        self.got_copy_done = False
        self.got_terminate = False
        self.error: Exception | None = None

    def __enter__(self):
        self._listener = socket.create_server(("127.0.0.1", 0))
        self._listener.settimeout(0.1)  # lets the server see _closing
        self._closing = threading.Event()
        self.port = self._listener.getsockname()[1]
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *a):
        self._closing.set()
        self._thread.join(timeout=10)
        self._listener.close()
        if self.error is not None:
            raise self.error
        return False

    def _serve(self) -> None:
        try:
            while not self._closing.is_set():
                try:
                    conn, _ = self._listener.accept()
                except TimeoutError:
                    continue
                conn.settimeout(None)
                self.connections += 1
                with conn:
                    self._handle(conn)
        except Exception as e:  # surfaced by __exit__
            self.error = e

    def _handle(self, conn: socket.socket) -> None:
        # startup message (untyped: length first)
        (length,) = struct.unpack("!I", _recv_exact(conn, 4))
        body = _recv_exact(conn, length - 4)
        (self.protocol_version,) = struct.unpack("!I", body[:4])
        parts = body[4:].split(b"\x00")
        for k, v in zip(parts[0:-2:2], parts[1:-2:2]):
            if k:
                self.startup_params[k.decode()] = v.decode()
        # AuthenticationOk + ReadyForQuery(idle)
        conn.sendall(_typed(b"R", struct.pack("!I", 0)))
        conn.sendall(_typed(b"Z", b"I"))

        while True:
            tag = conn.recv(1)
            if not tag or tag == b"X":  # Terminate (or abrupt close)
                self.got_terminate = tag == b"X"
                return
            (length,) = struct.unpack("!I", _recv_exact(conn, 4))
            payload = _recv_exact(conn, length - 4)
            if tag == b"Q":
                sql = payload.rstrip(b"\x00").decode()
                self.queries.append(sql)
                if "COPY" in sql.upper() and "FROM STDIN" in sql.upper():
                    # CopyInResponse: text overall format, per-col text
                    conn.sendall(
                        _typed(
                            b"G",
                            struct.pack("!bH", 0, self.ncols)
                            + struct.pack(f"!{self.ncols}H", *([0] * self.ncols)),
                        )
                    )
                    self._copy_in(conn)
                else:  # e.g. COMMIT — empty result
                    conn.sendall(_typed(b"C", sql.split()[0].upper().encode() + b"\x00"))
                    conn.sendall(_typed(b"Z", b"I"))
            else:
                raise AssertionError(f"unexpected message tag {tag!r}")

    def _copy_in(self, conn: socket.socket) -> None:
        data = b""
        while True:
            tag = _recv_exact(conn, 1)
            (length,) = struct.unpack("!I", _recv_exact(conn, 4))
            payload = _recv_exact(conn, length - 4)
            if tag == b"d":  # CopyData
                data += payload
            elif tag == b"c":  # CopyDone
                self.got_copy_done = True
                self.copy_payload += data
                # the record count of COPY csv: a raw newline count would
                # overcount rows whose QUOTED cells embed newlines
                self.copy_row_count = len(decode_copy_csv(self.copy_payload))
                conn.sendall(_typed(b"C", f"COPY {self.copy_row_count}\x00".encode()))
                conn.sendall(_typed(b"Z", b"I"))
                return
            elif tag == b"f":  # CopyFail: the COPY loads nothing
                self.copy_fails.append(payload.rstrip(b"\x00"))
                conn.sendall(_typed(b"E", b"SERROR\x00MCOPY aborted\x00\x00") + _typed(b"Z", b"E"))
                return
            else:
                raise AssertionError(f"unexpected tag during COPY: {tag!r}")


def decode_copy_csv(payload: bytes) -> list[list[str | None]]:
    """Rows of a COPY (FORMAT csv) payload, by COPY's rules: an unquoted
    empty field is NULL and a quoted one the empty string, ``""`` inside
    quotes is one quote, quoted fields may hold delimiters and newlines,
    and an unquoted line holding only ``\\.`` ends the data (as it does
    before PostgreSQL 17)."""
    text = payload.decode("utf-8")
    rows: list[list[str | None]] = []
    row: list[str | None] = []
    i, n = 0, len(text)
    while i < n:
        if text[i] == '"':
            parts, j = [], i + 1
            while True:
                k = text.index('"', j)
                parts.append(text[j:k])
                if not text.startswith('"', k + 1):
                    break
                parts.append('"')
                j = k + 2
            row.append("".join(parts))
            i = k + 1
        else:
            k = min(p for p in (text.find(",", i), text.find("\n", i), n) if p >= 0)
            if not row and text[i:k] == "\\." and text.startswith("\n", k):
                return rows  # end-of-data marker
            row.append(text[i:k] or None)
            i = k
        sep = text[i] if i < n else "\n"
        if sep not in ",\n":
            raise ValueError(f"COPY csv: {sep!r} after a quoted field at {i}")
        i += 1
        if sep == "\n":
            rows.append(row)
            row = []
    return rows


class _WireCopy:
    def __init__(self, sock: socket.socket, fail_at_write: int | None = None):
        self._sock = sock
        self._fail_at_write = fail_at_write
        self._writes = 0

    def __enter__(self):
        return self

    def write(self, data) -> None:
        self._writes += 1
        if self._writes == self._fail_at_write:
            raise RuntimeError("write failed mid-partition")
        b = data.encode("utf-8") if isinstance(data, str) else bytes(data)
        self._sock.sendall(_typed(b"d", b))

    def __exit__(self, exc_type, *a):
        if exc_type is not None:
            self._sock.sendall(_typed(b"f", b"aborted\x00"))
            # the server answers CopyFail with ErrorResponse, ReadyForQuery
            _expect_tags(self._sock, [b"E"])
            _expect_tags(self._sock, [b"Z"])
            return False
        self._sock.sendall(_typed(b"c"))
        # CommandComplete then ReadyForQuery
        _expect_tags(self._sock, [b"Z"])
        return False


class _WireCursor:
    def __init__(self, sock: socket.socket, fail_at_write: int | None = None):
        self._sock = sock
        self._fail_at_write = fail_at_write

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False

    def copy(self, stmt: str) -> _WireCopy:
        self._sock.sendall(_typed(b"Q", stmt.encode() + b"\x00"))
        tag = _expect_tags(self._sock, [b"G"])
        assert tag == b"G"
        return _WireCopy(self._sock, self._fail_at_write)


def _expect_tags(sock: socket.socket, stop_tags: list[bytes]) -> bytes:
    """Read typed messages until one of stop_tags; error on an 'E' that
    is not one of them."""
    while True:
        tag = _recv_exact(sock, 1)
        (length,) = struct.unpack("!I", _recv_exact(sock, 4))
        payload = _recv_exact(sock, length - 4)
        if tag in stop_tags:
            return tag
        if tag == b"E":
            raise RuntimeError(f"server error: {payload!r}")


class _WireConn:
    def __init__(
        self, host: str, port: int, user: str = "test", dbname: str = "test",
        fail_at_write: int | None = None,
    ):
        self._fail_at_write = fail_at_write
        self._sock = socket.create_connection((host, port))
        body = struct.pack("!I", 196608)  # protocol 3.0
        for k, v in (("user", user), ("database", dbname)):
            body += k.encode() + b"\x00" + v.encode() + b"\x00"
        body += b"\x00"
        self._sock.sendall(struct.pack("!I", 4 + len(body)) + body)
        _expect_tags(self._sock, [b"Z"])  # Auth Ok ... ReadyForQuery

    def __enter__(self):
        return self

    def cursor(self) -> _WireCursor:
        return _WireCursor(self._sock, self._fail_at_write)

    def commit(self) -> None:
        self._sock.sendall(_typed(b"Q", b"COMMIT\x00"))
        _expect_tags(self._sock, [b"Z"])

    def __exit__(self, *a):
        self._sock.sendall(b"X" + struct.pack("!I", 4))
        self._sock.close()
        return False


def wire_connect_factory(dsn: str) -> _WireConn:
    """psycopg.connect-shaped factory over the raw v3 wire client.
    Understands ``host=H port=P`` keyword DSNs (the subset the tests
    emit), plus ``fail_at_write=N``: the N-th write of each COPY raises,
    as a partition that fails mid-stream would."""
    kv = dict(part.split("=", 1) for part in dsn.split() if "=" in part)
    fail = kv.get("fail_at_write")
    return _WireConn(
        kv.get("host", "127.0.0.1"), int(kv["port"]), fail_at_write=int(fail) if fail else None
    )
