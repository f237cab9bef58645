"""A loopback PostgreSQL v3 COPY server and a psycopg-shaped client.

``CopyServer`` accepts any number of connections, one thread each, and
answers ``COPY ... FROM STDIN`` with CopyInResponse, then consumes
CopyData until CopyDone. It keeps Spark's cores free: per message it
only calls ``bytes.count(b"\\n")`` and ``len``, both C-speed. Each COPY
stream is recorded with its table, byte and newline counts and start
and end times. With ``capture`` on, the raw payload is kept per table
so ``decode_copy_csv`` can check it once, outside the timed passes.

``connect`` is the client side, shaped like ``psycopg.connect`` as far
as ``sinks.make_copy_partition`` uses it (connection and cursor context
managers, ``cursor.copy(stmt).write``, ``commit``). It is shipped to
Spark's Python workers by value.
"""

from __future__ import annotations

import re
import socket
import struct
import threading
import time
from dataclasses import dataclass, field

_COPY_RE = re.compile(rb"^\s*COPY\s+([A-Za-z0-9_.]+)", re.IGNORECASE)


def _typed(tag: bytes, payload: bytes = b"") -> bytes:
    return tag + struct.pack("!I", 4 + len(payload)) + payload


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    chunks = []
    while n:
        chunk = sock.recv(min(n, 1 << 20))
        if not chunk:
            raise ConnectionError("peer closed mid-message")
        chunks.append(chunk)
        n -= len(chunk)
    return b"".join(chunks)


@dataclass
class Stream:
    table: str
    start: float
    end: float = 0.0
    newlines: int = 0
    nbytes: int = 0


@dataclass
class CopyServer:
    """Start with ``with CopyServer() as srv``; ``srv.dsn`` is the DSN."""

    capture: bool = False
    streams: list[Stream] = field(default_factory=list)
    payloads: dict[str, list[bytes]] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)

    def __enter__(self):
        self._lock = threading.Lock()
        self._threads: list[threading.Thread] = []
        self._listener = socket.create_server(("127.0.0.1", 0), backlog=64)
        self._listener.settimeout(0.1)  # lets the acceptor see _closing
        self._closing = threading.Event()
        self.dsn = f"host=127.0.0.1 port={self._listener.getsockname()[1]} dbname=bench"
        self._acceptor = threading.Thread(target=self._accept, daemon=True)
        self._acceptor.start()
        return self

    def __exit__(self, *exc):
        self._closing.set()
        self._acceptor.join(timeout=10)
        self._listener.close()
        for t in self._threads:
            t.join(timeout=10)
        return False

    def take_streams(self) -> list[Stream]:
        """The finished streams since the last call."""
        with self._lock:
            out, self.streams = self.streams, []
        return out

    def _accept(self) -> None:
        while not self._closing.is_set():
            try:
                conn, _ = self._listener.accept()
            except TimeoutError:
                continue
            conn.settimeout(None)
            t = threading.Thread(target=self._serve, args=(conn,), daemon=True)
            self._threads.append(t)
            t.start()

    def _serve(self, conn: socket.socket) -> None:
        try:
            with conn:
                self._session(conn)
        except Exception as e:  # reported by the workload's check
            with self._lock:
                self.errors.append(f"{type(e).__name__}: {e}")

    def _session(self, conn: socket.socket) -> None:
        (length,) = struct.unpack("!I", _recv_exact(conn, 4))
        _recv_exact(conn, length - 4)  # protocol version + parameters
        conn.sendall(_typed(b"R", struct.pack("!I", 0)) + _typed(b"Z", b"I"))
        while True:
            tag = conn.recv(1)
            if not tag or tag == b"X":
                return
            (length,) = struct.unpack("!I", _recv_exact(conn, 4))
            body = _recv_exact(conn, length - 4)
            if tag != b"Q":
                raise ValueError(f"unexpected message {tag!r}")
            m = _COPY_RE.match(body)
            if m and b"FROM STDIN" in body.upper():
                self._copy_in(conn, m.group(1).decode())
            else:
                word = body.split()[0].upper() if body.strip(b"\x00") else b"EMPTY"
                conn.sendall(_typed(b"C", word + b"\x00") + _typed(b"Z", b"I"))

    def _copy_in(self, conn: socket.socket, table: str) -> None:
        ncols = 0  # text format; column count is not checked by the client
        conn.sendall(_typed(b"G", struct.pack("!bH", 0, ncols)))
        s = Stream(table, time.perf_counter())
        kept: list[bytes] = []
        while True:
            tag = _recv_exact(conn, 1)
            (length,) = struct.unpack("!I", _recv_exact(conn, 4))
            data = _recv_exact(conn, length - 4)
            if tag == b"d":
                s.newlines += data.count(b"\n")
                s.nbytes += len(data)
                if self.capture:
                    kept.append(data)
            elif tag == b"c":
                s.end = time.perf_counter()
                conn.sendall(_typed(b"C", f"COPY {s.newlines}\x00".encode()) + _typed(b"Z", b"I"))
                with self._lock:
                    self.streams.append(s)
                    if self.capture:
                        self.payloads.setdefault(table, []).extend(kept)
                return
            elif tag == b"f":
                raise ValueError(f"client aborted COPY: {data!r}")
            else:
                raise ValueError(f"unexpected message during COPY: {tag!r}")


# ------------------------------------------------------------------ client


class _Copy:
    def __init__(self, sock):
        self._sock = sock

    def __enter__(self):
        return self

    def write(self, data) -> None:
        b = data.encode("utf-8") if isinstance(data, str) else bytes(data)
        self._sock.sendall(_typed(b"d", b))

    def __exit__(self, exc_type, *a):
        if exc_type is not None:
            self._sock.sendall(_typed(b"f", b"aborted\x00"))
            return False
        self._sock.sendall(_typed(b"c"))
        _read_until(self._sock, b"Z")
        return False


class _Cursor:
    def __init__(self, sock):
        self._sock = sock

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False

    def copy(self, stmt: str) -> _Copy:
        self._sock.sendall(_typed(b"Q", stmt.encode() + b"\x00"))
        _read_until(self._sock, b"G")
        return _Copy(self._sock)


class _Conn:
    def __init__(self, dsn: str):
        params = dict(kv.split("=", 1) for kv in dsn.split())
        self._sock = socket.create_connection((params["host"], int(params["port"])))
        body = struct.pack("!I", 196608) + b"user\x00bench\x00database\x00" + params["dbname"].encode() + b"\x00\x00"
        self._sock.sendall(struct.pack("!I", 4 + len(body)) + body)
        _read_until(self._sock, b"Z")

    def __enter__(self):
        return self

    def cursor(self) -> _Cursor:
        return _Cursor(self._sock)

    def commit(self) -> None:
        self._sock.sendall(_typed(b"Q", b"COMMIT\x00"))
        _read_until(self._sock, b"Z")

    def __exit__(self, *a):
        try:
            self._sock.sendall(_typed(b"X"))
        finally:
            self._sock.close()
        return False


def _read_until(sock, stop: bytes) -> None:
    while True:
        tag = _recv_exact(sock, 1)
        (length,) = struct.unpack("!I", _recv_exact(sock, 4))
        body = _recv_exact(sock, length - 4)
        if tag == b"E":
            raise RuntimeError(f"server error: {body!r}")
        if tag == stop:
            return


def connect(dsn: str) -> _Conn:
    return _Conn(dsn)


# ------------------------------------------------------------------ decode


def _split_quoted(line: str) -> list[str | None]:
    out: list[str | None] = []
    i, n = 0, len(line)
    while True:
        if i < n and line[i] == '"':
            j, buf = i + 1, []
            while True:
                k = line.index('"', j)
                buf.append(line[j:k])
                if k + 1 < n and line[k + 1] == '"':
                    buf.append('"')
                    j = k + 2
                else:
                    i = k + 1
                    break
            out.append("".join(buf))
        else:
            k = line.find(",", i)
            k = n if k < 0 else k
            out.append(line[i:k] or None)
            i = k
        if i >= n:
            return out
        i += 1  # the delimiter
        if i == n:
            out.append(None)
            return out


def decode_copy_csv(payload: bytes) -> list[tuple]:
    """Decode a COPY (FORMAT csv) payload: an unquoted empty field is
    NULL and a quoted one (``""``) the empty string. Lines without a
    quote take the fast ``str.split`` path; a quoted cell that spans a
    newline is rejoined before it is split."""
    rows: list[tuple] = []
    pending = None
    for line in payload.decode("utf-8").split("\n")[:-1]:
        if pending is not None:
            line = pending + "\n" + line
            pending = None
        if '"' not in line:
            rows.append(tuple(f or None for f in line.split(",")))
        elif line.count('"') % 2:
            pending = line  # newline inside a quoted cell
        else:
            rows.append(tuple(_split_quoted(line)))
    if pending is not None:
        raise ValueError("payload ends inside a quoted cell")
    return rows
