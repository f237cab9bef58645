"""Driver-side file-metadata IO seam for the jar-less table-format
readers: plain paths use posix (fast, no JVM hop); paths with a
filesystem scheme (``gs://``, ``s3a://``, ``hdfs://``, ``file:``) route
through the Hadoop FileSystem API of the active SparkSession — the same
client every Spark scan planner uses, so any object store the cluster
can scan, the log/metadata walkers can list and read.

This closes the one parity dimension where the rebuild was local-FS-only
(the reference is GCS-native: it registers ``gs://`` objects directly,
reference src/db/db.go:22-30). The Hadoop branch is exercised in tests
with ``file:`` URIs — the same API surface an object store sees, minus
network.

Scope: driver-side metadata IO, both directions. READ (list/exists/
read_text/read_bytes) powers log replay and snapshot walking; WRITE
(write_bytes/delete/rename/size/makedirs/list_files) powers the
committers' NON-commit-point writes — staged manifests, checkpoint
parquet, deletion-vector blobs, vacuum deletes. The COMMIT POINT
itself (the one write whose atomicity decides table state) never goes
through this module: it goes through sources/logstore.py's
put-if-absent seam, per scheme. Everything here is either
idempotent-overwrite of a uniquely-named object or a delete — safe
under object-store semantics with no rename tricks. ``rename`` exists
only for posix-fast paths and KB-scale metadata moves; on object
stores Hadoop connectors implement it as copy+delete, which is why the
committers avoid it for data files (they write to final unique names
instead)."""

from __future__ import annotations

import os
import re

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


def has_scheme(path: str) -> bool:
    """True for URI-style paths (``gs://b/p``, ``file:/p``) that must go
    through the Hadoop FileSystem API; False for plain posix paths.
    Windows drive letters are not a concern in this deployment."""
    return bool(_SCHEME_RE.match(path))


def _fs(path: str):
    from pyspark.sql import SparkSession

    # getActiveSession is THREAD-LOCAL: a committer running on a worker
    # thread (concurrent writers) still belongs to the one JVM-backed
    # session, so fall back to the instantiated session before failing
    spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if spark is None:
        raise RuntimeError(
            f"no active SparkSession to resolve filesystem for {path!r}"
        )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath, jvm


def exists(path: str) -> bool:
    if not has_scheme(path):
        return os.path.exists(path)
    fs, p, _jvm = _fs(path)
    return bool(fs.exists(p))


def isdir(path: str) -> bool:
    if not has_scheme(path):
        return os.path.isdir(path)
    fs, p, _jvm = _fs(path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def listdir(path: str) -> list[str]:
    """Child basenames of a directory (one listStatus call — a bulk
    LIST on an object store, not a per-entry stat crawl)."""
    if not has_scheme(path):
        return os.listdir(path)
    fs, p, _jvm = _fs(path)
    return [st.getPath().getName() for st in fs.listStatus(p)]


def read_text(path: str) -> str:
    """Whole small file as UTF-8 text (log commits, _last_checkpoint,
    metadata JSON — all O(KB) driver-side metadata)."""
    if not has_scheme(path):
        with open(path) as f:
            return f.read()
    fs, p, jvm = _fs(path)
    stream = fs.open(p)
    try:
        # commons-io ships with Hadoop; one call drains the stream
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        stream.close()


def read_bytes(path: str) -> bytes:
    """Whole small file as bytes (Avro manifests / manifest lists —
    O(KB-MB) driver-side metadata)."""
    if not has_scheme(path):
        with open(path, "rb") as f:
            return f.read()
    fs, p, jvm = _fs(path)
    stream = fs.open(p)
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def read_range(path: str, offset: int, length: int) -> bytes:
    """Up to ``length`` bytes of a file starting at ``offset`` — a
    BOUNDED partial read (fewer bytes come back at EOF). Posix paths
    seek+read; scheme'd paths prefer the owning LogStore's
    ``read_range`` when it defines one (an HTTP Range GET on GCS/S3 —
    one bounded round trip), else fall back to a positioned read
    through the Hadoop FileSystem stream. This is the plan-time
    footer/header probe seam: ORC postscripts and Avro headers are
    KB-scale, and downloading whole multi-GB data files to the driver
    just to read them is the serial wall the parquet schema-id-group
    work already eliminated."""
    if length <= 0:
        return b""
    if not has_scheme(path):
        with open(path, "rb") as f:
            f.seek(offset)
            return f.read(length)
    from gcs2postgres_spark.sources import logstore

    try:
        store = logstore.log_store_for(path)
    except NotImplementedError:
        store = None
    rr = getattr(store, "read_range", None)
    if callable(rr):
        return rr(path, offset, length)
    fs, p, jvm = _fs(path)
    n = min(length, max(0, int(fs.getFileStatus(p).getLen()) - offset))
    if n == 0:
        return b""
    stream = fs.open(p)
    try:
        stream.seek(offset)
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream, n))
    finally:
        stream.close()


class RangeReader:
    """Seekable read-only file-like over ``read_range`` — hand it to
    pyarrow (``orc.ORCFile``) or the avro header parser and they pull
    only the byte ranges they actually touch (postscript+footer, header
    block), each as one bounded request, instead of the whole object.
    Driver-side plan probes only; data reads stay distributed."""

    def __init__(self, path: str, file_size: int | None = None) -> None:
        self._path = path
        self._size = size(path) if file_size is None else int(file_size)
        self._pos = 0

    def readable(self) -> bool:
        return True

    def seekable(self) -> bool:
        return True

    def writable(self) -> bool:
        return False

    @property
    def closed(self) -> bool:  # pyarrow PythonFile probes this
        return False

    def tell(self) -> int:
        return self._pos

    def seek(self, offset: int, whence: int = 0) -> int:
        if whence == 0:
            self._pos = offset
        elif whence == 1:
            self._pos += offset
        elif whence == 2:
            self._pos = self._size + offset
        else:
            raise ValueError(f"bad whence: {whence}")
        self._pos = max(0, min(self._pos, self._size))
        return self._pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self._size - self._pos
        n = min(n, self._size - self._pos)
        if n <= 0:
            return b""
        data = read_range(self._path, self._pos, n)
        self._pos += len(data)
        return data

    def close(self) -> None:
        pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def relativize(full: str, base: str) -> str | None:
    """The ``base``-relative form of ``full``, or None when ``full`` is
    not under ``base`` — matching on the FULL directory prefix, never a
    basename token (an ancestor directory sharing the staging dir's
    basename must not shift the split point: a wrong key silently
    misplaces files and partition values). Tolerant of the renderings
    that disagree between a caller's path and a listing: ``file:``-scheme
    prefixes (Hadoop lists ``file:///x`` as ``file:/x``) and
    percent-encoding of partition-dir values."""
    from urllib.parse import unquote as _unq

    def forms(p: str) -> list[str]:
        out: list[str] = []
        for q in (p, _unq(p)):
            m = re.match(r"^file:(//)?(/.*)$", q)
            for r in ([q, m.group(2)] if m else [q]):
                if r not in out:
                    out.append(r)
        return out

    bases = [b.rstrip("/") + "/" for b in forms(base)]
    for f in forms(full):
        for b in bases:
            if f.startswith(b):
                return f[len(b):]
    return None


def join(base: str, *parts: str) -> str:
    """Path join that preserves URI schemes (os.path.join is fine for
    both cases on posix-style separators, which Hadoop paths use)."""
    return "/".join([base.rstrip("/"), *[p.strip("/") for p in parts]])


def absolute(path: str) -> str:
    """os.path.abspath that leaves URI-style paths alone (abspath would
    join 'gs://…' onto the cwd, silently producing a local path)."""
    return path if has_scheme(path) else os.path.abspath(path)


def size(path: str) -> int:
    if not has_scheme(path):
        return os.path.getsize(path)
    fs, p, _jvm = _fs(path)
    return int(fs.getFileStatus(p).getLen())


def makedirs(path: str) -> None:
    """mkdir -p. On object stores directories are virtual — Hadoop
    mkdirs is a no-op marker write at most, never an error."""
    if not has_scheme(path):
        os.makedirs(path, exist_ok=True)
        return
    fs, p, _jvm = _fs(path)
    fs.mkdirs(p)


def write_bytes(path: str, data: bytes) -> None:
    """Overwrite-allowed write of a (typically uniquely-named) object:
    staged manifests, checkpoint files, DV blobs. NOT the commit point
    — that is logstore.put_if_absent. Posix writes via temp+rename for
    crash-atomicity; Hadoop create(overwrite) is atomic-enough for
    object stores (no partial objects) and the only primitive they
    have."""
    if not has_scheme(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
        return
    fs, p, _jvm = _fs(path)
    stream = fs.create(p, True)
    try:
        stream.write(data)
    finally:
        stream.close()


def write_text(path: str, text: str) -> None:
    write_bytes(path, text.encode("utf-8"))


def delete(path: str, recursive: bool = False) -> bool:
    """Delete a file (or a tree with recursive=True); False when the
    path was already absent."""
    if not has_scheme(path):
        import shutil

        if not os.path.exists(path):
            return False
        if recursive and os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.remove(path)
        return True
    fs, p, _jvm = _fs(path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))


def rename(src: str, dst: str) -> None:
    """Move src to dst (posix os.replace; Hadoop FileContext.rename with
    OVERWRITE). Metadata-scale only on object stores — connectors
    emulate rename as copy+delete there.

    Overwrite is ATOMIC where the filesystem supports it: posix rename(2)
    via os.replace, and FileContext.rename(Options.Rename.OVERWRITE) on
    the Hadoop branch — so a concurrent reader resolving the destination
    (e.g. an N.checkpoint.parquet being re-written) never observes a
    missing target. The old delete-then-FileSystem.rename pair left a
    FileNotFound window between the two calls."""
    if not has_scheme(src) and not has_scheme(dst):
        os.replace(src, dst)
        return
    from pyspark.sql import SparkSession

    fs, s, jvm = _fs(src)
    _fs2, d, _jvm2 = _fs(dst)
    spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    try:
        ctx = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            s.toUri(), spark.sparkContext._jsc.hadoopConfiguration()
        )
        opts = spark.sparkContext._gateway.new_array(
            jvm.org.apache.hadoop.fs.Options.Rename, 1
        )
        opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        ctx.rename(s, d, opts)
        return
    except Exception as exc:
        # FileContext is unsupported by some object-store connectors
        # (UnsupportedFileSystemException); only those fall through to
        # the non-atomic pair. A real rename failure (src missing, perms)
        # must NOT fall through — it would turn into a confusing delete.
        if "UnsupportedFileSystem" not in type(exc).__name__ and (
            "UnsupportedFileSystem" not in str(exc)
        ):
            raise
    if fs.exists(d):
        fs.delete(d, False)
    if not fs.rename(s, d):
        raise OSError(f"rename failed: {src!r} -> {dst!r}")


def bulk_delete(paths: list[str]) -> int:
    """Delete many files, batched: plain posix paths unlink in a loop
    (microseconds each); scheme'd paths route through the owning
    LogStore's ``delete_batch`` when it has one (GCS batch API / S3
    DeleteObjects — one RPC per 100-1000 objects), else fall back to
    the per-file Hadoop delete. This is the maintenance ops' delete
    seam: VACUUM / expire_snapshots at 10^5 garbage files must not pay
    one serial driver RPC per object. Returns how many existed."""
    from gcs2postgres_spark.sources import logstore

    removed = 0
    local = [p for p in paths if not has_scheme(p)]
    for p in local:
        try:
            os.remove(p)
            removed += 1
        except FileNotFoundError:
            pass
    remote = [p for p in paths if has_scheme(p)]
    if not remote:
        return removed
    # group by owning store (one table's files share a store; mixed
    # lists still route each group correctly)
    groups: dict[int, tuple[object, list[str]]] = {}
    for p in remote:
        store = logstore.log_store_for(p)
        groups.setdefault(id(store), (store, []))[1].append(p)
    for store, group in groups.values():
        batch = getattr(store, "delete_batch", None)
        if callable(batch):
            removed += int(batch(group))
        else:
            for p in group:
                if delete(p):
                    removed += 1
    return removed


def _posix_walk(path: str):
    """(full path, stat) of every file under a posix ``path``; a file
    yields itself (``os.walk`` of a file yields nothing)."""
    if os.path.isfile(path):
        yield path, os.stat(path)
        return
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            yield full, os.stat(full)


def list_files(path: str) -> list[tuple[str, int]]:
    """EVERY file under ``path`` recursively as (full path, size) —
    one bulk listing (Hadoop listFiles(recursive=true) pages the
    object-store LIST API; posix walks). Paths come back in the same
    scheme family as the input. A plain file lists as itself, as
    Hadoop's listFiles lists it."""
    if not has_scheme(path):
        return [(full, st.st_size) for full, st in _posix_walk(path)]
    fs, p, _jvm = _fs(path)
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        out.append((st.getPath().toString(), int(st.getLen())))
    return out


def list_files_mtime(path: str) -> list[tuple[str, int, int]]:
    """EVERY file under ``path`` recursively as (full path, size,
    modification time ms) — one bulk listing, like list_files. The
    mtime powers orphan-cleanup age guards (delete only files older
    than a horizon, so in-flight writers' staged files survive)."""
    if not has_scheme(path):
        return [(full, st.st_size, int(st.st_mtime * 1000)) for full, st in _posix_walk(path)]
    fs, p, _jvm = _fs(path)
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        out.append(
            (
                st.getPath().toString(),
                int(st.getLen()),
                int(st.getModificationTime()),
            )
        )
    return out


def mtime_ms(path: str) -> int:
    """One file's modification time in epoch ms (local stat, or the
    Hadoop FileStatus on remote schemes). Powers delta-spark-compatible
    TIMESTAMP AS OF resolution for commits that omit commitInfo."""
    if not has_scheme(path):
        return int(os.stat(path).st_mtime * 1000)
    fs, p, _jvm = _fs(path)
    return int(fs.getFileStatus(p).getModificationTime())


def strip_scheme(path: str) -> str:
    """The filesystem-local form of a path: 'file:/x', 'file:///x' →
    '/x'; other schemes returned unchanged (there is no local form)."""
    m = re.match(r"^file:(//)?(/.*)$", path)
    return m.group(2) if m else path
