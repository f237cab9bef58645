"""The local-session worker daemon (gcs2postgres_spark/pydaemon.py).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task; before Python 3.13 that re-parses every zip archive on the
worker's path. The daemon's stat-guarded ``zipimporter`` re-reads an
archive only when it changed. These pins check the guard alone, that
Spark's workers run under it, and that zips shipped with
``addPyFile`` still import.
"""

from __future__ import annotations

import importlib
import sys
import uuid
import zipfile
import zipimport

import pytest

from gcs2postgres_spark import pydaemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    tag = uuid.uuid4().hex[:8]
    first, second = f"graft_zip_a_{tag}", f"graft_zip_b_{tag}"
    _write_zip(archive, {first: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    # restored after the test: the guard must not leak into the session
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    try:
        assert importlib.import_module(first).VALUE == 1
        pydaemon.install()
        importlib.invalidate_caches()  # primes every importer's key

        reads: list = []
        real = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda p: (reads.append(p), real(p))[1]
        )
        importlib.invalidate_caches()
        assert reads == []  # nothing changed: no archive re-parsed

        # rewritten in place (same inode), now with a second module
        ino = archive.stat().st_ino
        _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
        assert archive.stat().st_ino == ino
        importlib.invalidate_caches()
        assert reads == [str(archive)]
        assert importlib.import_module(second).VALUE == 2

        # a missing archive takes the original path: an empty listing
        archive.unlink()
        importlib.invalidate_caches()
        importer = sys.path_importer_cache[str(archive)]
        assert importer._files == {}
    finally:
        sys.modules.pop(first, None)
        sys.modules.pop(second, None)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="the daemon patches only before 3.13"
)
def test_spark_tasks_run_under_the_guard(spark):
    def probe(_it):
        import importlib
        import zipimport

        guard = zipimport.zipimporter.invalidate_caches
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: (reads.append(p), real(p))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield guard.__code__.co_filename, len(reads)

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert len(got) == 4
    for filename, reads in got:
        assert filename.endswith("pydaemon.py"), filename
        assert reads == 0


def test_add_py_file_zip_imports_in_a_udf(spark, tmp_path):
    from pyspark.sql import functions as F

    name = f"graft_pyfile_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    _write_zip(archive, {name: "def triple(x):\n    return 3 * x\n"})
    spark.sparkContext.addPyFile(str(archive))

    @F.udf("long")
    def triple(x):
        return importlib.import_module(name).triple(x)

    got = spark.range(4).select(triple("id").alias("t")).collect()
    assert sorted(r["t"] for r in got) == [0, 3, 6, 9]
