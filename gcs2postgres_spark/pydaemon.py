"""Spark Python worker daemon for local sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task. Before Python 3.13, each ``zipimporter`` then re-parses its
whole archive directory in pure Python: pyspark.zip (1,328 entries) and
the spark-core jar on the worker's PYTHONPATH (5,359) cost 130-350 ms
per task on a 4-vCPU box, before the user function starts. This daemon
makes a zipimporter re-read its archive only when the archive's
``(st_ino, st_size, st_mtime_ns)`` changed since it last read it; a
changed or missing archive takes the original path. It primes the keys
once, so forked workers inherit them, then runs PySpark's own daemon.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` with a stat-guarded one."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            key = None
        else:
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        if key is None or key != getattr(self, "_archive_key", None):
            reread(self)
            self._archive_key = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        install()
    from pyspark.daemon import manager

    importlib.invalidate_caches()
    manager()
