"""Local sessions reach their Python workers over a unix domain socket
(``spark.python.unix.domain.socket.enabled``): on loopback TCP every
Python task stalls ~40 ms. A socket path holds at most 107 bytes and
Spark names each socket ``<dir>/.<uuid>.sock``, so the directory is the
process's temporary directory only when that fits, else a private one
under ``/tmp``.
"""

from __future__ import annotations

import glob
import os
import stat
import tempfile

from gcs2postgres_spark import session


def test_socket_dir_is_the_temp_dir_when_a_socket_path_fits(monkeypatch):
    for n in (4, 64):  # 64 + len("/.<uuid>.sock") == 107
        d = "/" + "d" * (n - 1)
        monkeypatch.setattr(tempfile, "tempdir", d)
        assert session._python_socket_dir.__wrapped__() == d


def test_socket_dir_falls_back_to_a_private_tmp_dir(monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", "/" + "d" * 64)  # 108 bytes with a socket
    at_exit = []
    monkeypatch.setattr(session.atexit, "register", lambda *call: at_exit.append(call))
    d = session._python_socket_dir.__wrapped__()
    try:
        assert os.path.dirname(d) == "/tmp"
        assert len(os.fsencode(d)) + session._SOCKET_NAME_BYTES <= session._SUN_PATH_MAX
        assert stat.S_IMODE(os.stat(d).st_mode) == 0o700
        [(fn, *args)] = at_exit
        fn(*args)  # the exit hook removes it
        assert not os.path.exists(d)
    finally:
        if os.path.exists(d):
            os.rmdir(d)


def test_local_session_talks_to_workers_over_a_unix_socket(spark):
    from pyspark.sql import functions as F

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    assert len(os.fsencode(sock_dir)) + session._SOCKET_NAME_BYTES <= session._SUN_PATH_MAX

    plus_one = F.udf(lambda x: x + 1, "long")
    assert [r[0] for r in spark.range(4).select(plus_one("id")).collect()] == [1, 2, 3, 4]
    acc = spark.sparkContext.accumulator(0)
    spark.sparkContext.parallelize(range(10), 2).foreach(lambda x: acc.add(x))
    assert acc.value == 45

    # no authentication runs over these sockets: other users must not
    # be able to connect, i.e. write to the socket file
    socks = [p for p in glob.glob(os.path.join(sock_dir, ".*.sock")) if os.stat(p).st_uid == os.getuid()]
    assert socks
    for p in socks:
        mode = os.stat(p).st_mode
        assert stat.S_ISSOCK(mode) and not mode & stat.S_IWOTH, (p, oct(mode))
