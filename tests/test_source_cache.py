"""read_source resolves a file source once per session: the inferred
schema of a parquet, CSV, JSON or ORC source is kept under its files'
fingerprint, and a missing native jar is remembered per SparkContext.
Every read still builds a fresh relation."""

from __future__ import annotations

import io
import json
import os
import shutil
import weakref
from contextlib import redirect_stdout

import pytest
from pyspark.sql import DataFrameReader
from pyspark.sql import functions as F

from gcs2postgres_spark.sources import readers
from gcs2postgres_spark.sources.readers import read_source


def _jobs(spark, fn, group):
    """(fn's result, the Spark jobs it ran under job group ``group``)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _ungrouped_jobs(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _write(path, text: str) -> str:
    with open(path, "w") as f:
        f.write(text)
    return str(path)


CSV = "o_orderkey,o_custkey,o_comment,o_ts\n1,2,a,2024-01-01 00:00:00\n2,1,,\n3,3,\"x,y\",2024-02-29 12:30:00\n4,,d,\n"


def test_second_read_of_unchanged_csv_runs_no_job(spark, tmp_path):
    p = _write(tmp_path / "orders.csv", CSV)
    cold, n_cold = _jobs(spark, lambda: read_source(spark, p), "cache_cold")
    warm, n_warm = _jobs(spark, lambda: read_source(spark, p), "cache_warm")
    assert n_cold > 0 and n_warm == 0
    assert warm.schema == cold.schema
    assert dict(warm.dtypes)["o_ts"] == "timestamp"


def test_rewritten_file_reinfers(spark, tmp_path):
    p = _write(tmp_path / "t.csv", "a,b\n1,x\n2,y\n")
    assert read_source(spark, p).dtypes == [("a", "int"), ("b", "string")]
    _write(p, "a,b,c\n1,x,3\n2,y,4\n")  # a new column
    assert read_source(spark, p).dtypes == [("a", "int"), ("b", "string"), ("c", "int")]
    _write(p, "a,b,c\n1.5,x,3\n2,y,4\n")  # a new type
    assert read_source(spark, p).dtypes == [("a", "double"), ("b", "string"), ("c", "int")]


def test_part_file_added_to_directory_reinfers(spark, tmp_path):
    d = tmp_path / "events_json"
    d.mkdir()
    _write(d / "part-0.json", '{"a": 1}\n')
    assert read_source(spark, str(d), fmt="json").columns == ["a"]
    _write(d / "part-1.json", '{"a": 2, "b": "x"}\n')
    got = read_source(spark, str(d), fmt="json")
    assert got.columns == ["a", "b"] and got.count() == 2

    c = tmp_path / "csv_dir"
    c.mkdir()
    _write(c / "part-0.csv", "x\n1\n")
    assert read_source(spark, str(c), fmt="csv").dtypes == [("x", "int")]
    _write(c / "part-1.csv", "x\nabc\n")
    assert read_source(spark, str(c), fmt="csv").dtypes == [("x", "string")]


def test_session_timestamp_type_is_in_the_key(spark, tmp_path):
    p = _write(tmp_path / "ts.csv", "id,ts\n1,2024-01-01 10:00:00\n")
    key = "spark.sql.timestampType"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "TIMESTAMP_LTZ")
        assert dict(read_source(spark, p).dtypes)["ts"] == "timestamp"
        spark.conf.set(key, "TIMESTAMP_NTZ")
        assert dict(read_source(spark, p).dtypes)["ts"] == "timestamp_ntz"
        spark.conf.set(key, "TIMESTAMP_LTZ")
        assert dict(read_source(spark, p).dtypes)["ts"] == "timestamp"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_options_do_not_share_an_entry(spark, tmp_path):
    p = _write(tmp_path / "h.csv", "a,b\n1,2\n")
    assert read_source(spark, p).columns == ["a", "b"]
    no_header = read_source(spark, p, header=False)
    assert no_header.columns == ["_c0", "_c1"] and no_header.count() == 2
    assert read_source(spark, p).columns == ["a", "b"]


def _digest(df):
    """Schema plus an order-free hash and count of every row."""
    agg = df.select(F.xxhash64(*df.columns).alias("h")).agg(
        F.sum("h").alias("h"), F.count(F.lit(1)).alias("n")
    )
    return df.schema, tuple(agg.first())


@pytest.mark.parametrize("fmt", ["csv", "json", "orc", "parquet"])
def test_cached_read_hash_equals_cold_read(spark, tmp_path, fmt):
    src = spark.createDataFrame(
        [
            (1, "a", 1.5, "2024-01-01 00:00:00"),
            (2, None, None, None),
            (3, "q,\"z\"", -0.25, "1969-12-31 23:59:59.123456"),
        ],
        "id long, s string, d double, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    path = str(tmp_path / f"t_{fmt}")
    if fmt == "json":  # a malformed line lands in _corrupt_record
        os.mkdir(path)
        _write(os.path.join(path, "part-0.json"), "\n".join([*src.toJSON().collect(), "{not json", ""]))
    else:
        writer = src.coalesce(1).write
        getattr(writer.option("header", True) if fmt == "csv" else writer, fmt)(path)
    cold, n_cold = _jobs(spark, lambda: read_source(spark, path, fmt=fmt), f"hash_cold_{fmt}")
    warm, n_warm = _jobs(spark, lambda: read_source(spark, path, fmt=fmt), f"hash_warm_{fmt}")
    # ORC reads its footer on the driver, without a job
    assert n_warm == 0 and (n_cold > 0 or fmt == "orc")
    if fmt == "json":
        assert "_corrupt_record" in cold.columns
    assert _digest(warm) == _digest(cold)


def test_two_reads_of_one_path_self_join(spark, tmp_path):
    """Each read is a fresh relation with its own attribute ids: a
    cache of frames would make this join's condition ambiguous."""
    p = _write(tmp_path / "orders.csv", CSV)
    a = read_source(spark, p)
    b = read_source(spark, p)
    got = a.join(b, a["o_orderkey"] == b["o_custkey"]).select(a["o_orderkey"], b["o_orderkey"])
    assert sorted(map(tuple, got.collect())) == [(1, 2), (2, 1), (3, 3)]


def test_cli_infers_each_source_once(spark, tmp_path):
    """The offline CLI reads each source for its identity schema and
    again in transfer_all; only the first read infers."""
    import yaml

    from gcs2postgres_spark.__main__ import main

    src = tmp_path / "src"
    src.mkdir()
    csv = _write(src / "orders.csv", CSV)
    js = _write(src / "events.json", "".join(json.dumps({"id": i, "k": f"k{i}"}) + "\n" for i in range(5)))
    cfg = tmp_path / "config.yaml"
    cfg.write_text(yaml.safe_dump({
        "postgres": {"host": "h", "port": 5432, "user": "u", "database": "d"},
        "gcs": {"bucket_name": "", "concurrent_jobs": 2, "files": [
            {"name": csv, "table": "orders"}, {"name": js, "table": "events"},
        ]},
    }))

    def run(sink):
        before = _ungrouped_jobs(spark)
        with redirect_stdout(io.StringIO()) as out:
            assert main(["--config", str(cfg), "--sink-dir", str(tmp_path / sink)]) == 0
        assert [r["rows"] for r in json.loads(out.getvalue())] == [5, 4]
        return len(_ungrouped_jobs(spark) - before)

    first, again = run("out1"), run("out2")
    # what inferring both sources costs, on cold copies of them
    copies = tmp_path / "copies"
    shutil.copytree(src, copies)
    before = _ungrouped_jobs(spark)
    for name in ("orders.csv", "events.json"):
        read_source(spark, str(copies / name))
    infer = len(_ungrouped_jobs(spark) - before)
    assert infer > 0 and again > 0
    assert first == again + infer


def test_jarless_formats_attempt_the_native_reader_once(spark, tmp_path, monkeypatch):
    from gcs2postgres_spark.sources.avro_py import write_avro_file
    from gcs2postgres_spark.sources.delta_py import write_delta_fixture
    from gcs2postgres_spark.sources.iceberg_py import write_iceberg_fixture

    df = spark.range(6).withColumn("s", F.col("id").cast("string"))
    avro = str(tmp_path / "t.avro")
    write_avro_file(
        avro,
        {"type": "record", "name": "t", "fields": [{"name": "id", "type": "long"}, {"name": "s", "type": "string"}]},
        [r.asDict() for r in df.collect()],
    )
    iceberg, delta = str(tmp_path / "ice"), str(tmp_path / "delta")
    write_iceberg_fixture(df, iceberg)
    write_delta_fixture(df, delta)

    monkeypatch.setattr(readers, "_JAR_ABSENT", weakref.WeakKeyDictionary())
    attempts: list[str] = []
    orig = DataFrameReader.format

    def spy(self, source):
        attempts.append(source)
        return orig(self, source)

    monkeypatch.setattr(DataFrameReader, "format", spy)
    for fmt, path in (("avro", avro), ("iceberg", iceberg), ("delta", delta)):
        for _ in range(3):
            assert sorted(map(tuple, read_source(spark, path, fmt=fmt).collect())) == sorted(map(tuple, df.collect()))
        assert attempts.count(fmt) == 1, (fmt, attempts)
