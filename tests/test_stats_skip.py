"""File-level column statistics + planning-time data skipping.

Delta: per-file ``stats`` JSON (numRecords/minValues/maxValues/nullCount)
recorded from the parquet footer on every staged add, preserved through
checkpoints, consumed by ``read_delta_py(stats_filter=...)``.
Iceberg: manifest ``lower_bounds``/``upper_bounds``/``null_value_counts``
in the spec's single-value binary form, consumed by
``read_iceberg_py(stats_filter=...)``.

The filter is a planning-time optimization with a conservative
contract: missing stats, unknown columns, or undecodable values KEEP
the file; callers still apply the predicate as a row filter. At 100 TB
this is the manifest-level min/max skip every production scan planner
performs — zero I/O for files whose recorded range cannot match.

Both formats take their per-file stats from ONE footer reader
(sources/file_stats.py) on every scheme; the pins below check that a
posix and a ``file://`` append record identical stats, that scheme'd
footers are fetched as bounded ranged reads, that stats stay keyed per
file across partition directories, and that a failed read raises.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import math
import os
import uuid

import pytest
from pyspark.sql import functions as F

from gcs2postgres_spark.sources import file_stats, fsio
from gcs2postgres_spark.sources.avro_py import read_avro_file_meta
from gcs2postgres_spark.sources.delta_py import (
    _assign_base_row_ids,
    _stats_skip_file,
    read_delta_py,
    replay_head_state,
    write_checkpoint,
    write_delta,
)
from gcs2postgres_spark.sources.iceberg_py import (
    _bound_decode,
    _bound_encode,
    _storage_value,
    append_iceberg_v2,
    create_iceberg_v2_table,
    read_iceberg_py,
    update_where,
    write_iceberg_v2_fixture,
)
from gcs2postgres_spark.sources.logstore import (
    FakeObjectStore,
    set_log_store_override,
)


def _ranged(spark, n=400, parts=4):
    return (
        spark.range(0, n)
        .withColumnRenamed("id", "k")
        .withColumn("v", (F.col("k") * 2).cast("long"))
        .repartitionByRange(parts, "k")
        .sortWithinPartitions("k")
    )


# ------------------------------------------------------------------- delta


def test_delta_stats_recorded_and_skip(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta(_ranged(spark), t, "overwrite", timestamp_ms=1_700_000_000_000)
    live, _ = replay_head_state(spark, t)
    assert len(live) == 4 and all(a.get("stats") for a in live.values())
    st = json.loads(next(iter(live.values()))["stats"])
    assert set(st) == {"numRecords", "minValues", "maxValues", "nullCount"}
    # range files: a k >= 350 filter skips 3 of 4 at PLANNING time
    flt = {"k": (350, None)}
    assert sum(_stats_skip_file(a, flt) for a in live.values()) == 3
    scanned = read_delta_py(spark, t, stats_filter=flt)
    assert scanned.count() == 100  # only the surviving file's rows
    assert scanned.filter("k >= 350").count() == 50  # predicate still applies
    # unfiltered read unchanged
    assert read_delta_py(spark, t).count() == 400


def test_delta_stats_conservative_paths(spark, tmp_path):
    # missing stats → keep
    assert not _stats_skip_file({"path": "x"}, {"k": (0, 1)})
    # malformed stats JSON → keep
    assert not _stats_skip_file({"stats": "{nope"}, {"k": (0, 1)})
    # unknown column → keep
    ok = json.dumps({"minValues": {"k": 5}, "maxValues": {"k": 9}})
    assert not _stats_skip_file({"stats": ok}, {"other": (0, 1)})
    # cross-type comparison → keep
    assert not _stats_skip_file({"stats": ok}, {"k": ("zz", None)})
    # both-sided range: inside keeps, outside skips
    assert not _stats_skip_file({"stats": ok}, {"k": (6, 8)})
    assert _stats_skip_file({"stats": ok}, {"k": (10, 20)})
    assert _stats_skip_file({"stats": ok}, {"k": (None, 4)})


def test_delta_stats_survive_checkpoint(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta(_ranged(spark), t, "overwrite", timestamp_ms=1_700_000_000_000)
    write_checkpoint(spark, t, 0)
    for f in glob.glob(os.path.join(t, "_delta_log", "*.json")):
        os.remove(f)
    live, _ = replay_head_state(spark, t)
    assert all(a.get("stats") for a in live.values())
    assert read_delta_py(spark, t, stats_filter={"k": (350, None)}).count() == 100


def test_delta_string_bounds_lexicographic(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("apple",), ("beta",), ("gamma",), ("zeta",)], "s string"
    ).repartitionByRange(2, "s")
    write_delta(df, t, "overwrite", timestamp_ms=1_700_000_000_000)
    live, _ = replay_head_state(spark, t)
    flt = {"s": ("x", None)}
    assert sum(_stats_skip_file(a, flt) for a in live.values()) >= 1
    got = read_delta_py(spark, t, stats_filter=flt).filter("s >= 'x'")
    assert [r["s"] for r in got.collect()] == ["zeta"]


# ---------------------------------------------------------------------------
# timestamp separator in stats-skip comparisons: 'T'-separated stats
# (datetime.isoformat, delta-spark) against a space-separated literal
# ---------------------------------------------------------------------------

def _add(mn, mx):
    return {"stats": json.dumps({
        "numRecords": 2,
        "minValues": {"ts": mn},
        "maxValues": {"ts": mx},
        "nullCount": {"ts": 0},
    })}


def test_stats_skip_timestamp_separator_not_wrongly_skipped():
    # file covers the whole day (T-separated stats, as isoformat emits);
    # bound is a same-day space-separated SQL literal: rows DO match
    a = _add("2024-06-01T00:00:00", "2024-06-01T23:59:59")
    assert _stats_skip_file(a, {"ts": (None, "2024-06-01 12:00:00")}) is False
    assert _stats_skip_file(a, {"ts": ("2024-06-01 12:00:00", None)}) is False


def test_stats_skip_timestamp_separator_still_prunes():
    # genuinely disjoint day: skip holds under BOTH raw-lexicographic
    # and parsed-datetime semantics, so the file is still pruned
    a = _add("2024-06-02T00:00:00", "2024-06-02T23:59:59")
    assert _stats_skip_file(a, {"ts": (None, "2024-06-01 12:00:00")}) is True
    assert _stats_skip_file(a, {"ts": ("2024-06-03 00:00:00", None)}) is True


def test_stats_skip_ambiguous_string_column_kept():
    # space-separated values IN the data vs a T-separated literal: the
    # temporal reading says skip, but a plain STRING column compares
    # lexicographically (' ' < 'T') and its rows would match — the two
    # semantics disagree, so the file must be KEPT
    a = _add("2024-06-01 13:00:00", "2024-06-01 14:00:00")
    assert _stats_skip_file(a, {"ts": (None, "2024-06-01T12:00:00")}) is False


def test_stats_skip_timestamp_end_to_end(spark, tmp_path):
    """Same-day upper bound over a real table: no silent row loss."""
    from pyspark.sql import functions as F

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "2024-06-01 03:00:00"), (2, "2024-06-01 20:00:00")],
        "k INT, s STRING",
    ).select("k", F.to_timestamp("s").alias("ts"))
    write_delta(df.repartition(2, "k"), t, "overwrite")
    got = read_delta_py(
        spark, t, stats_filter={"ts": (None, "2024-06-01 12:00:00")}
    ).where("ts <= timestamp'2024-06-01 12:00:00'")
    assert [r["k"] for r in got.collect()] == [1]


def test_iceberg_storage_value_parses_iso_literals():
    from gcs2postgres_spark.sources.iceberg_py import _storage_value

    micros = 1_717_243_200_000_000  # 2024-06-01T12:00:00Z
    assert _storage_value("2024-06-01 12:00:00", "timestamp") == micros
    assert _storage_value("2024-06-01T12:00:00", "timestamptz") == micros
    assert _storage_value("2024-06-01", "date") == 19875
    # unparseable literal stays a string (caller keeps the file)
    assert _storage_value("not-a-date", "timestamp") == "not-a-date"


# ----------------------------------------------------------------- iceberg


def test_bound_codec_roundtrip():
    cases = [
        (42, "int"), (-7, "int"), (1 << 40, "long"), (2.5, "double"),
        (1.5, "float"), (True, "boolean"), ("héllo", "string"),
    ]
    for v, t in cases:
        assert _bound_decode(_bound_encode(v, t), t) == v
    d = dt.date(2024, 3, 1)
    assert _bound_decode(_bound_encode(d, "date"), "date") == _storage_value(d, "date")
    ts = dt.datetime(2024, 3, 1, 12, 0, 0, tzinfo=dt.timezone.utc)
    assert _bound_decode(
        _bound_encode(ts, "timestamptz"), "timestamptz"
    ) == _storage_value(ts, "timestamptz")


def test_iceberg_bounds_skip_and_deletes_survive(spark, tmp_path):
    t = str(tmp_path / "t")
    write_iceberg_v2_fixture(_ranged(spark), t, sort_col="k")
    flt = {"k": (350, None)}
    scanned = read_iceberg_py(spark, t, stats_filter=flt)
    assert scanned.count() == 100
    assert scanned.filter("k >= 350").count() == 50
    # deletes apply on the surviving files: drop some matching rows
    from gcs2postgres_spark.sources.iceberg_py import delete_where

    delete_where(spark, t, "k >= 390", snapshot_ts_ms=1_700_000_001_000)
    got = read_iceberg_py(spark, t, stats_filter=flt).filter("k >= 350")
    assert got.count() == 40  # 350..389
    assert read_iceberg_py(spark, t).count() == 390


def test_iceberg_temporal_stats_filter(spark, tmp_path):
    t = str(tmp_path / "t")
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    df = (
        spark.range(0, 200)
        .select(
            F.col("id").alias("k"),
            (F.lit(base) + F.make_interval(hours=F.col("id"))).alias("ts"),
        )
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    write_iceberg_v2_fixture(df, t, sort_col="k")
    cut = base + dt.timedelta(hours=150)
    scanned = read_iceberg_py(spark, t, stats_filter={"ts": (cut, None)})
    assert scanned.count() == 50  # one of four range files survives
    assert scanned.filter(F.col("ts") >= F.lit(cut)).count() == 50


@pytest.fixture
def fake_store():
    store = FakeObjectStore()
    set_log_store_override(store)
    yield store
    set_log_store_override(None)


@pytest.fixture
def one_shuffle_partition(spark):
    """Force every staged write through ONE task so identical part-file
    basenames land in EVERY partition directory — the exact collision
    the basename-keyed stats map collapsed."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


def _skewed_df(spark):
    # partition p has p+1 rows (1..4): any stats collapse across
    # partition dirs misattributes BOTH bounds and numRecords
    rows = [(p, i, p * 100 + i) for p in range(4) for i in range(p + 1)]
    return spark.createDataFrame(rows, "p int, i int, v int")


# ---------------------------------------------------------------------------
# per-file stats keyed by staging-relative path, not basename
# ---------------------------------------------------------------------------

def test_partitioned_remote_delta_stats_per_file(spark, tmp_path, fake_store,
                                                 one_shuffle_partition):
    t = f"file://{tmp_path}/t_part_stats"
    df = _skewed_df(spark).repartition(1)  # one task -> colliding basenames
    write_delta(df, t, "overwrite", partition_by=["p"],
                timestamp_ms=1_700_000_000_000)
    log = fsio.read_text(fsio.join(t, "_delta_log", f"{0:020d}.json"))
    adds = [json.loads(ln)["add"] for ln in log.splitlines() if '"add"' in ln]
    assert len(adds) == 4
    # sanity: the collision actually happened (same basename everywhere)
    basenames = {a["path"].rsplit("/", 1)[-1] for a in adds}
    assert len(basenames) == 1, "fixture no longer collides basenames"
    for a in adds:
        p = int(a["partitionValues"]["p"])
        st = json.loads(a["stats"])
        assert st["numRecords"] == p + 1, (p, st)
        assert st["minValues"]["v"] == p * 100
        assert st["maxValues"]["v"] == p * 100 + p
    # end-to-end: stats skipping with per-file bounds returns exact rows
    got = read_delta_py(spark, t, stats_filter={"v": (300, None)})
    assert sorted(r["v"] for r in got.where("v >= 300").collect()) == [
        300, 301, 302, 303,
    ]


def test_partitioned_remote_iceberg_record_counts(spark, tmp_path, fake_store,
                                                  one_shuffle_partition):
    t = f"file://{tmp_path}/t_ice_part_stats"
    df = _skewed_df(spark)
    create_iceberg_v2_table(df.schema, t, partition_spec=[("p", "identity")])
    append_iceberg_v2(spark, t, df, snapshot_ts_ms=1_700_000_000_000)
    manifests = sorted(glob.glob(f"{tmp_path}/t_ice_part_stats/metadata/"
                                 "manifest-data-*.avro"))
    assert manifests
    entries = []
    for m in manifests:
        _s, rows, _meta = read_avro_file_meta(m)
        entries.extend(rows)
    by_p: dict[int, int] = {}
    for e in entries:
        p = e["data_file"]["partition"]["p"]
        by_p[p] = by_p.get(p, 0) + int(e["data_file"]["record_count"])
    assert by_p == {0: 1, 1: 2, 2: 3, 3: 4}, by_p
    got = read_iceberg_py(spark, t)
    assert got.count() == 10


def test_partitioned_remote_iceberg_dml_stats(spark, tmp_path, fake_store,
                                              one_shuffle_partition):
    """UPDATE across all partitions: replacement files staged per
    partition keep per-file record counts (the advice's 3657 site)."""
    t = f"file://{tmp_path}/t_ice_dml_stats"
    df = _skewed_df(spark)
    create_iceberg_v2_table(df.schema, t, partition_spec=[("p", "identity")])
    append_iceberg_v2(spark, t, df, snapshot_ts_ms=1_700_000_000_000)
    update_where(spark, t, "i = 0", {"v": "v + 1000"},
                 snapshot_ts_ms=1_700_000_001_000)
    got = read_iceberg_py(spark, t)
    assert got.count() == 10
    assert got.where("v >= 1000").count() == 4  # one i=0 row per p
    # v3-style lineage correctness depends on record_count: every
    # replacement entry must carry its own (nonzero) count
    manifests = sorted(glob.glob(f"{tmp_path}/t_ice_dml_stats/metadata/"
                                 "manifest-data-*.avro"))
    newest = max(manifests, key=os.path.getmtime)
    _s, rows, _m = read_avro_file_meta(newest)
    assert rows and all(int(r["data_file"]["record_count"]) > 0 for r in rows)
    total = sum(int(r["data_file"]["record_count"]) for r in rows)
    assert total == 4, total


# ---------------------------------------------------------------------------
# a failed stats read propagates; no silent record_count=0 / missing stats
# ---------------------------------------------------------------------------

def test_footer_stats_failure_propagates(spark, tmp_path, fake_store,
                                         monkeypatch):
    # a missing staging dir raises instead of listing nothing, on every
    # scheme (a posix walk of a missing dir would list no files)
    missing = tmp_path / "nonexistent-staging-dir"
    for p in (str(missing), f"file://{missing}"):
        with pytest.raises(FileNotFoundError):
            file_stats.part_files(p)
    # an unreadable footer raises, posix and scheme'd
    bad = tmp_path / "part-00000-bad.parquet"
    bad.write_bytes(b"PAR1 this is not a parquet file PAR1")
    for p in (str(bad), f"file://{bad}"):
        with pytest.raises(Exception):
            file_stats.read(p)
    # ... and a commit whose footer read fails commits nothing
    df = _skewed_df(spark)
    ti = f"file://{tmp_path}/t_fail_ice"
    td = f"file://{tmp_path}/t_fail_delta"
    create_iceberg_v2_table(df.schema, ti)
    append_iceberg_v2(spark, ti, df, snapshot_ts_ms=1_700_000_000_000)
    write_delta(df, td, "overwrite", timestamp_ms=1_700_000_000_000)

    def unreadable(path, size=None):
        raise OSError(f"footer of {path} unreadable")

    monkeypatch.setattr(file_stats, "footer", unreadable)
    with pytest.raises(OSError, match="unreadable"):
        append_iceberg_v2(spark, ti, df, snapshot_ts_ms=1_700_000_001_000)
    with pytest.raises(OSError, match="unreadable"):
        write_delta(df, td, "append", timestamp_ms=1_700_000_001_000)
    monkeypatch.undo()
    assert read_iceberg_py(spark, ti).count() == 10
    assert read_delta_py(spark, td).count() == 10


# ---------------------------------------------------------------------------
# one footer reader: posix and file:// appends record identical stats
# ---------------------------------------------------------------------------

def _mixed(spark, n=20_000, parts=2):
    """An all-NULL column, NaN doubles, a timestamp and a non-ASCII
    string; ``parts`` range files, each far above pyarrow's 64 KiB
    footer window (so a whole-file read cannot pass for a footer read)."""
    return (
        spark.range(0, n, 1, parts)  # contiguous, deterministic splits
        .select(
            F.col("id").alias("k"),
            F.lit(None).cast("string").alias("nothing"),
            F.when(F.col("id") % 1000 == 7, F.lit(float("nan")))
            .otherwise(F.col("id") / 8)
            .alias("d"),
            F.timestamp_seconds(F.col("id") + 1_700_000_000).alias("ts"),
            F.concat(
                F.lit("ünï-"), F.sha2(F.col("id").cast("string"), 256)
            ).alias("s"),
        )
    )


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"stats-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _delta_stats(spark, t):
    live, _ = replay_head_state(spark, t)
    return sorted(a["stats"] for a in live.values())


def _iceberg_bounds(t):
    out = []
    for m in glob.glob(f"{fsio.strip_scheme(t)}/metadata/manifest-data-*.avro"):
        _s, rows, _m = read_avro_file_meta(m)
        for r in rows:
            f = r["data_file"]
            out.append(
                (
                    f["record_count"],
                    *(
                        [(e["key"], e["value"]) for e in f.get(k) or ()]
                        for k in ("lower_bounds", "upper_bounds",
                                  "null_value_counts")
                    ),
                )
            )
    return sorted(out)


def test_posix_and_remote_appends_record_identical_stats(spark, tmp_path,
                                                         fake_store):
    df = _mixed(spark)
    posix = {"delta": str(tmp_path / "pd"), "iceberg": str(tmp_path / "pi")}
    remote = {k: f"file://{tmp_path}/r{k[0]}" for k in posix}
    for t in (posix["iceberg"], remote["iceberg"]):
        create_iceberg_v2_table(df.schema, t)

    def append(fmt, t):
        if fmt == "delta":
            write_delta(df, t, "overwrite", timestamp_ms=1_700_000_000_000)
        else:
            append_iceberg_v2(spark, t, df, snapshot_ts_ms=1_700_000_000_000)

    jobs = {}
    for fmt in ("delta", "iceberg"):
        jobs[fmt, "posix"] = _jobs(spark, lambda: append(fmt, posix[fmt]))
    # posix footers are opened directly, never through the store
    assert fake_store.range_reads == 0
    for fmt in ("delta", "iceberg"):
        jobs[fmt, "remote"] = _jobs(spark, lambda: append(fmt, remote[fmt]))
    # the same code on every scheme: no extra stats job for file://
    for fmt in ("delta", "iceberg"):
        assert jobs[fmt, "remote"] == jobs[fmt, "posix"], jobs

    # scheme'd stats came from bounded footer reads, not whole files
    data_bytes = sum(
        sz
        for t in remote.values()
        for p, sz in fsio.list_files(t)
        if p.endswith(".parquet")
    )
    assert fake_store.range_reads >= 4  # 2 files per format
    assert fake_store.bytes_ranged < data_bytes / 4, (
        fake_store.bytes_ranged, data_bytes,
    )

    stats = _delta_stats(spark, posix["delta"])
    assert stats == _delta_stats(spark, remote["delta"])
    parsed = [json.loads(s) for s in stats]
    assert sum(st["numRecords"] for st in parsed) == 20_000
    for st in parsed:
        n = st["numRecords"]
        assert st["nullCount"]["nothing"] == n  # all-NULL: count, no range
        assert "nothing" not in st["minValues"]
        assert st["minValues"]["s"].startswith("ünï-")
        assert st["minValues"]["ts"] < st["maxValues"]["ts"]

    bounds = _iceberg_bounds(posix["iceberg"])
    assert bounds == _iceberg_bounds(remote["iceberg"])
    assert sum(b[0] for b in bounds) == 20_000
    nothing_id, d_id = 2, 3  # field ids follow column order
    for rc, lower, upper, nulls in bounds:
        assert dict(nulls)[nothing_id] == rc
        assert nothing_id not in dict(lower)

        # NaN doubles: no range recorded, so no NaN bound
        for key, value in lower + upper:
            if key == d_id:
                assert not math.isnan(_bound_decode(value, "double"))
        assert d_id not in dict(lower) and d_id not in dict(upper)

    # NaN: no NaN token in the stats JSON (strict parsers reject it) ...
    def no_constant(token):
        raise ValueError(f"non-JSON constant {token} in Delta stats")

    for st in stats:
        parsed_st = json.loads(st, parse_constant=no_constant)
        assert "d" not in parsed_st["minValues"]
        assert "d" not in parsed_st["maxValues"]

    # ... and a filter on the NaN column still returns every matching
    # row (Spark orders NaN above every double, so NaN rows match)
    for cond, flt in (("d >= 2000", {"d": (2000, None)}),
                      ("d <= 100", {"d": (None, 100)})):
        want = df.filter(cond).count()
        for t in (posix["delta"], remote["delta"]):
            got = read_delta_py(spark, t, stats_filter=flt).filter(cond)
            assert got.count() == want, (t, cond)
        for t in (posix["iceberg"], remote["iceberg"]):
            got = read_iceberg_py(spark, t, stats_filter=flt).filter(cond)
            assert got.count() == want, (t, cond)


def test_stats_less_add_row_count_is_a_ranged_read(spark, tmp_path,
                                                   fake_store):
    """Row tracking's fallback for an add without stats reads the
    file's row count from its footer: a bounded ranged read, never a
    download of the whole data object."""
    t = f"file://{tmp_path}/t_rowtrack"
    write_delta(_mixed(spark).coalesce(1), t, "overwrite",
                timestamp_ms=1_700_000_000_000)
    live, _ = replay_head_state(spark, t)
    (add,) = live.values()
    add = {k: v for k, v in add.items() if k != "stats"}
    before = fake_store.bytes_ranged
    dm = _assign_base_row_ids(spark, t, [{"add": add}], 1)
    hwm = json.loads(dm["domainMetadata"]["configuration"])[
        "rowIdHighWaterMark"
    ]
    assert hwm - add["baseRowId"] + 1 == 20_000
    assert 0 < fake_store.bytes_ranged - before < add["size"], (
        fake_store.bytes_ranged - before, add["size"],
    )
