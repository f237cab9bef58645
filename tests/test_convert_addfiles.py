"""r15: CONVERT TO DELTA (in-place parquet-dir conversion) and the
Iceberg add_files twin (external-file append) — the zero-data-movement
onboarding surfaces."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from gcs2postgres_spark.sources import fsio
from gcs2postgres_spark.sources.delta_py import (
    convert_to_delta,
    delete_where_delta,
    read_delta_py,
    write_delta,
)
from gcs2postgres_spark.sources.iceberg_py import (
    add_files,
    alter_iceberg_rename_column,
    append_iceberg_v2,
    create_iceberg_v2_table,
    read_iceberg_py,
)
from gcs2postgres_spark.sources.logstore import (
    FakeObjectStore,
    set_log_store_override,
)


def _df(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .withColumnRenamed("id", "k")
        .withColumn("p", (F.col("k") % 3).cast("integer"))
        .withColumn("v", (F.col("k") * 2).cast("long"))
    )


def test_convert_partitioned_dir_and_dml(spark, tmp_path):
    d = str(tmp_path / "raw")
    _df(spark, 0, 30).write.partitionBy("p").parquet(d)
    convert_to_delta(spark, d, timestamp_ms=1_700_000_000_000)
    got = read_delta_py(spark, d)
    # typed partition column, full content, per-file stats recorded
    assert got.schema["p"].dataType.typeName() == "integer"
    assert got.count() == 30
    log = open(os.path.join(d, "_delta_log", f"{0:020d}.json")).read()
    adds = [json.loads(x)["add"] for x in log.splitlines() if '"add"' in x]
    assert all("p" in a["partitionValues"] for a in adds)
    assert all("stats" in a for a in adds)
    # stats skipping works on the converted files
    assert read_delta_py(spark, d, stats_filter={"k": (1000, None)}).count() == 0
    # it is a FULL delta table now: append + DV delete + time travel
    write_delta(_df(spark, 30, 33), d, "append", timestamp_ms=1_700_000_001_000)
    delete_where_delta(spark, d, "k < 3", timestamp_ms=1_700_000_002_000)
    assert read_delta_py(spark, d).count() == 30
    assert read_delta_py(spark, d, version_as_of=0).count() == 30


def test_convert_guards(spark, tmp_path):
    d = str(tmp_path / "raw2")
    _df(spark, 0, 6).write.parquet(d)
    convert_to_delta(spark, d, timestamp_ms=1_700_000_000_000)
    with pytest.raises(ValueError, match="_delta_log"):
        convert_to_delta(spark, d)
    d2 = str(tmp_path / "rawcsv")
    _df(spark, 0, 6).write.csv(d2)
    with pytest.raises(NotImplementedError, match="parquet only"):
        convert_to_delta(spark, d2)
    d3 = str(tmp_path / "raw3")
    _df(spark, 0, 6).write.partitionBy("p").parquet(d3)
    with pytest.raises(ValueError, match="does not match"):
        convert_to_delta(spark, d3, partition_by=["k"])


def test_convert_remote_scheme(spark, tmp_path):
    store = FakeObjectStore()
    set_log_store_override(store)
    try:
        d = f"file://{tmp_path}/rawr"
        _df(spark, 0, 12).drop("p").write.parquet(d)
        convert_to_delta(spark, d, timestamp_ms=1_700_000_000_000)
        got = read_delta_py(spark, d)
        assert got.count() == 12
        # stats came from the files' footers, commit through the seam
        log = fsio.read_text(fsio.join(d, "_delta_log", f"{0:020d}.json"))
        adds = [json.loads(x)["add"] for x in log.splitlines() if '"add"' in x]
        assert adds and all("stats" in a for a in adds)
        assert store.puts >= 1
    finally:
        set_log_store_override(None)


def test_add_files_then_rename_still_resolves(spark, tmp_path):
    src = str(tmp_path / "ext")
    tbl = str(tmp_path / "tbl")
    df = _df(spark, 0, 10).drop("p")
    df.write.parquet(src)
    create_iceberg_v2_table(df.schema, tbl)
    append_iceberg_v2(spark, tbl, _df(spark, 10, 15).drop("p"),
                      snapshot_ts_ms=1_700_000_000_000)
    add_files(spark, tbl, src, snapshot_ts_ms=1_700_000_001_000)
    assert read_iceberg_py(spark, tbl).count() == 15
    # the add-time schema stamp keeps id-resolution across a rename
    alter_iceberg_rename_column(tbl, "v", "val")
    got = read_iceberg_py(spark, tbl)
    assert got.columns == ["k", "val"]
    rows = {r["k"]: r["val"] for r in got.collect()}
    assert rows[2] == 4 and rows[12] == 24 and len(rows) == 15
    # stats skipping covers added files (bounds from their footers)
    pruned = read_iceberg_py(spark, tbl, stats_filter={"k": (1000, None)})
    assert pruned.count() == 0


def test_add_files_guards(spark, tmp_path):
    src = str(tmp_path / "ext2")
    spark.range(0, 3).select(F.col("id").alias("other")).write.parquet(src)
    tbl = str(tmp_path / "tbl2")
    df = _df(spark, 0, 3).drop("p")
    create_iceberg_v2_table(df.schema, tbl)
    with pytest.raises(ValueError, match="lack table columns"):
        add_files(spark, tbl, src)
    ptbl = str(tmp_path / "ptbl")
    create_iceberg_v2_table(_df(spark, 0, 3).schema, ptbl,
                            partition_spec=[("p", "identity")])
    with pytest.raises(NotImplementedError, match="PARTITIONED"):
        add_files(spark, ptbl, src)


def test_fsck_repairs_missing_files(spark, tmp_path):
    """FSCK REPAIR TABLE: out-of-band-deleted files are dropped from
    the live set in one commit; surviving rows read fine; DRY RUN only
    reports."""
    import glob as _glob

    from gcs2postgres_spark.sources.delta_py import fsck_delta
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    t = str(tmp_path / "fsck")
    df = _df(spark, 0, 30).drop("p")
    write_delta(df.repartition(3), t, "overwrite",
                timestamp_ms=1_700_000_000_000)
    victim = sorted(_glob.glob(os.path.join(t, "*.parquet")))[0]
    os.remove(victim)
    # the scan would now FileNotFound; dry run names the dead add
    dry = lakehouse_sql(spark, f"FSCK REPAIR TABLE delta.`{t}` DRY RUN")
    assert dry.count() == 1
    # still broken after dry run
    repaired = fsck_delta(spark, t, timestamp_ms=1_700_000_001_000)
    assert len(repaired) == 1
    got = read_delta_py(spark, t)
    n = got.count()
    assert 0 < n < 30  # the dead file's rows are gone, the rest read
    assert fsck_delta(spark, t, dry_run=True) == []  # clean now


def test_uniform_iceberg_sync(spark, tmp_path):
    """UniForm: iceberg metadata over a delta table — both readers
    agree; DV tables sync as Iceberg v3 deletion vectors (r16 — the
    OPTIMIZE-first refusal is gone); re-sync tracks the delta version;
    plan stays footer-probe-free."""
    import pyarrow.parquet as pq

    from gcs2postgres_spark.sources.delta_py import (
        compact_delta,
        delete_where_delta,
    )
    from gcs2postgres_spark.sources.iceberg_py import (
        latest_metadata_file,
        sync_uniform_iceberg,
    )

    t = str(tmp_path / "uni")
    df = _df(spark, 0, 20).drop("p")
    write_delta(df, t, "overwrite", timestamp_ms=1_700_000_000_000)
    sid = sync_uniform_iceberg(spark, t, snapshot_ts_ms=1_700_000_001_000)
    assert sid == 1  # delta v0 -> snapshot 1
    a = sorted(tuple(r) for r in read_delta_py(spark, t).collect())
    b = sorted(tuple(r) for r in read_iceberg_py(spark, t).collect())
    assert a == b and len(a) == 20
    # a DV'd table syncs directly: the Delta DV re-renders as an
    # Iceberg v3 Puffin deletion vector (same roaring format) and the
    # Iceberg read excludes the deleted rows — no OPTIMIZE tax
    import json as _json

    delete_where_delta(spark, t, "k < 5", timestamp_ms=1_700_000_002_000)
    sync_uniform_iceberg(spark, t, snapshot_ts_ms=1_700_000_002_500)
    b = sorted(tuple(r) for r in read_iceberg_py(spark, t).collect())
    assert len(b) == 15 and b == sorted(
        tuple(r) for r in read_delta_py(spark, t).collect()
    )
    meta = _json.loads(open(latest_metadata_file(t)).read())
    assert meta["format-version"] == 3  # DVs are a v3 feature
    compact_delta(spark, t, timestamp_ms=1_700_000_003_000)
    sid2 = sync_uniform_iceberg(spark, t, snapshot_ts_ms=1_700_000_004_000)
    assert sid2 == 3  # delta v2 (delete) + v? compact -> tracks head
    b = sorted(tuple(r) for r in read_iceberg_py(spark, t).collect())
    assert len(b) == 15 and b == sorted(
        tuple(r) for r in read_delta_py(spark, t).collect()
    )
    # the UniForm marker + watermark are recorded; DV-free re-sync
    # drops back to v2
    meta = _json.loads(open(latest_metadata_file(t)).read())
    assert meta["properties"]["delta.universalFormat.enabledFormats"] == "iceberg"
    assert meta["format-version"] == 2


def test_uniform_column_mapping_and_dv(spark, tmp_path):
    """r16: UniForm over a columnMapping Delta table (nested struct,
    physical names resolved via the stamped physical schema twin +
    name-mapping), over a DV'd table, and over the combination —
    exact vs the Delta reader. The metadata carries the public spec's
    schema.name-mapping.default keyed by PHYSICAL file names."""
    import json as _json

    from gcs2postgres_spark.sources.delta_py import (
        alter_delta_rename_column,
        delete_where_delta,
    )
    from gcs2postgres_spark.sources.iceberg_py import (
        latest_metadata_file,
        sync_uniform_iceberg,
    )

    t = str(tmp_path / "uni_map")
    df = spark.range(0, 24).selectExpr(
        "id AS k",
        "CAST(id % 3 AS INT) AS p",
        'named_struct("v", id * 2, "tags", array(CAST(id AS STRING))) AS meta',
    )
    write_delta(df, t, "overwrite", partition_by=["p"],
                timestamp_ms=1_700_000_000_000)
    alter_delta_rename_column(spark, t, "meta", "info")  # mapping on
    delete_where_delta(spark, t, "k % 2 = 0", timestamp_ms=1_700_000_001_000)
    sync_uniform_iceberg(spark, t, snapshot_ts_ms=1_700_000_002_000)
    a = sorted(
        (r["k"], r["p"], r["info"]["v"], tuple(r["info"]["tags"]))
        for r in read_delta_py(spark, t).collect()
    )
    b = sorted(
        (r["k"], r["p"], r["info"]["v"], tuple(r["info"]["tags"]))
        for r in read_iceberg_py(spark, t).collect()
    )
    assert a == b and len(a) == 12
    meta = _json.loads(open(latest_metadata_file(t)).read())
    nm = _json.loads(meta["properties"]["schema.name-mapping.default"])
    # ids reuse delta.columnMapping.id; physical names at every depth
    by_id = {e["field-id"]: e for e in nm}
    info_entry = next(e for e in nm if "fields" in e)
    assert {c["names"][0] for c in info_entry["fields"]} == {"v", "tags"}
    assert len(by_id) == len(nm)  # unique top-level ids
    assert meta["format-version"] == 3  # the DV rode along


def test_uniform_partitioned_delta(spark, tmp_path):
    """Partitioned UniForm: hive-layout Delta files lack the partition
    column; the Iceberg scan materializes identity values from the
    manifest tuples (data-only schema stamp) and manifest-level
    partition pruning works."""
    from gcs2postgres_spark.sources.iceberg_py import sync_uniform_iceberg

    t = str(tmp_path / "unip")
    df = _df(spark, 0, 30).withColumn("p", (F.col("k") % 3).cast("long"))
    write_delta(df, t, "overwrite", partition_by=["p"],
                timestamp_ms=1_700_000_000_000)
    sync_uniform_iceberg(spark, t, snapshot_ts_ms=1_700_000_001_000)
    a = sorted(tuple(r) for r in
               read_delta_py(spark, t).select("k", "p", "v").collect())
    b = sorted(tuple(r) for r in
               read_iceberg_py(spark, t).select("k", "p", "v").collect())
    assert a == b and len(a) == 30
    assert read_iceberg_py(spark, t, partition_filter={"p": {1}}).count() == 10


def test_uniform_high_cardinality_partitioning_capped(spark, tmp_path):
    """r16: above _MAX_UNION_ARMS distinct partition tuples the fills
    branch must NOT build one union arm per tuple (Catalyst analysis
    explodes superlinearly in arm count — a 10^4-partition UniForm
    table would die at plan time): it switches to ONE multi-path scan
    + a broadcast file->partition-value join, O(1) in partition count.
    Below the threshold the literal-union plan (whole-arm folding under
    partition filters) is kept."""
    from gcs2postgres_spark.plans.inspect import formatted_plan
    from gcs2postgres_spark.sources.iceberg_py import (
        _MAX_UNION_ARMS,
        sync_uniform_iceberg,
    )

    t = str(tmp_path / "uni_many")
    n_parts = 100
    assert n_parts > _MAX_UNION_ARMS
    df = (
        spark.range(0, 300)
        .withColumnRenamed("id", "k")
        .withColumn("p", (F.col("k") % n_parts).cast("long"))
        .withColumn("v", (F.col("k") * 2).cast("long"))
    )
    write_delta(df, t, "overwrite", partition_by=["p"],
                timestamp_ms=1_700_000_000_000)
    sync_uniform_iceberg(spark, t, snapshot_ts_ms=1_700_000_001_000)
    got = read_iceberg_py(spark, t)
    plan = formatted_plan(got)
    # one data scan + the broadcast map join — NOT 100 union arms
    assert plan.count("Union") == 0, plan[:2000]
    assert "Join" in plan and "Broadcast" in plan
    # exactness: every row carries its recovered partition value
    a = sorted(tuple(r) for r in
               read_delta_py(spark, t).select("k", "p", "v").collect())
    b = sorted(tuple(r) for r in got.select("k", "p", "v").collect())
    assert a == b and len(a) == 300
    # the low-cardinality plan is untouched (literal arms, no join)
    t2 = str(tmp_path / "uni_few")
    df2 = _df(spark, 0, 30).withColumn("p", (F.col("k") % 3).cast("long"))
    write_delta(df2, t2, "overwrite", partition_by=["p"],
                timestamp_ms=1_700_000_000_000)
    sync_uniform_iceberg(spark, t2, snapshot_ts_ms=1_700_000_001_000)
    assert "Join" not in formatted_plan(read_iceberg_py(spark, t2))


def test_uniform_dv_distributed_branch(spark, tmp_path):
    """r16: above _MAX_UNION_ARMS DV'd files the sync must not decode
    and render DVs on the driver — positions decode executor-side
    (dv_positions_frame) and per-file Puffins come from _write_dv_files
    (metadata-only collect). Values stay exact vs the Delta reader."""
    from gcs2postgres_spark.sources.delta_py import delete_where_delta
    from gcs2postgres_spark.sources.iceberg_py import (
        _MAX_UNION_ARMS,
        latest_metadata_file,
        sync_uniform_iceberg,
    )

    t = str(tmp_path / "uni_dv_many")
    n_files = _MAX_UNION_ARMS + 8
    df = spark.range(0, n_files * 10).selectExpr("id AS k", "id * 2 AS v")
    write_delta(df.repartition(n_files), t, "overwrite",
                timestamp_ms=1_700_000_000_000)
    # every 5th row deleted: with rows hash-spread over n_files files,
    # (essentially) every file collects a DV -> > threshold descriptors
    delete_where_delta(spark, t, "k % 5 = 3", timestamp_ms=1_700_000_001_000)
    from gcs2postgres_spark.sources.delta_py import replay_head_state

    live, _m = replay_head_state(spark, t)
    n_dv = sum(1 for a in live.values() if a.get("deletionVector"))
    assert n_dv > _MAX_UNION_ARMS, f"fixture too small: {n_dv} DV'd files"
    sync_uniform_iceberg(spark, t, snapshot_ts_ms=1_700_000_002_000)
    a = sorted(tuple(r) for r in read_delta_py(spark, t).collect())
    b = sorted(tuple(r) for r in read_iceberg_py(spark, t).collect())
    assert a == b and len(a) == n_files * 10 - n_files * 2
    import glob as _glob
    import json as _json

    assert _json.loads(
        open(latest_metadata_file(t)).read()
    )["format-version"] == 3
    # per-file puffins from the distributed writer, not one monolith
    assert len(_glob.glob(f"{t}/metadata/dv-*.puffin")) > 1


def test_uniform_temporal_partitions(spark, tmp_path):
    """r16: UniForm over DATE / TIMESTAMP identity partitions (the most
    common real partitioning): manifest tuples store the spec's int
    days / long micros, the scan converts back on materialization, and
    manifest-level pruning works on the stored ints."""
    from gcs2postgres_spark.sources.iceberg_py import sync_uniform_iceberg

    t = str(tmp_path / "uni_date")
    df = spark.range(0, 30).selectExpr(
        "id AS k",
        "date_add(DATE'2024-01-01', CAST(id % 5 AS INT)) AS dt",
        "id * 2 AS v",
    )
    write_delta(df, t, "overwrite", partition_by=["dt"],
                timestamp_ms=1_700_000_000_000)
    sync_uniform_iceberg(spark, t, snapshot_ts_ms=1_700_000_001_000)
    a = sorted(tuple(map(str, r)) for r in
               read_delta_py(spark, t).select("k", "dt", "v").collect())
    b = sorted(tuple(map(str, r)) for r in
               read_iceberg_py(spark, t).select("k", "dt", "v").collect())
    assert a == b and len(a) == 30
    # stored value is int days: 2024-01-02 = 19724 — manifest-level skip
    assert read_iceberg_py(
        spark, t, partition_filter={"dt": {19724}}
    ).count() == 6

    t2 = str(tmp_path / "uni_ts")
    df2 = spark.range(0, 20).selectExpr(
        "id AS k",
        "timestampadd(HOUR, CAST(id % 4 AS INT), "
        "TIMESTAMP'2024-01-01 00:00:00') AS ts",
        "id * 3 AS v",
    )
    write_delta(df2, t2, "overwrite", partition_by=["ts"],
                timestamp_ms=1_700_000_000_000)
    sync_uniform_iceberg(spark, t2, snapshot_ts_ms=1_700_000_001_000)
    a2 = sorted(tuple(map(str, r)) for r in
                read_delta_py(spark, t2).select("k", "ts", "v").collect())
    b2 = sorted(tuple(map(str, r)) for r in
                read_iceberg_py(spark, t2).select("k", "ts", "v").collect())
    assert a2 == b2 and len(a2) == 20


def test_uniform_decimal_boolean_float_partitions(spark, tmp_path):
    """r17: UniForm over DECIMAL / BOOLEAN / DOUBLE identity partitions
    (LOW-cardinality branch — typed literals injected, F.lit(Decimal)/
    bool/float): manifest tuples store the decimal as an avro decimal
    logical (unscaled big-endian bytes, Iceberg single-value
    serialization); values round-trip exactly. Binary partitions keep
    the documented refusal."""
    import pytest as _pytest

    from gcs2postgres_spark.sources.iceberg_py import sync_uniform_iceberg

    t = str(tmp_path / "uni_dec")
    df = spark.range(0, 24).selectExpr(
        "id AS k",
        "CAST(CAST(id % 3 AS DECIMAL(6,2)) + 0.25 AS DECIMAL(6,2)) AS d",
        "id % 2 = 0 AS flag",
        "id * 2 AS v",
    )
    write_delta(df, t, "overwrite", partition_by=["d", "flag"],
                timestamp_ms=1_700_000_000_000)
    sync_uniform_iceberg(spark, t, snapshot_ts_ms=1_700_000_001_000)
    a = sorted(tuple(map(str, r)) for r in
               read_delta_py(spark, t).select("k", "d", "flag", "v").collect())
    b = sorted(tuple(map(str, r)) for r in
               read_iceberg_py(spark, t).select("k", "d", "flag", "v").collect())
    assert a == b and len(a) == 24
    # negative decimals exercise the signed big-endian encoding
    t1b = str(tmp_path / "uni_dec_neg")
    dfn = spark.range(0, 12).selectExpr(
        "id AS k",
        "CAST(CAST(id % 3 AS DECIMAL(6,2)) - 7.50 AS DECIMAL(6,2)) AS d",
    )
    write_delta(dfn, t1b, "overwrite", partition_by=["d"],
                timestamp_ms=1_700_000_000_000)
    sync_uniform_iceberg(spark, t1b, snapshot_ts_ms=1_700_000_001_000)
    an = sorted(tuple(map(str, r)) for r in
                read_delta_py(spark, t1b).collect())
    bn = sorted(tuple(map(str, r)) for r in
                read_iceberg_py(spark, t1b).collect())
    assert an == bn and len(an) == 12

    t2 = str(tmp_path / "uni_dbl")
    df2 = spark.range(0, 12).selectExpr(
        "id AS k", "CAST(id % 4 AS DOUBLE) / 4.0 AS x"
    )
    write_delta(df2, t2, "overwrite", partition_by=["x"],
                timestamp_ms=1_700_000_000_000)
    sync_uniform_iceberg(spark, t2, snapshot_ts_ms=1_700_000_001_000)
    a2 = sorted(tuple(map(str, r)) for r in read_delta_py(spark, t2).collect())
    b2 = sorted(tuple(map(str, r)) for r in read_iceberg_py(spark, t2).collect())
    assert a2 == b2 and len(a2) == 12

    # binary partition values: documented refusal, never wrong rows
    t3 = str(tmp_path / "uni_bin")
    df3 = spark.range(0, 4).selectExpr(
        "id AS k", "CAST(CAST(id % 2 AS STRING) AS BINARY) AS b"
    )
    write_delta(df3, t3, "overwrite", partition_by=["b"],
                timestamp_ms=1_700_000_000_000)
    with _pytest.raises(NotImplementedError, match="binary"):
        sync_uniform_iceberg(spark, t3, snapshot_ts_ms=1_700_000_001_000)


def test_uniform_resync_idempotent(spark, tmp_path):
    """r16: re-sync with no new Delta commits is a metadata no-op (the
    uniform.delta-version watermark short-circuits — real UniForm's
    async sync polls constantly); a new commit re-syncs for real."""
    import glob as _glob

    from gcs2postgres_spark.sources.iceberg_py import sync_uniform_iceberg

    t = str(tmp_path / "uni_idem")
    df = _df(spark, 0, 10).drop("p")
    write_delta(df, t, "overwrite", timestamp_ms=1_700_000_000_000)
    sid1 = sync_uniform_iceberg(spark, t, snapshot_ts_ms=1_700_000_001_000)
    n_meta = len(_glob.glob(f"{t}/metadata/v*.metadata.json"))
    sid2 = sync_uniform_iceberg(spark, t, snapshot_ts_ms=1_700_000_002_000)
    assert sid2 == sid1
    assert len(_glob.glob(f"{t}/metadata/v*.metadata.json")) == n_meta
    write_delta(_df(spark, 10, 13).drop("p"), t, "append",
                timestamp_ms=1_700_000_003_000)
    sid3 = sync_uniform_iceberg(spark, t, snapshot_ts_ms=1_700_000_004_000)
    assert sid3 > sid1
    assert read_iceberg_py(spark, t).count() == 13
