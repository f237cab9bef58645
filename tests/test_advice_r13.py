"""Round-13 regression pins for the r12 ADVICE findings:

1. CTAS over an EXISTING table raises "table already exists" instead of
   corrupting Iceberg time-travel history / silently appending (Delta).
2. create_iceberg_v2_table refuses to overwrite v1.metadata.json.
3. delta_py streaming sink commits correctly on a CHECKPOINT-ONLY table
   (JSON commits cleaned up past the checkpoint).
4. bucket[n] partition routing is session-timezone-proof for
   timestamp columns (executor expr == driver apply_transform under a
   non-UTC session timezone).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcs2postgres_spark.sources import delta_py, iceberg_py
from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql


def test_ctas_over_existing_table_raises(spark, tmp_path):
    it = str(tmp_path / "ice")
    d = str(tmp_path / "dl")
    spark.sql("SELECT 1 AS k, 'a' AS name").createOrReplaceTempView("ctas_src13")
    lakehouse_sql(spark, f"CREATE TABLE iceberg.`{it}` AS SELECT * FROM ctas_src13")
    lakehouse_sql(spark, f"CREATE TABLE delta.`{d}` AS SELECT * FROM ctas_src13")
    v_before = json.loads(
        open(os.path.join(it, "metadata", "version-hint.text")).read()
    )
    with pytest.raises(ValueError, match="already exists"):
        lakehouse_sql(spark, f"CREATE TABLE iceberg.`{it}` AS SELECT * FROM ctas_src13")
    with pytest.raises(ValueError, match="already exists"):
        lakehouse_sql(spark, f"CREATE TABLE delta.`{d}` AS SELECT * FROM ctas_src13")
    # history untouched: hint unchanged, both tables still read 1 row
    assert json.loads(
        open(os.path.join(it, "metadata", "version-hint.text")).read()
    ) == v_before
    assert iceberg_py.read_iceberg_py(spark, it).count() == 1
    assert delta_py.read_delta_py(spark, d).count() == 1


def test_create_iceberg_v2_table_refuses_overwrite(spark, tmp_path):
    p = str(tmp_path / "t")
    schema = T.StructType([T.StructField("k", T.LongType())])
    iceberg_py.create_iceberg_v2_table(schema, p)
    with pytest.raises(FileExistsError):
        iceberg_py.create_iceberg_v2_table(schema, p)


def test_stream_sink_commit_on_checkpoint_only_table(spark, tmp_path):
    """A table whose JSON commits were cleaned up past the checkpoint
    must still accept streaming appends: version = checkpoint+1 and the
    metaData contract guard reads from the checkpoint parquet."""
    from gcs2postgres_spark.sources.datasource import make_delta_py_datasource

    p = str(tmp_path / "t")
    df = spark.range(5).select(F.col("id").alias("k"))
    v0 = delta_py.write_delta(df, p)
    delta_py.write_checkpoint(spark, p, v0)
    log = os.path.join(p, "_delta_log")
    for f in os.listdir(log):
        if f.endswith(".json"):
            os.remove(os.path.join(log, f))

    ds = make_delta_py_datasource()
    writer_cls = None
    # reach the stream writer through the datasource's streamWriter hook
    source = ds(options={"path": p})
    schema_json = delta_py.read_delta_py(spark, p).schema.json()
    w = source.streamWriter(
        T.StructType.fromJson(json.loads(schema_json)), overwrite=False
    )
    # stage one row the way a worker would, then commit batch 0
    msg = w.write(iter([{"k": 99}]))
    w.commit([msg], batchId=0)
    commits = [f for f in os.listdir(log) if f.endswith(".json")]
    assert commits == [f"{v0 + 1:020d}.json"]
    out = delta_py.read_delta_py(spark, p)
    assert out.count() == 6
    assert out.filter(F.col("k") == 99).count() == 1


def test_stream_sink_conflict_with_metadata_commit_fails_batch(
    spark, tmp_path, monkeypatch
):
    """The streaming sink's rebase loop must NOT leapfrog a concurrent
    metaData/protocol change (rows staged against the old metaData were
    never validated against the new one). The race is injected by
    landing an ADD CONSTRAINT commit between the sink's version
    computation and its put-if-absent open."""
    from gcs2postgres_spark.sources.datasource import make_delta_py_datasource

    p = str(tmp_path / "t")
    df = spark.range(3).select(F.col("id").alias("k"))
    delta_py.write_delta(df, p)

    ds = make_delta_py_datasource()
    source = ds(options={"path": p})
    schema_json = delta_py.read_delta_py(spark, p).schema.json()
    w = source.streamWriter(
        T.StructType.fromJson(json.loads(schema_json)), overwrite=False
    )
    msg = w.write(iter([{"k": 7}]))

    real_open = os.open
    state = {"raced": False}

    def racing_open(path, flags, mode=0o644):
        if str(path).endswith(".json") and not state["raced"]:
            state["raced"] = True  # set first: alter's own open delegates
            delta_py.alter_delta_add_constraint(spark, p, "bound", "k < 100")
        return real_open(path, flags, mode)

    monkeypatch.setattr(os, "open", racing_open)
    with pytest.raises(RuntimeError, match="metadata/protocol"):
        w.commit([msg], batchId=0)


def test_bucket_timestamp_is_session_timezone_proof(spark, tmp_path):
    """Executor-side bucket routing must agree with driver-side
    apply_transform under a NON-UTC session timezone (ADVICE: the
    pandas UDF used to see session-local tz-naive timestamps)."""
    from gcs2postgres_spark.sources.iceberg_transforms import (
        apply_transform,
        transform_expr,
    )

    tz_before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        vals = [
            dt.datetime(2024, 1, 31, 23, 30, 0, tzinfo=dt.timezone.utc),
            dt.datetime(2024, 7, 4, 4, 0, 1, tzinfo=dt.timezone.utc),
            dt.datetime(1969, 12, 31, 23, 59, 59, tzinfo=dt.timezone.utc),
        ]
        df = spark.createDataFrame(
            [(v,) for v in vals], T.StructType([T.StructField("ts", T.TimestampType())])
        )
        got = [
            r["b"]
            for r in df.select(
                transform_expr("bucket[8]", "ts", T.TimestampType()).alias("b")
            ).collect()
        ]
        want = [apply_transform("bucket[8]", v, "timestamptz") for v in vals]
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_before)


def test_partitioned_scan_bounded_plan_high_cardinality(spark, tmp_path):
    """A table with 1,000 distinct partition tuples must plan as ONE
    file-index scan + broadcast map join, never 1,000 union arms
    (Catalyst analysis cost is superlinear in union arms — the plan
    would explode long before data was read)."""
    from gcs2postgres_spark.plans.inspect import formatted_plan

    p = str(tmp_path / "t")
    src = spark.range(1000).select(
        F.col("id").alias("k"), F.col("id").alias("pt")
    )
    delta_py.write_delta(src, p, partition_by=["pt"])
    out = delta_py.read_delta_py(spark, p)
    plan = formatted_plan(out)
    assert "Union" not in plan, plan[:2000]
    assert plan.count("Scan parquet") == 2, plan[:2000]  # once in tree, once in detail
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    # values + typed partition column roundtrip exactly
    assert out.schema["pt"].dataType.typeName() == "long"
    agg = out.agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sk"),
        F.countDistinct("pt").alias("np"),
    ).collect()[0]
    assert (agg["n"], agg["sk"], agg["np"]) == (1000, 499500, 1000)
    # log-level partition pruning still works above the threshold
    pruned = delta_py.read_delta_py(spark, p, partition_filter={"pt": {"7"}})
    rows = pruned.collect()
    assert len(rows) == 1 and rows[0]["k"] == 7


def test_partitioned_scan_low_cardinality_keeps_literal_arms(spark, tmp_path):
    """Below the union-arm threshold the literal-injection plan is kept:
    partition-column filters fold at plan time (no join in the plan)."""
    from gcs2postgres_spark.plans.inspect import formatted_plan

    p = str(tmp_path / "t")
    src = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("pt")
    )
    delta_py.write_delta(src, p, partition_by=["pt"])
    out = delta_py.read_delta_py(spark, p)
    plan = formatted_plan(out)
    assert "Join" not in plan, plan[:2000]
    assert out.count() == 100


def test_file_index_scan_with_deletion_vectors(spark, tmp_path):
    """The file-index path (>32 partition tuples) must keep the
    __dv_fp/__dv_pos identity helpers working: a DV delete over a
    40-partition table reads back exactly."""
    p = str(tmp_path / "t")
    src = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 40).alias("pt")
    )
    delta_py.write_delta(src, p, partition_by=["pt"])
    n_del = delta_py.delete_where_delta(spark, p, "k % 10 = 3")
    assert n_del is not None
    out = delta_py.read_delta_py(spark, p)
    assert out.count() == 180
    assert out.filter(F.col("k") % 10 == 3).count() == 0
    # partition values still correct after the DV anti-join
    assert out.filter(F.col("pt") != F.col("k") % 40).count() == 0


def test_iceberg_mixed_parquet_orc_manifest(spark, tmp_path):
    """One snapshot whose manifest mixes PARQUET and ORC data files (a
    table migrated between formats) reads the union; ORC + row-level
    deletes refuses with the position-identity explanation."""
    import glob as _glob

    from gcs2postgres_spark.sources.iceberg_py import (
        data_file_entry,
        read_iceberg_py,
        write_manifest,
        write_manifest_list,
        write_snapshot_metadata,
    )

    t = str(tmp_path / "mixed")
    a = spark.createDataFrame([(1, "p1"), (2, "p2")], "k long, name string")
    b = spark.createDataFrame([(3, "o3"), (4, "o4")], "k long, name string")
    a.coalesce(1).write.parquet(os.path.join(t, "data_pq"))
    b.coalesce(1).write.orc(os.path.join(t, "data_orc"))
    files = sorted(_glob.glob(os.path.join(t, "data_pq", "part-*.parquet"))) + \
        sorted(_glob.glob(os.path.join(t, "data_orc", "part-*.orc")))
    mdir = os.path.join(t, "metadata")
    os.makedirs(mdir)
    manifest = os.path.join(mdir, "manifest-1.avro")
    write_manifest(manifest, [data_file_entry(p) for p in files])
    mlist = os.path.join(mdir, "snap-1.avro")
    write_manifest_list(mlist, [manifest], snapshot_id=1)
    write_snapshot_metadata(
        t, a.schema, [{"snapshot-id": 1, "manifest-list": mlist}],
        current_snapshot_id=1, version=1,
    )
    out = read_iceberg_py(spark, t)
    assert sorted((r["k"], r["name"]) for r in out.collect()) == [
        (1, "p1"), (2, "p2"), (3, "o3"), (4, "o4"),
    ]


def test_iceberg_orc_with_deletes_reads(spark, tmp_path):
    """r15 flip of the r13 refusal pin: ORC data files under row-level
    deletes now READ — delete-bearing ORC files decode executor-side
    via pyarrow.orc with explicit record ordinals (_scan_orc_groups),
    the position identity Spark's ORC scan lacks. Hand-built v2
    manifest with an ORC data entry plus a parquet position-delete
    entry deleting row 0."""
    import glob as _glob

    from gcs2postgres_spark.sources.avro_py import write_avro_file
    from gcs2postgres_spark.sources.iceberg_py import (
        MANIFEST_ENTRY_SCHEMA_V2,
        _v2_entry,
        read_iceberg_py,
        write_snapshot_metadata,
    )

    t = str(tmp_path / "orcdel")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, name string"
    )
    df.coalesce(1).write.orc(os.path.join(t, "data"))
    files = sorted(_glob.glob(os.path.join(t, "data", "part-*.orc")))
    spark.createDataFrame(
        [(os.path.abspath(files[0]), 0)], "file_path string, pos long"
    ).coalesce(1).write.parquet(os.path.join(t, "deletes"))
    dfile = sorted(_glob.glob(os.path.join(t, "deletes", "part-*.parquet")))[0]
    mdir = os.path.join(t, "metadata")
    os.makedirs(mdir)
    manifest = os.path.join(mdir, "manifest-1.avro")
    write_avro_file(
        manifest,
        MANIFEST_ENTRY_SCHEMA_V2,
        [_v2_entry(p, content=0, seq=1) for p in files]
        + [_v2_entry(dfile, content=1, seq=2)],
        codec="null",
    )
    from gcs2postgres_spark.sources.iceberg_py import write_manifest_list

    mlist = os.path.join(mdir, "snap-1.avro")
    write_manifest_list(mlist, [manifest], snapshot_id=1)
    write_snapshot_metadata(
        t, df.schema, [{"snapshot-id": 1, "manifest-list": mlist}],
        current_snapshot_id=1, version=1,
    )
    got = {(r["k"], r["name"]) for r in read_iceberg_py(spark, t).collect()}
    # coalesce(1) keeps insertion order: position 0 of the single ORC
    # file is row (1, 'a')
    assert got == {(2, "b"), (3, "c")}


def test_type_widening_validation(spark, tmp_path):
    """Widening validation: narrowing and unrelated conversions raise;
    partition-column widening refuses; typeChanges metadata and the
    typeWidening protocol feature land in the log; DVs still apply on
    the widened read."""
    from gcs2postgres_spark.sources.delta_py import (
        alter_delta_widen_column,
        delete_where_delta,
        read_delta_py,
        replay_head_state,
        write_delta,
    )

    p = str(tmp_path / "t")
    src = spark.createDataFrame(
        [(1, 1.5, "a"), (2, 2.5, "b"), (3, 3.5, "c")],
        "k int, x float, name string",
    )
    write_delta(src, p)
    with pytest.raises(ValueError, match="not a spec-legal"):
        alter_delta_widen_column(spark, p, "k", "short")  # narrowing
    with pytest.raises(ValueError, match="not a spec-legal"):
        alter_delta_widen_column(spark, p, "name", "long")
    with pytest.raises(ValueError, match="not found"):
        alter_delta_widen_column(spark, p, "nope", "long")
    v = alter_delta_widen_column(spark, p, "k", "long")
    alter_delta_widen_column(spark, p, "x", "double")
    _, meta = replay_head_state(spark, p)
    f = next(f for f in json.loads(meta["schemaString"])["fields"] if f["name"] == "k")
    assert f["type"] == "long"
    assert f["metadata"]["delta.typeChanges"][0] == {
        "fromType": "integer", "toType": "long", "tableVersion": v,
    }
    out = read_delta_py(spark, p)
    assert out.schema["k"].dataType.typeName() == "long"
    assert out.schema["x"].dataType.typeName() == "double"
    # row-level DML still works on the widened table (narrow files + DV)
    delete_where_delta(spark, p, "k = 2")
    rows = sorted((r["k"], r["x"]) for r in read_delta_py(spark, p).collect())
    assert rows == [(1, 1.5), (3, 3.5)]

    # partition columns refuse
    p2 = str(tmp_path / "t2")
    write_delta(
        spark.createDataFrame([(1, 2)], "k int, pt int"), p2, partition_by=["pt"]
    )
    with pytest.raises(NotImplementedError, match="PARTITION"):
        alter_delta_widen_column(spark, p2, "pt", "long")


def test_identity_columns_semantics(spark, tmp_path):
    """Identity generation: GENERATED ALWAYS rejects explicit values;
    BY DEFAULT (allow_explicit) accepts them and still advances the
    high water mark; steps stay aligned; concurrent identity writers
    conflict rather than mint duplicate ranges."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from gcs2postgres_spark.sources.delta_py import (
        _identity_fields,
        create_delta_identity_table,
        read_delta_py,
        replay_head_state,
        write_delta,
    )

    schema = StructType(
        [StructField("id", LongType(), True),
         StructField("name", StringType(), True)]
    )
    p = str(tmp_path / "always")
    create_delta_identity_table(spark, p, schema, identity={"id": (10, 3)})
    # explicit values refused (GENERATED ALWAYS)
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        write_delta(
            spark.createDataFrame([(1, "x")], "id long, name string"), p,
            "append",
        )
    write_delta(
        spark.createDataFrame([("a",), ("b",), ("c",)], "name string")
        .coalesce(1),
        p, "append", timestamp_ms=1_700_000_000_000,
    )
    rows = {r["name"]: r["id"] for r in read_delta_py(spark, p).collect()}
    assert rows == {"a": 10, "b": 13, "c": 16}
    _, meta = replay_head_state(spark, p)
    assert _identity_fields(meta)[0]["hwm"] == 16
    # second batch continues past the hwm
    write_delta(
        spark.createDataFrame([("d",)], "name string").coalesce(1), p,
        "append", timestamp_ms=1_700_000_001_000,
    )
    assert {r["id"] for r in read_delta_py(spark, p).collect()} == {10, 13, 16, 19}

    # BY DEFAULT: explicit values allowed and advance the hwm
    p2 = str(tmp_path / "bydefault")
    create_delta_identity_table(
        spark, p2, schema, identity={"id": (1, 1)}, allow_explicit=True
    )
    write_delta(
        spark.createDataFrame([(500, "x")], "id long, name string"), p2,
        "append", timestamp_ms=1_700_000_000_000,
    )
    _, meta2 = replay_head_state(spark, p2)
    assert _identity_fields(meta2)[0]["hwm"] == 500
    write_delta(
        spark.createDataFrame([("y",)], "name string").coalesce(1), p2,
        "append", timestamp_ms=1_700_000_001_000,
    )
    assert {r["id"] for r in read_delta_py(spark, p2).collect()} == {500, 501}

    # creation validation
    with pytest.raises(ValueError, match="must be LONG"):
        create_delta_identity_table(
            spark, str(tmp_path / "bad"), StructType(
                [StructField("id", StringType(), True)]
            ), identity={"id": (0, 1)},
        )


def test_iceberg_type_promotion(spark, tmp_path):
    """Iceberg spec type promotion (int->long, float->double, decimal
    precision widen): metadata-only schema commit; old narrow files
    upcast at scan time via the read path's per-column cast."""
    from gcs2postgres_spark.sources.iceberg_py import (
        alter_iceberg_widen_column,
        append_iceberg_v2,
        create_iceberg_v2_table,
        read_iceberg_py,
    )

    t = str(tmp_path / "prom")
    base = spark.createDataFrame(
        [(1, 1.5), (2, 2.5)], "k int, x float"
    )
    create_iceberg_v2_table(base.schema, t)
    append_iceberg_v2(spark, t, base, snapshot_ts_ms=1_700_000_000_000)
    with pytest.raises(ValueError, match="not a spec-legal"):
        alter_iceberg_widen_column(t, "k", "float")
    lakehouse_sql(spark, f"ALTER TABLE iceberg.`{t}` ALTER COLUMN k TYPE BIGINT")
    alter_iceberg_widen_column(t, "x", "double")
    # post-promotion append with values only the wide types hold
    append_iceberg_v2(
        spark, t,
        spark.createDataFrame([(3_000_000_000, 3.5)], "k long, x double"),
        snapshot_ts_ms=1_700_000_001_000,
    )
    out = read_iceberg_py(spark, t)
    assert out.schema["k"].dataType.typeName() == "long"
    assert out.schema["x"].dataType.typeName() == "double"
    rows = sorted((r["k"], round(r["x"], 1)) for r in out.collect())
    assert rows == [(1, 1.5), (2, 2.5), (3_000_000_000, 3.5)]


def test_row_tracking_enable_backfill_and_append(spark, tmp_path):
    """Row tracking end to end: enablement backfills baseRowId for
    existing files (dataChange=false re-adds + high water mark);
    subsequent appends allocate fresh contiguous blocks above it;
    _row_id is unique, and stable across a DV delete."""
    from gcs2postgres_spark.sources.delta_py import (
        _row_id_high_watermark,
        delete_where_delta,
        enable_row_tracking,
        read_delta_with_row_ids,
        write_delta,
    )

    p = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(i, f"v{i}") for i in range(10)],
                              "k long, name string").coalesce(2),
        p, timestamp_ms=1_700_000_000_000,
    )
    enable_row_tracking(spark, p)
    assert _row_id_high_watermark(spark, p) == 9
    out = read_delta_with_row_ids(spark, p)
    ids = [r["_row_id"] for r in out.collect()]
    assert sorted(ids) == list(range(10))
    # append allocates above the watermark
    write_delta(
        spark.createDataFrame([(100, "x"), (101, "y")], "k long, name string")
        .coalesce(1),
        p, "append", timestamp_ms=1_700_000_001_000,
    )
    assert _row_id_high_watermark(spark, p) == 11
    out2 = read_delta_with_row_ids(spark, p)
    assert sorted(r["_row_id"] for r in out2.collect()) == list(range(12))
    # row ids survive a DV delete unchanged for the surviving rows
    before = {r["k"]: r["_row_id"] for r in out2.collect()}
    delete_where_delta(spark, p, "k = 3")
    after = {r["k"]: r["_row_id"] for r in read_delta_with_row_ids(spark, p).collect()}
    assert 3 not in after
    assert after == {k: v for k, v in before.items() if k != 3}
    # double-enable raises
    with pytest.raises(ValueError, match="already enabled"):
        enable_row_tracking(spark, p)


def test_checkpoint_preserves_row_tracking_and_protocol(spark, tmp_path):
    """Checkpoint round trip for the r13 writer features: after
    write_checkpoint + JSON cleanup, row ids and the rowIdHighWaterMark
    survive (appends keep allocating above, never overlapping), and the
    v7 protocol's feature lists still gate writes."""
    from gcs2postgres_spark.sources.delta_py import (
        _head_protocol,
        _row_id_high_watermark,
        enable_row_tracking,
        read_delta_with_row_ids,
        write_checkpoint,
        write_delta,
    )

    p = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(i,) for i in range(6)], "k long").coalesce(1),
        p, timestamp_ms=1_700_000_000_000,
    )
    v = enable_row_tracking(spark, p)
    before = {r["k"]: r["_row_id"] for r in read_delta_with_row_ids(spark, p).collect()}
    write_checkpoint(spark, p, v)
    log = os.path.join(p, "_delta_log")
    for f in os.listdir(log):
        if f.endswith(".json"):
            os.remove(os.path.join(log, f))
    # row ids and watermark survive the cleanup
    after = {r["k"]: r["_row_id"] for r in read_delta_with_row_ids(spark, p).collect()}
    assert after == before
    assert _row_id_high_watermark(spark, p) == 5
    proto = _head_protocol(p)
    assert proto["minWriterVersion"] == 7
    assert "rowTracking" in proto["writerFeatures"]
    # an append still allocates ABOVE the checkpointed watermark
    write_delta(
        spark.createDataFrame([(100,)], "k long").coalesce(1), p, "append",
        timestamp_ms=1_700_000_001_000,
    )
    ids = sorted(
        r["_row_id"] for r in read_delta_with_row_ids(spark, p).collect()
    )
    assert ids == [0, 1, 2, 3, 4, 5, 6]


def test_v2_checkpoint_table_falls_back_to_json_replay(spark, tmp_path):
    """A _last_checkpoint naming a version with NO checkpoint files at
    all (crashed cleanup; v2/uuid-named layouts are parsed natively
    since round 13 — test_delta_checkpoint_layouts) reads via full JSON
    replay when the prefix is intact, and refuses with the jar hint
    otherwise."""
    from gcs2postgres_spark.sources.delta_py import read_delta_py, write_delta

    p = str(tmp_path / "t")
    write_delta(
        spark.createDataFrame([(1,), (2,)], "k long").coalesce(1), p,
        timestamp_ms=1_700_000_000_000,
    )
    log = os.path.join(p, "_delta_log")
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": 0, "sizeInBytes": 1}, f)
    assert read_delta_py(spark, p).count() == 2
    os.remove(os.path.join(log, f"{0:020d}.json"))
    with pytest.raises(FileNotFoundError, match="no checkpoint files"):
        read_delta_py(spark, p)
