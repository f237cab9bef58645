"""UPDATE / MERGE / compaction for the jar-less Delta and Iceberg
committers (round 11).

The reference delegates row-level DML and table maintenance to its
warehouse (query passthrough, reference src/db/db.go:59); these are the
lakehouse-side equivalents a jar-ful runtime exposes as SQL
UPDATE / MERGE INTO / OPTIMIZE / rewrite_data_files. Every test
round-trips through the jar-less readers, so a committer that writes a
spec-invalid action shape fails here, not in a downstream engine."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from gcs2postgres_spark.sources import delta_py, iceberg_py

# ---------------------------------------------------------------- iceberg


def _ice_nation(spark):
    return spark.range(24).selectExpr(
        "CAST(id AS INT) AS k",
        "concat('N_', id) AS name",
        "CAST(id % 4 AS INT) AS region",
    )


def test_iceberg_update_where_rewrites_rows(spark, tmp_path):
    """UPDATE = one atomic position-delete + append snapshot; SET may
    touch the PARTITION column, which must route the rewritten rows to
    their new partition (new tuple in the replacement pid map)."""
    from gcs2postgres_spark.sources.iceberg_py import (
        read_iceberg_py,
        update_where,
        write_iceberg_v2_partitioned_fixture,
    )

    table = str(tmp_path / "upd")
    write_iceberg_v2_partitioned_fixture(_ice_nation(spark), table, "region")

    sid = update_where(
        spark, table, "region = 2",
        {"name": "concat('UPD_', name)", "region": "region + 10"},
        snapshot_ts_ms=1_700_000_001_000,
    )
    assert sid is not None
    out = read_iceberg_py(spark, table)
    assert out.count() == 24  # row count preserved
    moved = out.filter("region = 12").collect()
    assert len(moved) == 6 and all(r["name"].startswith("UPD_") for r in moved)
    assert out.filter("region = 2").count() == 0
    # partition pruning still reaches the moved rows' new partition
    pruned = read_iceberg_py(spark, table, partition_filter={"region": {12}})
    assert pruned.count() == 6
    # no-match UPDATE: no commit at all
    assert update_where(spark, table, "region = 99", {"name": "'x'"}) is None
    # unknown SET column: actionable error
    with pytest.raises(ValueError, match="unknown columns"):
        update_where(spark, table, "region = 0", {"nope": "'x'"})


def test_iceberg_merge_into_upsert_and_delete(spark, tmp_path):
    """MERGE (CDC-apply): matched keys replaced, unmatched inserted —
    all in ONE snapshot; when_matched='delete' applies CDC deletes;
    when_not_matched='ignore' drops unmatched source rows."""
    from gcs2postgres_spark.sources.iceberg_py import (
        merge_into,
        read_iceberg_py,
        write_iceberg_v2_fixture,
    )

    table = str(tmp_path / "mrg")
    write_iceberg_v2_fixture(_ice_nation(spark), table, sort_col="k")

    src = spark.createDataFrame(
        [(3, "SRC_3", 1), (7, "SRC_7", 3), (900, "SRC_NEW", 0)],
        "k int, name string, region int",
    )
    sid = merge_into(spark, table, src, ["k"], snapshot_ts_ms=1_700_000_001_000)
    assert sid is not None
    d = {r["k"]: r["name"] for r in read_iceberg_py(spark, table).collect()}
    assert d[3] == "SRC_3" and d[7] == "SRC_7" and d[900] == "SRC_NEW"
    assert len(d) == 25
    # update-only (ignore unmatched): new key 901 must NOT appear
    src2 = spark.createDataFrame(
        [(900, "SRC_NEWER", 0), (901, "GHOST", 0)], "k int, name string, region int"
    )
    merge_into(
        spark, table, src2, ["k"], when_not_matched="ignore",
        snapshot_ts_ms=1_700_000_002_000,
    )
    d = {r["k"]: r["name"] for r in read_iceberg_py(spark, table).collect()}
    assert d[900] == "SRC_NEWER" and 901 not in d and len(d) == 25
    # CDC delete: matched keys removed, no inserts
    merge_into(
        spark, table, src.select("k"), ["k"], when_matched="delete",
        when_not_matched="ignore", snapshot_ts_ms=1_700_000_003_000,
    )
    d = {r["k"] for r in read_iceberg_py(spark, table).collect()}
    assert d.isdisjoint({3, 7, 900}) and len(d) == 22
    # all-miss delete-merge: pure no-op, no commit
    assert (
        merge_into(
            spark, table, src.select("k"), ["k"], when_matched="delete",
            when_not_matched="ignore",
        )
        is None
    )
    # source lacking table columns: actionable error
    with pytest.raises(ValueError, match="lacks table columns"):
        merge_into(spark, table, src.select("k"), ["k"])
    with pytest.raises(ValueError, match="when_matched"):
        merge_into(spark, table, src, ["k"], when_matched="upsert")


def test_iceberg_rewrite_data_files_compacts(spark, tmp_path):
    """rewrite_data_files: content bit-identical, delete files
    materialized away, the replace snapshot is silent in the change
    feed, and pre-rewrite snapshots stay time-travelable until
    expire_snapshots."""
    from gcs2postgres_spark.sources.iceberg_py import (
        delete_where,
        expire_snapshots,
        iceberg_table_changes,
        latest_metadata_file,
        read_iceberg_py,
        rewrite_data_files,
        write_iceberg_v2_partitioned_fixture,
    )

    table = str(tmp_path / "rw")
    write_iceberg_v2_partitioned_fixture(
        _ice_nation(spark).repartition(6), table, "region"
    )
    s_del = delete_where(spark, table, "k IN (2, 9)", snapshot_ts_ms=1_700_000_001_000)
    before = sorted(r["k"] for r in read_iceberg_py(spark, table).collect())

    sid = rewrite_data_files(spark, table, snapshot_ts_ms=1_700_000_002_000)
    after = sorted(r["k"] for r in read_iceberg_py(spark, table).collect())
    assert after == before

    # the new snapshot's manifest list carries no delete manifests
    meta = json.loads(open(latest_metadata_file(table)).read())
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == sid)
    assert snap["summary"]["operation"] == "replace"
    from gcs2postgres_spark.sources.avro_py import read_avro_file

    _, mrows = read_avro_file(snap["manifest-list"])
    assert all(m.get("content", 0) == 0 for m in mrows)

    # replace snapshots emit NO changes (spec changelog-scan contract)
    assert iceberg_table_changes(spark, table, s_del).count() == 0
    # time travel to the pre-rewrite snapshot still applies the deletes
    assert (
        sorted(r["k"] for r in read_iceberg_py(spark, table, snapshot_id=s_del).collect())
        == before
    )
    expire_snapshots(table, keep_last=1)
    assert sorted(r["k"] for r in read_iceberg_py(spark, table).collect()) == before


# ------------------------------------------------------------------ delta


def _delta_nation(spark):
    return spark.range(24).selectExpr(
        "CAST(id AS INT) AS k",
        "concat('N_', id) AS name",
        "CAST(id % 4 AS INT) AS region",
    )


def test_delta_update_where_rewrites_rows(spark, tmp_path):
    """UPDATE via deletion vectors: DVs and the rewritten rows land in
    ONE commit; SET on the partition column moves rows between
    partition directories (Hive-style layout)."""
    from gcs2postgres_spark.sources.delta_py import (
        read_delta_py,
        update_where_delta,
        write_delta_fixture,
    )

    table = str(tmp_path / "upd")
    write_delta_fixture(_delta_nation(spark).coalesce(1), table, partition_col="region")

    v = update_where_delta(
        spark, table, "region = 2",
        {"name": "concat('UPD_', name)", "region": "region + 10"},
        timestamp_ms=1_700_000_001_000,
    )
    assert v == 1
    out = read_delta_py(spark, table)
    assert out.count() == 24
    moved = out.filter("region = 12").collect()
    assert len(moved) == 6 and all(r["name"].startswith("UPD_") for r in moved)
    assert out.filter("region = 2").count() == 0
    assert os.path.isdir(os.path.join(table, "region=12"))
    # ONE commit: the update is atomic (version 1 holds DVs + adds)
    commit = open(os.path.join(table, "_delta_log", f"{1:020d}.json")).read()
    assert '"deletionVector"' in commit and '"add"' in commit
    # pre-update version unchanged
    assert read_delta_py(spark, table, version_as_of=0).filter(
        "region = 2"
    ).count() == 6
    assert update_where_delta(spark, table, "region = 99", {"name": "'x'"}) is None
    with pytest.raises(ValueError, match="unknown columns"):
        update_where_delta(spark, table, "region = 0", {"nope": "'x'"})


def test_delta_merge_upsert_cdf_and_protocol(spark, tmp_path):
    """MERGE upsert: matched keys DV-deleted + re-inserted from source,
    unmatched inserted; the change feed reports delete+insert pairs. A
    PURE-INSERT merge (no matched keys) must NOT upgrade the table's
    protocol to DV readers."""
    from gcs2postgres_spark.sources.delta_py import (
        delta_table_changes,
        merge_delta,
        read_delta_py,
        write_delta,
    )

    table = str(tmp_path / "mrg")
    write_delta(_delta_nation(spark).coalesce(1), table, "overwrite", timestamp_ms=1_700_000_000_000)

    src = spark.createDataFrame(
        [(3, "SRC_3", 1), (7, "SRC_7", 3), (900, "SRC_NEW", 0)],
        "k int, name string, region int",
    )
    v = merge_delta(spark, table, src, ["k"], timestamp_ms=1_700_000_001_000)
    assert v == 1
    d = {r["k"]: r["name"] for r in read_delta_py(spark, table).collect()}
    assert d[3] == "SRC_3" and d[7] == "SRC_7" and d[900] == "SRC_NEW" and len(d) == 25
    ch = delta_table_changes(spark, table, 0)
    counts = {r["_change_type"]: r["n"] for r in ch.groupBy("_change_type").count().withColumnRenamed("count", "n").collect()}
    assert counts == {"delete": 2, "insert": 3}

    # pure-insert merge on a fresh table: protocol stays at v1 readers
    table2 = str(tmp_path / "mrg2")
    write_delta(_delta_nation(spark).coalesce(1), table2, "overwrite", timestamp_ms=1_700_000_000_000)
    merge_delta(
        spark, table2,
        spark.createDataFrame([(901, "NEW", 0)], "k int, name string, region int"),
        ["k"], timestamp_ms=1_700_000_001_000,
    )
    log1 = open(os.path.join(table2, "_delta_log", f"{1:020d}.json")).read()
    assert '"protocol"' not in log1  # no DV written -> no upgrade
    assert read_delta_py(spark, table2).count() == 25

    # CDC delete-mode
    merge_delta(
        spark, table, src.select("k"), ["k"], when_matched="delete",
        when_not_matched="ignore", timestamp_ms=1_700_000_002_000,
    )
    keys = {r["k"] for r in read_delta_py(spark, table).collect()}
    assert keys.isdisjoint({3, 7, 900}) and len(keys) == 22
    with pytest.raises(ValueError, match="lacks table columns"):
        merge_delta(spark, table, src.select("k"), ["k"])


def test_delta_update_merge_column_mapping(spark, tmp_path):
    """r14: UPDATE on a column-mapping table works — replacement rows
    stage under PHYSICAL names (test_mapping_dml.py covers the full
    write/merge/optimize matrix); DELETE as before."""
    from gcs2postgres_spark.sources.delta_py import (
        delete_where_delta,
        read_delta_py,
        update_where_delta,
        write_delta_column_mapping_fixture,
    )

    table = str(tmp_path / "cm")
    write_delta_column_mapping_fixture(_delta_nation(spark).coalesce(1), table)
    assert update_where_delta(
        spark, table, "k = 1", {"name": "'x'"}, timestamp_ms=1_700_000_001_000
    ) is not None
    got = {r["k"]: r["name"] for r in read_delta_py(spark, table).collect()}
    assert got[1] == "x"
    assert delete_where_delta(spark, table, "k = 1", timestamp_ms=1_700_000_002_000) is not None
    assert 1 not in {r["k"] for r in read_delta_py(spark, table).collect()}


def test_delta_compact_optimize(spark, tmp_path):
    """compact_delta: content bit-identical, deletion vectors
    materialized away, commit is dataChange:false (silent in the change
    feed), live file count shrinks, and pre-compaction versions stay
    time-travelable until VACUUM."""
    from gcs2postgres_spark.sources.delta_py import (
        compact_delta,
        delete_where_delta,
        delta_table_changes,
        read_delta_py,
        replay_head_state,
        vacuum_delta,
        write_delta,
    )

    table = str(tmp_path / "opt")
    df = _delta_nation(spark)
    write_delta(df.filter("k < 8").repartition(3), table, "overwrite", timestamp_ms=1_700_000_000_000)
    write_delta(df.filter("k >= 8").repartition(3), table, "append", timestamp_ms=1_700_000_001_000)
    delete_where_delta(spark, table, "k = 5", timestamp_ms=1_700_000_002_000)
    before = read_delta_py(spark, table).orderBy("k").collect()
    live_before, _ = replay_head_state(spark, table)
    assert len(live_before) >= 6
    feed_before = delta_table_changes(spark, table, 0).count()  # (0, 2]: 16 ins + 1 del

    v = compact_delta(spark, table, timestamp_ms=1_700_000_003_000)
    after = read_delta_py(spark, table).orderBy("k").collect()
    assert after == before
    live_after, _ = replay_head_state(spark, table)
    assert len(live_after) < len(live_before)
    assert not any(a.get("deletionVector") for a in live_after.values())
    # the compaction commit contributes NOTHING to the change feed
    assert delta_table_changes(spark, table, v - 1, v).count() == 0
    # ... and the full feed is identical to the uncompacted table's
    assert delta_table_changes(spark, table, 0).count() == feed_before == 17
    # time travel to pre-compaction
    assert read_delta_py(spark, table, version_as_of=v - 1).orderBy("k").collect() == before
    vacuum_delta(table)
    assert read_delta_py(spark, table).orderBy("k").collect() == before


def test_compaction_cuts_file_count_partitioned(spark, tmp_path):
    """Partitioned compaction emits ~1 file per partition (repartition
    on the partition columns before partitionBy) for both formats."""
    from gcs2postgres_spark.sources.delta_py import (
        compact_delta,
        read_delta_py,
        replay_head_state,
        write_delta,
    )
    from gcs2postgres_spark.sources.iceberg_py import (
        read_iceberg_py,
        rewrite_data_files,
        write_iceberg_v2_partitioned_fixture,
    )

    df = _delta_nation(spark)

    dt = str(tmp_path / "dpart")
    write_delta(df.repartition(5), dt, "overwrite", partition_by=["region"], timestamp_ms=1_700_000_000_000)
    compact_delta(spark, dt, timestamp_ms=1_700_000_001_000)
    live, _ = replay_head_state(spark, dt)
    assert len(live) == 4  # one compacted file per region
    assert read_delta_py(spark, dt).count() == 24

    it = str(tmp_path / "ipart")
    write_iceberg_v2_partitioned_fixture(df.repartition(5), it, "region")
    rewrite_data_files(spark, it, snapshot_ts_ms=1_700_000_001_000)
    files = [
        p
        for p in glob.glob(os.path.join(it, "data", "commit-*", "**", "*.parquet"), recursive=True)
    ]
    assert len(files) == 4
    assert read_iceberg_py(spark, it).count() == 24


def test_iceberg_upsert_equality_scan_free(spark, tmp_path):
    """Equality-delete upsert (Flink's streaming-sink pattern): matched
    keys die by key list, source rows live via same-sequence immunity
    (strict-inequality gate), and the committer NEVER reads the
    target's data files — proven by hiding them during the commit."""
    import shutil as _sh

    from gcs2postgres_spark.sources.iceberg_py import (
        read_iceberg_py,
        upsert_equality,
        write_iceberg_v2_partitioned_fixture,
    )

    table = str(tmp_path / "equp")
    write_iceberg_v2_partitioned_fixture(_ice_nation(spark), table, "region")
    src = spark.createDataFrame(
        [(3, "SRC_3", 9), (900, "SRC_NEW", 0)],  # key 3 MOVES partition 3->9
        "k int, name string, region int",
    )

    # hide every data file: a scan-free commit must still succeed
    data_dir = os.path.join(table, "data")
    hidden = str(tmp_path / "hidden")
    _sh.move(data_dir, hidden)
    sid = upsert_equality(spark, table, src, ["k"], snapshot_ts_ms=1_700_000_001_000)
    # restore the originals next to the files the commit just wrote
    for entry in os.listdir(hidden):
        _sh.move(os.path.join(hidden, entry), os.path.join(data_dir, entry))

    d = {r["k"]: (r["name"], r["region"]) for r in read_iceberg_py(spark, table).collect()}
    assert d[3] == ("SRC_3", 9)  # old partition-3 row dead table-wide
    assert d[900] == ("SRC_NEW", 0) and len(d) == 25

    # stacking: a second upsert's delete (seq+1) kills the first's row
    src2 = spark.createDataFrame([(3, "SRC_3b", 1)], "k int, name string, region int")
    upsert_equality(spark, table, src2, ["k"], snapshot_ts_ms=1_700_000_002_000)
    d = {r["k"]: r["name"] for r in read_iceberg_py(spark, table).collect()}
    assert d[3] == "SRC_3b" and len(d) == 25
    # time travel to the first upsert
    d1 = {r["k"]: r["name"] for r in read_iceberg_py(spark, table, snapshot_id=sid).collect()}
    assert d1[3] == "SRC_3"
    # validation errors
    with pytest.raises(ValueError, match="not in table schema"):
        upsert_equality(spark, table, src, ["nope"])
    with pytest.raises(ValueError, match="lacks table columns"):
        upsert_equality(spark, table, src.select("k", "name"), ["k"])


def test_iceberg_append_v2_partitioned(spark, tmp_path):
    """append_iceberg_v2: fast-append into a partitioned v2 table —
    old and new files coexist per partition, the change feed reports
    the appended rows as inserts, and a key re-inserted AFTER an
    equality-delete survives (the old delete's sequence number is lower,
    so the strict-inequality gate exempts the new file)."""
    from gcs2postgres_spark.sources.iceberg_py import (
        append_iceberg_v2,
        iceberg_table_changes,
        read_iceberg_py,
        upsert_equality,
        write_iceberg_v2_partitioned_fixture,
    )

    table = str(tmp_path / "app")
    write_iceberg_v2_partitioned_fixture(_ice_nation(spark), table, "region")
    # CDC delete of key 3 via an equality delete (empty re-insert set)
    gone = spark.createDataFrame([(3, "DEAD", 0)], "k int, name string, region int")
    upsert_equality(spark, table, gone, ["k"], snapshot_ts_ms=1_700_000_000_500)
    # ... then delete that re-inserted row again so key 3 is absent
    from gcs2postgres_spark.sources.iceberg_py import delete_where
    delete_where(spark, table, "name = 'DEAD'", snapshot_ts_ms=1_700_000_000_800)
    assert read_iceberg_py(spark, table).filter("k = 3").count() == 0

    extra = spark.createDataFrame(
        [(3, "REBORN", 1), (950, "APP", 2)], "k int, name string, region int"
    )
    sid = append_iceberg_v2(spark, table, extra, snapshot_ts_ms=1_700_000_001_000)
    out = read_iceberg_py(spark, table)
    d = {r["k"]: r["name"] for r in out.collect()}
    # key 3 re-inserted AFTER the equality delete must survive
    assert d[3] == "REBORN" and d[950] == "APP" and len(d) == 25
    # change feed: the append commit reports exactly the two inserts
    ch = iceberg_table_changes(spark, table, sid - 1, sid)
    rows = sorted((r["_change_type"], r["k"]) for r in ch.collect())
    assert rows == [("insert", 3), ("insert", 950)]
    # missing column: actionable error
    with pytest.raises(ValueError, match="lacks table columns"):
        append_iceberg_v2(spark, table, extra.select("k"))


def test_conditional_merge_latest_wins_both_formats(spark, tmp_path):
    """latest_wins_on: a matched row is replaced only by a strictly
    NEWER source row (lexicographic struct over the seq columns); stale
    and equal-seq source rows are dropped, so replaying a batch commits
    NOTHING (idempotent at-least-once CDC apply)."""
    from gcs2postgres_spark.sources.delta_py import (
        merge_delta,
        read_delta_py,
        write_delta,
    )
    from gcs2postgres_spark.sources.iceberg_py import (
        merge_into,
        read_iceberg_py,
        write_iceberg_v2_fixture,
    )

    target = spark.createDataFrame(
        [(1, 10, "T1"), (2, 20, "T2"), (3, 30, "T3")], "k int, seq int, name string"
    )
    batch = spark.createDataFrame(
        [
            (1, 11, "NEWER"),   # beats target -> replace
            (2, 20, "EQUAL"),   # equal seq -> dropped
            (3, 5, "STALE"),    # stale -> dropped
            (4, 1, "INSERT"),   # unmatched -> insert
        ],
        "k int, seq int, name string",
    )
    expect = {1: (11, "NEWER"), 2: (20, "T2"), 3: (30, "T3"), 4: (1, "INSERT")}

    dt = str(tmp_path / "d")
    write_delta(target.coalesce(1), dt, "overwrite", timestamp_ms=1_700_000_000_000)
    v = merge_delta(spark, dt, batch, ["k"], latest_wins_on=["seq"],
                    timestamp_ms=1_700_000_001_000)
    assert v == 1
    got = {r["k"]: (r["seq"], r["name"]) for r in read_delta_py(spark, dt).collect()}
    assert got == expect
    # replay: nothing beats, nothing new -> NO commit at all
    assert merge_delta(spark, dt, batch, ["k"], latest_wins_on=["seq"]) is None

    it = str(tmp_path / "i")
    write_iceberg_v2_fixture(target, it, sort_col="k")
    sid = merge_into(spark, it, batch, ["k"], latest_wins_on=["seq"],
                     snapshot_ts_ms=1_700_000_001_000)
    assert sid is not None
    got = {r["k"]: (r["seq"], r["name"]) for r in read_iceberg_py(spark, it).collect()}
    assert got == expect
    assert merge_into(spark, it, batch, ["k"], latest_wins_on=["seq"]) is None
    # latest_wins_on outside update mode raises on both formats:
    # test_invalid_merge_modes_raise_before_read


def test_delta_restore_to_version(spark, tmp_path):
    """RESTORE: a forward commit whose diff makes HEAD equal the old
    version — history preserved (the undone DML stays time-travelable),
    the change feed reports the restore's row-level effect, restore is
    idempotent (no commit when HEAD already matches), and a vacuumed
    target refuses with a clear error."""
    from gcs2postgres_spark.sources.delta_py import (
        delete_where_delta,
        delta_table_changes,
        read_delta_py,
        restore_delta,
        update_where_delta,
        vacuum_delta,
        write_delta,
    )

    table = str(tmp_path / "rst")
    write_delta(_delta_nation(spark).coalesce(1), table, "overwrite",
                partition_by=["region"], timestamp_ms=1_700_000_000_000)
    original = read_delta_py(spark, table).orderBy("k").collect()
    delete_where_delta(spark, table, "region = 2", timestamp_ms=1_700_000_001_000)
    update_where_delta(spark, table, "k = 1", {"name": "'MUTATED'"},
                       timestamp_ms=1_700_000_002_000)
    assert read_delta_py(spark, table).count() == 18

    v = restore_delta(spark, table, 0, timestamp_ms=1_700_000_003_000)
    assert v == 3
    assert read_delta_py(spark, table).orderBy("k").collect() == original
    # undone versions still time-travelable
    assert read_delta_py(spark, table, version_as_of=2).count() == 18
    # the restore commit's change feed = resurrections of the deleted
    # region (6 rows) + un-mutation of k=1 (delete+insert pair)
    ch = delta_table_changes(spark, table, 2, 3)
    counts = {r["_change_type"]: r["n"] for r in
              ch.groupBy("_change_type").count().withColumnRenamed("count", "n").collect()}
    assert counts["insert"] == 7 and counts["delete"] == 1
    # idempotent: HEAD already equals v0
    assert restore_delta(spark, table, 0) is None
    # vacuum reclaims the undone DML's files -> v2 unrestorable, clearly
    vacuum_delta(table)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        restore_delta(spark, table, 2)
    # unknown version: clear error
    with pytest.raises(ValueError, match="not found"):
        restore_delta(spark, table, 99)


def test_iceberg_rollback_to_snapshot(spark, tmp_path):
    """ROLLBACK: metadata-only repoint of current-snapshot-id; every
    snapshot stays time-travelable, and post-rollback commits continue
    ABOVE the old sequence high-water mark so a rolled-back equality
    delete can never re-apply to newer appends."""
    from gcs2postgres_spark.sources.iceberg_py import (
        append_iceberg_v2,
        latest_metadata_file,
        read_iceberg_py,
        rollback_to_snapshot,
        upsert_equality,
        write_iceberg_v2_partitioned_fixture,
    )

    table = str(tmp_path / "rb")
    write_iceberg_v2_partitioned_fixture(_ice_nation(spark), table, "region")
    src = spark.createDataFrame([(3, "SRC_3", 1)], "k int, name string, region int")
    sid2 = upsert_equality(spark, table, src, ["k"], snapshot_ts_ms=1_700_000_001_000)
    assert {r["name"] for r in read_iceberg_py(spark, table).filter("k = 3").collect()} == {"SRC_3"}

    rollback_to_snapshot(table, 1)
    out = read_iceberg_py(spark, table)
    assert {r["name"] for r in out.filter("k = 3").collect()} == {"N_3"}
    assert out.count() == 24
    # the upsert snapshot is still reachable by id
    assert read_iceberg_py(spark, table, snapshot_id=sid2).filter(
        "name = 'SRC_3'"
    ).count() == 1
    # a post-rollback append is NOT hit by the rolled-back equality
    # delete (its sequence number stays above the high-water mark)
    extra = spark.createDataFrame([(3, "AGAIN", 0)], "k int, name string, region int")
    append_iceberg_v2(spark, table, extra, snapshot_ts_ms=1_700_000_002_000)
    names = {r["name"] for r in read_iceberg_py(spark, table).filter("k = 3").collect()}
    assert names == {"N_3", "AGAIN"}
    meta = json.loads(open(latest_metadata_file(table)).read())
    assert meta["last-sequence-number"] >= 3
    with pytest.raises(ValueError, match="not found"):
        rollback_to_snapshot(table, 999)


def test_optimize_zorder_prunes_both_dims(spark, sf_dir, tmp_path):
    """OPTIMIZE ZORDER BY (zorder_by on both compaction committers):
    content is bit-identical, and the per-file parquet footers tighten
    on BOTH clustered dimensions — a 2-D range predicate can skip files
    in either axis, which a plain compaction cannot deliver."""
    import datetime

    import pyarrow.parquet as pq

    from gcs2postgres_spark.sources.delta_py import (
        compact_delta,
        read_delta_py,
        replay_head_state,
        write_delta,
    )

    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_shipdate", "l_discount", "l_quantity")
    )
    table = str(tmp_path / "zopt")
    write_delta(li.repartition(8), table, "overwrite", timestamp_ms=1_700_000_000_000)
    before = read_delta_py(spark, table).count()

    compact_delta(
        spark, table, target_file_mb=0.04, zorder_by=["l_shipdate", "l_discount"],
        timestamp_ms=1_700_000_001_000,
    )
    assert read_delta_py(spark, table).count() == before
    live, _ = replay_head_state(spark, table)
    assert len(live) >= 4, f"need multiple files to show pruning, got {len(live)}"

    date_hit = disc_hit = 0
    lo_d, hi_d = datetime.datetime(1996, 1, 1), datetime.datetime(1997, 1, 1)
    for rel in live:
        meta = pq.read_metadata(os.path.join(table, rel))
        mins, maxs = {}, {}
        for rg in range(meta.num_row_groups):
            for ci in range(meta.num_columns):
                col = meta.row_group(rg).column(ci)
                name = col.path_in_schema
                if name not in ("l_shipdate", "l_discount") or not col.is_stats_set:
                    continue
                st = col.statistics
                mins[name] = min(mins.get(name, st.min), st.min)
                maxs[name] = max(maxs.get(name, st.max), st.max)
        if mins["l_shipdate"] < hi_d and maxs["l_shipdate"] >= lo_d:
            date_hit += 1
        if mins["l_discount"] <= 0.07 and maxs["l_discount"] >= 0.03:
            disc_hit += 1
    n = len(live)
    assert date_hit < n, f"no date pruning: {date_hit}/{n}"
    assert disc_hit < n, f"no discount pruning: {disc_hit}/{n}"

    # string columns refuse with a steer, not a bad curve
    import pytest as _pt

    from gcs2postgres_spark.layout import zorder_rank_columns

    with _pt.raises(NotImplementedError, match="numeric"):
        from pyspark.sql import functions as F

        zorder_rank_columns(
            read_delta_py(spark, table).withColumn("s", F.lit("x")), ["s"]
        )


def test_delta_describe_history_operations(spark, tmp_path):
    """DESCRIBE HISTORY: every committer stamps its operation into
    commitInfo and the history table surfaces the audit trail newest
    first, with action counts that reflect what each version did."""
    from gcs2postgres_spark.sources.delta_py import (
        compact_delta,
        delete_where_delta,
        describe_history_delta,
        merge_delta,
        restore_delta,
        update_where_delta,
        write_delta,
    )

    table = str(tmp_path / "hist")
    write_delta(_delta_nation(spark).coalesce(1), table, "overwrite",
                partition_by=["region"], timestamp_ms=1_700_000_000_000)
    delete_where_delta(spark, table, "k = 5", timestamp_ms=1_700_000_001_000)
    update_where_delta(spark, table, "k = 1", {"name": "'UPD'"},
                       timestamp_ms=1_700_000_002_000)
    merge_delta(spark, table,
                spark.createDataFrame([(900, "NEW", 0)], "k int, name string, region int"),
                ["k"], timestamp_ms=1_700_000_003_000)
    compact_delta(spark, table, timestamp_ms=1_700_000_004_000)
    restore_delta(spark, table, 3, timestamp_ms=1_700_000_005_000)

    h = describe_history_delta(spark, table).orderBy("version").collect()
    assert [r["operation"] for r in h] == [
        "WRITE", "DELETE", "UPDATE", "MERGE", "OPTIMIZE", "RESTORE",
    ]
    by_v = {r["version"]: r for r in h}
    assert by_v[1]["n_dv_files"] == 1 and by_v[1]["n_added_files"] == 1
    assert by_v[4]["n_removed_files"] > 0  # compaction removes live files
    # restore after a content-identical OPTIMIZE re-adds the old files
    assert by_v[5]["operation"] == "RESTORE"
    # newest-first default ordering
    first = describe_history_delta(spark, table).first()
    assert first["version"] == 5


def test_iceberg_metadata_tables(spark, tmp_path):
    """snapshots/manifests/files metadata tables: built from the
    metadata chain only; files.record_count (manifest stats) must agree
    with the actual scan — a committer that mis-stats its files fails
    here."""
    from pyspark.sql import functions as F

    from gcs2postgres_spark.sources.iceberg_py import (
        append_iceberg_v2,
        delete_where,
        read_iceberg_meta,
        read_iceberg_py,
        write_iceberg_v2_partitioned_fixture,
    )

    table = str(tmp_path / "meta")
    write_iceberg_v2_partitioned_fixture(_ice_nation(spark), table, "region")
    delete_where(spark, table, "k = 2", snapshot_ts_ms=1_700_000_001_000)
    append_iceberg_v2(
        spark,
        table,
        spark.createDataFrame([(990, "APP", 1)], "k int, name string, region int"),
        snapshot_ts_ms=1_700_000_002_000,
    )

    snaps = read_iceberg_meta(spark, table, "snapshots").orderBy("snapshot_id").collect()
    assert [s["operation"] for s in snaps] == ["append", "delete", "append"]
    assert [s["is_current"] for s in snaps] == [False, False, True]

    files = read_iceberg_meta(spark, table, "files")
    # data-file record counts (manifest stats) == rows written per partition
    data_rows = (
        files.filter("content = 0")
        .groupBy(F.get_json_object("partition", "$.region").alias("region"))
        .agg(F.sum("record_count").alias("n"))
        .collect()
    )
    got = {int(r["region"]): r["n"] for r in data_rows}
    assert got == {0: 6, 1: 7, 2: 6, 3: 6}  # 24 base rows + 1 append in region 1
    # delete files present with positive counts
    assert files.filter("content = 1").agg(F.sum("record_count")).first()[0] == 1
    # live row total = data minus position deletes
    assert read_iceberg_py(spark, table).count() == 24
    mans = read_iceberg_meta(spark, table, "manifests")
    assert mans.filter("content = 1").count() >= 1
    with pytest.raises(ValueError, match="kind"):
        read_iceberg_meta(spark, table, "nope")


def test_iceberg_refs_tag_branch_lifecycle(spark, tmp_path):
    """Named refs: a tag pins a snapshot for reproducible reads and
    PROTECTS it from expire_snapshots until dropped; tags are immutable
    (repoint refuses) while branches repoint; the refs metadata table
    lists them."""
    from gcs2postgres_spark.sources.iceberg_py import (
        create_ref,
        delete_where,
        drop_ref,
        expire_snapshots,
        read_iceberg_meta,
        read_iceberg_py,
        rewrite_data_files,
        write_iceberg_v2_partitioned_fixture,
    )

    table = str(tmp_path / "refs")
    write_iceberg_v2_partitioned_fixture(_ice_nation(spark), table, "region")
    create_ref(table, "audit-2026", ref_type="tag")  # pins snapshot 1
    delete_where(spark, table, "region = 2", snapshot_ts_ms=1_700_000_001_000)
    sid_del = 2
    create_ref(table, "dev", snapshot_id=sid_del, ref_type="branch")
    rewrite_data_files(spark, table, snapshot_ts_ms=1_700_000_002_000)

    # ref reads resolve their pinned snapshots
    assert read_iceberg_py(spark, table, ref="audit-2026").count() == 24
    assert read_iceberg_py(spark, table, ref="dev").count() == 18
    refs = {r["name"]: (r["type"], r["snapshot_id"])
            for r in read_iceberg_meta(spark, table, "refs").collect()}
    assert refs == {"audit-2026": ("tag", 1), "dev": ("branch", 2)}

    # tags immutable; branches repoint
    with pytest.raises(ValueError, match="immutable"):
        create_ref(table, "audit-2026", snapshot_id=2)
    create_ref(table, "dev", snapshot_id=3, ref_type="branch")

    # expire keeps ref'd snapshots: tag pins snapshot 1 through an
    # aggressive keep_last=1
    expire_snapshots(table, keep_last=1)
    assert read_iceberg_py(spark, table, ref="audit-2026").count() == 24
    # dropping the tag releases it for the next run
    drop_ref(table, "audit-2026")
    expire_snapshots(table, keep_last=1)
    with pytest.raises(ValueError, match="not found"):
        read_iceberg_py(spark, table, snapshot_id=1).count()
    # current snapshot unaffected throughout
    assert read_iceberg_py(spark, table).count() == 18
    with pytest.raises(ValueError, match="not found"):
        drop_ref(table, "ghost")


def test_lakehouse_sql_facade(spark, tmp_path):
    """The SQL front door: every statement shape routes to the right
    committer on both formats; out-of-grammar statements raise with the
    supported surface named (never a silent misparse)."""
    from gcs2postgres_spark.sources.delta_py import read_delta_py, write_delta
    from gcs2postgres_spark.sources.iceberg_py import (
        read_iceberg_py,
        write_iceberg_v2_partitioned_fixture,
    )
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    dt = str(tmp_path / "d")
    write_delta(_delta_nation(spark).coalesce(1), dt, "overwrite",
                partition_by=["region"], timestamp_ms=1_700_000_000_000)
    it = str(tmp_path / "i")
    write_iceberg_v2_partitioned_fixture(_ice_nation(spark), it, "region")

    # DELETE / UPDATE on both formats
    assert lakehouse_sql(spark, f"DELETE FROM delta.`{dt}` WHERE k = 5") == 1
    lakehouse_sql(spark, f"DELETE FROM iceberg.`{it}` WHERE k = 5;")
    lakehouse_sql(
        spark,
        f"UPDATE delta.`{dt}` SET name = concat('U_', name), region = region + 10 "
        "WHERE region = 2",
    )
    lakehouse_sql(spark, f"UPDATE iceberg.`{it}` SET name = 'X' WHERE k = 1")
    d = {r["k"]: r["name"] for r in read_delta_py(spark, dt).collect()}
    assert 5 not in d and d[2].startswith("U_")
    i = {r["k"]: r["name"] for r in read_iceberg_py(spark, it).collect()}
    assert 5 not in i and i[1] == "X"

    # MERGE via a temp view
    spark.createDataFrame(
        [(3, "MRG", 1), (900, "NEW", 0)], "k int, name string, region int"
    ).createOrReplaceTempView("cdc_batch")
    lakehouse_sql(
        spark,
        f"MERGE INTO delta.`{dt}` t USING cdc_batch s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    )
    d = {r["k"]: r["name"] for r in read_delta_py(spark, dt).collect()}
    assert d[3] == "MRG" and d[900] == "NEW"
    # MERGE delete-mode on iceberg
    lakehouse_sql(
        spark,
        f"MERGE INTO iceberg.`{it}` t USING cdc_batch s ON t.k = s.k "
        "WHEN MATCHED THEN DELETE",
    )
    assert read_iceberg_py(spark, it).filter("k = 3").count() == 0

    # OPTIMIZE (+ZORDER) / DESCRIBE HISTORY / RESTORE / VACUUM
    lakehouse_sql(spark, f"OPTIMIZE delta.`{dt}` ZORDER BY (k, region)")
    hist = lakehouse_sql(spark, f"DESCRIBE HISTORY delta.`{dt}`")
    ops = [r["operation"] for r in hist.orderBy("version").collect()]
    assert ops == ["WRITE", "DELETE", "UPDATE", "MERGE", "OPTIMIZE"]
    before = read_delta_py(spark, dt).count()
    lakehouse_sql(spark, f"RESTORE TABLE delta.`{dt}` TO VERSION AS OF 2")
    assert read_delta_py(spark, dt).count() == before - 1  # merge's insert undone
    assert lakehouse_sql(spark, f"VACUUM delta.`{dt}`") > 0
    lakehouse_sql(spark, f"OPTIMIZE iceberg.`{it}`")
    snaps = lakehouse_sql(spark, f"DESCRIBE HISTORY iceberg.`{it}`")
    assert snaps.filter("operation = 'replace'").count() == 1

    # grammar errors are loud and name the surface (TRUNCATE itself is
    # supported since round 13 — see test_lakehouse_facade_surface)
    with pytest.raises(ValueError, match="unrecognized"):
        lakehouse_sql(spark, f"ANALYZE TABLE delta.`{dt}` COMPUTE STATISTICS")
    with pytest.raises(ValueError, match="key equality"):
        lakehouse_sql(
            spark,
            f"MERGE INTO delta.`{dt}` t USING cdc_batch s ON t.k > s.k "
            "WHEN MATCHED THEN UPDATE SET *",
        )
    # per-column SET is supported since round 12 (see
    # test_merge_per_column_set_both_formats); an unknown body is loud
    with pytest.raises(ValueError, match="WHEN MATCHED supports"):
        lakehouse_sql(
            spark,
            f"MERGE INTO delta.`{dt}` t USING cdc_batch s ON t.k = s.k "
            "WHEN MATCHED THEN UPSERT",
        )


def test_facade_vacuum_retain_and_restore_timestamp(spark, tmp_path):
    """r15 facade rows: VACUUM ... RETAIN n HOURS (tombstone-age
    horizon; DV sweep skipped under a nonzero retention) and RESTORE
    TABLE ... TO TIMESTAMP AS OF, on both formats."""
    from pyspark.sql import functions as F

    from gcs2postgres_spark.sources.delta_py import read_delta_py, write_delta
    from gcs2postgres_spark.sources.iceberg_py import (
        append_iceberg_v2,
        create_iceberg_v2_table,
        read_iceberg_py,
    )
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    dt = str(tmp_path / "d")
    df = (
        spark.range(0, 10).withColumnRenamed("id", "k")
        .withColumn("v", (F.col("k") * 2).cast("long"))
    )
    # v0 carries a FIXED timestamp; the facade DELETE commits at wall
    # clock, so a literal between the two resolves to v0
    write_delta(df, dt, "overwrite", timestamp_ms=1_700_000_000_000)
    lakehouse_sql(spark, f"DELETE FROM delta.`{dt}` WHERE k < 3")
    assert read_delta_py(spark, dt).count() == 7
    lakehouse_sql(
        spark,
        f"RESTORE TABLE delta.`{dt}` TO TIMESTAMP AS OF "
        "'2023-11-14 22:13:21'",
    )
    assert read_delta_py(spark, dt).count() == 10
    # every tombstone is recent: a large retention reclaims nothing
    assert lakehouse_sql(
        spark, f"VACUUM delta.`{dt}` RETAIN 876000 HOURS"
    ) == 0
    # RETAIN 0 sweeps the now-unreferenced DV blob
    assert lakehouse_sql(spark, f"VACUUM delta.`{dt}`") >= 1
    assert read_delta_py(spark, dt).count() == 10

    it = str(tmp_path / "i")
    create_iceberg_v2_table(df.schema, it)
    append_iceberg_v2(spark, it, df, snapshot_ts_ms=1_700_000_000_000)
    append_iceberg_v2(
        spark, it, df.withColumn("k", F.col("k") + 100),
        snapshot_ts_ms=1_700_000_005_000,
    )
    assert read_iceberg_py(spark, it).count() == 20
    lakehouse_sql(
        spark,
        f"RESTORE TABLE iceberg.`{it}` TO TIMESTAMP AS OF "
        "'2023-11-14 22:13:21'",
    )
    assert read_iceberg_py(spark, it).count() == 10
    # after the rollback BOTH snapshots are protected (one is current,
    # the other is the newest by timestamp) — retention removes nothing
    assert lakehouse_sql(spark, f"VACUUM iceberg.`{it}` RETAIN 1 HOURS") == 0
    assert read_iceberg_py(spark, it).count() == 10

    # a separate table exercises the retention horizon: both snapshots
    # are from 2023, so a 1-hour retention expires the non-current one
    it2 = str(tmp_path / "i2")
    create_iceberg_v2_table(df.schema, it2)
    append_iceberg_v2(spark, it2, df, snapshot_ts_ms=1_700_000_000_000)
    append_iceberg_v2(
        spark, it2, df.withColumn("k", F.col("k") + 100),
        snapshot_ts_ms=1_700_000_005_000,
    )
    assert lakehouse_sql(spark, f"VACUUM iceberg.`{it2}` RETAIN 1 HOURS") >= 1
    assert read_iceberg_py(spark, it2).count() == 20


def test_dml_partition_filter_skips_files_both_formats(spark, tmp_path):
    """Partition-pruned DML: with partition_filter the matching scan
    must never touch other partitions' files — proven by making them
    UNREADABLE (garbage bytes) during the DELETE. A 10^5-file table's
    single-partition DELETE plans O(partition), not O(table)."""
    from gcs2postgres_spark.sources.delta_py import (
        delete_where_delta,
        read_delta_py,
        write_delta_fixture,
    )
    from gcs2postgres_spark.sources.iceberg_py import (
        delete_where,
        read_iceberg_py,
        write_iceberg_v2_partitioned_fixture,
    )

    def corrupt_others(table, keep_fragment):
        saved = {}
        for root, _dirs, files in os.walk(table):
            if "_delta_log" in root or os.sep + "metadata" in root:
                continue
            for f in files:
                p = os.path.join(root, f)
                if f.endswith(".parquet") and keep_fragment not in p:
                    saved[p] = open(p, "rb").read()
                    open(p, "wb").write(b"GARBAGE")
        return saved

    # Delta: Hive layout — keep region=2's directory readable
    dt = str(tmp_path / "d")
    write_delta_fixture(_delta_nation(spark).coalesce(1), dt, partition_col="region")
    saved = corrupt_others(dt, "region=2")
    v = delete_where_delta(
        spark, dt, "region = 2 AND k < 100",
        timestamp_ms=1_700_000_001_000, partition_filter={"region": {"2"}},
    )
    assert v is not None
    for p, b in saved.items():
        open(p, "wb").write(b)
    assert read_delta_py(spark, dt).count() == 18

    # Iceberg: pid-routed layout — resolve region 2's file via the
    # manifests, corrupt everything else
    it = str(tmp_path / "i")
    write_iceberg_v2_partitioned_fixture(_ice_nation(spark), it, "region")
    from gcs2postgres_spark.sources.iceberg_py import read_iceberg_meta

    files = read_iceberg_meta(spark, it, "files").collect()
    keep = {
        os.path.basename(r["file_path"])
        for r in files
        if '"region": 2' in r["partition"]
    }
    assert keep
    saved = {}
    for root, _dirs, fs in os.walk(os.path.join(it, "data")):
        for f in fs:
            p = os.path.join(root, f)
            if f.endswith(".parquet") and f not in keep:
                saved[p] = open(p, "rb").read()
                open(p, "wb").write(b"GARBAGE")
    sid = delete_where(
        spark, it, "region = 2 AND k < 100",
        snapshot_ts_ms=1_700_000_001_000, partition_filter={"region": {2}},
    )
    assert sid is not None
    for p, b in saved.items():
        open(p, "wb").write(b)
    assert read_iceberg_py(spark, it).count() == 18


def test_auto_checkpoint_every_10_and_lossless_dv(spark, tmp_path):
    """Committers checkpoint every 10 commits (delta-spark cadence);
    the checkpoint is LOSSLESS — after deleting every JSON commit it
    replaced, reads still apply the deletion vectors and sizes survive
    (a lossy checkpoint would silently resurrect deleted rows)."""
    from gcs2postgres_spark.sources.delta_py import (
        delete_where_delta,
        read_delta_py,
        replay_head_state,
        write_delta,
    )

    table = str(tmp_path / "acp")
    df = _delta_nation(spark)
    write_delta(df.coalesce(1), table, "overwrite",
                partition_by=["region"], timestamp_ms=1_700_000_000_000)
    # 10 more commits: appends + a DV delete (version 10 triggers the
    # auto checkpoint)
    for i in range(1, 11):
        if i == 7:
            delete_where_delta(spark, table, "k IN (1, 2)",
                               timestamp_ms=1_700_000_000_000 + i * 1000)
        else:
            write_delta(
                spark.createDataFrame([(100 + i, f"A{i}", i % 4)],
                                      "k int, name string, region int").coalesce(1),
                table, "append", timestamp_ms=1_700_000_000_000 + i * 1000,
            )
    log_dir = os.path.join(table, "_delta_log")
    assert os.path.exists(os.path.join(log_dir, "_last_checkpoint"))
    assert os.path.exists(os.path.join(log_dir, f"{10:020d}.checkpoint.parquet"))
    before = sorted(r["k"] for r in read_delta_py(spark, table).collect())
    assert 1 not in before and 2 not in before

    # drop every JSON commit the checkpoint covers: the read must
    # source adds (incl. DVs and sizes) from the checkpoint alone
    cp_version = json.loads(open(os.path.join(log_dir, "_last_checkpoint")).read())["version"]
    for v in range(cp_version + 1):
        p = os.path.join(log_dir, f"{v:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    after = sorted(r["k"] for r in read_delta_py(spark, table).collect())
    assert after == before
    live, _ = replay_head_state(spark, table)
    assert all(int(a.get("size") or 0) > 0 for a in live.values())  # sizes survive


def test_lakehouse_sql_set_parser_properties():
    """_parse_set splits on TOP-LEVEL commas only: commas inside
    parentheses, brackets, and string literals belong to the
    expression. Property-tested over generated expressions."""
    from hypothesis import given, strategies as st

    from gcs2postgres_spark.sources.lakehouse_sql import _parse_set

    # hand-picked adversarial cases first
    cases = {
        "a = concat('x,y', b), c = 2": {"a": "concat('x,y', b)", "c": "2"},
        "a = struct(1, 2)": {"a": "struct(1, 2)"},
        'n = concat("p,q", r)': {"n": 'concat("p,q", r)'},
        "a = arr[1], b = map('k,1', v)": {"a": "arr[1]", "b": "map('k,1', v)"},
        "x = CASE WHEN y IN (1,2) THEN 'a,b' ELSE c END": {
            "x": "CASE WHEN y IN (1,2) THEN 'a,b' ELSE c END"
        },
    }
    for clause, want in cases.items():
        assert _parse_set(clause) == want, clause

    expr_atoms = st.sampled_from(
        ["1", "col + 2", "concat('a,b', c)", "f(x, y)", "'lit,eral'", "arr[3]"]
    )

    @given(
        st.dictionaries(
            st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True),
            expr_atoms,
            min_size=1,
            max_size=5,
        )
    )
    def roundtrip(assignments):
        clause = ", ".join(f"{k} = {v}" for k, v in assignments.items())
        assert _parse_set(clause) == assignments

    roundtrip()

    import pytest as _pt

    with _pt.raises(ValueError, match="bad SET assignment"):
        _parse_set("not-an-assignment")
    with _pt.raises(ValueError):
        _parse_set("")


# ------------------------------------------------- round-12 ADVICE fixes


def test_merge_insert_only_both_formats(spark, tmp_path):
    """Insert-only MERGE (no WHEN MATCHED clause): matched target rows
    are left UNTOUCHED — the round-11 facade silently upserted them,
    replacing target data with source data. Covers both the direct
    when_matched='ignore' committer mode and the SQL facade routing."""
    from gcs2postgres_spark.sources.delta_py import (
        merge_delta,
        read_delta_py,
        write_delta,
    )
    from gcs2postgres_spark.sources.iceberg_py import (
        merge_into,
        read_iceberg_py,
        write_iceberg_v2_fixture,
    )
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    src = spark.createDataFrame(
        [(3, "SRC_3", 1), (900, "SRC_NEW", 0)], "k int, name string, region int"
    )

    # Delta, via the facade (the statement the advisory flagged)
    dt = str(tmp_path / "d")
    write_delta(_delta_nation(spark).coalesce(1), dt, "overwrite",
                timestamp_ms=1_700_000_000_000)
    src.createOrReplaceTempView("ins_only_src")
    v = lakehouse_sql(
        spark,
        f"MERGE INTO delta.`{dt}` t USING ins_only_src s ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    assert v == 1
    d = {r["k"]: r["name"] for r in read_delta_py(spark, dt).collect()}
    assert d[3] == "N_3"  # matched row untouched — NOT upserted to SRC_3
    assert d[900] == "SRC_NEW"
    # replay is a no-op (all keys now matched): no new version
    assert merge_delta(spark, dt, src, ["k"], when_matched="ignore") is None

    # Iceberg, direct committer mode
    it = str(tmp_path / "i")
    write_iceberg_v2_fixture(_ice_nation(spark), it, sort_col="k")
    sid = merge_into(spark, it, src, ["k"], when_matched="ignore",
                     snapshot_ts_ms=1_700_000_001_000)
    assert sid is not None
    i = {r["k"]: r["name"] for r in read_iceberg_py(spark, it).collect()}
    assert i[3] == "N_3" and i[900] == "SRC_NEW"
    assert merge_into(spark, it, src, ["k"], when_matched="ignore") is None
    # ignore+ignore (a whole-statement no-op) raises on both formats:
    # test_invalid_merge_modes_raise_before_read


def test_lakehouse_sql_quoted_whitespace_and_dup_clauses(spark, tmp_path):
    """_norm must not collapse whitespace INSIDE string literals
    (predicates/SET values with multi-space strings would silently
    change), and conflicting duplicate MERGE clauses must raise."""
    from gcs2postgres_spark.sources.delta_py import read_delta_py, write_delta
    from gcs2postgres_spark.sources.lakehouse_sql import _norm, lakehouse_sql

    assert _norm("DELETE  FROM delta.`/p`\n WHERE name = 'a  b'") == (
        "DELETE FROM delta.`/p` WHERE name = 'a  b'"
    )
    assert _norm('UPDATE x SET n = "p  q"  WHERE 1=1') == (
        'UPDATE x SET n = "p  q" WHERE 1=1'
    )

    dt = str(tmp_path / "d")
    write_delta(
        spark.createDataFrame(
            [(1, "a  b"), (2, "a b"), (3, "c")], "k int, name string"
        ).coalesce(1),
        dt, "overwrite", timestamp_ms=1_700_000_000_000,
    )
    # the two-space literal must match ONLY the two-space row
    lakehouse_sql(spark, f"DELETE FROM delta.`{dt}`  WHERE name = 'a  b'")
    left = sorted(r["k"] for r in read_delta_py(spark, dt).collect())
    assert left == [2, 3]
    # SET value keeps its internal spacing
    lakehouse_sql(spark, f"UPDATE delta.`{dt}` SET name = 'x  y' WHERE k = 2")
    assert read_delta_py(spark, dt).filter("k = 2").collect()[0]["name"] == "x  y"

    spark.createDataFrame([(2, "z")], "k int, name string").createOrReplaceTempView(
        "dup_src"
    )
    # duplicate UNCONDITIONED clauses are dead code after the first —
    # the generalized multi-clause rule (unconditioned must be LAST)
    # rejects them rather than silently first-wins
    with pytest.raises(ValueError, match="must be LAST"):
        lakehouse_sql(
            spark,
            f"MERGE INTO delta.`{dt}` t USING dup_src s ON t.k = s.k "
            "WHEN MATCHED THEN DELETE WHEN MATCHED THEN UPDATE SET *",
        )
    with pytest.raises(ValueError, match="must be LAST"):
        lakehouse_sql(
            spark,
            f"MERGE INTO delta.`{dt}` t USING dup_src s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT * WHEN NOT MATCHED THEN INSERT *",
        )


def test_delta_time_travel_past_checkpoint(spark, tmp_path):
    """Checkpoints compact READ cost, not history: while the JSON
    commits are intact, versionAsOf/RESTORE/timestamp travel to
    versions OLDER than the checkpoint must replay from 0 — only an
    actually-cleaned-up log refuses (round-11 always refused)."""
    from gcs2postgres_spark.sources.delta_py import (
        read_delta_py,
        restore_delta,
        write_delta,
    )

    table = str(tmp_path / "tt")
    write_delta(
        spark.createDataFrame([(0, "v0")], "k int, name string").coalesce(1),
        table, "overwrite", timestamp_ms=1_700_000_000_000,
    )
    for i in range(1, 12):  # crosses the every-10 auto-checkpoint
        write_delta(
            spark.createDataFrame([(i, f"v{i}")], "k int, name string").coalesce(1),
            table, "append", timestamp_ms=1_700_000_000_000 + i * 1000,
        )
    log_dir = os.path.join(table, "_delta_log")
    assert os.path.exists(os.path.join(log_dir, "_last_checkpoint"))

    # versionAsOf older than the checkpoint: full JSON replay
    assert read_delta_py(spark, table, version_as_of=3).count() == 4
    # timestamp travel older than the checkpoint
    ts = read_delta_py(spark, table, timestamp_as_of_ms=1_700_000_002_500)
    assert sorted(r["k"] for r in ts.collect()) == [0, 1, 2]
    # RESTORE to a pre-checkpoint version
    v = restore_delta(spark, table, 2, timestamp_ms=1_700_000_099_000)
    assert v == 12
    assert read_delta_py(spark, table).count() == 3

    # clean up the pre-checkpoint JSON commits: now it MUST refuse
    for old in range(5):
        p = os.path.join(log_dir, f"{old:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    with pytest.raises(ValueError, match="cleaned up"):
        read_delta_py(spark, table, version_as_of=3)


def test_update_unknown_set_column_raises_even_on_no_match(spark, tmp_path):
    """A typo'd SET column must raise even when the predicate matches
    nothing — round-11 returned None silently in that case."""
    from gcs2postgres_spark.sources.delta_py import update_where_delta, write_delta
    from gcs2postgres_spark.sources.iceberg_py import (
        update_where,
        write_iceberg_v2_fixture,
    )

    dt = str(tmp_path / "d")
    write_delta(_delta_nation(spark).coalesce(1), dt, "overwrite",
                timestamp_ms=1_700_000_000_000)
    with pytest.raises(ValueError, match="unknown columns"):
        update_where_delta(spark, dt, "k = 99999", {"nope": "'x'"})

    it = str(tmp_path / "i")
    write_iceberg_v2_fixture(_ice_nation(spark), it, sort_col="k")
    with pytest.raises(ValueError, match="unknown columns"):
        update_where(spark, it, "k = 99999", {"nope": "'x'"})


def test_lakehouse_sql_select_and_time_travel(spark, tmp_path):
    """SQL facade READS: SELECT/WITH over delta.`p` / iceberg.`p` with
    VERSION AS OF / TIMESTAMP AS OF / FOR REF time travel — the same
    front door the DML statements use, so a reference user's SELECT
    passthrough works without calling the readers directly."""
    from gcs2postgres_spark.sources.delta_py import delete_where_delta, write_delta
    from gcs2postgres_spark.sources.iceberg_py import (
        create_ref,
        delete_where,
        write_iceberg_v2_fixture,
    )
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    dt = str(tmp_path / "d")
    write_delta(_delta_nation(spark).coalesce(1), dt, "overwrite",
                timestamp_ms=1_700_000_000_000)
    delete_where_delta(spark, dt, "region = 2", timestamp_ms=1_700_000_010_000)

    it = str(tmp_path / "i")
    write_iceberg_v2_fixture(_ice_nation(spark), it, sort_col="k")
    create_ref(it, "stable", ref_type="tag")
    delete_where(spark, it, "k < 5", snapshot_ts_ms=1_700_000_020_000)

    # plain read
    assert lakehouse_sql(spark, f"SELECT count(*) AS n FROM delta.`{dt}`")\
        .collect()[0]["n"] == 18
    # delta version + timestamp travel
    assert lakehouse_sql(
        spark, f"SELECT count(*) AS n FROM delta.`{dt}` VERSION AS OF 0"
    ).collect()[0]["n"] == 24
    assert lakehouse_sql(
        spark,
        f"SELECT count(*) AS n FROM delta.`{dt}` "
        "TIMESTAMP AS OF '2023-11-14 22:13:21'",  # = 1700000001 UTC
    ).collect()[0]["n"] == 24
    # iceberg plain + tag
    assert lakehouse_sql(spark, f"SELECT count(*) AS n FROM iceberg.`{it}`")\
        .collect()[0]["n"] == 19
    assert lakehouse_sql(
        spark, f"SELECT count(*) AS n FROM iceberg.`{it}` FOR REF stable"
    ).collect()[0]["n"] == 24
    # WITH + join across BOTH formats and versions in one statement
    out = lakehouse_sql(
        spark,
        f"WITH old AS (SELECT k FROM delta.`{dt}` VERSION AS OF 0), "
        f"cur AS (SELECT k FROM iceberg.`{it}`) "
        "SELECT count(*) AS joined FROM old JOIN cur USING (k)",
    ).collect()
    assert out[0]["joined"] == 19
    # FOR REF on delta is loud
    with pytest.raises(ValueError, match="Iceberg feature"):
        lakehouse_sql(spark, f"SELECT * FROM delta.`{dt}` FOR REF x")


def test_delta_check_constraints_enforced(spark, tmp_path):
    """CHECK constraints: ALTER ADD validates existing rows; every
    subsequent write path (append, UPDATE, MERGE) enforces the
    constraint on its new rows and fails NAMING it; NULL passes (SQL
    CHECK semantics)."""
    from gcs2postgres_spark.sources.delta_py import (
        alter_delta_add_constraint,
        merge_delta,
        read_delta_py,
        update_where_delta,
        write_delta,
    )

    t = str(tmp_path / "d")
    write_delta(_delta_nation(spark).coalesce(1), t, "overwrite",
                timestamp_ms=1_700_000_000_000)
    # adding a constraint the data violates refuses
    with pytest.raises(ValueError, match="existing rows violate"):
        alter_delta_add_constraint(spark, t, "k_small", "k < 10")
    v = alter_delta_add_constraint(spark, t, "k_bounded", "k < 1000")
    assert v == 1
    # writer protocol upgraded alongside
    log = open(os.path.join(t, "_delta_log", f"{1:020d}.json")).read()
    assert '"minWriterVersion": 3' in log

    # violating append fails, named; table untouched
    bad = spark.createDataFrame([(5000, "BAD", 0)], "k int, name string, region int")
    with pytest.raises(ValueError, match="k_bounded"):
        write_delta(bad.coalesce(1), t, "append")
    assert read_delta_py(spark, t).count() == 24
    # violating UPDATE fails (the rewritten rows break the constraint)
    with pytest.raises(ValueError, match="k_bounded"):
        update_where_delta(spark, t, "k = 3", {"k": "k + 100000"})
    # violating MERGE fails
    with pytest.raises(ValueError, match="k_bounded"):
        merge_delta(spark, t, bad, ["k"])
    # valid writes still work; NULL passes the check
    ok = spark.createDataFrame([(900, None, 0)], "k int, name string, region int")
    assert write_delta(ok.coalesce(1), t, "append",
                       timestamp_ms=1_700_000_001_000) == 2
    assert read_delta_py(spark, t).count() == 25


def test_delta_generated_columns_validated(spark, tmp_path):
    """Generated columns: the jar-less writer VALIDATES provided values
    against delta.generationExpression (computing them silently would
    mask caller drift); a mismatched value fails the write."""
    import json as _json

    from gcs2postgres_spark.sources.delta_py import (
        _list_commits,
        _log_dir,
        _write_commit,
        read_delta_py,
        replay_head_state,
        write_delta,
    )

    t = str(tmp_path / "d")
    df = spark.createDataFrame(
        [(1, "a", 2), (2, "b", 4)], "k int, name string, k2 int"
    )
    write_delta(df.coalesce(1), t, "overwrite", timestamp_ms=1_700_000_000_000)
    # declare k2 = k * 2 as a generated column (metadata edit, the shape
    # a jar-ful CREATE TABLE ... GENERATED ALWAYS AS writes)
    _, meta = replay_head_state(spark, t)
    schema = _json.loads(meta["schemaString"])
    for f in schema["fields"]:
        if f["name"] == "k2":
            f["metadata"] = {"delta.generationExpression": "k * 2"}
    new_meta = dict(meta)
    new_meta["schemaString"] = _json.dumps(schema)
    _write_commit(_log_dir(t), max(_list_commits(_log_dir(t))) + 1,
                  [{"metaData": new_meta}], 1_700_000_001_000)

    wrong = spark.createDataFrame([(3, "c", 99)], "k int, name string, k2 int")
    with pytest.raises(ValueError, match="generated column 'k2'"):
        write_delta(wrong.coalesce(1), t, "append")
    right = spark.createDataFrame([(3, "c", 6)], "k int, name string, k2 int")
    write_delta(right.coalesce(1), t, "append", timestamp_ms=1_700_000_002_000)
    assert read_delta_py(spark, t).count() == 3


def test_delta_writer_feature_gate_and_append_only(spark, tmp_path):
    """An unhonored writer feature refuses ALL write paths instead of
    corrupting the table's contract (rowTracking itself is honored since
    round 13, so the gate is exercised with an unknown future feature);
    delta.appendOnly blocks row removal (overwrite/DELETE) but not
    appends."""
    import json as _json

    from gcs2postgres_spark.sources.delta_py import (
        _list_commits,
        _log_dir,
        _write_commit,
        compact_delta,
        delete_where_delta,
        read_delta_py,
        replay_head_state,
        write_delta,
    )

    t = str(tmp_path / "d")
    write_delta(_delta_nation(spark).coalesce(1), t, "overwrite",
                timestamp_ms=1_700_000_000_000)
    _write_commit(_log_dir(t), 1, [{"protocol": {
        "minReaderVersion": 1, "minWriterVersion": 7,
        "writerFeatures": ["someFutureWriterFeature"]}}], 1_700_000_001_000)
    with pytest.raises(NotImplementedError, match="someFutureWriterFeature"):
        write_delta(_delta_nation(spark).coalesce(1), t, "append")
    with pytest.raises(NotImplementedError, match="someFutureWriterFeature"):
        delete_where_delta(spark, t, "k = 1")
    with pytest.raises(NotImplementedError, match="someFutureWriterFeature"):
        compact_delta(spark, t)

    # appendOnly: removal paths refuse, appends proceed
    t2 = str(tmp_path / "d2")
    write_delta(_delta_nation(spark).coalesce(1), t2, "overwrite",
                timestamp_ms=1_700_000_000_000)
    _, meta = replay_head_state(spark, t2)
    new_meta = dict(meta)
    new_meta["configuration"] = {"delta.appendOnly": "true"}
    _write_commit(_log_dir(t2), max(_list_commits(_log_dir(t2))) + 1,
                  [{"metaData": new_meta}], 1_700_000_001_000)
    with pytest.raises(ValueError, match="appendOnly"):
        delete_where_delta(spark, t2, "k = 1")
    with pytest.raises(ValueError, match="appendOnly"):
        write_delta(_delta_nation(spark).coalesce(1), t2, "overwrite")
    write_delta(
        spark.createDataFrame([(990, "x", 0)], "k int, name string, region int")
        .coalesce(1), t2, "append", timestamp_ms=1_700_000_002_000,
    )
    assert read_delta_py(spark, t2).count() == 25


def test_lakehouse_sql_insert_and_ctas(spark, tmp_path):
    """SQL facade writes: INSERT INTO (SELECT and positional VALUES)
    and CREATE TABLE ... [PARTITIONED BY (transforms)] AS SELECT on
    both formats — completing the statement surface a reference user's
    SQL passthrough would issue."""
    import datetime as dt

    from gcs2postgres_spark.sources.delta_py import read_delta_py, write_delta
    from gcs2postgres_spark.sources.iceberg_py import (
        read_iceberg_meta,
        read_iceberg_py,
    )
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    dt_path = str(tmp_path / "d")
    write_delta(_delta_nation(spark).coalesce(1), dt_path, "overwrite",
                timestamp_ms=1_700_000_000_000)

    # INSERT INTO ... VALUES (positional binding to table columns)
    v = lakehouse_sql(
        spark, f"INSERT INTO delta.`{dt_path}` VALUES (900, 'NEW', 9)"
    )
    assert v == 1
    assert read_delta_py(spark, dt_path).filter("k = 900").count() == 1
    with pytest.raises(ValueError, match="arity"):
        lakehouse_sql(spark, f"INSERT INTO delta.`{dt_path}` VALUES (1, 'x')")

    # CTAS iceberg with hidden-partition transforms, fed by a SELECT
    # over the delta table (cross-format, facade-rewritten)
    it = str(tmp_path / "i")
    lakehouse_sql(
        spark,
        f"CREATE TABLE iceberg.`{it}` PARTITIONED BY (bucket(4, k)) AS "
        f"SELECT k, name, region FROM delta.`{dt_path}` WHERE region < 9",
    )
    assert read_iceberg_py(spark, it).count() == 24
    files = read_iceberg_meta(spark, it, "files").collect()
    assert any('"k_bucket"' in f["partition"] for f in files)

    # INSERT INTO iceberg from a time-traveled delta read
    lakehouse_sql(
        spark,
        f"INSERT INTO iceberg.`{it}` SELECT k + 1000 AS k, name, region "
        f"FROM delta.`{dt_path}` VERSION AS OF 0 WHERE k < 3",
    )
    assert read_iceberg_py(spark, it).count() == 27

    # CTAS delta (identity partitioning only; transforms refuse loudly)
    d2 = str(tmp_path / "d2")
    lakehouse_sql(
        spark,
        f"CREATE TABLE delta.`{d2}` PARTITIONED BY (region) AS "
        f"SELECT * FROM delta.`{dt_path}`",
    )
    assert read_delta_py(spark, d2).count() == 25
    with pytest.raises(ValueError, match="identity-only"):
        lakehouse_sql(
            spark,
            f"CREATE TABLE delta.`{tmp_path / 'd3'}` PARTITIONED BY "
            f"(days(k)) AS SELECT * FROM delta.`{dt_path}`",
        )


def test_iceberg_wap_branch_write_and_publish(spark, tmp_path):
    """Write-audit-publish: appends staged on a branch are INVISIBLE to
    table-head readers (the audit window), readable via the branch ref,
    and become visible atomically on fast_forward; a tag refuses
    commits; partitions metadata table summarizes transformed tuples."""
    import datetime as dt

    from gcs2postgres_spark.sources.iceberg_py import (
        append_iceberg_v2,
        create_iceberg_v2_table,
        create_ref,
        fast_forward,
        read_iceberg_meta,
        read_iceberg_py,
    )

    df = spark.range(20).selectExpr(
        "CAST(id AS INT) AS k", "concat('N_', id) AS name",
        "date_add(DATE'2024-01-01', CAST(id * 5 AS INT)) AS d",
    )
    t = str(tmp_path / "t")
    create_iceberg_v2_table(df.schema, t, [("d", "month")])
    append_iceberg_v2(spark, t, df, snapshot_ts_ms=1_700_000_000_000)

    # stage two appends on an (implicitly created) audit branch
    extra1 = spark.createDataFrame([(100, "S1", dt.date(2024, 5, 5))],
                                   "k int, name string, d date")
    extra2 = spark.createDataFrame([(101, "S2", dt.date(2024, 6, 6))],
                                   "k int, name string, d date")
    append_iceberg_v2(spark, t, extra1, snapshot_ts_ms=1_700_000_001_000,
                      branch="audit")
    append_iceberg_v2(spark, t, extra2, snapshot_ts_ms=1_700_000_002_000,
                      branch="audit")
    # head readers see NOTHING staged; branch readers see everything
    assert read_iceberg_py(spark, t).count() == 20
    assert read_iceberg_py(spark, t, ref="audit").count() == 22
    # second staged append based on the BRANCH head (not main): proven
    # by the branch read containing both staged rows above

    # publish: atomic, one metadata version
    sid = fast_forward(t, "audit")
    assert read_iceberg_py(spark, t).count() == 22
    assert fast_forward(t, "audit") == sid  # idempotent, no new version

    # tags refuse commits and publishes
    create_ref(t, "pin", ref_type="tag")
    with pytest.raises(ValueError, match="tag"):
        append_iceberg_v2(spark, t, extra1, branch="pin")
    with pytest.raises(ValueError, match="tag"):
        fast_forward(t, "pin")

    # partitions metadata table: transformed tuples with counts
    parts = {r["partition"]: r["record_count"]
             for r in read_iceberg_meta(spark, t, "partitions").collect()}
    assert parts['{"d_month": 652}'] == 1  # 2024-05: staged S1 (base ends in April)
    assert parts['{"d_month": 653}'] == 1  # 2024-06: staged S2
    assert sum(parts.values()) == 22


def test_delta_shallow_clone(spark, tmp_path):
    """Zero-copy SHALLOW CLONE: the clone reads the source's files by
    absolute path (no data copied), evolves independently (DML on the
    clone never touches the source), supports time-travel clones, and
    VACUUM on the clone never deletes source files."""
    import glob

    from gcs2postgres_spark.sources.delta_py import (
        delete_where_delta,
        read_delta_py,
        shallow_clone_delta,
        vacuum_delta,
        write_delta,
    )
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    src = str(tmp_path / "src")
    write_delta(_delta_nation(spark).coalesce(1), src, "overwrite",
                timestamp_ms=1_700_000_000_000)
    delete_where_delta(spark, src, "k >= 20", timestamp_ms=1_700_000_001_000)

    # clone HEAD via the SQL facade; no parquet under the clone dir
    dst = str(tmp_path / "clone")
    assert lakehouse_sql(
        spark, f"CREATE TABLE delta.`{dst}` SHALLOW CLONE delta.`{src}`"
    ) == 0
    assert read_delta_py(spark, dst).count() == 20
    assert not glob.glob(os.path.join(dst, "**", "*.parquet"), recursive=True)

    # time-travel clone of version 0 (pre-delete)
    dst0 = str(tmp_path / "clone_v0")
    shallow_clone_delta(spark, src, dst0, version_as_of=0,
                        timestamp_ms=1_700_000_002_000)
    assert read_delta_py(spark, dst0).count() == 24

    # DML on the clone: source unaffected; both independently correct
    delete_where_delta(spark, dst, "k < 5", timestamp_ms=1_700_000_003_000)
    assert read_delta_py(spark, dst).count() == 15
    assert read_delta_py(spark, src).count() == 20

    # overwrite the clone, then VACUUM it: tombstoned SOURCE files are
    # outside the clone's directory and must survive
    write_delta(
        spark.createDataFrame([(1, "x", 0)], "k int, name string, region int")
        .coalesce(1), dst, "overwrite", timestamp_ms=1_700_000_004_000,
    )
    src_files_before = set(glob.glob(os.path.join(src, "**", "*.parquet"),
                                     recursive=True))
    vacuum_delta(dst)
    assert set(glob.glob(os.path.join(src, "**", "*.parquet"),
                         recursive=True)) == src_files_before
    assert read_delta_py(spark, src).count() == 20

    # clone onto an existing table refuses
    with pytest.raises(ValueError, match="already exists"):
        shallow_clone_delta(spark, src, dst)


def test_lakehouse_sql_alter_statements(spark, tmp_path):
    """Facade ALTER TABLE: ADD CONSTRAINT (delta), RENAME/ADD COLUMN
    (both formats), CREATE/DROP TAG|BRANCH (iceberg)."""
    from gcs2postgres_spark.sources.delta_py import read_delta_py, write_delta
    from gcs2postgres_spark.sources.iceberg_py import (
        read_iceberg_py,
        write_iceberg_v2_fixture,
    )
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    dt = str(tmp_path / "d")
    write_delta(_delta_nation(spark).coalesce(1), dt, "overwrite",
                timestamp_ms=1_700_000_000_000)
    lakehouse_sql(
        spark, f"ALTER TABLE delta.`{dt}` ADD CONSTRAINT bound CHECK (k < 1000)"
    )
    with pytest.raises(ValueError, match="bound"):
        write_delta(
            spark.createDataFrame([(5000, "x", 0)], "k int, name string, region int")
            .coalesce(1), dt, "append",
        )
    lakehouse_sql(spark, f"ALTER TABLE delta.`{dt}` RENAME COLUMN name TO label")
    lakehouse_sql(spark, f"ALTER TABLE delta.`{dt}` ADD COLUMN score DOUBLE")
    out = read_delta_py(spark, dt)
    assert "label" in out.columns and "score" in out.columns
    assert out.filter("label = 'N_3'").count() == 1  # values survive rename

    it = str(tmp_path / "i")
    write_iceberg_v2_fixture(_ice_nation(spark), it, sort_col="k")
    lakehouse_sql(spark, f"ALTER TABLE iceberg.`{it}` RENAME COLUMN name TO label")
    lakehouse_sql(spark, f"ALTER TABLE iceberg.`{it}` ADD COLUMN score BIGINT")
    out = read_iceberg_py(spark, it)
    assert "label" in out.columns and "score" in out.columns
    lakehouse_sql(spark, f"ALTER TABLE iceberg.`{it}` CREATE TAG v1")
    assert read_iceberg_py(spark, it, ref="v1").count() == 24
    lakehouse_sql(spark, f"ALTER TABLE iceberg.`{it}` DROP TAG v1")
    with pytest.raises(ValueError, match="not found"):
        read_iceberg_py(spark, it, ref="v1")
    with pytest.raises(ValueError, match="Iceberg feature"):
        lakehouse_sql(spark, f"ALTER TABLE delta.`{dt}` CREATE TAG x")
    with pytest.raises(ValueError, match="Delta writer feature"):
        lakehouse_sql(
            spark, f"ALTER TABLE iceberg.`{it}` ADD CONSTRAINT c CHECK (k < 5)"
        )


def test_lakehouse_sql_show_partitions(spark, tmp_path):
    """SHOW PARTITIONS: Iceberg surfaces per-TRANSFORMED-tuple file/row
    counts from the manifests; Delta aggregates the live adds'
    partitionValues — both metadata-only."""
    from gcs2postgres_spark.sources.delta_py import write_delta_fixture
    from gcs2postgres_spark.sources.iceberg_py import (
        write_iceberg_v2_partitioned_fixture,
    )
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    it = str(tmp_path / "i")
    write_iceberg_v2_partitioned_fixture(_ice_nation(spark), it, "region")
    rows = lakehouse_sql(spark, f"SHOW PARTITIONS iceberg.`{it}`").collect()
    assert len(rows) == 4 and sum(r["record_count"] for r in rows) == 24

    dt = str(tmp_path / "d")
    write_delta_fixture(_delta_nation(spark).coalesce(1), dt,
                        partition_col="region")
    rows = lakehouse_sql(spark, f"SHOW PARTITIONS delta.`{dt}`").collect()
    assert len(rows) == 4 and all(r["file_count"] >= 1 for r in rows)
    # unpartitioned delta refuses
    from gcs2postgres_spark.sources.delta_py import write_delta

    up = str(tmp_path / "unpart")
    write_delta(_delta_nation(spark).coalesce(1), up, "overwrite",
                timestamp_ms=1_700_000_000_000)
    with pytest.raises(ValueError, match="not partitioned"):
        lakehouse_sql(spark, f"SHOW PARTITIONS delta.`{up}`")


def test_merge_per_column_set_both_formats(spark, tmp_path):
    """Per-column MERGE (round 12): WHEN MATCHED THEN UPDATE SET
    col = expr over the t./s. pair — un-SET columns keep the TARGET's
    value (the thing 'UPDATE SET *' cannot express), unmatched source
    rows insert whole rows, and the facade normalizes the statement's
    aliases to the committers' t./s. environment."""
    from gcs2postgres_spark.sources.delta_py import merge_delta, read_delta_py, write_delta
    from gcs2postgres_spark.sources.iceberg_py import (
        merge_into,
        read_iceberg_py,
        write_iceberg_v2_fixture,
    )
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    src = spark.createDataFrame(
        [(3, "SRC_3", 9), (900, "SRC_NEW", 7)], "k int, name string, region int"
    )

    # Delta via the facade, mixed t./s. expressions
    dt = str(tmp_path / "d")
    write_delta(_delta_nation(spark).coalesce(1), dt, "overwrite",
                timestamp_ms=1_700_000_000_000)
    src.createOrReplaceTempView("percol_src")
    v = lakehouse_sql(
        spark,
        f"MERGE INTO delta.`{dt}` tgt USING percol_src sp ON tgt.k = sp.k "
        "WHEN MATCHED THEN UPDATE SET name = concat(tgt.name, '+', sp.name), "
        "region = sp.region + 100 "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    assert v == 1
    d = {r["k"]: (r["name"], r["region"]) for r in read_delta_py(spark, dt).collect()}
    assert d[3] == ("N_3+SRC_3", 109)  # SET exprs applied
    assert d[2] == ("N_2", 2)  # untouched row intact
    assert d[900] == ("SRC_NEW", 7)  # insert is the whole source row
    assert len(d) == 25

    # Iceberg direct committer, target-only kept column
    it = str(tmp_path / "i")
    write_iceberg_v2_fixture(_ice_nation(spark), it, sort_col="k")
    sid = merge_into(
        spark, it, src, ["k"],
        set_exprs={"name": "upper(s.name)"},
        snapshot_ts_ms=1_700_000_001_000,
    )
    assert sid is not None
    i = {r["k"]: (r["name"], r["region"]) for r in read_iceberg_py(spark, it).collect()}
    assert i[3] == ("SRC_3", 3)  # name SET from source; region KEPT from target
    assert i[900] == ("SRC_NEW", 7)

    # guard: unknown SET column (set_exprs outside plain update mode
    # raises on both formats: test_invalid_merge_modes_raise_before_read)
    with pytest.raises(ValueError, match="unknown columns"):
        merge_delta(spark, dt, src, ["k"], set_exprs={"nope": "1"})


def test_lakehouse_sql_r13_surface(spark, tmp_path):
    """Round-13 facade additions: INSERT column lists (missing cols
    NULL), INSERT OVERWRITE, TRUNCATE TABLE, SET/SHOW TBLPROPERTIES,
    DESCRIBE DETAIL — both formats where applicable."""
    from gcs2postgres_spark.sources.delta_py import read_delta_py, write_delta
    from gcs2postgres_spark.sources.iceberg_py import (
        append_iceberg_v2,
        create_iceberg_v2_table,
        read_iceberg_py,
    )
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    d = str(tmp_path / "d")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "k long, name string, v long"
    )
    write_delta(base, d, timestamp_ms=1_700_000_000_000)
    i = str(tmp_path / "i")
    create_iceberg_v2_table(base.schema, i)
    append_iceberg_v2(spark, i, base, snapshot_ts_ms=1_700_000_000_000)

    # INSERT with a column list: unlisted column reads NULL
    lakehouse_sql(spark, f"INSERT INTO delta.`{d}` (k, name) VALUES (3, 'c')")
    r3 = read_delta_py(spark, d).filter("k = 3").collect()[0]
    assert r3["name"] == "c" and r3["v"] is None
    with pytest.raises(ValueError, match="unknown columns"):
        lakehouse_sql(spark, f"INSERT INTO delta.`{d}` (k, nope) VALUES (4, 1)")

    # INSERT OVERWRITE replaces the whole table (old versions remain)
    lakehouse_sql(
        spark, f"INSERT OVERWRITE delta.`{d}` VALUES (9, 'z', CAST(90 AS LONG))"
    )
    assert [(r["k"], r["name"]) for r in read_delta_py(spark, d).collect()] == [(9, "z")]
    assert read_delta_py(spark, d, version_as_of=0).count() == 2
    lakehouse_sql(
        spark, f"INSERT OVERWRITE iceberg.`{i}` VALUES (9, 'z', CAST(90 AS LONG))"
    )
    assert read_iceberg_py(spark, i).count() == 1

    # TRUNCATE: zero rows at head, history intact
    lakehouse_sql(spark, f"TRUNCATE TABLE delta.`{d}`")
    assert read_delta_py(spark, d).count() == 0
    lakehouse_sql(spark, f"TRUNCATE TABLE iceberg.`{i}`")
    assert read_iceberg_py(spark, i).count() == 0

    # SET/SHOW TBLPROPERTIES
    lakehouse_sql(
        spark,
        f"ALTER TABLE delta.`{d}` SET TBLPROPERTIES ('delta.appendOnly' = 'true')",
    )
    props = {
        r["key"]: r["value"]
        for r in lakehouse_sql(spark, f"SHOW TBLPROPERTIES delta.`{d}`").collect()
    }
    assert props["delta.appendOnly"] == "true"
    with pytest.raises(ValueError, match="forbids overwrite"):
        lakehouse_sql(spark, f"TRUNCATE TABLE delta.`{d}`")

    # DESCRIBE DETAIL: metadata-only one-row summary
    det = lakehouse_sql(spark, f"DESCRIBE DETAIL delta.`{d}`").collect()[0]
    assert det["format"] == "delta" and det["num_files"] >= 0
    det_i = lakehouse_sql(spark, f"DESCRIBE DETAIL iceberg.`{i}`").collect()[0]
    assert det_i["format"] == "iceberg"


def test_facade_create_table_column_defs(spark, tmp_path):
    """r14: CREATE TABLE with a typed column list (no AS SELECT) —
    including GENERATED ... AS IDENTITY — through the SQL front door."""
    import pytest as _pytest

    from gcs2postgres_spark.sources.delta_py import read_delta_py
    from gcs2postgres_spark.sources.iceberg_py import read_iceberg_py
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    d = str(tmp_path / "d")
    lakehouse_sql(
        spark,
        f"CREATE TABLE delta.`{d}` (id BIGINT GENERATED ALWAYS AS IDENTITY "
        "(START WITH 100 INCREMENT BY 5), name STRING)",
    )
    lakehouse_sql(
        spark,
        f"INSERT INTO delta.`{d}` (name) VALUES ('a'), ('b'), ('c')",
    )
    rows = sorted(
        (r["id"], r["name"]) for r in read_delta_py(spark, d).collect()
    )
    assert [r[0] for r in rows] == [100, 105, 110]
    # ALWAYS: explicit ids refuse
    with _pytest.raises(ValueError, match="GENERATED ALWAYS"):
        lakehouse_sql(
            spark, f"INSERT INTO delta.`{d}` (id, name) VALUES (1, 'x')"
        )
    # plain column-list create, both formats
    d2 = str(tmp_path / "d2")
    lakehouse_sql(spark, f"CREATE TABLE delta.`{d2}` (k BIGINT, v STRING)")
    lakehouse_sql(spark, f"INSERT INTO delta.`{d2}` VALUES (1, 'x')")
    assert read_delta_py(spark, d2).count() == 1
    i2 = str(tmp_path / "i2")
    lakehouse_sql(spark, f"CREATE TABLE iceberg.`{i2}` (k BIGINT, v STRING)")
    lakehouse_sql(spark, f"INSERT INTO iceberg.`{i2}` VALUES (2, 'y')")
    assert read_iceberg_py(spark, i2).count() == 1
    # identity on iceberg refuses
    with _pytest.raises(ValueError, match="Delta feature"):
        lakehouse_sql(
            spark,
            f"CREATE TABLE iceberg.`{tmp_path}/i3` "
            "(id BIGINT GENERATED ALWAYS AS IDENTITY)",
        )


def test_liquid_clustering_contract(spark, tmp_path):
    """r15 liquid clustering: CLUSTER BY records the domain + feature,
    plain OPTIMIZE follows it (files get tight min/max on BOTH
    dimensions), explicit ZORDER BY refuses, re-pointing the columns
    changes what the NEXT optimize clusters, and unknown-feature safety
    still holds (the clustering feature is honored, not refused)."""
    import json as _json

    from pyspark.sql import functions as F

    from gcs2postgres_spark.sources.delta_py import (
        delta_clustering_columns,
        read_delta_py,
        replay_head_state,
        set_delta_clustering,
        write_delta,
    )
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    t = str(tmp_path / "liquid")
    df = (
        spark.range(0, 40_000)
        .withColumnRenamed("id", "k")
        .withColumn("a", (F.col("k") % 64).cast("long"))
        .withColumn("b", ((F.col("k") * 7) % 64).cast("long"))
    )
    write_delta(df.repartition(4), t, "overwrite",
                timestamp_ms=1_700_000_000_000)
    lakehouse_sql(spark, f"ALTER TABLE delta.`{t}` CLUSTER BY (a, b)")
    assert delta_clustering_columns(spark, t) == ["a", "b"]
    # protocol carries the features
    from gcs2postgres_spark.sources.delta_py import _head_protocol

    feats = set(_head_protocol(t).get("writerFeatures") or [])
    assert {"clustering", "domainMetadata"} <= feats
    # plain OPTIMIZE clusters; explicit ZORDER refuses
    with pytest.raises(ValueError, match="CLUSTER BY"):
        lakehouse_sql(spark, f"OPTIMIZE delta.`{t}` ZORDER BY (a)")
    from gcs2postgres_spark.sources.delta_py import compact_delta

    # small target -> multi-file layout, so per-file spans are visible
    compact_delta(spark, t, target_file_mb=0.02,
                  timestamp_ms=1_700_000_001_000)
    got = read_delta_py(spark, t)
    assert got.count() == 40_000
    # clustered layout: per-file stats ranges on BOTH dims are narrow
    live, _meta = replay_head_state(spark, t)
    spans_a, spans_b = [], []
    for add in live.values():
        st = _json.loads(add["stats"])
        spans_a.append(st["maxValues"]["a"] - st["minValues"]["a"])
        spans_b.append(st["maxValues"]["b"] - st["minValues"]["b"])
    # an unclustered 4-file layout would span ~63 on every file in both
    # dims; the curve must tighten the AVERAGE span on both
    assert len(spans_a) >= 4
    assert sum(spans_a) / len(spans_a) < 40, spans_a
    assert sum(spans_b) / len(spans_b) < 40, spans_b
    # re-pointing the clustering columns steers the NEXT optimize
    set_delta_clustering(spark, t, ["b"], timestamp_ms=1_700_000_002_000)
    assert delta_clustering_columns(spark, t) == ["b"]
    # CLUSTER BY validates columns and refuses on iceberg
    with pytest.raises(ValueError, match="not in schema"):
        set_delta_clustering(spark, t, ["ghost"])
    with pytest.raises(ValueError, match="liquid"):
        lakehouse_sql(spark, f"ALTER TABLE iceberg.`{t}` CLUSTER BY (a)")


# ------------------------- shared row-level planner (sources/row_level.py)


def _merge_fixture(spark, tmp_path, fmt):
    tgt = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k long, name string, v long",
    )
    p = str(tmp_path / fmt)
    if fmt == "delta":
        delta_py.write_delta(tgt, p)
    else:
        iceberg_py.create_iceberg_v2_table(tgt.schema, p)
        iceberg_py.append_iceberg_v2(spark, p, tgt)
    return p


def test_merge_duplicate_source_keys_raise(spark, tmp_path):
    d = str(tmp_path / "dl")
    it = str(tmp_path / "ice")
    tgt = spark.createDataFrame([(1, "a"), (2, "b")], "k long, name string")
    delta_py.write_delta(tgt, d)
    iceberg_py.create_iceberg_v2_table(tgt.schema, it)
    iceberg_py.append_iceberg_v2(spark, it, tgt)
    dup_src = spark.createDataFrame(
        [(1, "x"), (1, "y"), (3, "c")], "k long, name string"
    )
    with pytest.raises(ValueError, match="duplicate key"):
        delta_py.merge_delta(spark, d, dup_src, ["k"])
    with pytest.raises(ValueError, match="duplicate key"):
        iceberg_py.merge_into(spark, it, dup_src, ["k"])
    with pytest.raises(ValueError, match="duplicate key"):
        delta_py.merge_delta(
            spark, d, dup_src, ["k"], set_exprs={"name": "s.name"}
        )
    # insert-only merge tolerates duplicates (no target row modified)
    v = delta_py.merge_delta(
        spark, d, dup_src.filter(F.col("k") == 3), ["k"], when_matched="ignore"
    )
    assert v is not None


def test_merge_multi_clause_matrix(spark, tmp_path):
    """The full clause matrix on both formats through the SQL facade:
    conditional DELETE, conditional per-column UPDATE, fallthrough
    UPDATE SET *, conditional INSERT, and NOT MATCHED BY SOURCE DELETE —
    first-match-wins within each group."""
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    src = spark.createDataFrame(
        [
            (1, "A", 11, "del"),   # matched, op=del   -> DELETE
            (2, "B", 22, "upd"),   # matched, op=upd   -> UPDATE SET name only
            (3, "C", 33, "other"), # matched, no cond  -> UPDATE SET * (v from s)
            (5, "E", 55, "del"),   # not matched, del  -> filtered out of INSERT
            (6, "F", 66, "new"),   # not matched       -> INSERT
        ],
        "k long, name string, v long, op string",
    )
    # k=4 is matched by no source row -> NOT MATCHED BY SOURCE DELETE
    for fmt in ("delta", "iceberg"):
        p = _merge_fixture(spark, tmp_path, fmt)
        src.select("k", "name", "v", "op").createOrReplaceTempView("mm_src")
        # note: INSERT * takes the table's columns from the source; the
        # source's extra op column is dropped by the cast projection
        lakehouse_sql(
            spark,
            f"MERGE INTO {fmt}.`{p}` t USING mm_src s ON t.k = s.k "
            "WHEN MATCHED AND s.op = 'del' THEN DELETE "
            "WHEN MATCHED AND s.op = 'upd' THEN UPDATE SET name = s.name "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED AND s.op <> 'del' THEN INSERT * "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE",
        )
        if fmt == "delta":
            out = delta_py.read_delta_py(spark, p)
        else:
            out = iceberg_py.read_iceberg_py(spark, p)
        rows = {r["k"]: (r["name"], r["v"]) for r in out.collect()}
        assert rows == {
            2: ("B", 20),   # per-column SET: v kept
            3: ("C", 33),   # SET *: v replaced
            6: ("F", 66),   # inserted
        }, (fmt, rows)


def test_merge_not_matched_by_source_update(spark, tmp_path):
    """NOT MATCHED BY SOURCE with a conditional UPDATE over t-only
    expressions (the stale-row sweep shape)."""
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    p = _merge_fixture(spark, tmp_path, "delta")
    spark.createDataFrame([(1, "A", 11)], "k long, name string, v long") \
        .createOrReplaceTempView("mm_src2")
    lakehouse_sql(
        spark,
        f"MERGE INTO delta.`{p}` t USING mm_src2 s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED BY SOURCE AND t.v >= 30 THEN UPDATE SET name = concat(t.name, '_stale')",
    )
    rows = {r["k"]: r["name"] for r in delta_py.read_delta_py(spark, p).collect()}
    assert rows == {1: "A", 2: "b", 3: "c_stale", 4: "d_stale"}


def test_merge_clause_validation(spark, tmp_path):
    from gcs2postgres_spark.sources.lakehouse_sql import lakehouse_sql

    p = _merge_fixture(spark, tmp_path, "delta")
    spark.createDataFrame([(9, "z", 0)], "k long, name string, v long") \
        .createOrReplaceTempView("mm_src3")
    # unconditioned clause shadowing a later one: dead clause, raise
    with pytest.raises(ValueError, match="must be LAST"):
        lakehouse_sql(
            spark,
            f"MERGE INTO delta.`{p}` t USING mm_src3 s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN MATCHED AND s.v > 0 THEN DELETE",
        )
    # BY SOURCE cannot SET * (no source row)
    with pytest.raises(ValueError, match="no source row"):
        lakehouse_sql(
            spark,
            f"MERGE INTO delta.`{p}` t USING mm_src3 s ON t.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *",
        )
    # SET targeting an unknown column
    with pytest.raises(ValueError, match="unknown columns"):
        lakehouse_sql(
            spark,
            f"MERGE INTO delta.`{p}` t USING mm_src3 s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET nope = 1",
        )


def test_merge_multi_plan_no_cartesian(spark, tmp_path):
    """100 TB contract for the clause planner: the matcher and every
    replacement branch plan as equi-joins (hash/broadcast), never a
    cartesian or broadcast-nested-loop — conditions are FILTERS over
    the key join, not join conditions."""
    from gcs2postgres_spark.plans.inspect import formatted_plan
    from gcs2postgres_spark.sources.row_level import build_merge_plan

    live = spark.createDataFrame(
        [(i, f"n{i}", i * 10) for i in range(100)], "k long, name string, v long"
    )
    source = spark.createDataFrame(
        [(i, f"s{i}", i, "upd" if i % 2 else "del") for i in range(0, 200, 3)],
        "k long, name string, v long, op string",
    )
    matcher, replacement = build_merge_plan(
        live, source, ["k"],
        matched=[
            {"cond": "s.op = 'del'", "action": "delete", "set": None},
            {"cond": None, "action": "update",
             "set": {"name": "concat(t.name, s.name)"}},
        ],
        not_matched=[{"cond": "s.op <> 'del'", "action": "insert", "set": None}],
        not_matched_by_source=[
            {"cond": "t.v > 500", "action": "update",
             "set": {"name": "concat(t.name, '_stale')"}},
        ],
    )
    for label, df in (("matcher", matcher(live)), ("replacement", replacement)):
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, (label, plan[:1500])
        assert "BroadcastNestedLoopJoin" not in plan, (label, plan[:1500])


_FORMATS = ("delta", "iceberg")


def _kseq_target(spark, tmp_path, fmt, rows, name="t"):
    """A fresh one-file ``(k, seq, name)`` table on ``fmt``."""
    df = spark.createDataFrame(rows, "k long, seq long, name string")
    p = str(tmp_path / f"{name}_{fmt}")
    if fmt == "delta":
        delta_py.write_delta(df.coalesce(1), p, "overwrite",
                             timestamp_ms=1_700_000_000_000)
    else:
        iceberg_py.write_iceberg_v2_fixture(df, p, sort_col="k")
    return p


def _rows(spark, fmt, p):
    read = delta_py.read_delta_py if fmt == "delta" else iceberg_py.read_iceberg_py
    return sorted(tuple(r) for r in read(spark, p).select("k", "seq", "name").collect())


def _merge(fmt):
    return delta_py.merge_delta if fmt == "delta" else iceberg_py.merge_into


_KSEQ_TARGET = [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")]
# k=1 newer than its target row, k=2 older, k=4 unmatched
_KSEQ_SOURCE = [(1, 2, "x"), (2, 0, "y"), (4, 1, "d")]
_SET = {"name": "concat(t.name, s.name)"}

# mode -> (merge kwargs, rows after one merge, replay returns None)
_SINGLE_CLAUSE_MODES = {
    "update/insert": (
        {}, [(1, 2, "x"), (2, 0, "y"), (3, 1, "c"), (4, 1, "d")], False),
    "update/ignore": (
        {"when_not_matched": "ignore"},
        [(1, 2, "x"), (2, 0, "y"), (3, 1, "c")], False),
    "delete/insert": (
        {"when_matched": "delete"}, [(3, 1, "c"), (4, 1, "d")], False),
    "delete/ignore": (
        {"when_matched": "delete", "when_not_matched": "ignore"},
        [(3, 1, "c")], True),
    "ignore/insert": (
        {"when_matched": "ignore"},
        [(1, 1, "a"), (2, 1, "b"), (3, 1, "c"), (4, 1, "d")], True),
    "latest_wins/insert": (
        {"latest_wins_on": ["seq"]},
        [(1, 2, "x"), (2, 1, "b"), (3, 1, "c"), (4, 1, "d")], True),
    "latest_wins/ignore": (
        {"latest_wins_on": ["seq"], "when_not_matched": "ignore"},
        [(1, 2, "x"), (2, 1, "b"), (3, 1, "c")], True),
    "set_exprs/insert": (
        {"set_exprs": _SET},
        [(1, 1, "ax"), (2, 1, "by"), (3, 1, "c"), (4, 1, "d")], False),
    "set_exprs/ignore": (
        {"set_exprs": _SET, "when_not_matched": "ignore"},
        [(1, 1, "ax"), (2, 1, "by"), (3, 1, "c")], False),
}


@pytest.mark.parametrize("mode", sorted(_SINGLE_CLAUSE_MODES))
def test_single_clause_merge_modes_agree_across_formats(spark, tmp_path, mode):
    """Every valid single-clause mode commits the same rows on Delta
    and Iceberg, and a replay of the same batch is a no-op (None) on
    both or on neither."""
    kwargs, expect, replay_none = _SINGLE_CLAUSE_MODES[mode]
    src = spark.createDataFrame(_KSEQ_SOURCE, "k long, seq long, name string")
    for fmt in _FORMATS:
        p = _kseq_target(spark, tmp_path, fmt, _KSEQ_TARGET)
        assert _merge(fmt)(spark, p, src, ["k"], **kwargs) is not None, fmt
        assert _rows(spark, fmt, p) == expect, fmt
        replay = _merge(fmt)(spark, p, src, ["k"], **kwargs)
        assert (replay is None) == replay_none, (fmt, replay)


_INVALID_MODES = {
    "when_matched": ({"when_matched": "upsert"}, "when_matched must be"),
    "when_not_matched": (
        {"when_not_matched": "delete"}, "when_not_matched must be"),
    "latest_wins/delete": (
        {"when_matched": "delete", "latest_wins_on": ["seq"]},
        "latest_wins_on requires"),
    "latest_wins/ignore": (
        {"when_matched": "ignore", "latest_wins_on": ["seq"]},
        "latest_wins_on requires"),
    "ignore/ignore": (
        {"when_matched": "ignore", "when_not_matched": "ignore"}, "no-op"),
    "set_exprs/delete": (
        {"when_matched": "delete", "set_exprs": _SET},
        "set_exprs .* requires when_matched='update'"),
    "set_exprs/ignore": (
        {"when_matched": "ignore", "set_exprs": _SET},
        "set_exprs .* requires when_matched='update'"),
    "set_exprs/latest_wins": (
        {"latest_wins_on": ["seq"], "set_exprs": _SET},
        "set_exprs .* requires when_matched='update'"),
}


@pytest.mark.parametrize("mode", sorted(_INVALID_MODES))
def test_invalid_merge_modes_raise_before_read(spark, tmp_path, mode):
    """An invalid clause combination raises the same ValueError on both
    formats, and raises it before the table is read: the path below
    does not exist, so a read would fail differently."""
    kwargs, match = _INVALID_MODES[mode]
    src = spark.createDataFrame(_KSEQ_SOURCE, "k long, seq long, name string")
    errors = []
    for fmt in _FORMATS:
        with pytest.raises(ValueError, match=match) as e:
            _merge(fmt)(spark, str(tmp_path / "absent"), src, ["k"], **kwargs)
        errors.append(str(e.value))
    assert errors[0] == errors[1]


@pytest.mark.parametrize("fmt", _FORMATS)
def test_latest_wins_merge_keeps_one_row_per_key(spark, tmp_path, fmt):
    """A latest-wins batch holding several rows per key commits only
    each key's greatest-sequence row, matched or not; the replay then
    commits nothing."""
    src = spark.createDataFrame(
        [(1, 2, "x"), (1, 3, "y"), (3, 1, "c"), (3, 2, "c2")],
        "k long, seq long, name string",
    )
    p = _kseq_target(spark, tmp_path, fmt, [(1, 1, "a"), (2, 1, "b")])
    assert _merge(fmt)(spark, p, src, ["k"], latest_wins_on=["seq"]) is not None
    assert _rows(spark, fmt, p) == [(1, 3, "y"), (2, 1, "b"), (3, 2, "c2")]
    assert _merge(fmt)(spark, p, src, ["k"], latest_wins_on=["seq"]) is None


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted under a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"dml-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# statement -> Spark jobs it runs on a fresh one-file table; the merge
# modes use _SINGLE_CLAUSE_MODES' kwargs and _KSEQ_SOURCE
_DML_JOBS = {
    "delta": {
        "clauses": 17, "delete": 3, "update": 5,
        "update/insert": 10, "update/ignore": 14,
        "delete/insert": 12, "delete/ignore": 6, "ignore/insert": 6,
        "latest_wins/insert": 8, "latest_wins/ignore": 8,
        "latest_wins/clustered": 11,
        "set_exprs/insert": 16, "set_exprs/ignore": 12,
    },
    "iceberg": {
        "clauses": 19, "delete": 4, "update": 8,
        "update/insert": 12, "update/ignore": 16,
        "delete/insert": 14, "delete/ignore": 8, "ignore/insert": 7,
        "latest_wins/insert": 10, "latest_wins/ignore": 10,
        "latest_wins/clustered": 13,
        "set_exprs/insert": 18, "set_exprs/ignore": 14,
    },
}
# Keeping one source row per key (a row_number window over the key) is
# one shuffle, and adaptive execution runs each shuffle map stage as a
# job of its own: one more job in each of the three plans that read the
# source — the emptiness probe, the matching scan and the write. A
# source already reduced and clustered by key, as the streaming apply
# passes it ("latest_wins/clustered"), needs no new shuffle.
_LATEST_WINS_REDUCTION_JOBS = 3
for _counts in _DML_JOBS.values():
    for _mode in ("latest_wins/insert", "latest_wins/ignore"):
        _counts[_mode] += _LATEST_WINS_REDUCTION_JOBS


@pytest.mark.parametrize("fmt", _FORMATS)
def test_dml_statement_job_counts(spark, tmp_path, fmt):
    """The Spark jobs each row-level statement runs are pinned per
    format: planning a statement once for both formats must not add a
    probe, a scan or a shuffle stage to either."""
    from gcs2postgres_spark.streaming.cdc_apply import latest_wins

    if fmt == "delta":
        delete, update = delta_py.delete_where_delta, delta_py.update_where_delta
        clauses = delta_py.merge_delta_clauses
    else:
        delete, update = iceberg_py.delete_where, iceberg_py.update_where
        clauses = iceberg_py.merge_into_clauses
    src = spark.createDataFrame(_KSEQ_SOURCE, "k long, seq long, name string")
    statements = {
        "delete": lambda p: delete(spark, p, "k = 2"),
        "update": lambda p: update(spark, p, "k = 2", {"name": "upper(name)"}),
        "clauses": lambda p: clauses(
            spark, p, src, ["k"],
            matched=[{"cond": "s.seq > t.seq", "action": "update", "set": None}],
            not_matched=[{"cond": None, "action": "insert", "set": None}],
            not_matched_by_source=[
                {"cond": None, "action": "delete", "set": None}],
        ),
    }
    for mode, (kwargs, _expect, _replay) in _SINGLE_CLAUSE_MODES.items():
        statements[mode] = (
            lambda p, kw=kwargs: _merge(fmt)(spark, p, src, ["k"], **kw))
    winners = latest_wins(src, ["k"], ["seq"])
    statements["latest_wins/clustered"] = lambda p: _merge(fmt)(
        spark, p, winners, ["k"], latest_wins_on=["seq"])
    counts = {}
    for i, (name, run) in enumerate(sorted(statements.items())):
        p = _kseq_target(spark, tmp_path, fmt, _KSEQ_TARGET, name=f"t{i}")
        counts[name] = _jobs(spark, lambda: run(p))
    assert counts == _DML_JOBS[fmt]


def test_format_modules_plan_no_dml():
    """Row-level statements are planned once, in sources/row_level.py:
    the format modules keep only their readers and committers, so none
    of the planner's checks or helpers may reappear in them."""
    from pathlib import Path

    src = Path(__file__).resolve().parent.parent / "gcs2postgres_spark/sources"
    forbidden = (
        "when_matched must be",
        "MERGE source lacks table columns",
        "UPDATE SET targets unknown columns",
        "_raise_on_duplicate_merge_keys",
        "build_merge_plan",
    )
    found = [
        f"{mod}: {s!r}"
        for mod in ("delta_py.py", "iceberg_py.py")
        for s in forbidden
        if s in (src / mod).read_text()
    ]
    assert not found, "DML planning forked back into a format module:\n" + "\n".join(found)
