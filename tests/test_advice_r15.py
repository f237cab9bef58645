"""Round-15 regression pins for the r14 ADVICE findings:

1. (high) per-file stats keyed by the staging-relative path, and
2. (med) a failed stats read propagates — both pinned in
   test_stats_skip.py with the other file-stats pins.
3. (low) _v2_row_level_commit's replacement data manifest must carry
   the schema-id stamp like every other data-manifest write, so
   UPDATE/MERGE-added files keep the zero-footer-probe plan path.
4. (low) fsio.rename on the Hadoop branch must not delete the
   destination before renaming (FileNotFound window for concurrent
   readers; dest destroyed when the rename then fails): overwrite is a
   single FileContext.rename(OVERWRITE), and a failed rename leaves an
   existing destination INTACT.
5. (low) _to_physical_df must resolve frame columns against the
   logical schema CASE-INSENSITIVELY (Spark's own resolution is), so a
   column differing only in case is staged, not silently dropped to
   NULL.
"""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from gcs2postgres_spark.sources import fsio
from gcs2postgres_spark.sources.avro_py import read_avro_file_meta
from gcs2postgres_spark.sources.delta_py import (
    alter_delta_rename_column,
    read_delta_py,
    write_delta,
)
from gcs2postgres_spark.sources.iceberg_py import (
    append_iceberg_v2,
    create_iceberg_v2_table,
    read_iceberg_py,
    update_where,
)


def _skewed_df(spark):
    # partition p has p+1 rows (1..4)
    rows = [(p, i, p * 100 + i) for p in range(4) for i in range(p + 1)]
    return spark.createDataFrame(rows, "p int, i int, v int")


# ---------------------------------------------------------------------------
# 3. (low) row-level-commit data manifest carries the schema stamp
# ---------------------------------------------------------------------------

def test_update_data_manifest_schema_stamped(spark, tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    t = str(tmp_path / "t_stamp")
    df = _skewed_df(spark)
    create_iceberg_v2_table(df.schema, t)
    append_iceberg_v2(spark, t, df, snapshot_ts_ms=1_700_000_000_000)
    update_where(spark, t, "i = 0", {"v": "v + 1000"},
                 snapshot_ts_ms=1_700_000_001_000)
    manifests = sorted(glob.glob(f"{t}/metadata/manifest-data-*.avro"))
    assert len(manifests) >= 2
    for m in manifests:
        _s, _rows, meta = read_avro_file_meta(m)
        assert "schema-id" in meta, f"unstamped data manifest {m}"
    # behavioral: the post-UPDATE scan plans with ZERO footer probes
    calls: list = []
    real = pq.ParquetFile

    class Counting(real):
        def __init__(self, *a, **k):
            calls.append(a[0] if a else None)
            super().__init__(*a, **k)

    monkeypatch.setattr(pq, "ParquetFile", Counting)
    read_iceberg_py(spark, t)
    assert calls == [], f"plan-time footer probes after UPDATE: {calls}"


# ---------------------------------------------------------------------------
# 4. (low) fsio.rename: atomic overwrite, no delete-first window
# ---------------------------------------------------------------------------

def test_fsio_rename_overwrites_existing_dest(spark, tmp_path):
    src, dst = tmp_path / "a", tmp_path / "b"
    src.write_text("NEW")
    dst.write_text("OLD")
    fsio.rename(f"file://{src}", f"file://{dst}")
    assert dst.read_text() == "NEW"
    assert not src.exists()


def test_fsio_rename_missing_src_leaves_dest_intact(spark, tmp_path):
    dst = tmp_path / "keepme"
    dst.write_text("PRECIOUS")
    with pytest.raises(Exception):
        fsio.rename(f"file://{tmp_path}/no-such-src", f"file://{dst}")
    # the old delete-then-rename pair destroyed dest before failing
    assert dst.read_text() == "PRECIOUS"


# ---------------------------------------------------------------------------
# 5. (low) _to_physical_df resolves columns case-insensitively
# ---------------------------------------------------------------------------

def test_mapped_append_case_insensitive_columns(spark, tmp_path):
    t = str(tmp_path / "t_case")
    df = (
        spark.range(0, 5)
        .withColumnRenamed("id", "k")
        .withColumn("v", (F.col("k") * 2).cast("long"))
    )
    write_delta(df, t, "overwrite", timestamp_ms=1_700_000_000_000)
    alter_delta_rename_column(spark, t, "v", "val")  # upgrades to mapping
    up = (
        spark.range(5, 8)
        .withColumnRenamed("id", "K")
        .withColumn("VAL", (F.col("K") * 2).cast("long"))
    )
    write_delta(up, t, "append", timestamp_ms=1_700_000_001_000)
    got = read_delta_py(spark, t)
    rows = {r["k"]: r["val"] for r in got.collect()}
    assert len(rows) == 8
    # the case-differing column landed with VALUES, not NULLs
    assert rows[6] == 12 and rows[7] == 14
