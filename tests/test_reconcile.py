"""Parity-layer reconciliation semantics (reference src/utils/utils.go:
96-166, src/db/db.go:162-172) — the cast matrix from FIXTURES.md."""

from __future__ import annotations

import pytest

from gcs2postgres_spark.reconcile import reconcile_to_target, spark_type_for_pg


@pytest.fixture(scope="module")
def src(spark):
    return spark.createDataFrame(
        [
            (1, "alpha", 2**40, 1.5, True, "2024-01-02", "2024-01-02 03:04:05"),
            (2, None, None, None, None, None, None),
        ],
        "ID bigint, NaMe string, big_int bigint, ratio double, flag boolean, d string, ts string",
    )


def test_case_insensitive_match(spark, src):
    # target lowercase vs source mixed case (reference EqualFold, utils.go:129)
    out = reconcile_to_target(src, [("id", "integer"), ("name", "text")])
    assert out.columns == ["id", "name"]
    rows = {r["id"]: r["name"] for r in out.collect()}
    assert rows == {1: "alpha", 2: None}


def test_missing_target_column_null_filled(spark, src):
    # reference src/db/db.go:165-169: missing source → NULL, not an error
    out = reconcile_to_target(src, [("id", "integer"), ("load_note", "text")])
    rows = out.collect()
    assert all(r["load_note"] is None for r in rows)


def test_extra_source_columns_dropped(spark, src):
    out = reconcile_to_target(src, [("id", "integer")])
    assert out.columns == ["id"]


def test_int64_to_int4_truncates(spark, src):
    # reference src/utils/utils.go:146-149: int32(num) truncation; needs
    # ansi=false (session pins it)
    out = reconcile_to_target(src, [("big_int", "int4")])
    vals = [r["big_int"] for r in out.collect()]
    wrapped = (2**40 + 2**31) % 2**32 - 2**31  # int32 two's-complement wrap
    # truncated, not errored; NULL in → NULL out (utils.go:137-139)
    assert vals == [wrapped, None]


def test_cast_matrix_types(spark, src):
    out = reconcile_to_target(
        src,
        [
            ("id", "integer"),
            ("name", "varchar"),
            ("ratio", "double precision"),
            ("flag", "boolean"),
            ("d", "date"),
            ("ts", "timestamp"),
        ],
    )
    dtypes = dict(out.dtypes)
    assert dtypes == {
        "id": "int",
        "name": "string",
        "ratio": "double",
        "flag": "boolean",
        "d": "date",
        "ts": "timestamp",
    }
    r1 = out.orderBy("id").collect()[0]
    assert str(r1["d"]) == "2024-01-02"
    assert r1["ts"].year == 2024


def test_unknown_type_stringifies(spark, src):
    # reference src/utils/utils.go:162-163: fmt.Sprintf("%v") fallback
    assert spark_type_for_pg("interval") == "string"
    assert spark_type_for_pg("uuid") == "string"
    out = reconcile_to_target(src, [("ratio", "some_exotic_type")])
    assert dict(out.dtypes)["ratio"] == "string"
    vals = {r["ratio"] for r in out.collect()}
    assert "1.5" in vals


def test_target_order_is_output_order(spark, src):
    out = reconcile_to_target(src, [("ratio", "float8"), ("id", "int8"), ("name", "text")])
    assert out.columns == ["ratio", "id", "name"]


def test_schema_fetch_rejects_malformed_identifiers(spark):
    # config-controlled names are interpolated into the pushdown SQL —
    # anything that isn't a plain identifier must be refused up front
    import pytest

    from gcs2postgres_spark.reconcile import fetch_target_schema_jdbc

    for bad in ["orders'; DROP TABLE x; --", 'a"b', "has space", "", "1starts_with_digit"]:
        with pytest.raises(ValueError, match="invalid SQL identifier"):
            fetch_target_schema_jdbc(spark, "jdbc:postgresql://x/y", bad, {})
    with pytest.raises(ValueError, match="invalid SQL identifier"):
        fetch_target_schema_jdbc(spark, "jdbc:postgresql://x/y", "orders", {}, table_schema="pub'lic")


def test_dotted_backquoted_and_spaced_names_reconcile(spark):
    # a CSV header or JSON key such as ``user.id`` is one column, not a
    # struct field access; back-quotes and spaces are plain characters
    df = spark.createDataFrame(
        [(2**40, "x", "1.5"), (None, None, "oops")],
        "`user.id` bigint, `we``ird` string, `has space` string",
    )
    out = reconcile_to_target(
        df,
        [("USER.ID", "integer"), ("we`ird", "text"), ("has space", "float8"),
         ("absent.col", "date")],
    )
    assert out.columns == ["USER.ID", "we`ird", "has space", "absent.col"]
    assert dict(out.dtypes) == {
        "USER.ID": "int", "we`ird": "string", "has space": "double", "absent.col": "date",
    }
    rows = [tuple(r) for r in out.collect()]
    wrapped = (2**40 + 2**31) % 2**32 - 2**31  # lenient int32 truncation
    # a bad double is NULL (lenient cast), a missing column NULL-filled
    assert rows == [(wrapped, "x", 1.5, None), (None, None, None, None)]
