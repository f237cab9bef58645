"""The compiled Avro decoder (sources/avro_py.py) on the cases its
generated code has to get right, through both of its outputs: the
records API (read_avro_file, used by the Iceberg manifest walk) and the
Arrow path (one RecordBatch per block; read_avro_distributed through
Spark's mapInArrow)."""

from __future__ import annotations

import datetime as dt
import io
import json
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from gcs2postgres_spark.sources import avro_py
from gcs2postgres_spark.sources.avro_py import (
    avro_to_spark_type,
    read_avro_distributed,
    read_avro_file,
    read_avro_split_distributed,
    write_avro_file,
)

FLAT = {
    "type": "record",
    "name": "flat",
    "fields": [
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "ln", "type": ["long", "null"]},  # null as the second branch
        {"name": "b", "type": "bytes"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": ["null", "double"]},
        {"name": "t", "type": "boolean"},
        {"name": "e", "type": {"type": "enum", "name": "color", "symbols": ["RED", "GREEN", "BLUE"]}},
        {"name": "x", "type": {"type": "fixed", "name": "four", "size": 4}},
        {"name": "day", "type": ["null", {"type": "int", "logicalType": "date"}]},
        {
            "name": "dec",
            "type": ["null", {"type": "bytes", "logicalType": "decimal", "precision": 10, "scale": 2}],
        },
        {
            "name": "decf",
            "type": {"type": "fixed", "name": "f5", "size": 5, "logicalType": "decimal", "precision": 9, "scale": 3},
        },
    ],
}

FLAT_RECORDS = [
    {  # int32 / int64 extremes: 5- and 10-byte varints
        "i": -(2**31), "l": -(2**63), "s": "", "ln": None, "b": b"", "f": 1.5,
        "d": None, "t": False, "e": "RED", "x": b"\x00\x00\x00\x00",
        "day": dt.date(1969, 12, 31), "dec": Decimal("-0.01"), "decf": Decimal("-999999.999"),
    },
    {
        "i": 2**31 - 1, "l": 2**63 - 1, "s": None, "ln": 2**40, "b": b"\x00\xff", "f": -0.25,
        "d": -0.5, "t": True, "e": "BLUE", "x": b"\xff\x01\x02\x03",
        "day": None, "dec": None, "decf": Decimal("0.000"),
    },
    {  # multi-byte varints around the 1-, 2- and 3-byte boundaries
        "i": 64, "l": -65, "s": "héllo ✓ 𝄞", "ln": 8192, "b": bytes(range(256)), "f": 0.0,
        "d": 1e308, "t": True, "e": "GREEN", "x": b"abcd",
        "day": dt.date(2024, 2, 29), "dec": Decimal("12345678.90"), "decf": Decimal("123.456"),
    },
]


def _arrow_batches(path):
    data = open(path, "rb").read()
    return list(avro_py._arrow_batches(io.BytesIO(data), len(data)))


def _spark_rows(spark, path):
    return [r.asDict(recursive=True) for r in read_avro_distributed(spark, path).collect()]


def _long(n: int) -> bytes:
    buf = io.BytesIO()
    avro_py._write_long(buf, n)
    return buf.getvalue()


def _string(s: str) -> bytes:
    return _long(len(s.encode())) + s.encode()


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_flat_edge_values_round_trip(spark, tmp_path, codec):
    p = str(tmp_path / f"flat_{codec}.avro")
    write_avro_file(p, FLAT, FLAT_RECORDS, codec=codec)
    schema, got = read_avro_file(p)
    assert schema == FLAT
    assert got == FLAT_RECORDS
    assert [r for b in _arrow_batches(p) for r in b.to_pylist()] == FLAT_RECORDS
    assert _spark_rows(spark, p) == FLAT_RECORDS


NESTED = {
    "type": "record",
    "name": "outer",
    "fields": [
        {"name": "id", "type": "long"},
        {
            "name": "inner",
            "type": [
                "null",
                {
                    "type": "record",
                    "name": "inner",
                    "fields": [
                        {"name": "a", "type": "int"},
                        {"name": "tags", "type": {"type": "array", "items": "string"}},
                    ],
                },
            ],
        },
        {"name": "arr", "type": {"type": "array", "items": ["null", "long"]}},
        {"name": "m", "type": {"type": "map", "values": {"type": "map", "values": "double"}}},
        {"name": "when", "type": {"type": "array", "items": {"type": "int", "logicalType": "date"}}},
    ],
}

NESTED_RECORDS = [
    {
        "id": 1,
        "inner": {"a": -1, "tags": ["x", "", "ü"]},
        "arr": [1, None, -(2**40)],
        "m": {"k": {"a": 0.5}, "": {}},
        "when": [dt.date(2000, 1, 1)],
    },
    {"id": 2, "inner": None, "arr": [], "m": {}, "when": []},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_nested_record_array_map_round_trip(spark, tmp_path, codec):
    p = str(tmp_path / f"nested_{codec}.avro")
    write_avro_file(p, NESTED, NESTED_RECORDS, codec=codec)
    assert read_avro_file(p)[1] == NESTED_RECORDS
    assert _spark_rows(spark, p) == NESTED_RECORDS


def test_general_union_records(tmp_path):
    """The records API decodes a union of several non-null branches,
    which the Arrow path's Spark schema cannot express."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "u", "type": ["null", "string", "long", {"type": "array", "items": "int"}]}],
    }
    recs = [{"u": None}, {"u": "s"}, {"u": -7}, {"u": [1, 2]}, {"u": []}]
    p = str(tmp_path / "union.avro")
    write_avro_file(p, schema, recs)
    assert read_avro_file(p) == (schema, recs)


def test_negative_block_counts(spark, tmp_path):
    """Arrays and maps may be written as blocks with a negative count
    followed by the block's byte size (spec: binary encoding > complex
    types). Our writer never emits them, so these bytes are built by
    hand: the array is one negative-count block then one positive one,
    the map one negative-count block."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
        ],
    }
    p = str(tmp_path / "neg.avro")
    write_avro_file(p, schema, [], codec="null")  # header only
    with open(p, "rb") as f:
        sync = avro_py._read_header_grow(f)[2]
    items = _long(1) + _long(300)
    entries = _string("k") + _string("vé") + _string("") + _string("")
    rec = (
        _long(-2) + _long(len(items)) + items + _long(1) + _long(-5) + _long(0)
        + _long(-2) + _long(len(entries)) + entries + _long(0)
    )
    with open(p, "ab") as f:
        f.write(_long(2) + _long(2 * len(rec)) + rec + rec + sync)
    want = [{"a": [1, 300, -5], "m": {"k": "vé", "": ""}}] * 2
    assert read_avro_file(p)[1] == want
    assert _spark_rows(spark, p) == want


def test_header_only_file(spark, tmp_path):
    p = str(tmp_path / "empty.avro")
    write_avro_file(p, FLAT, [])
    assert read_avro_file(p) == (FLAT, [])
    assert _arrow_batches(p) == []
    df = read_avro_distributed(spark, p)
    assert df.schema == avro_to_spark_type(FLAT)
    assert df.count() == 0


def test_one_batch_per_block(tmp_path):
    schema = {"type": "record", "name": "r", "fields": [{"name": "v", "type": "long"}]}
    p = str(tmp_path / "blocks.avro")
    write_avro_file(p, schema, [{"v": i} for i in range(2500)], block_records=1000)
    batches = _arrow_batches(p)
    assert [b.num_rows for b in batches] == [1000, 1000, 500]
    assert [v for b in batches for v in b.column("v").to_pylist()] == list(range(2500))


def test_truncated_block_raises(tmp_path):
    p = str(tmp_path / "cut.avro")
    write_avro_file(p, FLAT, FLAT_RECORDS, codec="null")
    data = open(p, "rb").read()
    with pytest.raises(EOFError):
        avro_py.read_avro_bytes(data[:-40])


@pytest.mark.parametrize("lt", ["timestamp-micros", "timestamp-millis"])
def test_timestamps_are_utc_instants_in_any_session_zone(spark, tmp_path, lt):
    """Avro timestamps are UTC instants (spec: logical types). In an
    Asia/Kolkata session both jar-less readers must return the encoded
    microseconds, not a value shifted by the session's offset."""
    micros = 834278400000000  # 1996-06-09T00:00:00Z, multiple of 1000
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "ts", "type": ["null", {"type": "long", "logicalType": lt}]}],
    }
    p = str(tmp_path / f"{lt}.avro")
    write_avro_file(
        p, schema, [{"ts": dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=micros)}, {"ts": None}],
        codec="null",
    )
    with open(p, "rb") as f:  # the file holds the spec's encoding
        raw = f.read()
    assert _long(micros if lt == "timestamp-micros" else micros // 1000) in raw
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        for read in (read_avro_distributed, read_avro_split_distributed):
            got = read(spark, p).select(F.unix_micros("ts").alias("us")).collect()
            assert sorted(got, key=lambda r: r.us is None) == [(micros,), (None,)]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_java_written_nested_file(spark, tmp_path):
    """A nested, multi-block, deflate file written by the Java Avro
    reference implementation (DataFileWriter via py4j) decodes to the
    same values through the records API and the Arrow path."""
    schema = {
        "type": "record",
        "name": "jrec",
        "fields": [
            {"name": "id", "type": "long"},
            {
                "name": "inner",
                "type": {
                    "type": "record",
                    "name": "jinner",
                    "fields": [{"name": "a", "type": "int"}, {"name": "s", "type": ["null", "string"]}],
                },
            },
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {"name": "e", "type": {"type": "enum", "name": "je", "symbols": ["A", "B"]}},
            {"name": "fx", "type": {"type": "fixed", "name": "jf", "size": 2}},
            {"name": "by", "type": "bytes"},
            {"name": "d", "type": ["null", {"type": "int", "logicalType": "date"}]},
        ],
    }
    jvm = spark._jvm
    gd = jvm.org.apache.avro.generic.GenericData
    js = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    w = jvm.org.apache.avro.file.DataFileWriter(jvm.org.apache.avro.generic.GenericDatumWriter(js))
    w.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    w.setSyncInterval(32)  # the minimum: several blocks for a few records
    out = str(tmp_path / "java_nested.avro")
    w.create(js, jvm.java.io.File(out))
    want = []
    for i in range(40):
        big = 2**40 + i  # > 2**31, so py4j passes a java.lang.Long
        inner = gd.Record(js.getField("inner").schema())
        inner.put("a", -i)
        inner.put("s", None if i % 3 else f"s{i}é")
        tags = jvm.java.util.ArrayList()
        for j in range(i % 4):
            tags.add(f"t{j}")
        m = jvm.java.util.HashMap()
        if i % 2:
            m.put("k", big)
            m.put("ü", big + 1)
        rec = gd.Record(js)
        rec.put("id", big)
        rec.put("inner", inner)
        rec.put("tags", tags)
        rec.put("m", m)
        rec.put("e", gd.EnumSymbol(js.getField("e").schema(), "AB"[i % 2]))
        rec.put("fx", gd.Fixed(js.getField("fx").schema(), bytearray([i, 255 - i])))
        rec.put("by", jvm.java.nio.ByteBuffer.wrap(bytearray(b"\x00" * i)))
        rec.put("d", None if i % 5 == 0 else 10000 + i)
        w.append(rec)
        want.append({
            "id": big,
            "inner": {"a": -i, "s": None if i % 3 else f"s{i}é"},
            "tags": [f"t{j}" for j in range(i % 4)],
            "m": {"k": big, "ü": big + 1} if i % 2 else {},
            "e": "AB"[i % 2],
            "fx": bytes([i, 255 - i]),
            "by": b"\x00" * i,
            "d": None if i % 5 == 0 else dt.date(1970, 1, 1) + dt.timedelta(days=10000 + i),
        })
    w.close()
    assert len(_arrow_batches(out)) > 1
    assert read_avro_file(out)[1] == want
    assert sorted(_spark_rows(spark, out), key=lambda r: r["id"]) == want


def test_iceberg_avro_positions_count_across_blocks(spark, tmp_path):
    """Position deletes on an Avro data file of three blocks (the
    writer's 1000-record blocks) hit the rows they name: __ice_pos keeps
    counting from one block to the next."""
    from gcs2postgres_spark.sources.iceberg_py import read_iceberg_py, write_iceberg_v2_fixture

    t = str(tmp_path / "ice_avro")
    df = spark.range(0, 2500).withColumnRenamed("id", "k").repartition(1)
    gone = [0, 999, 1000, 1001, 2000, 2499]
    write_iceberg_v2_fixture(df, t, sort_col="k", position_delete_keys=gone, data_format="avro")
    files = list((tmp_path / "ice_avro" / "data").glob("*.avro"))
    assert len(files) == 1 and len(_arrow_batches(str(files[0]))) == 3
    got = sorted(r["k"] for r in read_iceberg_py(spark, t).collect())
    assert got == [k for k in range(2500) if k not in gone]


# A record, a fixed and an enum each defined once and reused by name:
# by full name, by a name relative to the enclosing namespace, inside a
# union and as array items; the fixed lives in another namespace.
NAMED = {
    "type": "record",
    "name": "outer",
    "namespace": "ns",
    "fields": [
        {
            "name": "a",
            "type": {
                "type": "record",
                "name": "pair",
                "fields": [{"name": "k", "type": "string"}, {"name": "v", "type": ["null", "long"]}],
            },
        },
        {"name": "b", "type": ["null", "ns.pair"]},
        {"name": "c", "type": {"type": "array", "items": "pair"}},
        {"name": "h", "type": {"type": "fixed", "name": "md5", "namespace": "other", "size": 4}},
        {"name": "h2", "type": "other.md5"},
        {"name": "h3", "type": ["null", "other.md5"]},
        {"name": "e", "type": {"type": "enum", "name": "color", "symbols": ["R", "G"]}},
        {"name": "e2", "type": "color"},
        {"name": "e3", "type": {"type": "color"}},
    ],
}


def _named_record(i: int) -> dict:
    big = 2**40 + i  # > 2**31, so py4j passes a java.lang.Long
    return {
        "a": {"k": f"a{i}", "v": big},
        "b": None if i % 3 == 0 else {"k": f"b{i}", "v": None},
        "c": [{"k": f"c{j}", "v": -big - j} for j in range(i % 3)],
        "h": bytes([i, 1, 2, 3]),
        "h2": bytes([4, 5, 6, i]),
        "h3": None if i % 2 else bytes([i] * 4),
        "e": "RG"[i % 2],
        "e2": "GR"[i % 2],
        "e3": "R",
    }


def test_named_type_references_java_written(spark, tmp_path):
    """A file from the Java DataFileWriter whose schema reuses a named
    record and a named fixed decodes through the records API and
    through read_avro_distributed."""
    jvm = spark._jvm
    gd = jvm.org.apache.avro.generic.GenericData
    js = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(NAMED))
    pair = js.getField("a").schema()
    md5 = js.getField("h").schema()
    color = js.getField("e").schema()
    w = jvm.org.apache.avro.file.DataFileWriter(jvm.org.apache.avro.generic.GenericDatumWriter(js))
    w.setSyncInterval(32)
    out = str(tmp_path / "java_named.avro")
    w.create(js, jvm.java.io.File(out))

    def jpair(p):
        r = gd.Record(pair)
        r.put("k", p["k"])
        r.put("v", p["v"])
        return r

    want = [_named_record(i) for i in range(12)]
    for want_r in want:
        rec = gd.Record(js)
        rec.put("a", jpair(want_r["a"]))
        rec.put("b", None if want_r["b"] is None else jpair(want_r["b"]))
        items = jvm.java.util.ArrayList()
        for p in want_r["c"]:
            items.add(jpair(p))
        rec.put("c", items)
        for f in ("h", "h2", "h3"):
            v = want_r[f]
            rec.put(f, None if v is None else gd.Fixed(md5, bytearray(v)))
        for f in ("e", "e2", "e3"):
            rec.put(f, gd.EnumSymbol(color, want_r[f]))
        w.append(rec)
    w.close()
    written = json.loads(str(jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(out), jvm.org.apache.avro.generic.GenericDatumReader()
    ).getSchema().toString()))
    assert written["fields"][1]["type"] == ["null", "pair"]  # a relative reference
    assert len(_arrow_batches(out)) > 1
    assert read_avro_file(out)[1] == want
    assert _spark_rows(spark, out) == want


def test_named_type_references_round_trip(spark, tmp_path):
    """Our writer encodes the same schema, and the file reads back the
    same through both readers."""
    p = str(tmp_path / "named.avro")
    want = [_named_record(i) for i in range(5)]
    write_avro_file(p, NAMED, want)
    schema, got = read_avro_file(p)
    assert schema == NAMED and got == want
    assert _spark_rows(spark, p) == want
    st = avro_to_spark_type(NAMED)
    assert st["c"].dataType.elementType == st["a"].dataType
    assert st["h2"].dataType == st["h"].dataType


def test_recursive_named_type_refused():
    node = {
        "type": "record",
        "name": "node",
        "fields": [{"name": "next", "type": ["null", "node"]}],
    }
    with pytest.raises(ValueError, match="recursive avro type 'node'"):
        avro_to_spark_type(node)
