"""Pure-Python Avro object-container codec + distributed Spark reader.

The reference lists Avro among its source formats and its own sample
config loads ``supplier.avro`` (reference README.md:11, config.yaml:15-17,
format-from-extension src/db/db.go:27). PySpark's native path needs the
external spark-avro module, which is not on this classpath and cannot be
fetched offline — so this module implements the Avro 1.x object container
file format (public spec: https://avro.apache.org/docs/current/spec.html)
directly:

- ``read_avro_distributed``: Spark-first reader. File bodies move as
  ``binaryFile`` rows (never through the driver beyond the one header
  read for schema inference); each executor decodes its files inside
  ``mapInArrow``, one Arrow RecordBatch per Avro block. Parallelism is
  per-file — the standard many-part-file Avro layout parallelizes
  naturally; ``read_avro_split_distributed`` splits one giant file at
  its sync markers.
- ``write_avro_file`` / ``read_avro_file``: single-file codec used for
  fixtures and Iceberg manifests (records as Python dicts).

Every read path decodes through one compiled decoder: each writer schema
compiles once into straight-line Python over the raw block bytes
(_compile), which either yields records or fills one list per column for
the Arrow path.

Spec conformance is not self-certified: tests round-trip files through
the *Java* Avro reference implementation bundled with Spark
(org.apache.avro DataFileReader/Writer via the py4j gateway) in both
directions (tests/test_sources_formats.py).

Supported: null/boolean/int/long/float/double/bytes/string, record,
array, map, union, enum, fixed, and references to named types defined
earlier in the schema (not recursive ones); codecs null + deflate (raw
zlib).
Logical types date, timestamp-millis/-micros and decimal convert (see
_from_logical; the Arrow path casts to date32, UTC timestamp[us] and
decimal128); other logical types read as their base type.
"""

from __future__ import annotations

import datetime as _dt
import io
import json
import os
import struct
import zlib
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAGIC = b"Obj\x01"

# ---------------------------------------------------------------- primitives


def _read_long(buf: io.BytesIO) -> int:
    """Zigzag varint (spec: 'binary encoding > primitive types')."""
    shift = 0
    acc = 0
    while True:
        b = buf.read(1)
        if not b:
            raise EOFError("truncated varint")
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not byte & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _write_long(buf: io.BytesIO, n: int) -> None:
    n = (n << 1) ^ (n >> 63) if n < 0 else n << 1
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            break


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _read_long(buf)
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("truncated bytes")
    return data


def _write_bytes(buf: io.BytesIO, data: bytes) -> None:
    _write_long(buf, len(data))
    buf.write(data)


# ------------------------------------------------------------ logical types
#
# In records, Avro logicalType annotations (spec: Logical Types) decode to
# their Spark-typed Python values instead of the base primitive: date(int) →
# datetime.date, timestamp-millis/micros(long) → naive-UTC datetime,
# decimal(bytes|fixed) → Decimal with the schema's scale (unscaled
# big-endian two's-complement per the spec). Unknown logical types fall
# through to the base type, which is the spec-mandated behavior.

_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_DT = _dt.datetime(1970, 1, 1)


def _from_logical(lt: str, v, schema):
    if lt == "date":
        return _EPOCH_DATE + _dt.timedelta(days=v)
    if lt == "timestamp-micros":
        return _EPOCH_DT + _dt.timedelta(microseconds=v)
    if lt == "timestamp-millis":
        return _EPOCH_DT + _dt.timedelta(milliseconds=v)
    if lt == "decimal":
        unscaled = int.from_bytes(v, "big", signed=True) if v else 0
        return Decimal(unscaled).scaleb(-int(schema.get("scale", 0)))
    return v


def _to_logical(lt: str, v, schema):
    if lt == "date":
        return (v - _EPOCH_DATE).days
    if lt in ("timestamp-micros", "timestamp-millis"):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        micros = (v - _EPOCH_DT) // _dt.timedelta(microseconds=1)
        return micros if lt == "timestamp-micros" else micros // 1000
    if lt == "decimal":
        unscaled = int(Decimal(v).scaleb(int(schema.get("scale", 0))).to_integral_exact())
        # A decimal over a `fixed` base must occupy exactly schema["size"]
        # bytes, sign-extended (Avro spec §logical types); minimal-length
        # two's-complement is only legal for the `bytes` base. Fit is
        # checked by to_bytes itself: a precomputed
        # (bit_length+8)//8 overestimates by one byte for negative exact
        # powers of two (-128 has bit_length 8 but fits 1 signed byte),
        # which spuriously rejected values at the fixed width's edge.
        if schema.get("type") == "fixed":
            size = int(schema["size"])
            try:
                return unscaled.to_bytes(size, "big", signed=True)
            except OverflowError:
                raise ValueError(
                    f"decimal {v!r} does not fit fixed size {size}"
                ) from None
        nbytes = 1
        while True:
            try:
                return unscaled.to_bytes(nbytes, "big", signed=True)
            except OverflowError:
                nbytes += 1
    return v


# ------------------------------------------------------------- named types

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double", "bytes", "string"}


def _resolve_names(schema):
    """``schema`` with each reference to a named type (a record, enum or
    fixed defined earlier in it) replaced by that definition, so the
    decoder, the encoder and the Spark type need no name table. Spec
    rules: a dotted name is a full name; otherwise the type's
    ``namespace``, else the enclosing definition's, qualifies it; an
    unqualified reference also finds a definition in the null namespace,
    as the Java implementation does. A recursive type has no flat form
    and is refused, as spark-avro refuses it. The input is not
    modified."""
    named: dict[str, dict] = {}
    defining: set[str] = set()

    def walk(s, ns):
        if isinstance(s, list):
            return [walk(b, ns) for b in s]
        if isinstance(s, str):
            if s in _PRIMITIVES:
                return s
            for name in ((f"{ns}.{s}" if ns and "." not in s else s), s):
                if name in defining:
                    raise ValueError(f"recursive avro type {name!r} is not supported")
                if name in named:
                    return named[name]
            raise ValueError(f"unsupported avro type {s!r}")
        t = s["type"]
        if t in ("record", "enum", "fixed"):
            name = s["name"]
            if "." not in name:
                space = s.get("namespace", ns)
                name = f"{space}.{name}" if space else name
            if t == "record":
                defining.add(name)
                inner = name.rpartition(".")[0]
                s = {**s, "fields": [{**f, "type": walk(f["type"], inner)} for f in s["fields"]]}
                defining.discard(name)
            named[name] = s
            return s
        if t == "array":
            return {**s, "items": walk(s["items"], ns)}
        if t == "map":
            return {**s, "values": walk(s["values"], ns)}
        if isinstance(t, str) and t not in _PRIMITIVES:  # {"type": "<named type>"}
            return walk(t, ns)
        return s

    return walk(schema, None)


# ---------------------------------------------------------- compiled decoder
#
# A writer schema compiles once into one Python function: straight-line
# code over the raw block bytes with an integer cursor, so no value
# dispatches on the schema again. ``columns=False`` appends one decoded
# value (a dict for a record) per object — the records API.
# ``columns=True`` takes a record schema and appends each top-level
# field to its own list, leaving flat fields' logical types and string
# bytes for _to_arrow — the Arrow path.

# top-level fields of these kinds build their Arrow arrays from buffers;
# the stand-in fills a null row's slot
_FLAT_KINDS = {
    "boolean": "bool", "int": "int", "long": "int", "float": "float",
    "double": "double", "bytes": "bytes", "string": "bytes",
    "enum": "bytes", "fixed": "bytes",
}
_STAND_IN = {"bool": False, "int": 0, "float": 0.0, "double": 0.0, "bytes": b""}

# zigzag varint: one byte in the common case, else a loop over the rest
_LONG = """\
b = buf[pos]
pos += 1
if b < 128:
    {t} = (b >> 1) ^ -(b & 1)
else:
    acc = b & 127
    shift = 7
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 127) << shift
        if b < 128:
            break
        shift += 7
    {t} = (acc >> 1) ^ -(acc & 1)"""


def _flat_kind(ftype) -> tuple[str | None, str | None]:
    """(kind, logical type) of a top-level field that is a primitive,
    enum or fixed, alone or in a union with null; (None, None) for any
    other field."""
    if isinstance(ftype, list):
        if len(ftype) != 2 or "null" not in ftype:
            return None, None
        ftype = ftype[1 - ftype.index("null")]
    lt = None
    if isinstance(ftype, dict):
        ftype, lt = ftype["type"], ftype.get("logicalType")
    kind = _FLAT_KINDS.get(ftype) if isinstance(ftype, str) else None
    return kind, lt if kind else None


class _Codegen:
    """Emits the decode statements of one schema."""

    def __init__(self) -> None:
        self.lines: list[str] = []
        self.consts: dict[str, object] = {}
        self.null_fill: str | None = None  # a flat column's null branch
        self.n = 0

    def tmp(self, stem: str) -> str:
        self.n += 1
        return f"{stem}_{self.n}"  # never a column's a{i} / z{i}

    def const(self, value) -> str:
        name = self.tmp("K")
        self.consts[name] = value
        return name

    def put(self, ind: int, text: str) -> None:
        self.lines.extend("    " * ind + line for line in text.splitlines())

    def column(self, ftype, i: int) -> None:
        """Top-level field ``i`` into column list ``a{i}``. A flat field
        appends a stand-in for null and the row number to ``z{i}``, so
        its column never holds None."""
        kind = _flat_kind(ftype)[0]
        self.null_fill = f"x = {_STAND_IN[kind]!r}\nz{i}(r)" if kind else None
        self.value(ftype, "x", 2, raw=kind is not None)
        self.put(2, f"a{i}(x)")

    def value(self, schema, target: str, ind: int, raw: bool = False) -> None:
        """Statements that decode one ``schema`` value into ``target``.
        ``raw`` (top-level columns only, carried through unions) keeps
        logical types as their base value and strings and enum symbols
        as bytes."""
        if isinstance(schema, list):
            if not 0 < len(schema) <= 64:
                raise ValueError(f"avro union of {len(schema)} branches is not supported")
            # a branch index below 64 is one varint byte: zigzag(i) = 2i;
            # null, the rarer value, is tested last
            self.put(ind, "b = buf[pos]\npos += 1")
            for k, i in enumerate(sorted(range(len(schema)), key=lambda i: schema[i] == "null")):
                self.put(ind, f"{'elif' if k else 'if'} b == {2 * i}:")
                self.value(schema[i], target, ind + 1, raw)
            self.put(ind, "else:\n    raise ValueError('avro union index byte %d out of range' % b)")
        elif schema == "null":
            self.put(ind, self.null_fill if raw and self.null_fill else f"{target} = None")
        elif schema == "boolean":
            self.put(ind, f"{target} = buf[pos] == 1\npos += 1")
        elif schema in ("int", "long"):
            self.put(ind, _LONG.format(t=target))
        elif schema in ("float", "double"):
            unpack, width = ("_uf", 4) if schema == "float" else ("_ud", 8)
            self.put(ind, f"{target} = {unpack}(buf, pos)[0]\npos += {width}")
        elif schema in ("bytes", "string"):
            size = self.tmp("n")
            self.put(ind, _LONG.format(t=size))
            self.put(ind, f"{target} = buf[pos:pos + {size}]\npos += {size}")
            if schema == "string" and not raw:
                self.put(ind, f"{target} = {target}.decode('utf-8')")
        elif isinstance(schema, str):  # names are resolved before codegen
            raise ValueError(f"unsupported avro type {schema!r}")
        elif schema["type"] == "record":
            items = []
            for f in schema["fields"]:
                v = self.tmp("v")
                self.value(f["type"], v, ind)
                items.append(f"{f['name']!r}: {v}")
            self.put(ind, f"{target} = {{{', '.join(items)}}}")
        elif schema["type"] in ("array", "map"):
            acc, count, v = self.tmp("a"), self.tmp("c"), self.tmp("v")
            self.put(ind, f"{acc} = {'[]' if schema['type'] == 'array' else '{}'}\nwhile True:")
            self.put(ind + 1, _LONG.format(t=count))
            self.put(ind + 1, f"if not {count}:\n    break\nif {count} < 0:  # a byte size follows")
            self.put(ind + 2, f"{count} = -{count}\n" + _LONG.format(t="_"))
            self.put(ind + 1, f"for _ in range({count}):")
            if schema["type"] == "array":
                self.value(schema["items"], v, ind + 2)
                self.put(ind + 2, f"{acc}.append({v})")
            else:
                k = self.tmp("k")
                self.value("string", k, ind + 2)
                self.value(schema["values"], v, ind + 2)
                self.put(ind + 2, f"{acc}[{k}] = {v}")
            self.put(ind, f"{target} = {acc}")
        elif schema["type"] == "enum":
            symbols = tuple(s.encode() if raw else s for s in schema["symbols"])
            u = self.tmp("u")
            self.put(ind, _LONG.format(t=u))
            self.put(ind, f"{target} = {self.const(symbols)}[{u}]")
        else:  # fixed, or a primitive carrying attributes such as a logicalType
            if schema["type"] == "fixed":
                size = int(schema["size"])
                self.put(ind, f"{target} = buf[pos:pos + {size}]\npos += {size}")
            else:
                self.value(schema["type"], target, ind, raw)
            lt = schema.get("logicalType")
            if lt and not raw:
                self.put(ind, f"{target} = _from_logical({lt!r}, {target}, {self.const(schema)})")


def _compile(schema, columns: bool):
    """``decode(block, n)`` for ``n`` objects of ``schema`` in one block's
    bytes → ``[values]``, or with ``columns`` a record schema's
    ``(one list per field, null row numbers per field)``. Named-type
    references must already be resolved (_resolve_names)."""
    g = _Codegen()
    if columns:
        width = len(schema["fields"])
        for i, f in enumerate(schema["fields"]):
            g.column(f["type"], i)
    else:
        width = 1
        g.value(schema, "x", 2)
        g.put(2, "a0(x)")
    src = "\n".join(
        [
            "def decode(buf, n):",
            f"    cols = [[] for _ in range({width})]",
            f"    nulls = [[] for _ in range({width})]",
            *(f"    a{i} = cols[{i}].append" for i in range(width)),
            *(f"    z{i} = nulls[{i}].append" for i in range(width) if columns),
            "    _uf = _struct.Struct('<f').unpack_from",
            "    _ud = _struct.Struct('<d').unpack_from",
            "    pos = 0",
            "    for r in range(n):",
            *(g.lines or ["        pass"]),
            "    if pos != len(buf):",
            "        raise ValueError('avro block of %d bytes ends at byte %d' % (len(buf), pos))",
            "    return cols, nulls" if columns else "    return cols[0]",
        ]
    )
    ns = {"_from_logical": _from_logical, "_struct": struct, **g.consts}
    exec(compile(src, "<avro decoder>", "exec"), ns)
    return ns["decode"]


def _run(decode, block: bytes, n: int):
    try:
        return decode(block, n)
    except (IndexError, struct.error):
        raise EOFError("truncated avro block") from None


def _encode(schema, value, buf: io.BytesIO) -> None:
    if isinstance(schema, list):  # union: pick first matching branch
        for i, branch in enumerate(schema):
            if _matches(branch, value):
                _write_long(buf, i)
                _encode(branch, value, buf)
                return
        raise ValueError(f"value {value!r} matches no union branch {schema!r}")
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            for f in schema["fields"]:
                # absent keys encode as null when the field is nullable
                # (writers add optional fields without touching every
                # call site); a missing REQUIRED field still fails loudly
                # at the union/type match
                _encode(f["type"], value.get(f["name"]), buf)
            return
        if t == "array":
            if value:
                _write_long(buf, len(value))
                for v in value:
                    _encode(schema["items"], v, buf)
            _write_long(buf, 0)
            return
        if t == "map":
            if value:
                _write_long(buf, len(value))
                for k, v in value.items():
                    _write_bytes(buf, k.encode("utf-8"))
                    _encode(schema["values"], v, buf)
            _write_long(buf, 0)
            return
        if t == "enum":
            _write_long(buf, schema["symbols"].index(value))
            return
        lt = schema.get("logicalType")
        if lt:
            value = _to_logical(lt, value, schema)
        if t == "fixed":
            buf.write(value)
            return
        _encode(t, value, buf)
        return
    if schema == "null":
        return
    if schema == "boolean":
        buf.write(b"\x01" if value else b"\x00")
    elif schema in ("int", "long"):
        _write_long(buf, int(value))
    elif schema == "float":
        buf.write(struct.pack("<f", value))
    elif schema == "double":
        buf.write(struct.pack("<d", value))
    elif schema == "bytes":
        _write_bytes(buf, bytes(value))
    elif schema == "string":
        _write_bytes(buf, value.encode("utf-8"))
    else:
        raise ValueError(f"unsupported avro type {schema!r}")


def _matches(schema, value) -> bool:
    t = schema["type"] if isinstance(schema, dict) else schema
    if t == "null":
        return value is None
    if value is None:
        return False
    if isinstance(schema, dict) and schema.get("logicalType"):
        lt = schema["logicalType"]
        if lt == "date":
            return isinstance(value, _dt.date) and not isinstance(value, _dt.datetime)
        if lt in ("timestamp-micros", "timestamp-millis"):
            return isinstance(value, _dt.datetime)
        if lt == "decimal":
            return isinstance(value, Decimal)
    if t == "boolean":
        return isinstance(value, bool)
    if t in ("int", "long"):
        return isinstance(value, int) and not isinstance(value, bool)
    if t in ("float", "double"):
        return isinstance(value, float)
    if t == "string":
        return isinstance(value, str)
    if t in ("bytes", "fixed"):
        return isinstance(value, (bytes, bytearray))
    return True  # record/array/map/enum: containers pre-validated by caller


# ------------------------------------------------------------ container file


def _read_header_grow(f) -> tuple[dict, str, bytes, dict, int]:
    """Parse the header from an open file, growing the read on truncation.

    Headers are small; start at 64 KiB and double on EOFError so an
    outsized schema JSON still parses. Returns (schema, codec, sync,
    metadata, header_end_offset).
    """
    size = 65536
    while True:
        f.seek(0)
        data = f.read(size)
        buf = io.BytesIO(data)
        try:
            return (*_read_header_meta(buf), buf.tell())
        except EOFError:
            if len(data) < size:  # whole file read and still truncated
                raise
            size *= 2


def _read_header_meta(buf: io.BytesIO) -> tuple[dict, str, bytes, dict]:
    """Parse container header → (writer schema JSON, codec, sync marker,
    full key-value metadata map). Iceberg stamps table facts into the
    map ("schema", "schema-id", "partition-spec-id") — the reader's
    scan grouping consumes them."""
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    meta: dict[str, bytes] = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            break
        if n < 0:
            _read_long(buf)
            n = -n
        for _ in range(n):
            k = _read_bytes(buf).decode("utf-8")
            meta[k] = _read_bytes(buf)
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise ValueError(f"unsupported avro codec {codec!r} (null/deflate only)")
    sync = buf.read(16)
    if len(sync) != 16:
        raise EOFError("truncated avro header")
    return schema, codec, sync, meta


def _blocks(f, codec: str, sync: bytes, end: int):
    """Yield (record count, decompressed block bytes) for each block of
    the container open as ``f`` that starts at or after its position and
    before ``end``."""
    while f.tell() < end:
        n = _read_long(f)
        block = _read_bytes(f)
        if f.read(16) != sync:
            raise ValueError("sync marker mismatch (corrupt block or marker collision)")
        yield n, zlib.decompress(block, -15) if codec == "deflate" else block


def _read_container(f, size: int):
    """(writer schema, header metadata, its blocks) of the ``size``-byte
    container open as ``f``."""
    schema, codec, sync, meta, header_end = _read_header_grow(f)
    f.seek(header_end)
    return schema, meta, _blocks(f, codec, sync, size)


# raw writer-schema JSON → compiled records decoder (driver-side manifest
# reads parse the same few schemas over and over)
_RECORD_DECODERS: dict[bytes, object] = {}


def _read_records(data: bytes) -> tuple[dict, list, dict]:
    schema, meta, blocks = _read_container(io.BytesIO(data), len(data))
    key = meta["avro.schema"]
    decode = _RECORD_DECODERS.get(key)
    if decode is None:
        decode = _RECORD_DECODERS[key] = _compile(_resolve_names(schema), columns=False)
    records: list = []
    for n, block in blocks:
        records += _run(decode, block, n)
    return schema, records, meta


def read_avro_bytes(data: bytes) -> tuple[dict, list[dict]]:
    """Decode a whole container file body → (writer schema, records)."""
    schema, records, _meta = _read_records(data)
    return schema, records


def read_avro_file(path: str) -> tuple[dict, list[dict]]:
    from gcs2postgres_spark.sources import fsio

    return read_avro_bytes(fsio.read_bytes(path))


def read_avro_file_meta(path: str) -> tuple[dict, list[dict], dict]:
    """read_avro_file plus the header's key-value metadata map (values
    decoded to str) — the carrier of Iceberg's per-manifest facts
    ("schema", "schema-id", ...)."""
    from gcs2postgres_spark.sources import fsio

    schema, records, meta = _read_records(fsio.read_bytes(path))
    out_meta = {
        k: v.decode("utf-8", "replace") for k, v in meta.items()
        if not k.startswith("avro.")
    }
    return schema, records, out_meta


def avro_row_count(path: str) -> int:
    """Record count from block headers ONLY — each block is skimmed
    (read count varint, read size varint, seek past data+sync) without
    decompressing or decoding a single record. The Avro twin of a
    parquet-footer num_rows probe: O(#blocks) tiny reads, so manifest
    writers can stamp record_count without pulling row data onto the
    driver."""
    with open(path, "rb") as f:
        _schema, _codec, sync, _meta, header_end = _read_header_grow(f)
        size = os.fstat(f.fileno()).st_size
        f.seek(header_end)
        total = 0
        while f.tell() < size:
            hdr = f.read(20)  # two varints: ≤10 bytes each
            buf = io.BytesIO(hdr)
            n_records = _read_long(buf)
            block_len = _read_long(buf)
            total += n_records
            f.seek(f.tell() - (len(hdr) - buf.tell()) + block_len)
            if f.read(16) != sync:
                raise ValueError(f"sync marker mismatch in {path!r} (corrupt block)")
        return total


def write_avro_file(
    path: str, schema: dict, records: list[dict], codec: str = "deflate",
    sync: bytes | None = None, block_records: int = 1000,
    extra_meta: dict[str, str] | None = None,
) -> None:
    """Write an object container file (fixture/writer side of the codec).
    Deterministic by construction: the default sync marker is the md5 of
    the schema JSON — byte-stable across runs for the same schema (the
    fixture property), but NOT a constant the data could plausibly
    contain (an earlier all-zero marker would collide with any 16 zero
    bytes in a block, which matters now that read_avro_split_distributed
    scans for the marker to find block boundaries)."""
    if sync is None:
        import hashlib

        sync = hashlib.md5(json.dumps(schema, sort_keys=True).encode()).digest()
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
    for k, v in (extra_meta or {}).items():
        meta[k] = v.encode("utf-8")
    _write_long(out, len(meta))
    for k, v in meta.items():
        _write_bytes(out, k.encode())
        _write_bytes(out, v)
    _write_long(out, 0)
    out.write(sync)
    body_schema = _resolve_names(schema)
    for i in range(0, len(records), block_records):
        chunk = records[i : i + block_records]
        bbuf = io.BytesIO()
        for r in chunk:
            _encode(body_schema, r, bbuf)
        body = bbuf.getvalue()
        if codec == "deflate":
            c = zlib.compressobj(wbits=-15)
            body = c.compress(body) + c.flush()
        _write_long(out, len(chunk))
        _write_bytes(out, body)
        out.write(sync)
    # scheme'd paths (file:, registered object stores) route through
    # fsio/Hadoop — driver-side manifest writes only. The package import
    # stays INSIDE the scheme branch: this function also runs on
    # executor workers (partition-wise avro writes, always plain posix
    # paths), where the whole module ships by value and the package is
    # not importable.
    import re as _re

    if _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", path):
        from gcs2postgres_spark.sources import fsio

        fsio.write_bytes(path, out.getvalue())
    else:
        with open(path, "wb") as f:
            f.write(out.getvalue())


# ------------------------------------------------------- schema translation


def avro_to_spark_type(schema) -> T.DataType:
    return _spark_type(_resolve_names(schema))


def _spark_type(schema) -> T.DataType:
    if isinstance(schema, list):
        non_null = [s for s in schema if s != "null"]
        if len(non_null) != 1:
            raise ValueError(f"only unions of null + one type supported: {schema!r}")
        return _spark_type(non_null[0])
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return T.StructType(
                [
                    T.StructField(
                        f["name"], _spark_type(f["type"]), _nullable(f["type"])
                    )
                    for f in schema["fields"]
                ]
            )
        if t == "array":
            return T.ArrayType(_spark_type(schema["items"]), _nullable(schema["items"]))
        if t == "map":
            return T.MapType(T.StringType(), _spark_type(schema["values"]), _nullable(schema["values"]))
        if t == "enum":
            return T.StringType()
        lt = schema.get("logicalType")
        if lt == "date":
            return T.DateType()
        if lt in ("timestamp-micros", "timestamp-millis"):
            return T.TimestampType()
        if lt == "decimal":
            return T.DecimalType(int(schema["precision"]), int(schema.get("scale", 0)))
        if t == "fixed":
            return T.BinaryType()
        return _spark_type(t)
    return {
        "null": T.NullType(),
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "bytes": T.BinaryType(),
        "string": T.StringType(),
    }[schema]


def _nullable(schema) -> bool:
    return isinstance(schema, list) and "null" in schema


def spark_to_avro_schema(st: T.StructType, name: str = "row") -> dict:
    """Spark struct → avro record schema (fixture writer side)."""
    mapping = {
        T.BooleanType: "boolean", T.IntegerType: "int", T.LongType: "long",
        T.FloatType: "float", T.DoubleType: "double", T.BinaryType: "bytes",
        T.StringType: "string", T.ShortType: "int", T.ByteType: "int",
    }

    def conv(dt: T.DataType):
        # logical types first: DateType is not in the base mapping, and
        # DecimalType must carry precision/scale through the annotation
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, T.TimestampType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        if isinstance(dt, T.DecimalType):
            return {
                "type": "bytes",
                "logicalType": "decimal",
                "precision": dt.precision,
                "scale": dt.scale,
            }
        for k, v in mapping.items():
            if isinstance(dt, k):
                return v
        if isinstance(dt, T.ArrayType):
            return {"type": "array", "items": conv(dt.elementType)}
        if isinstance(dt, T.MapType):
            return {"type": "map", "values": conv(dt.valueType)}
        if isinstance(dt, T.StructType):
            return spark_to_avro_schema(dt, name + "_n")
        raise ValueError(f"no avro mapping for {dt}")

    return {
        "type": "record",
        "name": name,
        "fields": [
            {"name": f.name, "type": ["null", conv(f.dataType)] if f.nullable else conv(f.dataType)}
            for f in st.fields
        ],
    }


# ----------------------------------------------------- distributed writer


def write_avro_distributed(df: DataFrame, path: str, codec: str = "deflate") -> None:
    """Partition-wise Avro sink: each executor partition writes its own
    ``part-{pid}.avro`` container file — nothing transits the driver (the
    same executor-writes shape as sinks.write_jdbc). Pairs with
    ``read_avro_distributed`` for a jar-less avro round trip."""
    import os
    import sys as _sys

    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(_sys.modules[__name__])
    os.makedirs(path, exist_ok=True)
    schema = spark_to_avro_schema(df.schema, "row")
    names = df.columns
    write_fn = write_avro_file

    def write_partition(rows) -> None:
        from pyspark import TaskContext

        records = [dict(zip(names, r)) for r in rows]
        if not records:
            return
        pid = TaskContext.get().partitionId()
        write_fn(os.path.join(path, f"part-{pid:05d}.avro"), schema, records, codec=codec)

    df.foreachPartition(write_partition)


# ------------------------------------------------------------ arrow batches
#
# Each block becomes one RecordBatch: the compiled decoder fills one list
# per column, pyarrow builds the arrays, and logical types apply as Arrow
# casts. Timestamps become tz-aware UTC instants, as the spec defines
# them, so no session time zone shifts them.


def _validity(n: int, nulls: list[int]):
    import numpy as np
    import pyarrow as pa

    if not nulls:
        return None
    valid = np.ones(n, dtype=bool)
    valid[nulls] = False
    return pa.py_buffer(np.packbits(valid, bitorder="little"))


def _to_arrow(col: list, nulls: list[int], kind: str | None, lt: str | None, typ):
    """One top-level column → an Arrow array of ``typ``. Flat kinds build
    from buffers (pa.array would import pandas into the worker); logical
    types apply as casts."""
    import numpy as np
    import pyarrow as pa

    if kind is None:  # record, array, map or general union: Python values
        return pa.array(col, typ)
    n = len(col)
    valid = _validity(n, nulls)
    if lt == "decimal":  # big-endian two's-complement unscaled bytes
        data = b"".join(
            int.from_bytes(v, "big", signed=True).to_bytes(16, "little", signed=True)
            for v in col
        )
        return pa.Array.from_buffers(typ, n, [valid, pa.py_buffer(data)], len(nulls))
    if kind == "bytes":
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(np.fromiter(map(len, col), np.int32, n), out=offsets[1:])
        base = pa.string() if pa.types.is_string(typ) else pa.binary()
        arr = pa.Array.from_buffers(
            base, n, [valid, pa.py_buffer(offsets), pa.py_buffer(b"".join(col))], len(nulls)
        )
        arr.validate(full=True)  # UTF-8, and offsets that did not wrap
    elif kind == "bool":
        bits = np.packbits(np.array(col, dtype=bool), bitorder="little")
        arr = pa.Array.from_buffers(pa.bool_(), n, [valid, pa.py_buffer(bits)], len(nulls))
    else:
        base, dtype = {
            "int": (pa.int64(), np.int64),
            "float": (pa.float32(), np.float32),
            "double": (pa.float64(), np.float64),
        }[kind]
        values = np.array(col, dtype=dtype)
        arr = pa.Array.from_buffers(base, n, [valid, pa.py_buffer(values)], len(nulls))
        if lt == "date":
            arr = arr.cast(pa.int32())
        elif lt in ("timestamp-micros", "timestamp-millis"):
            arr = arr.cast(pa.timestamp("us" if lt == "timestamp-micros" else "ms", tz="UTC"))
    return arr if arr.type == typ else arr.cast(typ)


def _batch_builder(schema: dict, arrow_schema):
    """``build(block, n) -> RecordBatch`` with ``arrow_schema``'s columns,
    matched by name to the writer ``schema``'s fields (absent → nulls)."""
    import pyarrow as pa

    schema = _resolve_names(schema)
    decode = _compile(schema, columns=True)
    fields = {f["name"]: (i, *_flat_kind(f["type"])) for i, f in enumerate(schema["fields"])}
    plan = [(fields.get(f.name), f.type) for f in arrow_schema]

    def build(block: bytes, n: int):
        cols, nulls = _run(decode, block, n)
        arrays = [
            pa.nulls(n, typ) if src is None
            else _to_arrow(cols[src[0]], nulls[src[0]], src[1], src[2], typ)
            for src, typ in plan
        ]
        return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return build


def _arrow_batches(f, size: int, arrow_schema=None, builders: dict | None = None):
    """Yield one RecordBatch per block of the ``size``-byte container open
    as ``f``. ``arrow_schema`` defaults to the writer schema's; pass
    ``builders`` to share compiled decoders between files of one task."""
    schema, meta, blocks = _read_container(f, size)
    builders = {} if builders is None else builders
    key = meta["avro.schema"]
    build = builders.get(key)
    if build is None:
        if arrow_schema is None:
            from pyspark.sql.pandas.types import to_arrow_schema

            arrow_schema = to_arrow_schema(avro_to_spark_type(schema))
        build = builders[key] = _batch_builder(schema, arrow_schema)
    for n, block in blocks:
        yield build(block, n)


def read_avro_arrow(path: str):
    """Yield one RecordBatch per block of the Avro file at ``path``,
    typed by its writer schema."""
    from gcs2postgres_spark.sources import fsio

    data = fsio.read_bytes(path)
    yield from _arrow_batches(io.BytesIO(data), len(data))


# ----------------------------------------------------------- spark reader


def read_avro_distributed(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Avro read without the spark-avro jar.

    One driver-side header read infers the schema (metadata block only —
    no data rows transit the driver); then ``binaryFile`` ships each
    file's bytes to an executor and ``mapInArrow`` decodes them with the
    compiled decoder, one RecordBatch per Avro block. The decoder closure
    is built inside this function so cloudpickle serializes it BY VALUE —
    executor workers don't have this package on sys.path (same reasoning
    as multimodal._make_decoder).

    Scale shape: per-file parallelism (the standard many-part-file Avro
    layout); a single file over SPLIT_THRESHOLD_BYTES reads through the
    sync-marker splitter. A worker holds one file's bytes and one block's
    values at a time. Python-side decode is the price of the missing jar
    — in a deployment with spark-avro available, read_source uses the
    native JVM reader and never reaches this path.
    """
    import glob as _glob
    import os

    from pyspark.sql.pandas.types import to_arrow_schema

    first = sorted(_glob.glob(os.path.join(path, "*.avro"))) if os.path.isdir(path) else [path]
    if not first:
        raise ValueError(f"no .avro files under {path!r}")
    with open(first[0], "rb") as f:
        avro_schema = _read_header_grow(f)[0]
    spark_schema = avro_to_spark_type(avro_schema)
    if not isinstance(spark_schema, T.StructType):
        raise ValueError("top-level avro schema must be a record")
    arrow_schema = to_arrow_schema(spark_schema)

    # executor Python workers don't have this package on sys.path: register
    # the module for BY-VALUE cloudpickle so the whole decode call graph
    # (_arrow_batches → _compile → _from_logical …) ships inside the closure
    # instead of as an import reference
    import sys as _sys

    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(_sys.modules[__name__])

    batches_fn = _arrow_batches

    def decode_files(batches):
        import pyarrow as pa

        builders: dict = {}
        for batch in batches:
            for blob in batch.column(0):
                buf = blob.as_buffer()
                yield from batches_fn(pa.BufferReader(buf), buf.size, arrow_schema, builders)

    if os.path.isdir(path):
        # directory: every *.avro part-file, one task per file
        binary = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.avro")
            .load(path)
        )
    else:
        # single file: load EXACTLY this path — a dirname+glob load would
        # silently union sibling .avro files into the result. A single
        # GIANT posix file re-routes to the sync-marker splitter so it
        # doesn't decode as one task (the Hadoop input-split recipe).
        if os.path.getsize(path) > SPLIT_THRESHOLD_BYTES:
            return read_avro_split_distributed(spark, path)
        binary = spark.read.format("binaryFile").load(path)
    return binary.select("content").mapInArrow(decode_files, schema=spark_schema)


# Single files above this size read via byte-range splits instead of one
# whole-file task (read_avro_split_distributed).
SPLIT_THRESHOLD_BYTES = 256 << 20


def read_avro_split_distributed(
    spark: SparkSession, path: str, split_bytes: int = 128 << 20
) -> DataFrame:
    """Distributed read of ONE giant Avro container file via sync-marker
    byte-range splits — the Hadoop input-split recipe, closing
    read_avro_distributed's one-task-per-file limit for the
    single-huge-file layout.

    The driver reads only the header (schema, codec, sync marker,
    header length) and the file size, then plans [start, end) byte
    ranges of ~split_bytes. Each task seeks into the file, scans
    forward for the 16-byte sync marker, and decodes every block whose
    START offset falls inside its range (the block that merely *ends*
    inside the range belongs to the previous task) — so every block is
    decoded exactly once with no coordination. A range wholly inside
    one giant block finds no boundary and yields nothing, also correct.
    Each block streams out of ``mapInArrow`` as one RecordBatch.

    Marker collisions: the writer's sync defaults to md5(schema JSON) —
    16 bytes the data has no reason to contain (an all-zero marker
    would false-positive on zero runs). Files from other writers use
    random markers (the spec's recommendation) with the same 2^-128
    collision math the Hadoop splitter has always accepted.

    Scope: posix paths (executors reopen the file directly — workers
    have no SparkSession to reach the Hadoop FS API). Object-store
    deployments ship many part-files and ride the per-file path above;
    this operator exists for the single-huge-file NFS/local layout.
    """
    import os
    import sys as _sys

    from pyspark import cloudpickle as _cp
    from pyspark.sql.pandas.types import to_arrow_schema

    _cp.register_pickle_by_value(_sys.modules[__name__])

    with open(path, "rb") as f:
        schema, codec, sync, _meta, header_end = _read_header_grow(f)
    size = os.path.getsize(path)
    spark_schema = avro_to_spark_type(schema)
    if not isinstance(spark_schema, T.StructType):
        raise ValueError("top-level avro schema must be a record")
    arrow_schema = to_arrow_schema(spark_schema)

    starts = list(range(header_end, size, split_bytes))
    ranges = [
        (s, min(s + split_bytes, size)) for s in starts
    ]
    rng_df = spark.createDataFrame(ranges, "start long, end long").repartition(
        max(1, len(ranges))
    )
    blocks_fn, builder_fn = _blocks, _batch_builder

    def decode_ranges(batches):
        def first_block_start(f, start, end):
            # blocks begin immediately after a sync; the header's own
            # trailing sync puts the first block exactly at header_end
            if start <= header_end:
                return header_end
            scan_from = max(header_end, start - 16)
            f.seek(scan_from)
            window = f.read((end - scan_from) + 16)
            idx = 0
            while True:
                hit = window.find(sync, idx)
                if hit < 0:
                    return None
                q = scan_from + hit + 16  # block start candidate
                if q >= end:
                    return None
                if q >= start:
                    return q
                idx = hit + 1
            # unreachable

        build = builder_fn(schema, arrow_schema)
        for batch in batches:
            for start, end in zip(batch.column(0).to_pylist(), batch.column(1).to_pylist()):
                with open(path, "rb") as f:
                    pos = first_block_start(f, start, end)
                    if pos is None:
                        continue
                    f.seek(pos)
                    for n, block in blocks_fn(f, codec, sync, min(end, size)):
                        yield build(block, n)

    return rng_df.mapInArrow(decode_ranges, schema=spark_schema)
