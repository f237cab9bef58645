"""Jar-less Apache Iceberg table reader + fixture writer.

The reference lists Iceberg among its source formats (reference
README.md:11; format-from-extension mechanism src/db/db.go:27) but the
iceberg-spark-runtime jar cannot be fetched in this offline sandbox. An
Iceberg table, per the public spec (https://iceberg.apache.org/spec/),
is nothing but a metadata chain over plain files:

    metadata/*.metadata.json  →  manifest-list (an Avro file)
        →  manifests (Avro)   →  parquet data files

and this repo already owns a spec-conformant Avro container codec
(sources/avro_py.py, cross-validated against the JVM org.apache.avro).
So the read path walks the chain in pure Python — metadata only, a few
KB–MB — and hands the resulting live data-file list to
``spark.read.parquet``, which keeps full executor parallelism,
vectorized decode, filter pushdown, and column pruning. No table data
ever transits the driver.

Scope (documented, checked with clear errors):
- v1 and v2 tables; snapshot time travel via ``snapshot_id`` /
  ``as_of_ms``.
- v2 delete files ARE applied executor-side (position deletes as an
  anti-join on ``_metadata`` file/row identity, equality deletes as a
  null-safe anti-join honoring the spec's sequence-number rules — see
  read_iceberg_py); unsupported delete shapes raise NotImplementedError
  naming the runtime jar, never silently wrong rows.
- Identity-transform partition pruning from MANIFEST metadata via
  ``partition_filter`` (planning-time file skip, zero I/O for pruned
  partitions); non-identity transforms are conservatively kept.
- Column resolution is BY FIELD ID (the spec's rule) whenever the
  parquet footers carry ids: files are grouped by their (name, id)
  signature and each group projects to the table schema by id, so
  RENAMED-column evolution reads old files' values under the new name.
  Files without ids (or unprobeable footers, e.g. remote schemes)
  resolve BY NAME (missing → NULL, the reconcile OP-5 contract).
- Data files may be parquet (native scan, field-id resolved), ORC
  (native scan, name-resolved; refused under row-level deletes — no
  per-row position identity), or AVRO (pure-Python avro_py decode,
  field-id resolved from the schema's "field-id" attributes, row-level
  deletes fully supported via decoder-emitted row ordinals).
  Non-parquet DELETE files raise clearly.

Scale: at 100 TB a table holds ~10⁵ data files; the driver-side walk is
O(manifests + files) over metadata Avro (the same work any Iceberg
client does) and the surviving file list feeds one parquet scan. With
the jar, read_source prefers the native reader and none of this runs.

The fixture writer emits a spec-shaped v1 table (metadata JSON with
schema/field-ids, manifest list, manifest, unpartitioned spec) whose
data files are written BY SPARK executors; only file-level metadata
(path, size, row count from the parquet footer) is read on the driver.
"""

from __future__ import annotations

import glob
import io
import json
import os
import re
import shutil
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcs2postgres_spark.sources import file_stats, fsio, logstore, row_level
from gcs2postgres_spark.sources.avro_py import (
    read_avro_file,
    read_avro_file_meta,
    write_avro_file,
)

_JAR_HINT = (
    "needs the iceberg-spark-runtime jar "
    "(spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-4.0_2.13); "
    "the jar-less reader does not support it"
)


# ---------------------------------------------------------- atomic commits
#
# Every metadata pointer this module writes goes through temp-file +
# os.replace (POSIX-atomic within a filesystem), in this order:
#   1. vN.metadata.json   (atomic replace — readers never see a torn file)
#   2. version-hint.text  (atomic replace — the actual commit point)
# A crash between (1) and (2) leaves the hint at vN-1: readers keep
# seeing the previous snapshot, and the next commit re-derives its
# version from the hinted file and atomically overwrites the orphan.
# Temp names end in ".tmp", which latest_metadata_file's
# endswith(".metadata.json") listing never matches. Single-writer is
# assumed (same as Iceberg's HadoopTables layout without a lock
# provider); concurrent committers need a real catalog.


def _write_text_atomic(path: str, text: str) -> None:
    from gcs2postgres_spark.sources import logstore

    logstore.log_store_for(path).write_atomic(path, text.encode("utf-8"))


def _write_json_atomic(path: str, obj: dict) -> None:
    _write_text_atomic(path, json.dumps(obj, indent=1))


def _uniq(name: str) -> str:
    """Unique metadata-file suffix: two concurrent committers deriving
    file names from the same would-be snapshot id must never clobber
    each other's manifests/manifest lists before the version race is
    decided (the rebase loop keeps both sets alive)."""
    import uuid as _uuid

    stem, ext = os.path.splitext(name)
    return f"{stem}-{_uuid.uuid4().hex[:8]}{ext}"


class CommitConflictError(RuntimeError):
    """A concurrent writer committed a metadata version this writer's
    snapshot cannot be rebased over (non-append operations re-match
    against a stale file inventory). The table is intact — re-read and
    retry the whole operation."""


def _write_json_if_absent(path: str, obj: dict) -> None:
    """PUT-IF-ABSENT metadata write — the commit point two racing
    writers decide at (the loser sees FileExistsError, never a silent
    overwrite; the jar-ful HadoopTableOperations does the same
    rename-without-overwrite dance). The atomic primitive is pluggable
    (sources/logstore.py): posix O_CREAT|O_EXCL by default, a registered
    conditional-put LogStore for object-store schemes."""
    from gcs2postgres_spark.sources import logstore

    logstore.log_store_for(path).put_if_absent(
        path, json.dumps(obj, indent=1).encode("utf-8")
    )

# ---------------------------------------------------------------- type system


def iceberg_to_spark_type(t) -> T.DataType:
    """Iceberg schema JSON type → Spark type (spec 'Schemas and types')."""
    if isinstance(t, dict):
        k = t["type"]
        if k == "struct":
            return T.StructType(
                [
                    T.StructField(f["name"], iceberg_to_spark_type(f["type"]), not f["required"])
                    for f in t["fields"]
                ]
            )
        if k == "list":
            return T.ArrayType(iceberg_to_spark_type(t["element"]), not t["element-required"])
        if k == "map":
            return T.MapType(
                iceberg_to_spark_type(t["key"]),
                iceberg_to_spark_type(t["value"]),
                not t["value-required"],
            )
        raise ValueError(f"unsupported iceberg complex type {k!r}")
    m = re.fullmatch(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2)))
    if t.startswith("fixed"):
        return T.BinaryType()
    prims = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "date": T.DateType(),
        "string": T.StringType(),
        "uuid": T.StringType(),
        "binary": T.BinaryType(),
        "timestamp": T.TimestampNTZType(),
        "timestamptz": T.TimestampType(),
        # v3: variant (Spark 4 has a native VariantType whose parquet
        # encoding matches the spec's metadata/value binary pair)
        "variant": T.VariantType(),
    }
    if t in prims:
        return prims[t]
    raise ValueError(f"unsupported iceberg type {t!r}")


def spark_to_iceberg_schema(schema: T.StructType) -> dict:
    """Spark StructType → Iceberg schema JSON with sequential field ids
    (fixture writer side; nested ids continue the sequence per spec)."""
    next_id = [0]

    def conv(dt: T.DataType):
        if isinstance(dt, T.StructType):
            fields = []
            for f in dt.fields:
                next_id[0] += 1
                fid = next_id[0]
                fields.append(
                    {
                        "id": fid,
                        "name": f.name,
                        "required": not f.nullable,
                        "type": conv(f.dataType),
                    }
                )
            return {"type": "struct", "fields": fields}
        if isinstance(dt, T.ArrayType):
            next_id[0] += 1
            return {
                "type": "list",
                "element-id": next_id[0],
                "element-required": not dt.containsNull,
                "element": conv(dt.elementType),
            }
        if isinstance(dt, T.MapType):
            next_id[0] += 1
            kid = next_id[0]
            next_id[0] += 1
            return {
                "type": "map",
                "key-id": kid,
                "value-id": next_id[0],
                "key": conv(dt.keyType),
                "value-required": not dt.valueContainsNull,
                "value": conv(dt.valueType),
            }
        if isinstance(dt, T.DecimalType):
            return f"decimal({dt.precision}, {dt.scale})"
        prims = {
            T.BooleanType(): "boolean",
            T.IntegerType(): "int",
            T.ShortType(): "int",
            T.ByteType(): "int",
            T.LongType(): "long",
            T.FloatType(): "float",
            T.DoubleType(): "double",
            T.DateType(): "date",
            T.StringType(): "string",
            T.BinaryType(): "binary",
            T.TimestampType(): "timestamptz",
            T.TimestampNTZType(): "timestamp",
            T.VariantType(): "variant",
        }
        if dt in prims:
            return prims[dt]
        raise ValueError(f"unsupported spark type for iceberg fixture: {dt}")

    return conv(schema)


_DELTA_PRIM_TO_ICE = {
    "integer": "int", "short": "int", "byte": "int", "long": "long",
    "double": "double", "float": "float", "boolean": "boolean",
    "date": "date", "string": "string", "binary": "binary",
    "timestamp": "timestamptz", "timestamp_ntz": "timestamp",
    "variant": "variant",
}


def _max_field_id(jt) -> int:
    """Max field id appearing ANYWHERE in an Iceberg schema JSON —
    struct field ids plus nested list element-ids and map key/value
    ids. ``last-column-id`` must dominate every assigned id (Iceberg
    spec, "Table Metadata" — it seeds foreign engines' id allocation;
    a last-column-id below a minted nested id would let a catalog
    commit a colliding field id and corrupt id-based resolution)."""
    if isinstance(jt, dict):
        t = jt.get("type")
        if t == "struct":
            return max(
                (
                    max(int(f["id"]), _max_field_id(f["type"]))
                    for f in jt["fields"]
                ),
                default=0,
            )
        if t == "list":
            return max(int(jt["element-id"]), _max_field_id(jt["element"]))
        if t == "map":
            return max(
                int(jt["key-id"]),
                int(jt["value-id"]),
                _max_field_id(jt["key"]),
                _max_field_id(jt["value"]),
            )
    return 0


def _delta_mapping_to_iceberg(
    delta_schema: dict, max_column_id: int | None = None
) -> tuple[dict, dict, list]:
    """(logical Iceberg schema JSON, PHYSICAL-named twin with the SAME
    field ids, Iceberg name-mapping) from a columnMapping Delta
    schemaString. Field ids come straight from ``delta.columnMapping.id``
    — the same id reuse real UniForm performs, so ids stay stable
    across re-syncs by construction. Physical names come from
    ``delta.columnMapping.physicalName`` at every struct depth (Delta
    physical-renames nested struct fields too). Delta assigns NO ids to
    list elements / map keys+values; those are minted deterministically
    after the max mapping id in walk order, identically for both twins.
    The name-mapping is the public spec's ``schema.name-mapping.default``
    shape ([{"field-id", "names", "fields"?}]) keyed by PHYSICAL names —
    what a foreign Iceberg reader needs to resolve these id-less parquet
    files (Iceberg spec, "Name Mapping Serialization")."""

    def _max_id(jt) -> int:
        if isinstance(jt, dict):
            if jt["type"] == "struct":
                m = 0
                for f in jt["fields"]:
                    fid = int((f.get("metadata") or {}).get(
                        "delta.columnMapping.id", 0))
                    m = max(m, fid, _max_id(f["type"]))
                return m
            if jt["type"] == "array":
                return _max_id(jt["elementType"])
            if jt["type"] == "map":
                return max(_max_id(jt["keyType"]), _max_id(jt["valueType"]))
        return 0

    # Seed minting from delta.columnMapping.maxColumnId when the table
    # records it (it dominates DROPPED columns' ids, which no longer
    # appear in the schema — re-minting one of those would collide with
    # any old data file still carrying the dropped physical column).
    base = max(_max_id(delta_schema), int(max_column_id or 0))
    nxt = [base]

    def mint() -> int:
        nxt[0] += 1
        return nxt[0]

    def conv_type(jt, use_phys: bool):
        if isinstance(jt, str):
            m = re.match(r"decimal\((\d+),\s*(\d+)\)", jt)
            if m:
                return f"decimal({m.group(1)}, {m.group(2)})"
            if jt in _DELTA_PRIM_TO_ICE:
                return _DELTA_PRIM_TO_ICE[jt]
            raise NotImplementedError(f"UniForm: delta type {jt!r}")
        t = jt["type"]
        if t == "struct":
            return {
                "type": "struct",
                "fields": [conv_field(f, use_phys) for f in jt["fields"]],
            }
        if t == "array":
            eid = mint()
            return {
                "type": "list",
                "element-id": eid,
                "element-required": False,
                "element": conv_type(jt["elementType"], use_phys),
            }
        if t == "map":
            kid, vid = mint(), mint()
            return {
                "type": "map",
                "key-id": kid,
                "value-id": vid,
                "key": conv_type(jt["keyType"], use_phys),
                "value-required": False,
                "value": conv_type(jt["valueType"], use_phys),
            }
        raise NotImplementedError(f"UniForm: delta type {t!r}")

    def conv_field(f, use_phys: bool) -> dict:
        md = f.get("metadata") or {}
        fid = md.get("delta.columnMapping.id")
        if fid is None:
            # unstamped field (upgraded tables stamp top-level fields;
            # NESTED struct fields may carry no mapping metadata, in
            # which case their physical name IS the logical name):
            # mint a deterministic id after the max stamped id — both
            # twins walk identically, so ids agree
            fid = mint()
        name = (
            md.get("delta.columnMapping.physicalName", f["name"])
            if use_phys else f["name"]
        )
        # nullability relaxes to OPTIONAL throughout: parquet reads
        # every field back nullable and Spark's struct cast refuses to
        # inject NOT NULL into nested fields — optional is the safe
        # superset (same rows, no constraint violated)
        return {
            "id": int(fid),
            "name": name,
            "required": False,
            "type": conv_type(f["type"], use_phys),
        }

    def build(use_phys: bool) -> dict:
        nxt[0] = base  # both twins mint identical element/key/value ids
        return {
            "type": "struct",
            "fields": [conv_field(f, use_phys) for f in delta_schema["fields"]],
        }

    def nm_field(lf: dict, pf: dict) -> dict:
        # derive from the built twins so minted ids are included
        e = {"field-id": lf["id"], "names": [pf["name"]]}
        if isinstance(lf["type"], dict) and lf["type"]["type"] == "struct":
            e["fields"] = [
                nm_field(a, b)
                for a, b in zip(lf["type"]["fields"], pf["type"]["fields"])
            ]
        return e

    logical = build(False)
    physical = build(True)
    name_mapping = [
        nm_field(a, b) for a, b in zip(logical["fields"], physical["fields"])
    ]
    return logical, physical, name_mapping


def _name_mapping_ids(meta: dict) -> dict[str, int]:
    """TOP-LEVEL {file column name: field id} from the table's
    ``schema.name-mapping.default`` property (empty when absent/bad) —
    the probe-side fallback that lets id-less parquet files written
    under physical names resolve by id (rename-safe) instead of by
    name. Nested resolution rides the per-column struct cast."""
    raw = (meta.get("properties") or {}).get("schema.name-mapping.default")
    if not raw:
        return {}
    try:
        entries = json.loads(raw)
    except (ValueError, TypeError):
        return {}
    out: dict[str, int] = {}
    for e in entries if isinstance(entries, list) else []:
        fid = e.get("field-id")
        if fid is None:
            continue
        for n in e.get("names") or []:
            out[n] = int(fid)
    return out


# ------------------------------------------------------------- metadata walk


def latest_metadata_file(table_path: str) -> str:
    """Latest metadata JSON: start from metadata/version-hint.text when
    present (the HadoopTables layout) and PROBE FORWARD while the next
    version file exists — the metadata-file creation is the commit
    point (put-if-absent, _write_json_if_absent) and the hint is a
    best-effort optimization a crashed writer may leave stale, exactly
    HadoopTableOperations' refresh behavior. Fallback: highest numeric
    prefix among v*.metadata.json / NNNNN-*.metadata.json."""
    mdir = os.path.join(table_path, "metadata")
    hint = os.path.join(mdir, "version-hint.text")
    if fsio.exists(hint):
        v = fsio.read_text(hint).strip()
        cand = os.path.join(mdir, f"v{v}.metadata.json")
        if fsio.exists(cand) and v.isdigit():
            n = int(v)
            while fsio.exists(os.path.join(mdir, f"v{n + 1}.metadata.json")):
                n += 1
            return os.path.join(mdir, f"v{n}.metadata.json")
        if fsio.exists(cand):
            return cand
    files = (
        [os.path.join(mdir, n) for n in fsio.listdir(mdir) if n.endswith(".metadata.json")]
        if fsio.isdir(mdir)
        else []
    )
    if not files:
        raise FileNotFoundError(
            f"{table_path!r} is not an Iceberg table: no metadata/*.metadata.json found"
        )

    def version_of(p: str) -> int:
        m = re.match(r"v?(\d+)", os.path.basename(p))
        return int(m.group(1)) if m else -1

    return max(files, key=lambda p: (version_of(p), p))


def _resolve(uri: str, table_path: str, location: str | None) -> str:
    """Map a metadata-recorded URI to a readable path, tolerating a
    moved table: prefer the URI exactly as recorded (scheme'd paths stay
    scheme'd — fsio routes them through Hadoop); else strip the file
    scheme; else rebase the part after the recorded table ``location``
    onto table_path."""
    if uri.startswith("file:") and fsio.has_scheme(table_path) and fsio.exists(uri):
        # scheme'd table: keep the URI so every read goes through the
        # same FS client the table root uses (no posix side door)
        return uri
    p = re.sub(r"^file:(//)?", "", uri) if uri.startswith("file:") else uri
    if fsio.exists(p):
        return p
    if location:
        loc = re.sub(r"^file:(//)?", "", location).rstrip("/")
        stripped = re.sub(r"^file:(//)?", "", p)
        if stripped.startswith(loc + "/"):
            rebased = os.path.join(table_path, stripped[len(loc) + 1 :])
            if fsio.exists(rebased):
                return rebased
    raise FileNotFoundError(f"iceberg metadata references missing file {uri!r}")


def _schema_stamp(meta: dict) -> dict[str, str]:
    """Manifest header facts real Iceberg writers record (spec:
    "Manifests" — a manifest stores the partition spec AND the schema
    used to write it as JSON in the Avro file's key-value metadata):
    ``schema`` + ``schema-id`` of the table schema this manifest's
    files were written under. The scan planner groups data files by
    this recorded id instead of probing every parquet footer — closing
    the serial plan-time wall at 10^5+ files."""
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        sch = next(
            (s for s in meta["schemas"] if s.get("schema-id", 0) == sid), None
        )
    else:
        sid, sch = 0, meta.get("schema")
    out = {"schema-id": str(sid)}
    if sch is not None:
        out["schema"] = json.dumps(sch)
    return out


def _stamp_of(fmeta: dict) -> dict[str, str]:
    """The propagatable stamp of an EXISTING manifest's header metadata
    (rewrites keep the SOURCE schema facts — the files inside were
    written under the old schema, not the rewrite-time one)."""
    return {k: fmeta[k] for k in ("schema", "schema-id") if k in fmeta}


def _norm_path(p: str) -> str:
    """Normalize a file URI for equality comparison between metadata-
    recorded paths and Spark's ``_metadata.file_path`` (which renders as
    ``file:/abs/path``)."""
    return re.sub(r"^file:(//)?", "", p)



def _missing_column_lit(fjson: dict, dtype):
    """Projection for a column ABSENT from a data file: the field's
    ``initial-default`` when declared (v3 "Default values" — files
    written before the column existed read the default), else NULL
    (v1/v2 behavior). JSON single-value serialization renders temporal
    defaults as strings; the cast restores the declared type."""
    dv = fjson.get("initial-default")
    if dv is None:
        return F.lit(None).cast(dtype)
    return F.lit(dv).cast(dtype)


def read_iceberg_py(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    as_of_ms: int | None = None,
    partition_filter: dict[str, set] | None = None,
    ref: str | None = None,
    stats_filter: dict[str, tuple] | None = None,
    _with_row_ids: bool = False,
    _preloaded_meta: dict | None = None,
) -> DataFrame:
    """Read an Iceberg table without the runtime jar (v1 and v2).

    Driver work is metadata-only: metadata JSON → manifest list (Avro) →
    manifests (Avro) → live parquet file list; data is scanned by
    ``spark.read.parquet`` on executors. Output columns follow the table
    schema — resolved by FIELD ID when the files carry parquet ids
    (spec behavior; renames read correctly), by name otherwise
    (missing → NULL, cast to the declared type — the reconcile
    OP-5/OP-6 contract).

    v2 row-level deletes are applied Spark-side, never on the driver:

    - position deletes (spec: files with ``file_path``/``pos`` columns)
      become a LEFT ANTI join against ``_metadata.file_path`` +
      ``_metadata.row_index`` of the data scan — applied only where the
      delete's data sequence number >= the data file's (same-or-earlier
      commit rule);
    - equality deletes become a null-safe LEFT ANTI join on the columns
      named by ``equality_ids``, applied only where the delete's
      sequence number is STRICTLY greater than the data file's (the
      spec's strict-past rule — an equality delete never hides rows of
      its own commit).

    Sequence numbers come from the manifest entry when written, else are
    inherited from the manifest-list entry (spec inheritance), else 0
    (v1). Delete-file paths are compared scheme-normalized; a table
    whose data files were MOVED after delete files were written is not
    re-based for delete matching (clear limitation of the jar-less
    fallback; the native reader handles it).

    Time travel: pass ``snapshot_id`` to pin a snapshot, or ``as_of_ms``
    to pick the latest snapshot with ``timestamp-ms <= as_of_ms``.

    Partition pruning: ``partition_filter`` maps SOURCE column names to
    allowed-value sets. Data files whose manifest-entry partition value
    (identity transform only) falls outside the set are dropped at
    PLANNING time — zero I/O for pruned partitions, the same
    manifest-level skip the native scan planner performs. Files whose
    manifest carries no value for the column are conservatively kept
    (cannot prune), and delete files are never pruned, so the filter is
    purely an optimization: callers still apply the predicate as a
    normal row filter.
    """
    if _preloaded_meta is not None:
        # catalog-resolved read (REST catalog LoadTableResult carries
        # the full metadata): skip the version-hint walk — the CATALOG
        # is the commit pointer for such tables, not the file layout
        meta_path = "<catalog>"
        meta = _preloaded_meta
    else:
        meta_path = latest_metadata_file(table_path)
        meta = json.loads(fsio.read_text(meta_path))
    location = meta.get("location")

    # table schema: v2 keeps a list + current-schema-id; v1 a single schema
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        schema_json = next(s for s in meta["schemas"] if s.get("schema-id", 0) == sid)
    else:
        schema_json = meta["schema"]
    spark_schema = iceberg_to_spark_type(schema_json)
    field_names = {f["id"]: f["name"] for f in schema_json["fields"]}
    # nested STRUCT fields keyed by id as dotted paths (equality deletes
    # may target them; fields under arrays/maps have no stable row path
    # and stay unsupported)
    field_paths = dict(field_names)

    def _walk_struct(fields, prefix):
        for f in fields:
            t = f.get("type")
            if isinstance(t, dict) and t.get("type") == "struct":
                for sf in t["fields"]:
                    field_paths[sf["id"]] = f"{prefix}{f['name']}.{sf['name']}"
                _walk_struct(
                    [sf for sf in t["fields"]
                     if isinstance(sf.get("type"), dict)
                     and sf["type"].get("type") == "struct"],
                    f"{prefix}{f['name']}.",
                )

    _walk_struct(schema_json["fields"], "")

    snapshots = meta.get("snapshots") or []
    if sum(x is not None for x in (snapshot_id, as_of_ms, ref)) > 1:
        raise ValueError("pass at most one of snapshot_id / as_of_ms / ref")
    if ref is not None:
        # named refs (branches and tags, the spec's `refs` map): resolve
        # to the pinned snapshot and read it like any time travel
        refs = meta.get("refs") or {}
        if ref not in refs:
            raise ValueError(f"ref {ref!r} not found (have {sorted(refs)})")
        snapshot_id = int(refs[ref]["snapshot-id"])
    if snapshot_id is not None:
        matches = [s for s in snapshots if s["snapshot-id"] == snapshot_id]
        if not matches:
            raise ValueError(
                f"snapshot {snapshot_id} not found in {meta_path!r} "
                f"(have {[s['snapshot-id'] for s in snapshots]})"
            )
        snapshot = matches[0]
    elif as_of_ms is not None:
        past = [s for s in snapshots if s.get("timestamp-ms", 0) <= as_of_ms]
        if not past:
            return spark.createDataFrame([], spark_schema)
        snapshot = max(past, key=lambda s: s.get("timestamp-ms", 0))
    else:
        snap_id = meta.get("current-snapshot-id")
        if snap_id is None or snap_id == -1 or not snapshots:
            return spark.createDataFrame([], spark_schema)
        snapshot = next(s for s in snapshots if s["snapshot-id"] == snap_id)

    # partition fields of the default spec: source column → (struct
    # key, transform, source type). Pruning maps the caller's
    # source-value filter THROUGH the transform (identity included), so
    # hidden-partitioned tables (days(ts), bucket(n, id), truncate)
    # prune at the manifest level exactly like identity ones.
    specs = meta.get("partition-specs") or []
    default_spec = next(
        (s for s in specs if s.get("spec-id") == meta.get("default-spec-id", 0)),
        specs[0] if specs else None,
    )
    field_types = {f["id"]: f["type"] for f in schema_json["fields"]}
    part_fields_by_col: dict[str, list[tuple[str, str, str]]] = {}
    for f in (default_spec or {}).get("fields", []):
        src_col = field_names.get(f.get("source-id"))
        src_type = field_types.get(f.get("source-id"))
        if src_col is not None and isinstance(src_type, str):
            from gcs2postgres_spark.sources.iceberg_transforms import (
                storage_transform,
            )

            # storage transform: identity on date/timestamp sources is
            # STORED as int days / long micros — compare through it
            part_fields_by_col.setdefault(src_col, []).append(
                (
                    f["name"],
                    storage_transform(f.get("transform", "identity"), src_type),
                    src_type,
                )
            )

    _allowed_cache: dict[tuple[str, str], set | None] = {}

    def _allowed_transformed(col: str, key: str, tr: str, styp: str) -> set | None:
        ck = (col, key)
        if ck not in _allowed_cache:
            from gcs2postgres_spark.sources.iceberg_transforms import (
                apply_transform,
            )

            try:
                _allowed_cache[ck] = {
                    apply_transform(tr, v, styp) for v in partition_filter[col]
                }
            except (NotImplementedError, ValueError, TypeError):
                _allowed_cache[ck] = None  # can't evaluate: never prune
        return _allowed_cache[ck]

    def _pruned(dfile: dict) -> bool:
        if not partition_filter:
            return False
        part = dfile.get("partition") or {}
        for col in partition_filter:
            for key, tr, styp in part_fields_by_col.get(col, ()):
                if key not in part:
                    continue  # no value recorded: keep (cannot prune)
                allowed = _allowed_transformed(col, key, tr, styp)
                if allowed is not None and part[key] not in allowed:
                    return True
        return False

    ids_by_name = {f["name"]: f["id"] for f in schema_json["fields"]}

    def _stats_pruned(dfile: dict) -> bool:
        if not stats_filter:
            return False
        return _stats_prune_dfile(dfile, stats_filter, ids_by_name, field_types)

    data_files: list[tuple[str, int]] = []  # (path, data sequence number)
    orc_paths: set[str] = set()  # ORC-format members of data_files
    avro_paths: set[str] = set()  # Avro-format members of data_files
    pos_deletes: list[tuple[str, int]] = []  # (path, seq)
    eq_deletes: list[tuple[str, int, tuple[int, ...]]] = []  # (path, seq, ids)
    # v3 deletion vectors: (puffin path, offset, size, seq, referenced file)
    dv_deletes: list[tuple[str, int, int, int, str]] = []
    first_rows: dict[str, int] = {}  # v3 row lineage: file -> first_row_id
    file_schema_id: dict[str, int] = {}  # data path -> manifest schema-id
    # data path -> manifest-EMBEDDED write-time schema (spec: manifests
    # store the schema they were written under in their header) — the
    # ground truth for id->write-time-name resolution, preferred over a
    # table-schemas lookup by id (a mutated-in-place schema list cannot
    # lie about what names the files actually store)
    file_schema_json: dict[str, dict] = {}
    part_by_file: dict[str, dict] = {}  # data path -> manifest partition dict
    _, manifests = read_avro_file(_resolve(snapshot["manifest-list"], table_path, location))
    for m in manifests:
        manifest_seq = m.get("sequence_number") or 0
        _, entries, m_fmeta = read_avro_file_meta(
            _resolve(m["manifest_path"], table_path, location)
        )
        m_sid: int | None = None
        m_schema: dict | None = None
        try:
            if "schema" in m_fmeta:
                m_schema = json.loads(m_fmeta["schema"])
            if "schema-id" in m_fmeta:
                m_sid = int(m_fmeta["schema-id"])
            elif m_schema is not None:
                m_sid = m_schema.get("schema-id")
        except (ValueError, TypeError):
            m_sid, m_schema = None, None
        for e in entries:
            if e["status"] == 2:  # DELETED
                continue
            dfile = e["data_file"]
            seq = e.get("sequence_number")
            if seq is None:
                seq = manifest_seq  # spec: inherit from the manifest entry
            content = dfile.get("content", 0)
            fmt = dfile["file_format"].lower()
            if fmt == "puffin" and content == 1 and dfile.get("referenced_data_file"):
                # v3 deletion vector: the manifest entry addresses the
                # blob directly (content_offset/content_size_in_bytes),
                # so the scan never parses the Puffin footer
                dv_deletes.append(
                    (
                        _resolve(dfile["file_path"], table_path, location),
                        int(dfile["content_offset"]),
                        int(dfile["content_size_in_bytes"]),
                        seq,
                        _norm_path(
                            _resolve(
                                dfile["referenced_data_file"], table_path, location
                            )
                        ),
                    )
                )
                continue
            if fmt not in ("parquet", "orc", "avro") or (
                fmt in ("orc", "avro") and content != 0
            ):
                # ORC (native Spark scan) and Avro (pure-Python codec,
                # avro_py) are supported for DATA files; non-parquet
                # DELETE files still need the runtime jar
                raise NotImplementedError(
                    f"iceberg {fmt} content={content} files: table {_JAR_HINT}"
                )
            path = _resolve(dfile["file_path"], table_path, location)
            if content == 0:
                if _pruned(dfile) or _stats_pruned(dfile):
                    continue
                data_files.append((path, seq))
                if dfile.get("partition"):
                    part_by_file[path] = dict(dfile["partition"])
                if m_sid is not None:
                    file_schema_id[path] = m_sid
                if m_schema is not None and isinstance(
                    m_schema.get("fields"), list
                ):
                    file_schema_json[path] = m_schema
                if dfile.get("first_row_id") is not None:
                    first_rows[_norm_path(path)] = int(dfile["first_row_id"])
                if fmt == "orc":
                    orc_paths.add(path)
                elif fmt == "avro":
                    avro_paths.add(path)
            elif content == 1:
                pos_deletes.append((path, seq))
            elif content == 2:
                ids = tuple(sorted(dfile.get("equality_ids") or ()))
                if not ids:
                    raise NotImplementedError(
                        f"iceberg equality delete without equality_ids: table {_JAR_HINT}"
                    )
                unknown = [i for i in ids if i not in field_paths]
                if unknown:
                    # spec alignment, not just a gap: the identifier-
                    # field rule (spec "Identifier Field IDs": fields
                    # "must not be nested in a map or list") exists
                    # because a row has MULTIPLE values at such a path —
                    # equality on it is ill-defined; no committer emits
                    # these ids, and refusing beats guessing semantics
                    raise NotImplementedError(
                        "iceberg equality delete on field ids with no "
                        f"stable row path (under arrays/maps) {unknown}: "
                        f"table {_JAR_HINT}"
                    )
                eq_deletes.append((path, seq, ids))
            else:
                raise NotImplementedError(
                    f"iceberg data_file content={content}: table {_JAR_HINT}"
                )

    if not data_files:
        return spark.createDataFrame([], spark_schema)
    paths = sorted({p for p, _ in data_files} - orc_paths - avro_paths)

    # Column resolution: BY FIELD ID when the file's write-time schema
    # is known (the spec's rule — a renamed column keeps its id, so
    # post-rename reads stay correct), BY NAME otherwise. Grouping is
    # metadata-first: every manifest this build writes stamps the
    # schema it was written under into its Avro header (the same facts
    # the Java writer records), so files group by recorded schema-id —
    # ZERO per-file footer opens at plan time, closing the serial
    # 10^5-file wall. Files from unstamped manifests (foreign/legacy
    # writers) fall back to the (name, id, physical-type) footer probe,
    # per file. One schema id (the overwhelmingly common case) means
    # exactly one scan — the pre-r10 plan.
    groups = (
        _schema_id_groups(paths, file_schema_id, meta, file_schema_json)
        if paths else []
    )
    need_tag = bool(pos_deletes or eq_deletes or dv_deletes) or _with_row_ids
    helpers = ["__ice_fp", "__ice_pos"] if need_tag else []
    parts = []

    def _project_to_table(df, idmap, fill=None):
        cols = []
        lower = {c.lower(): c for c in df.columns if c not in helpers}
        for fjson, field in zip(schema_json["fields"], spark_schema.fields):
            src = idmap.get(fjson["id"]) if idmap else None
            if src is None:
                src = lower.get(field.name.lower())
            if src is None and fill and fjson["id"] in fill:
                # identity partition value materialized from the
                # manifest tuple (the file lacks the source column —
                # migrated hive layouts, UniForm over partitioned
                # Delta); a Column means the file-index-join path
                # already recovered it per file. Temporal identities
                # are STORED as int days / long micros (spec partition
                # struct) — convert back to the declared type.
                val = fill[fjson["id"]]
                vcol = val if isinstance(val, Column) else F.lit(val)
                if fjson["type"] == "date":
                    vcol = F.date_from_unix_date(vcol.cast("int"))
                elif fjson["type"] in ("timestamp", "timestamptz"):
                    vcol = F.timestamp_micros(vcol.cast("long"))
                cols.append(vcol.cast(field.dataType).alias(field.name))
            elif src is None:
                cols.append(_missing_column_lit(fjson, field.dataType).alias(field.name))
            else:
                cols.append(F.col(src).cast(field.dataType).alias(field.name))
        return df.select(*cols, *helpers)

    def _tagged_scan(gpaths):
        df = spark.read.parquet(*gpaths)
        if need_tag:
            df = df.select(
                "*",
                F.regexp_replace(F.col("_metadata.file_path"), r"^file:(//)?", "").alias(
                    "__ice_fp"
                ),
                F.col("_metadata.row_index").alias("__ice_pos"),
            )
        return df

    # identity partition fields whose SOURCE column a data file may
    # LACK (UniForm over partitioned Delta; hive-migrated layouts):
    # when a group's recorded schema omits the source field, its value
    # materializes from the manifest partition tuple — the same
    # metadata-valued read the Java implementation performs for
    # migrated tables. Simple-typed sources only; anything else keeps
    # the NULL fallback. Native tables (files retain the column) never
    # enter this branch, so their plans are untouched.
    identity_srcs = {
        f.get("source-id"): f["name"]
        for f in (default_spec or {}).get("fields", [])
        if f.get("transform", "identity") == "identity"
    }
    _FILLABLE = {
        "int", "long", "string", "boolean", "float", "double",
        "date", "timestamp", "timestamptz",
    }

    def _fillable(t) -> bool:
        # decimal identity partitions fill too: manifests store them as
        # avro decimal logical values, decoded back to Decimal (exact)
        return isinstance(t, str) and (
            t in _FILLABLE or bool(re.match(r"decimal\(\d+,\s*\d+\)", t))
        )

    for idmap, gpaths in groups:
        fills_needed = (
            [
                fj for fj in schema_json["fields"]
                if fj["id"] in identity_srcs
                and idmap is not None
                and fj["id"] not in idmap
                and _fillable(fj["type"])
            ]
            if idmap is not None
            else []
        )
        if fills_needed and any(part_by_file.get(p) for p in gpaths):
            by_tuple: dict[tuple, list[str]] = {}
            for p in gpaths:
                pv = part_by_file.get(p) or {}
                key = tuple(
                    pv.get(identity_srcs[fj["id"]]) for fj in fills_needed
                )
                by_tuple.setdefault(key, []).append(p)
            if len(by_tuple) > _MAX_UNION_ARMS:
                # HIGH-CARDINALITY partitioning: the per-tuple
                # literal-union plan explodes Catalyst analysis
                # superlinearly in arm count (the delta scan documents
                # the same wall at _scan_file_index), so above the
                # threshold switch to ONE multi-path scan + a broadcast
                # file->partition-value map join — O(1) in partition
                # count, one map row per live data file (metadata the
                # manifest walk already holds)
                parts.append(
                    _fills_file_index(
                        spark, by_tuple, fills_needed, idmap, need_tag,
                        _project_to_table,
                    )
                )
                continue
            # LOW cardinality: one scan per (group x partition tuple),
            # typed literals injected — partition-column filters then
            # fold at plan time and eliminate whole arms (zero I/O),
            # which the join form cannot do
            for key in sorted(by_tuple, key=str):
                fill = {
                    fj["id"]: v for fj, v in zip(fills_needed, key)
                }
                parts.append(
                    _project_to_table(
                        _tagged_scan(sorted(by_tuple[key])), idmap, fill
                    )
                )
            continue
        parts.append(_project_to_table(_tagged_scan(gpaths), idmap))
    if orc_paths:
        # ORC data files. pyarrow cannot probe iceberg field ids from
        # ORC column attributes, but the MANIFEST STAMP records each
        # file's write-time schema id (r16) — so ORC files group by
        # recorded schema-id exactly like parquet, and the stamped
        # schema's {id: write-time name} map gives ID-based resolution:
        # a column RENAME during an ORC era reads correctly (file
        # columns carry write-time names; the id ties them to the
        # current name). Files from unstamped (foreign/legacy)
        # manifests keep the documented name-resolved fallback.
        # Without deletes/row-ids: one native distributed ORC scan per
        # schema-id group (DataFrameReader.orc takes a LIST — its
        # second positional is mergeSchema, unlike parquet's *paths).
        # With row-level deletes the scan needs a per-row position
        # identity Spark's ORC reader does not expose
        # (_metadata.row_index is parquet-only), so those files decode
        # executor-side via pyarrow.orc with explicit ordinals — the
        # same binaryFile-per-file shape the Avro decoder uses.
        for sid_idmap, gpaths in _sid_groups(
            orc_paths, file_schema_id, meta, file_schema_json
        ):
            if need_tag:
                for o_idmap, odf in _scan_orc_groups(spark, gpaths, need_tag):
                    parts.append(_project_to_table(odf, o_idmap or sid_idmap))
            else:
                parts.append(
                    _project_to_table(spark.read.orc(gpaths), sid_idmap)
                )
    if avro_paths:
        # Avro data files: pure-Python decode (avro_py codec) over
        # binaryFile — per-file tasks, FIELD-ID resolved when the avro
        # schema carries the spec's "field-id" attributes; files
        # WITHOUT embedded ids fall back to the manifest's schema-id
        # stamp (r16 — same rename-safe resolution ORC gets), then to
        # names. Row-level deletes are fully supported: the decoder
        # emits each record's exact ordinal in its container file,
        # which IS the spec's row position — the identity
        # _metadata.row_index provides for parquet.
        for sid_idmap, gpaths in _sid_groups(
            avro_paths, file_schema_id, meta, file_schema_json
        ):
            for a_idmap, adf in _scan_avro_groups(spark, gpaths, need_tag):
                parts.append(_project_to_table(adf, a_idmap or sid_idmap))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)

    if pos_deletes or eq_deletes or dv_deletes:
        df = _apply_v2_deletes(
            spark, df, data_files, pos_deletes, eq_deletes, field_paths,
            pretagged=True, dv_deletes=dv_deletes,
        )
    if _with_row_ids:
        # v3 row lineage: _row_id = file first_row_id + physical row
        # index (broadcast map join, one row per live file — metadata).
        # Stable across DV deletes: surviving rows keep their physical
        # index. Pre-lineage files yield NULL ids (spec: unassigned).
        fr = spark.createDataFrame(
            [(fp, rid) for fp, rid in sorted(first_rows.items())] or
            [("", None)],
            "__fr_fp string, __fr_base long",
        )
        df = df.join(
            F.broadcast(fr), df["__ice_fp"] == fr["__fr_fp"], "left"
        ).withColumn("_row_id", F.col("__fr_base") + F.col("__ice_pos"))
        return df.select(*[f.name for f in spark_schema.fields], "_row_id")
    return df.select(*[f.name for f in spark_schema.fields])


def read_iceberg_with_row_ids(spark: SparkSession, table_path: str) -> DataFrame:
    """Read a v3 row-lineage table WITH its ``_row_id`` metadata column
    (spec: ``first_row_id + physical position`` — the delta twin is
    read_delta_with_row_ids). Files committed before lineage was
    enabled read NULL ids."""
    return read_iceberg_py(spark, table_path, _with_row_ids=True)


# Above this many distinct partition TUPLES, the per-tuple literal-union
# plan in read_iceberg_py's fills branch is replaced by ONE multi-path
# scan + a broadcast file->partition-value map join: Catalyst's analysis
# cost grows superlinearly in union arms, so a 10^3-10^4-partition
# UniForm/migrated-hive table would explode the PLAN long before any
# I/O. Below it, literal injection is kept — partition-column filters
# then fold at plan time and eliminate whole arms (zero I/O). Same
# threshold and rationale as the delta scan's _MAX_UNION_ARMS
# (sources/delta_py.py).
_MAX_UNION_ARMS = 32


def _sid_groups(
    paths: set[str] | list[str],
    file_schema_id: dict[str, int],
    meta: dict,
    file_schema_json: dict[str, dict] | None = None,
) -> list[tuple[dict[int, str] | None, list[str]]]:
    """Group ORC/Avro data paths by their manifest-recorded write-time
    schema and return [(id->write-time-name map or None, paths)] — the
    non-parquet twin of _schema_id_groups' stamped branch. The map
    gives ID-based column resolution (a rename keeps the id, so
    post-rename reads stay correct) without any per-file footer
    metadata. The manifest-EMBEDDED schema is preferred over the
    table-schemas-by-id lookup (ground truth of the files' names);
    unstamped files get None (name-resolved fallback)."""
    sbi = {s.get("schema-id", 0): s for s in (meta.get("schemas") or [])}
    if "schema" in meta and not sbi:
        sbi[0] = meta["schema"]
    emb: dict[str, list[str]] = {}
    by_sid: dict[int | None, list[str]] = {}
    for p in sorted(paths):
        es = (file_schema_json or {}).get(p)
        if es is not None:
            emb.setdefault(json.dumps(es, sort_keys=True), []).append(p)
            continue
        s = file_schema_id.get(p)
        by_sid.setdefault(s if s in sbi else None, []).append(p)
    out: list[tuple[dict[int, str] | None, list[str]]] = []
    for kj in sorted(emb):
        idmap = {
            f["id"]: f["name"]
            for f in json.loads(kj).get("fields", [])
            if f.get("id") is not None
        }
        out.append((idmap or None, emb[kj]))
    for s in sorted(by_sid, key=lambda x: (x is None, x or 0)):
        idmap = (
            ({f["id"]: f["name"] for f in sbi[s].get("fields", [])} or None)
            if s is not None
            else None
        )
        out.append((idmap, by_sid[s]))
    return out


def _fills_file_index(
    spark: SparkSession,
    by_tuple: dict[tuple, list[str]],
    fills_needed: list[dict],
    idmap: dict[int, str] | None,
    need_tag: bool,
    _project_to_table,
) -> DataFrame:
    """File-index scan for HIGH-CARDINALITY identity partitioning when
    the data files LACK the partition source columns (UniForm over
    partitioned Delta; migrated hive layouts): one
    ``spark.read.parquet(*all_files)`` over every live file, partition
    values recovered by broadcast-joining a (file_path -> partition
    tuple) map derived from the manifests — one map row per data file,
    the same metadata bound the manifest walk already materialized.
    The plan is O(1) in partition count; delta-spark's TahoeFileIndex
    scan (and this repo's delta twin, _scan_file_index) has the same
    shape."""
    from pyspark.sql.types import StringType, StructField
    from pyspark.sql.types import StructType as _St

    map_rows = []
    all_paths: list[str] = []
    for key, paths in by_tuple.items():
        svals = tuple(None if v is None else str(v) for v in key)
        for p in paths:
            all_paths.append(p)
            norm = _norm_path(p)
            if not fsio.has_scheme(norm):
                # Spark's _metadata.file_path is always absolute; a
                # relative table_path (or a _resolve rebase) would
                # otherwise make the inner join drop every row — the
                # delta twin (_scan_file_index, delta_py.py) applies
                # the same abspath for the same reason.
                norm = os.path.abspath(norm)
            map_rows.append((norm, *svals))
    pmap = F.broadcast(
        spark.createDataFrame(
            map_rows,
            _St(
                [StructField("__fill_fp", StringType(), False)]
                + [
                    StructField(f"__fill_{fj['id']}", StringType(), True)
                    for fj in fills_needed
                ]
            ),
        )
    )
    df = spark.read.parquet(*sorted(all_paths)).select(
        "*",
        F.regexp_replace(
            F.col("_metadata.file_path"), r"^file:(//)?", ""
        ).alias("__ice_fp"),
        *(
            [F.col("_metadata.row_index").alias("__ice_pos")]
            if need_tag
            else []
        ),
    )
    df = df.join(pmap, df["__ice_fp"] == pmap["__fill_fp"], "inner").drop(
        "__fill_fp"
    )
    fill = {
        fj["id"]: F.col(f"__fill_{fj['id']}") for fj in fills_needed
    }
    return _project_to_table(df, idmap, fill)


def _schema_id_groups(
    paths: list[str],
    file_schema_id: dict[str, int],
    meta: dict,
    file_schema_json: dict[str, dict] | None = None,
) -> list[tuple[dict[int, str] | None, list[str]]]:
    """Scan groups from manifest-recorded schema ids — metadata already
    in hand from the manifest walk, no footer IO: all files recorded by
    manifests stamped schema-id S share S's (name, id, type) signature
    (a schema change always lands in a NEW manifest), so each recorded
    id becomes one group with its id->name map. The manifest-EMBEDDED
    write-time schema (``file_schema_json``) is preferred over the
    table-schemas-by-id lookup — it is the ground truth of what names
    the files store (a schemas entry mutated in place by a foreign tool
    cannot desync it). Unstamped files keep the footer-probe path."""
    schemas_by_id = {
        s.get("schema-id", 0): s for s in (meta.get("schemas") or [])
    }
    if "schema" in meta and not schemas_by_id:  # v1 single-schema table
        schemas_by_id[0] = meta["schema"]
    emb: dict[str, list[str]] = {}  # canonical embedded schema -> paths
    by_sid: dict[int, list[str]] = {}
    probe: list[str] = []
    for p in paths:
        es = (file_schema_json or {}).get(p)
        s = file_schema_id.get(p)
        if es is not None:
            emb.setdefault(json.dumps(es, sort_keys=True), []).append(p)
        elif s is not None and s in schemas_by_id:
            by_sid.setdefault(s, []).append(p)
        else:
            probe.append(p)
    out: list[tuple[dict[int, str] | None, list[str]]] = []
    for kj in sorted(emb):
        idmap = {
            f["id"]: f["name"]
            for f in json.loads(kj).get("fields", [])
            if f.get("id") is not None
        }
        out.append((idmap or None, sorted(emb[kj])))
    for s in sorted(by_sid):
        idmap = {
            f["id"]: f["name"] for f in schemas_by_id[s].get("fields", [])
        }
        out.append((idmap or None, sorted(by_sid[s])))
    if probe:
        out.extend(_group_by_field_ids(sorted(probe), _name_mapping_ids(meta)))
    return out


def _group_by_field_ids(
    paths: list[str], name_to_id: dict[str, int] | None = None
) -> list[tuple[dict[int, str] | None, list[str]]]:
    """Group parquet paths by their top-level (column name, field id,
    physical type) footer signature; returns [(id->name map or None,
    paths)]. Files written without ids resolve by name within their
    group — unless the table carries a ``schema.name-mapping.default``
    (``name_to_id``), whose mapping supplies the missing ids (the spec's
    rule for files with no embedded ids). ANY probe failure collapses to
    one name-resolved group — the conservative pre-field-id behavior
    (which also forfeits mixed-width type-promotion reads, hence
    probe-first)."""
    try:
        import pyarrow.parquet as pq

        sig_of: dict[tuple, list[str]] = {}
        for p in sorted(paths):
            sch = pq.ParquetFile(p).schema_arrow
            sig = []
            for f in sch:
                md = f.metadata or {}
                fid = md.get(b"PARQUET:field_id")
                if fid is None and name_to_id:
                    fid = name_to_id.get(f.name)
                # physical type joins the signature: after a TYPE
                # PROMOTION (int->long, float->double) old and new files
                # differ in width, and one mixed scan would fail with
                # PARQUET_COLUMN_DATA_TYPE_MISMATCH — separate groups
                # each scan type-consistently, then the per-column cast
                # to the table type unifies them
                sig.append(
                    (f.name, int(fid) if fid is not None else None, str(f.type))
                )
            sig_of.setdefault(tuple(sig), []).append(p)
    except Exception:  # noqa: BLE001 — probe is an optimization; any
        # failure (remote scheme, exotic footer) degrades to name-based
        return [(None, sorted(paths))]
    out: list[tuple[dict[int, str] | None, list[str]]] = []
    for sig, gpaths in sorted(sig_of.items()):
        idmap = {fid: name for name, fid, _typ in sig if fid is not None}
        out.append((idmap or None, gpaths))
    # NOTE: id-less groups are NOT collapsed together — after a type
    # promotion their physical widths differ and a merged scan fails;
    # each signature group scans consistently and casts to table types
    return out


def _scan_orc_groups(
    spark: SparkSession, paths: list[str], need_tag: bool
) -> list[tuple[dict[int, str] | None, DataFrame]]:
    """Distributed scan of Iceberg ORC data files WITH per-row position
    identity (``__ice_fp``/``__ice_pos``) — the shape row-level deletes
    need. Spark's native ORC reader exposes no ``_metadata.row_index``
    (parquet-only), so each file decodes executor-side via pyarrow.orc
    over binaryFile, emitting every record's ordinal within its
    container file — exactly the spec's row position (the same pattern
    the Avro decoder uses, _scan_avro_groups). One driver-side
    schema-footer read per file (BOUNDED ranged reads on remote
    schemes) groups files by arrow-schema signature; this function
    returns idmap None (pyarrow surfaces no iceberg field ids from ORC
    column attributes) — CALLERS overlay the manifest's stamped
    write-time schema (_sid_groups) so renames still resolve by id.

    Scale shape: per-file tasks; decode is pyarrow (Arrow-native, no
    per-row Python) and only this table's ORC-era files under deletes
    pay it — delete-free ORC groups keep the native Spark scan."""
    from pyspark.sql.pandas.types import from_arrow_schema

    import pyarrow.orc as _orc

    sig_schema: dict[tuple, object] = {}
    sig_paths: dict[tuple, list[str]] = {}
    for p in paths:
        if fsio.has_scheme(p):
            # BOUNDED probe: the ORC reader pulls only the byte ranges
            # it touches for .schema (postscript + footer, KB-scale)
            # through ranged reads — never the whole object to the
            # driver (at 10^4 remote files a full-object fetch per file
            # is the serial plan-time wall the parquet schema-id-group
            # work eliminated)
            sch = _orc.ORCFile(fsio.RangeReader(p)).schema
        else:
            sch = _orc.ORCFile(p).schema
        sig = tuple((f.name, str(f.type)) for f in sch)
        sig_schema[sig] = sch
        sig_paths.setdefault(sig, []).append(p)

    out: list[tuple[dict[int, str] | None, DataFrame]] = []
    for sig in sorted(sig_paths):
        gpaths = sorted(sig_paths[sig])
        spark_t = from_arrow_schema(sig_schema[sig])
        out_schema = T.StructType(list(spark_t.fields))
        if need_tag:
            out_schema = out_schema.add("__ice_fp", T.StringType()).add(
                "__ice_pos", T.LongType()
            )

        def decode(batches, _tag=need_tag):
            import io as _io
            import re as _re

            from pyarrow import orc as _o

            for pdf in batches:
                for pth, blob in zip(pdf["path"], pdf["content"]):
                    tbl = _o.ORCFile(_io.BytesIO(bytes(blob))).read()
                    g = tbl.to_pandas()
                    if _tag:
                        g["__ice_fp"] = _re.sub(r"^file:(//)?", "", pth)
                        g["__ice_pos"] = range(len(g))
                    if len(g):
                        yield g

        binary = spark.read.format("binaryFile").load(gpaths).select(
            "path", "content"
        )
        out.append((None, binary.mapInPandas(decode, schema=out_schema)))
    return out


def _scan_avro_groups(
    spark: SparkSession, paths: list[str], need_tag: bool
) -> list[tuple[dict[int, str] | None, DataFrame]]:
    """Distributed scan of Iceberg AVRO data files with the jar-less
    pure-Python codec (avro_py): one driver-side HEADER read per file
    (metadata-bounded, the same O(files) class as the manifest walk)
    groups files by their (name, field-id, type) schema signature —
    mirroring _group_by_field_ids for parquet — then each group decodes
    executor-side via binaryFile + mapInArrow, one RecordBatch per Avro
    block. Iceberg avro schemas carry the spec's "field-id" attribute
    per field, so the returned idmap gives the reader id-based
    resolution (post-rename reads stay correct — better than the ORC
    fallback, whose native scan is name-only).

    ``need_tag`` adds ``__ice_fp``/``__ice_pos``: the decoder emits
    each record's ordinal within its container file, counted across its
    blocks, which is exactly the spec's row position, so position
    deletes apply to avro data files with the same fidelity parquet
    gets from _metadata.row_index.

    Scale shape: per-file tasks (the standard many-part-file layout);
    decode is Python (the price of the missing jar) into Arrow batches,
    and only this table's avro-era files pay it — parquet/ORC groups in
    the same table keep their native scans.
    """
    import sys as _sys

    from pyspark import cloudpickle as _cp
    from pyspark.sql.pandas.types import to_arrow_schema

    from gcs2postgres_spark.sources import avro_py as _avro

    # executor workers don't have the package on sys.path: ship the
    # whole decode call graph by value (same reasoning as avro_py's own
    # distributed reader)
    _cp.register_pickle_by_value(_sys.modules[_avro.__name__])

    sig_schema: dict[tuple, dict] = {}
    sig_paths: dict[tuple, list[str]] = {}
    for p in paths:
        if fsio.has_scheme(p):
            # BOUNDED probe: the grow-loop reads the 64 KiB header
            # block (doubling only for outsized schema JSON) through
            # ranged reads — never the whole object to the driver
            schema = _avro._read_header_grow(fsio.RangeReader(p))[0]
        else:
            with open(p, "rb") as f:
                schema = _avro._read_header_grow(f)[0]
        sig = tuple(
            (fld["name"], fld.get("field-id"), json.dumps(fld["type"], sort_keys=True))
            for fld in (schema.get("fields") or [])
        )
        sig_schema[sig] = schema
        sig_paths.setdefault(sig, []).append(p)

    out: list[tuple[dict[int, str] | None, DataFrame]] = []
    for sig in sorted(sig_paths):
        schema = sig_schema[sig]
        gpaths = sorted(sig_paths[sig])
        spark_t = _avro.avro_to_spark_type(schema)
        if not isinstance(spark_t, T.StructType):
            raise ValueError("iceberg avro data file schema must be a record")
        out_schema = T.StructType(list(spark_t.fields))
        if need_tag:
            out_schema = out_schema.add("__ice_fp", T.StringType()).add(
                "__ice_pos", T.LongType()
            )
        def decode(
            batches,
            _tag=need_tag,
            _data=to_arrow_schema(spark_t),
            _out=to_arrow_schema(out_schema),
            _batches=_avro._arrow_batches,
            _to_arrow=_avro._to_arrow,
        ):
            import re as _re

            import pyarrow as pa

            builders: dict = {}
            for batch in batches:
                for pth, blob in zip(batch.column(0).to_pylist(), batch.column(1)):
                    buf = blob.as_buffer()
                    fp = _re.sub(r"^file:(//)?", "", pth).encode()
                    pos = 0
                    for rb in _batches(pa.BufferReader(buf), buf.size, _data, builders):
                        if _tag:
                            n = rb.num_rows
                            tags = [
                                _to_arrow([fp] * n, [], "bytes", None, pa.string()),
                                _to_arrow(range(pos, pos + n), [], "int", None, pa.int64()),
                            ]
                            rb = pa.RecordBatch.from_arrays(rb.columns + tags, schema=_out)
                            pos += n
                        yield rb

        binary = spark.read.format("binaryFile").load(gpaths).select("path", "content")
        adf = binary.mapInArrow(decode, schema=out_schema)
        idmap = {
            fld["field-id"]: fld["name"]
            for fld in (schema.get("fields") or [])
            if fld.get("field-id") is not None
        }
        out.append((idmap or None, adf))
    return out


def _apply_v2_deletes(
    spark: SparkSession,
    df: DataFrame,
    data_files: list[tuple[str, int]],
    pos_deletes: list[tuple[str, int]],
    eq_deletes: list[tuple[str, int, tuple[int, ...]]],
    field_names: dict[int, str],
    pretagged: bool = False,
    dv_deletes: list[tuple[str, int, int, int, str]] | None = None,
) -> DataFrame:
    """Apply v2 delete files to a data scan as anti-joins.

    The scan is tagged with ``_metadata.file_path`` / ``row_index`` plus
    its file's data sequence number (broadcast map join — the file list
    is metadata-sized, O(#files), never row data); ``pretagged=True``
    means the caller already added ``__ice_fp``/``__ice_pos`` (the read
    path tags before its per-group field-id projection). Delete files
    are grouped by sequence number (and by equality-id set) so each
    group is ONE distributed parquet read, and each group contributes
    one anti-join; Catalyst/AQE picks broadcast vs shuffle per
    delete-side size. No row data ever transits the driver. Equality-
    delete FILE columns resolve by field id when their footers carry
    ids (post-rename delete files), by the table name otherwise.

    ``dv_deletes`` (Iceberg v3): deletion-vector entries as
    ``(puffin path, content_offset, content_size_in_bytes, seq,
    referenced data file)``. The descriptor frame is metadata-sized
    (one row per DV'd file); the roaring DECODE runs on executors via
    mapInPandas (sources/puffin.py) and the expanded (file, pos) pairs
    anti-join exactly like position deletes (``dv_seq >= data_seq``).
    Applying a DV alongside superseded older position deletes is
    correct by the spec's superset rule (a replacement DV must contain
    every previously deleted position), and anti-joins are idempotent."""
    data_cols = [c for c in df.columns if c not in ("__ice_fp", "__ice_pos")]
    if not pretagged:
        df = df.select(
            "*",
            F.regexp_replace(F.col("_metadata.file_path"), r"^file:(//)?", "").alias("__ice_fp"),
            F.col("_metadata.row_index").alias("__ice_pos"),
        )
    seq_df = spark.createDataFrame(
        [(_norm_path(p), s) for p, s in data_files], "__ice_seq_fp string, __ice_seq long"
    )
    df = df.join(
        F.broadcast(seq_df), df["__ice_fp"] == seq_df["__ice_seq_fp"], "left"
    ).drop("__ice_seq_fp")

    # position deletes, grouped by delete sequence number
    by_seq: dict[int, list[str]] = {}
    for p, s in pos_deletes:
        by_seq.setdefault(s, []).append(p)
    for del_seq, paths in sorted(by_seq.items()):
        dels = (
            spark.read.parquet(*sorted(paths))
            .select(
                F.regexp_replace(F.col("file_path"), r"^file:(//)?", "").alias("__del_fp"),
                F.col("pos").cast("long").alias("__del_pos"),
            )
        )
        cond = (
            (df["__ice_fp"] == dels["__del_fp"])
            & (df["__ice_pos"] == dels["__del_pos"])
            & (F.lit(del_seq) >= df["__ice_seq"])
        )
        df = df.join(dels, cond, "left_anti")

    # v3 deletion vectors, grouped by sequence number: executor-side
    # puffin decode (one descriptor row per DV'd file), then the same
    # position anti-join
    dv_by_seq: dict[int, list[tuple[str, int, int, str]]] = {}
    for p, off, sz, s, ref in dv_deletes or ():
        dv_by_seq.setdefault(s, []).append((p, off, sz, ref))
    for del_seq, descs in sorted(dv_by_seq.items()):
        dels = _decode_dvs_df(spark, descs).select(
            F.col("file_path").alias("__del_fp"),
            F.col("pos").alias("__del_pos"),
        )
        cond = (
            (df["__ice_fp"] == dels["__del_fp"])
            & (df["__ice_pos"] == dels["__del_pos"])
            & (F.lit(del_seq) >= df["__ice_seq"])
        )
        df = df.join(dels, cond, "left_anti")

    # equality deletes, grouped by (equality-id set, sequence number)
    by_key: dict[tuple[tuple[int, ...], int], list[str]] = {}
    for p, s, ids in eq_deletes:
        by_key.setdefault((ids, s), []).append(p)
    for (ids, del_seq), paths in sorted(by_key.items()):
        try:
            names = [field_names[i] for i in ids]
        except KeyError as e:
            # the caller's field map has no row path for this id —
            # nested-struct ids are supported on the READ path (its map
            # carries dotted paths); anything else refuses
            raise NotImplementedError(
                f"equality delete on unresolvable field id {e}: "
                f"table {_JAR_HINT}"
            ) from None
        flat = [n.replace(".", "__") for n in names]
        # delete files written under DIFFERENT schemas (mixed footer
        # signatures) each get their own type-consistent scan + join —
        # the union of per-group anti-joins equals one mixed join
        for del_idmap, gpaths in _group_by_field_ids(sorted(paths)):
            src_names = [
                (del_idmap or {}).get(i, names[j]) for j, i in enumerate(ids)
            ]
            dels = spark.read.parquet(*sorted(gpaths)).select(
                *[
                    F.col(s_).alias(f"__del_{n}")
                    for s_, n in zip(src_names, flat)
                ]
            )
            cond = F.lit(del_seq) > df["__ice_seq"]
            for n, fn in zip(names, flat):
                cond = cond & df[n].eqNullSafe(dels[f"__del_{fn}"])
            df = df.join(dels, cond, "left_anti")

    # pretagged callers keep their identity helpers (they project last);
    # the legacy path returns exactly the caller's columns
    return df if pretagged else df.select(*data_cols)


# ------------------------------------------------------------ fixture writer

# Spec-shaped Avro schemas (v1 required fields only; readers resolve by
# name so optional stats columns may be absent). field-id attributes
# match the spec's manifest/manifest-list tables.
MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": "long", "field-id": 1},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                    {"name": "block_size_in_bytes", "type": "long", "field-id": 105},
                ],
            },
        },
    ],
}

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "added_snapshot_id", "type": ["null", "long"], "field-id": 503},
    ],
}


# v2 additions: entry-level sequence numbers, data_file.content
# (0 data / 1 position deletes / 2 equality deletes), equality_ids.
MANIFEST_ENTRY_SCHEMA_V2 = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"], "field-id": 4},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int"}],
                        "field-id": 135,
                    },
                    # column stats for planning-time file skipping (spec
                    # field ids 110/125/128): avro kv-record maps keyed
                    # by FIELD ID, values in single-value binary form
                    {
                        "name": "null_value_counts",
                        "type": ["null", {
                            "type": "array", "logicalType": "map",
                            "items": {
                                "type": "record", "name": "k121_v122",
                                "fields": [
                                    {"name": "key", "type": "int", "field-id": 121},
                                    {"name": "value", "type": "long", "field-id": 122},
                                ],
                            },
                        }],
                        "field-id": 110,
                    },
                    {
                        "name": "lower_bounds",
                        "type": ["null", {
                            "type": "array", "logicalType": "map",
                            "items": {
                                "type": "record", "name": "k126_v127",
                                "fields": [
                                    {"name": "key", "type": "int", "field-id": 126},
                                    {"name": "value", "type": "bytes", "field-id": 127},
                                ],
                            },
                        }],
                        "field-id": 125,
                    },
                    {
                        "name": "upper_bounds",
                        "type": ["null", {
                            "type": "array", "logicalType": "map",
                            "items": {
                                "type": "record", "name": "k129_v130",
                                "fields": [
                                    {"name": "key", "type": "int", "field-id": 129},
                                    {"name": "value", "type": "bytes", "field-id": 130},
                                ],
                            },
                        }],
                        "field-id": 128,
                    },
                    # v3 row lineage: the file's first assigned row id
                    # (spec field id 142); null on v2 entries and on
                    # pre-upgrade files (their rows read NULL _row_id)
                    {
                        "name": "first_row_id",
                        "type": ["null", "long"],
                        "field-id": 142,
                    },
                    # v3 deletion-vector addressing (spec field ids
                    # 143-145): present only on content=1 PUFFIN entries;
                    # nullable so v2 entries encode them as null
                    {
                        "name": "referenced_data_file",
                        "type": ["null", "string"],
                        "field-id": 143,
                    },
                    {
                        "name": "content_offset",
                        "type": ["null", "long"],
                        "field-id": 144,
                    },
                    {
                        "name": "content_size_in_bytes",
                        "type": ["null", "long"],
                        "field-id": 145,
                    },
                ],
            },
        },
    ],
}

MANIFEST_LIST_SCHEMA_V2 = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": ["null", "long"], "field-id": 503},
    ],
}


def data_file_entry(path: str, status: int = 1, snapshot_id: int = 1) -> dict:
    """Manifest entry for one parquet/ORC/Avro file (format from the
    file extension); record_count comes from file METADATA (parquet/ORC
    footer, avro block headers) — no data rows on the driver."""
    if path.endswith(".orc"):
        import pyarrow.orc as _orc

        fmt, nrows = "ORC", _orc.ORCFile(path).nrows
    elif path.endswith(".avro"):
        from gcs2postgres_spark.sources.avro_py import avro_row_count

        fmt, nrows = "AVRO", avro_row_count(path)
    else:
        fmt, nrows = "PARQUET", file_stats.footer(path).num_rows
    return {
        "status": status,
        "snapshot_id": snapshot_id,
        "data_file": {
            "file_path": fsio.absolute(path),
            "file_format": fmt,
            "partition": {},
            "record_count": nrows,
            "file_size_in_bytes": fsio.size(path),
            "block_size_in_bytes": 64 * 1024 * 1024,
        },
    }


def write_snapshot_metadata(
    table_path: str,
    schema: T.StructType,
    snapshots: list[dict],
    current_snapshot_id: int,
    version: int = 1,
    partition_spec_fields: list[dict] | None = None,
) -> str:
    """v1 metadata JSON + version-hint.text for a hand-rolled table.
    ``snapshots``: [{"snapshot-id": n, "manifest-list": path,
    "timestamp-ms": optional}]. ``partition_spec_fields``: Iceberg
    partition-spec field dicts ({name, transform, source-id, field-id})
    for a partitioned table; default unpartitioned."""
    mdir = os.path.join(table_path, "metadata")
    fsio.makedirs(mdir)
    spec_fields = partition_spec_fields or []
    meta = {
        "format-version": 1,
        "table-uuid": "00000000-0000-0000-0000-000000000000",
        "location": fsio.absolute(table_path),
        "last-updated-ms": 0,
        "last-column-id": len(schema.fields),
        "schema": spark_to_iceberg_schema(schema),
        "partition-spec": spec_fields,
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "properties": {},
        "current-snapshot-id": current_snapshot_id,
        "snapshots": [
            {
                "snapshot-id": s["snapshot-id"],
                "timestamp-ms": s.get("timestamp-ms", 0),
                "summary": {"operation": "append"},
                "manifest-list": fsio.absolute(s["manifest-list"]),
            }
            for s in snapshots
        ],
    }
    out = os.path.join(mdir, f"v{version}.metadata.json")
    _write_json_atomic(out, meta)
    _write_text_atomic(os.path.join(mdir, "version-hint.text"), str(version))
    return out


def write_manifest(path: str, entries: list[dict]) -> None:
    write_avro_file(path, MANIFEST_ENTRY_SCHEMA, entries, codec="null")


def write_manifest_list(path: str, manifest_paths: list[str], snapshot_id: int) -> None:
    write_avro_file(
        path,
        MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": fsio.absolute(p),
                "manifest_length": fsio.size(p),
                "partition_spec_id": 0,
                "added_snapshot_id": snapshot_id,
            }
            for p in manifest_paths
        ],
        codec="null",
    )


def manifest_entry_schema_v2(partition_fields: list[tuple[str, str]]) -> dict:
    """MANIFEST_ENTRY_SCHEMA_V2 with a TYPED partition struct: each
    (name, avro_prim) pair becomes a nullable field (field-ids 1000+i,
    matching the table partition spec) — the metadata surface a
    partition-aware scan planner (and read_iceberg_py's
    ``partition_filter``) prunes on. Empty list = the unpartitioned
    schema unchanged."""
    if not partition_fields:
        return MANIFEST_ENTRY_SCHEMA_V2
    schema = json.loads(json.dumps(MANIFEST_ENTRY_SCHEMA_V2))  # deep copy
    part = next(
        f for f in schema["fields"][4]["type"]["fields"] if f["name"] == "partition"
    )
    part["type"]["fields"] = [
        {"name": n, "type": ["null", t], "field-id": 1000 + i}
        for i, (n, t) in enumerate(partition_fields)
    ]
    return schema


def _bound_encode(v, t: str) -> bytes | None:
    """Spec single-value BINARY serialization (Appendix D) for manifest
    lower/upper bounds — little-endian fixed widths, UTF-8 strings."""
    import datetime as _dt
    import struct as _st

    try:
        if t == "boolean":
            return b"\x01" if v else b"\x00"
        if t == "int":
            return _st.pack("<i", int(v))
        if t == "long":
            return _st.pack("<q", int(v))
        if t == "float":
            return _st.pack("<f", float(v))
        if t == "double":
            return _st.pack("<d", float(v))
        if t == "date":
            days = (v - _dt.date(1970, 1, 1)).days if isinstance(v, _dt.date) else int(v)
            return _st.pack("<i", days)
        if t in ("timestamp", "timestamptz"):
            if isinstance(v, _dt.datetime):
                if v.tzinfo is None:
                    v = v.replace(tzinfo=_dt.timezone.utc)
                micros = int(v.timestamp() * 1_000_000)
            else:
                micros = int(v)
            return _st.pack("<q", micros)
        if t == "string":
            return str(v).encode("utf-8")
    except (ValueError, TypeError, OverflowError):
        return None
    return None


def _bound_decode(b: bytes, t: str):
    """Inverse of _bound_encode; returns a COMPARABLE value (temporal
    types come back as their storage integers — callers compare filter
    values passed through the same storage transform)."""
    import struct as _st

    if t == "boolean":
        return b != b"\x00"
    if t in ("int", "date"):
        return _st.unpack("<i", b)[0]
    if t in ("long", "timestamp", "timestamptz"):
        return _st.unpack("<q", b)[0]
    if t == "float":
        return _st.unpack("<f", b)[0]
    if t == "double":
        return _st.unpack("<d", b)[0]
    if t == "string":
        return b.decode("utf-8")
    return None


def _stats_prune_dfile(
    dfile: dict,
    stats_filter: dict[str, tuple],
    ids_by_name: dict[str, int],
    field_types: dict[int, str],
) -> bool:
    """True when the manifest entry's lower/upper bounds prove NO row
    can match ``stats_filter`` ({col: (lo, hi)}, None = unbounded).
    Conservative: absent bounds, unknown columns, undecodable values
    keep the file; callers still apply the predicate as a row filter.
    Temporal filter values compare through the spec's storage ints."""
    lbs = {e["key"]: e["value"] for e in (dfile.get("lower_bounds") or ())}
    ubs = {e["key"]: e["value"] for e in (dfile.get("upper_bounds") or ())}
    if not lbs and not ubs:
        return False
    for col, (lo, hi) in stats_filter.items():
        fid = ids_by_name.get(col)
        t = field_types.get(fid)
        if fid is None or not isinstance(t, str):
            continue
        lb, ub = lbs.get(fid), ubs.get(fid)
        try:
            if lo is not None and ub is not None and (
                _bound_decode(ub, t) < _storage_value(lo, t)
            ):
                return True
            if hi is not None and lb is not None and (
                _bound_decode(lb, t) > _storage_value(hi, t)
            ):
                return True
        except (ValueError, TypeError, KeyError):
            continue
    return False


def _storage_value(v, t: str):
    """A filter value in the spec's comparable STORAGE form (dates as
    epoch days, timestamps as epoch micros, everything else as-is)."""
    import datetime as _dt

    if t in ("date", "timestamp", "timestamptz") and isinstance(v, str):
        # SQL literal against a temporal column: the declared field type
        # governs semantics, so parsing ('2024-06-01 12:00:00', space OR
        # 'T' separator) to the storage int gives the true ordering; an
        # unparseable literal stays a string → TypeError at the compare
        # → the caller keeps the file (conservative).
        try:
            v = (
                _dt.date.fromisoformat(v)
                if t == "date"
                else _dt.datetime.fromisoformat(v.replace(" ", "T", 1))
            )
        except ValueError:
            return v
    if t == "date" and isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return (v - _dt.date(1970, 1, 1)).days
    if t in ("timestamp", "timestamptz") and isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        return int(v.timestamp() * 1_000_000)
    return v


def _bounds3(
    st: file_stats.FileStats, bounds_spec: dict[str, tuple[int, str]]
) -> tuple[list[dict], list[dict], list[dict]]:
    """A file's ``FileStats`` as the manifest's (lower_bounds,
    upper_bounds, null_value_counts) maps — avro kv-record form, keyed
    by FIELD ID, in field-id order. A range the spec's single-value
    form cannot encode is left out (readers treat absence as "cannot
    skip")."""
    lower, upper, nullc = [], [], []
    for name, (fid, t) in sorted(bounds_spec.items(), key=lambda kv: kv[1][0]):
        if name in st.mins:
            lo = _bound_encode(st.mins[name], t)
            hi = _bound_encode(st.maxs[name], t)
            if lo is not None and hi is not None:
                lower.append({"key": fid, "value": lo})
                upper.append({"key": fid, "value": hi})
        if name in st.nulls:
            nullc.append({"key": fid, "value": int(st.nulls[name])})
    return lower, upper, nullc


def _schema_has_variant(ctx: dict) -> bool:
    return any("variant" in json.dumps(t) for t in ctx["field_types"].values())


def _parquet_counts_via_spark(spark, paths: list[str]) -> dict[str, int]:
    """Per-file row counts via ONE distributed count-by-file job — the
    fallback when pyarrow cannot parse the footers (VARIANT-typed
    parquet uses a logical type pyarrow 16 does not know; Spark's own
    reader does). Returns {path as passed -> rows}; the job scans EVERY
    listed file, so a file with no count row genuinely has zero rows
    (an empty input partition can stage a 0-row part)."""
    from pyspark.sql import functions as _F

    rows = (
        spark.read.parquet(*paths)
        .groupBy(
            _F.regexp_replace(_F.col("_metadata.file_path"), r"^file:(//)?", "")
            .alias("fp")
        )
        .count()
        .collect()
    )
    got = {r["fp"]: int(r["count"]) for r in rows}
    return {p: got.get(fsio.strip_scheme(fsio.absolute(p)), 0) for p in paths}


def _parquet_entries(
    spark,
    listed: list[tuple[str, int]],
    variant: bool,
    partition_of=None,
    **entry_kw,
) -> list[dict]:
    """Manifest entries for freshly written parquet files ``listed`` as
    (path, size): rows and bounds from each file's footer
    (sources/file_stats.py, any scheme). VARIANT files take their
    counts from one Spark job instead and carry no bounds.
    ``partition_of(path)`` gives each entry's partition tuple."""
    counts = (
        _parquet_counts_via_spark(spark, [p for p, _sz in listed])
        if variant and listed else {}
    )
    return [
        _v2_entry(
            p, file_size=sz, record_count=counts.get(p),
            partition=partition_of(p) if partition_of else None,
            **entry_kw,
        )
        for p, sz in listed
    ]


def _pid_partitions(base: str, part_names: list[str], tup_of: dict):
    """``partition_of`` for files staged with partitionBy("__pid"): the
    dense pid in the ``__pid=<n>/`` directory (relative to ``base``)
    maps back to its typed partition tuple — no data value is ever
    parsed from a path."""

    def of(path: str) -> dict:
        pid = int(fsio.relativize(path, base).split("/", 1)[0].split("=", 1)[1])
        return dict(zip(part_names, tup_of[pid]))

    return of


def _v2_entry(
    path: str,
    content: int,
    seq: int,
    equality_ids: list[int] | None = None,
    snapshot_id: int = 1,
    partition: dict | None = None,
    dv: tuple[str, int, int, int] | None = None,
    bounds_spec: dict[str, tuple[int, str]] | None = None,
    record_count: int | None = None,
    file_size: int | None = None,
) -> dict:
    """One manifest entry. A parquet file's record count and, for data
    files with ``bounds_spec``, its lower/upper/null-count maps come
    from its footer (sources/file_stats.py — a bounded ranged read on
    scheme'd paths; an unreadable footer raises). ``record_count``
    overrides the footer (VARIANT files, whose footers pyarrow cannot
    parse, and UniForm's log-recorded counts) and then no bounds are
    recorded. ``file_size``: the listing's size, sparing a stat."""
    if dv is not None:
        # v3 deletion vector: (referenced data file, content_offset,
        # content_size_in_bytes, cardinality); record_count is the
        # number of deleted rows (spec "Deletion vectors")
        ref, off, size, card = dv
        return {
            "status": 1,
            "snapshot_id": snapshot_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 1,
                "file_path": fsio.absolute(path),
                "file_format": "PUFFIN",
                "partition": partition or {},
                "record_count": card,
                "file_size_in_bytes": (
                    file_size if file_size is not None else fsio.size(path)
                ),
                "equality_ids": None,
                "referenced_data_file": fsio.absolute(ref),
                "content_offset": off,
                "content_size_in_bytes": size,
            },
        }
    fst = None
    if path.endswith(".orc"):
        import pyarrow.orc as _orc

        fmt, nrows = "ORC", _orc.ORCFile(path).nrows
    elif path.endswith(".avro"):
        from gcs2postgres_spark.sources.avro_py import avro_row_count

        fmt, nrows = "AVRO", avro_row_count(path)
    elif record_count is not None:
        fmt, nrows = "PARQUET", int(record_count)
    else:
        fst = file_stats.read(path, file_size)
        fmt, nrows = "PARQUET", fst.rows
    entry = {
        "status": 1,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": content,
            "file_path": fsio.absolute(path),
            "file_format": fmt,
            "partition": partition or {},
            "record_count": nrows,
            "file_size_in_bytes": (
                file_size if file_size is not None else fsio.size(path)
            ),
            "equality_ids": list(equality_ids) if equality_ids else None,
        },
    }
    if bounds_spec and fst is not None and content == 0:
        lower, upper, nullc = _bounds3(fst, bounds_spec)
        if lower:
            entry["data_file"]["lower_bounds"] = lower
            entry["data_file"]["upper_bounds"] = upper
        if nullc:
            entry["data_file"]["null_value_counts"] = nullc
    return entry


def write_iceberg_v2_fixture(
    df: DataFrame,
    table_path: str,
    sort_col: str,
    position_delete_keys: list | None = None,
    equality_deletes: list[tuple[dict, int]] | None = None,
    data_format: str = "parquet",
) -> None:
    """Materialize ``df`` as a spec-shaped v2 Iceberg table with
    row-level delete files, for testing the jar-less v2 read path.

    Data files (sequence number 1) are written BY SPARK executors,
    sorted within partitions by ``sort_col`` so row positions are
    deterministic. ``position_delete_keys`` are VALUES of ``sort_col``;
    the fixture maps each to its (file, pos) by scanning ONLY that
    column of each part file with pyarrow — fixture-only convenience on
    toy tables, not a production path (the reader never does this).
    Position deletes get sequence number 2 (>= data seq 1 → apply).
    ``equality_deletes`` is a list of ({col: value}, seq) — each becomes
    one single-row equality delete parquet whose columns' types are
    taken from the data schema; entries with seq <= 1 must NOT apply
    (strict-inequality rule), which tests sequence gating end to end.
    ``data_format="avro"`` writes the DATA files as Avro containers
    (write_avro_distributed) — delete files stay parquet, matching what
    engines emit — so the avro read path's decoder-derived row
    positions are exercised against real position deletes.
    ``data_format="orc"`` writes ORC data files the same way (delete
    files stay parquet), exercising the ORC decoder's row positions
    (r15 — _scan_orc_groups)."""
    if data_format not in ("parquet", "avro", "orc"):
        raise ValueError(
            f"data_format must be parquet|avro|orc, got {data_format!r}"
        )
    data_dir = os.path.join(table_path, "data")
    sorted_df = df.sortWithinPartitions(sort_col)
    if data_format == "avro":
        from gcs2postgres_spark.sources.avro_py import write_avro_distributed

        if os.path.isdir(data_dir):
            shutil.rmtree(data_dir)
        write_avro_distributed(sorted_df, data_dir)
    elif data_format == "orc":
        sorted_df.write.mode("overwrite").orc(data_dir)
    else:
        sorted_df.write.mode("overwrite").parquet(data_dir)
    files = sorted(glob.glob(os.path.join(data_dir, f"part-*.{data_format}")))
    if not files:
        raise ValueError(f"no {data_format} part files produced under {data_dir!r}")

    import pyarrow as pa
    import pyarrow.parquet as pq

    mdir = os.path.join(table_path, "metadata")
    fsio.makedirs(mdir)

    # per-file bounds ride along on parquet fixtures (field ids and
    # types from the same schema derivation the metadata JSON uses), so
    # the stats_filter planning-time skip is testable on fixture tables
    _schema_for_bounds = spark_to_iceberg_schema(df.schema)
    _bspec = {
        f["name"]: (f["id"], f["type"])
        for f in _schema_for_bounds["fields"]
        if isinstance(f["type"], str)
    }
    data_manifest = os.path.join(mdir, "manifest-data-1.avro")
    write_avro_file(
        data_manifest,
        MANIFEST_ENTRY_SCHEMA_V2,
        _parquet_entries(
            df.sparkSession,
            [(p, os.path.getsize(p)) for p in files],
            variant="variant" in json.dumps(_schema_for_bounds),
            content=0, seq=1, bounds_spec=_bspec,
        ),
        codec="null",
        # write-time schema stamp (spec: manifests record the schema
        # they were written under) — gives ORC/Avro files id-based
        # rename-safe resolution and keeps parquet footer-probe-free
        extra_meta=_schema_stamp(
            {"schema": _schema_for_bounds, "schema-id": 0}
        ),
    )
    manifest_rows = [
        {
            "manifest_path": fsio.absolute(data_manifest),
            "manifest_length": fsio.size(data_manifest),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": 1,
            "min_sequence_number": 1,
            "added_snapshot_id": 1,
        }
    ]

    delete_entries: list[dict] = []
    if position_delete_keys:
        wanted = set(position_delete_keys)
        fps, poss = [], []
        for p in files:
            if data_format == "avro":
                _sch, _recs = read_avro_file(p)
                col = [r[sort_col] for r in _recs]
            elif data_format == "orc":
                import pyarrow.orc as _orc

                col = (
                    _orc.ORCFile(p).read(columns=[sort_col])
                    .column(sort_col).to_pylist()
                )
            else:
                col = pq.read_table(p, columns=[sort_col])[sort_col].to_pylist()
            for i, v in enumerate(col):
                if v in wanted:
                    fps.append(os.path.abspath(p))
                    poss.append(i)
        if len(fps) != len(wanted):
            raise ValueError(f"position_delete_keys: found {len(fps)} of {len(wanted)} keys")
        pd_path = os.path.join(data_dir, "delete-pos-1.parquet")
        pq.write_table(
            pa.table({"file_path": pa.array(fps, pa.string()), "pos": pa.array(poss, pa.int64())}),
            pd_path,
        )
        delete_entries.append(_v2_entry(pd_path, content=1, seq=2))

    if equality_deletes:
        schema_json_eq = spark_to_iceberg_schema(df.schema)
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(df.schema)  # exact arrow types, no pandas inference

        def _id_of(path: str) -> int:
            """Field id for a top-level or DOTTED nested-struct path —
            the spec allows equality ids on nested struct fields."""
            fields = schema_json_eq["fields"]
            f = None
            for seg in path.split("."):
                f = next(x for x in fields if x["name"] == seg)
                t = f["type"]
                fields = (
                    t["fields"]
                    if isinstance(t, dict) and t.get("type") == "struct"
                    else []
                )
            return f["id"]

        for i, (values, seq) in enumerate(equality_deletes):
            ed_path = os.path.join(data_dir, f"delete-eq-{i}.parquet")
            cols = {}
            for n, v in values.items():
                if "." in n:
                    # nested key: the delete file stores the projected
                    # struct (spec: the delete file schema is the
                    # equality fields' projection)
                    top, rest = n.split(".", 1)
                    if rest.count("."):
                        raise NotImplementedError(
                            "fixture supports one nesting level"
                        )
                    sub_t = arrow_schema.field(top).type.field(rest).type
                    cols[top] = pa.array(
                        [{rest: v}], pa.struct([pa.field(rest, sub_t)])
                    )
                else:
                    cols[n] = pa.array([v], arrow_schema.field(n).type)
            pq.write_table(pa.table(cols), ed_path)
            ids = [_id_of(n) for n in values]
            delete_entries.append(_v2_entry(ed_path, content=2, seq=seq, equality_ids=ids))

    if delete_entries:
        del_manifest = os.path.join(mdir, "manifest-deletes-1.avro")
        write_avro_file(del_manifest, MANIFEST_ENTRY_SCHEMA_V2, delete_entries, codec="null")
        seqs = [e["sequence_number"] for e in delete_entries]
        manifest_rows.append(
            {
                "manifest_path": fsio.absolute(del_manifest),
                "manifest_length": fsio.size(del_manifest),
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": max(seqs),
                "min_sequence_number": min(seqs),
                "added_snapshot_id": 1,
            }
        )

    mlist = os.path.join(mdir, "snap-1.avro")
    write_avro_file(mlist, MANIFEST_LIST_SCHEMA_V2, manifest_rows, codec="null")

    schema_json = spark_to_iceberg_schema(df.schema)
    schema_json["schema-id"] = 0
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000002",
        "location": fsio.absolute(table_path),
        "last-sequence-number": 2,
        "last-updated-ms": 0,
        "last-column-id": len(df.schema.fields),
        "schemas": [schema_json],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "last-partition-id": 999,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {},
        "current-snapshot-id": 1,
        "snapshots": [
            {
                "snapshot-id": 1,
                "sequence-number": 2,
                "timestamp-ms": 0,
                "summary": {"operation": "append"},
                "manifest-list": fsio.absolute(mlist),
            }
        ],
    }
    _write_json_atomic(os.path.join(mdir, "v1.metadata.json"), meta)
    _write_text_atomic(os.path.join(mdir, "version-hint.text"), "1")


def with_parquet_field_ids(df: DataFrame, schema_json: dict | None = None) -> DataFrame:
    """Stamp ``parquet.field.id`` column metadata (ids from
    spark_to_iceberg_schema order, or an explicit Iceberg schema JSON)
    so executor-written parquet files carry the spec's field ids —
    Spark's writer emits them whenever the schema metadata is present
    (spark.sql.parquet.fieldId.write.enabled, default on). Fixture-side
    twin of the reader's id-based resolution."""
    ice = schema_json or spark_to_iceberg_schema(df.schema)
    ids = {f["name"]: f["id"] for f in ice["fields"]}
    return df.select(
        *[
            F.col(c).alias(c, metadata={"parquet.field.id": ids[c]})
            for c in df.columns
        ]
    )


def write_iceberg_fixture(
    df: DataFrame, table_path: str, data_format: str = "parquet"
) -> None:
    """Materialize ``df`` as a spec-shaped v1 Iceberg table: executors
    write the data files (df.write.parquet/orc — distributed); the
    driver then assembles manifest/manifest-list Avro and metadata JSON
    from file-level metadata only. ``data_format="orc"`` produces the
    spec-legal ORC-data-file table shape the jar-less reader scans with
    Spark's native ORC reader (name-resolved); ``data_format="avro"``
    the Avro-data-file shape it decodes with the pure-Python codec
    (executors write part-*.avro via write_avro_distributed — also
    jar-less)."""
    if data_format not in ("parquet", "orc", "avro"):
        raise ValueError(f"data_format must be parquet|orc|avro, got {data_format!r}")
    data_dir = os.path.join(table_path, "data")
    if data_format == "avro":
        from gcs2postgres_spark.sources.avro_py import write_avro_distributed

        if os.path.isdir(data_dir):
            shutil.rmtree(data_dir)
        write_avro_distributed(df, data_dir)
    else:
        writer = df.write.mode("overwrite")
        (writer.orc if data_format == "orc" else writer.parquet)(data_dir)
    files = sorted(glob.glob(os.path.join(data_dir, f"part-*.{data_format}")))
    if not files:
        raise ValueError(f"no {data_format} part files produced under {data_dir!r}")
    mdir = os.path.join(table_path, "metadata")
    fsio.makedirs(mdir)
    manifest = os.path.join(mdir, "manifest-1.avro")
    write_manifest(manifest, [data_file_entry(p, status=1, snapshot_id=1) for p in files])
    mlist = os.path.join(mdir, "snap-1.avro")
    write_manifest_list(mlist, [manifest], snapshot_id=1)
    write_snapshot_metadata(
        table_path,
        df.schema,
        [{"snapshot-id": 1, "manifest-list": mlist}],
        current_snapshot_id=1,
        version=1,
    )


def write_iceberg(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    snapshot_ts_ms: int | None = None,
) -> int:
    """Jar-less Iceberg v1 WRITE: commit ``df`` as a new snapshot and
    return its snapshot id.

    - fresh table / ``overwrite``: the new snapshot's manifest list
      holds only the new manifest (prior snapshots keep their own
      manifest lists — time travel by ``snapshot_id``/``as_of_ms``
      still sees them);
    - ``append``: the new manifest list holds every manifest of the
      current snapshot plus the new one — exactly how the v1 spec
      accumulates appends without rewriting old manifests.

    Executors write the data files (one uuid-named commit directory per
    snapshot, so commits never collide); the driver writes only Avro
    manifests + metadata JSON from parquet-footer stats. Readable by
    read_iceberg_py and by any engine's Iceberg runtime (unpartitioned
    v1 spec: schema, manifests, snapshot log)."""
    import time as _time
    import uuid

    from gcs2postgres_spark.sources.avro_py import read_avro_file

    logstore.check_write_scheme(table_path)
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    now = int(snapshot_ts_ms if snapshot_ts_ms is not None else _time.time() * 1000)

    snapshots: list[dict] = []
    prev_manifests: list[str] = []
    version = 0
    try:
        meta_file = latest_metadata_file(table_path)
    except FileNotFoundError:
        meta_file = None
    if meta_file is not None:
        meta = json.loads(fsio.read_text(meta_file))
        specs = meta.get("partition-specs") or []
        default_spec = next(
            (s for s in specs if s.get("spec-id") == meta.get("default-spec-id", 0)),
            specs[0] if specs else None,
        )
        if default_spec and default_spec.get("fields"):
            # this writer emits UNPARTITIONED manifest entries; committing
            # them into a partitioned table would be readable here (the
            # reader keeps files without partition values conservatively)
            # but mis-scoped for any partition-pruning scan planner —
            # refuse rather than corrupt other readers' pruning. The v2
            # DML committer (overwrite_where) routes per partition and is
            # the supported mutation path for partitioned tables.
            raise NotImplementedError(
                "write_iceberg to a PARTITIONED table would commit "
                "unpartitioned manifest entries; use overwrite_where / "
                f"delete_where (partition-routing committer) or: {_JAR_HINT}"
            )
        version = int(os.path.basename(meta_file).split(".")[0].lstrip("v"))
        snapshots = [
            {
                "snapshot-id": s["snapshot-id"],
                "manifest-list": s["manifest-list"],
                "timestamp-ms": s.get("timestamp-ms", 0),
            }
            for s in meta.get("snapshots", [])
        ]
        cur = meta.get("current-snapshot-id")
        if mode == "append" and cur and cur != -1:
            cur_list = next(
                s["manifest-list"] for s in snapshots if s["snapshot-id"] == cur
            )
            _schema, rows = read_avro_file(cur_list)
            prev_manifests = [r["manifest_path"] for r in rows]

    sid = max((s["snapshot-id"] for s in snapshots), default=0) + 1
    commit_dir = os.path.join(table_path, "data", f"commit-{sid}-{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(commit_dir)
    files = [p for p, _sz in file_stats.part_files(commit_dir)]
    if not files:
        raise ValueError(f"no parquet part files produced under {commit_dir!r}")

    mdir = os.path.join(table_path, "metadata")
    fsio.makedirs(mdir)
    manifest = os.path.join(mdir, f"manifest-{sid}.avro")
    write_manifest(
        manifest, [data_file_entry(p, status=1, snapshot_id=sid) for p in files]
    )
    mlist = os.path.join(mdir, f"snap-{sid}.avro")
    write_manifest_list(mlist, [*prev_manifests, manifest], snapshot_id=sid)
    snapshots.append(
        {"snapshot-id": sid, "manifest-list": mlist, "timestamp-ms": now}
    )
    write_snapshot_metadata(
        table_path,
        df.schema,
        snapshots,
        current_snapshot_id=sid,
        version=version + 1,
    )
    return sid


def _load_current_schema(meta: dict) -> dict:
    if "schemas" in meta:
        sid = meta.get("current-schema-id", 0)
        return next(s for s in meta["schemas"] if s.get("schema-id", 0) == sid)
    return meta["schema"]


def _commit_schema_change(table_path: str, meta_path: str, meta: dict, new_schema: dict) -> None:
    """Write the evolved schema as a NEW metadata version: v2 tables
    append a new schema-id and repoint current-schema-id (the spec's
    evolution model — old snapshots keep their schema); v1 tables
    replace the single schema in place. Atomic like every commit here."""
    if "schemas" in meta:
        new_id = max(s.get("schema-id", 0) for s in meta["schemas"]) + 1
        new_schema = {**new_schema, "schema-id": new_id}
        meta["schemas"] = list(meta["schemas"]) + [new_schema]
        meta["current-schema-id"] = new_id
    else:
        meta["schema"] = new_schema
    version = int(os.path.basename(meta_path).split(".")[0].lstrip("v")) + 1
    mdir = os.path.join(table_path, "metadata")
    try:
        _write_json_if_absent(os.path.join(mdir, f"v{version}.metadata.json"), meta)
    except FileExistsError:
        raise CommitConflictError(
            f"concurrent commit v{version} beat this metadata change; "
            "re-read and retry"
        ) from None
    _write_text_atomic(os.path.join(mdir, "version-hint.text"), str(version))


def alter_iceberg_rename_column(table_path: str, old: str, new: str) -> None:
    """Metadata-only column RENAME (same field id — the spec's rename):
    id-stamped data files keep reading their values under the new name
    (read_iceberg_py resolves by field id); files without parquet ids
    fall back to name resolution and read NULL for the renamed column —
    the documented jar-less fallback. No data files are touched."""
    logstore.check_write_scheme(table_path)
    meta_path = latest_metadata_file(table_path)
    meta = json.loads(fsio.read_text(meta_path))
    schema = json.loads(json.dumps(_load_current_schema(meta)))  # deep copy
    names = [f["name"] for f in schema["fields"]]
    if old not in names:
        raise ValueError(f"no column {old!r} (have {names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    next(f for f in schema["fields"] if f["name"] == old)["name"] = new
    _commit_schema_change(table_path, meta_path, meta, schema)


def alter_iceberg_add_column(
    table_path: str, name: str, iceberg_type: str, default=None
) -> None:
    """Metadata-only ADD COLUMN (optional, fresh field id from
    last-column-id — the spec's add): existing files read NULL for it,
    new files written with ids carry values. No data files touched.

    ``default`` sets the spec v3 "Default values" pair: files written
    BEFORE the column existed read ``initial-default`` (the read path's
    _missing_column_lit), and writers fill absent values with
    ``write-default``. Requires format-version 3."""
    logstore.check_write_scheme(table_path)
    iceberg_to_spark_type(iceberg_type)  # validates the type string
    meta_path = latest_metadata_file(table_path)
    meta = json.loads(fsio.read_text(meta_path))
    if default is not None and int(meta.get("format-version", 1)) < 3:
        raise ValueError(
            "column defaults are a format-version-3 feature — run "
            "upgrade_iceberg_format_version first"
        )
    schema = json.loads(json.dumps(_load_current_schema(meta)))
    if name in (f["name"] for f in schema["fields"]):
        raise ValueError(f"column {name!r} already exists")
    fid = int(meta.get("last-column-id", max(f["id"] for f in schema["fields"]))) + 1
    field = {"id": fid, "name": name, "required": False, "type": iceberg_type}
    if default is not None:
        field["initial-default"] = default
        field["write-default"] = default
    schema["fields"].append(field)
    meta["last-column-id"] = fid
    _commit_schema_change(table_path, meta_path, meta, schema)


def alter_iceberg_widen_column(table_path: str, name: str, new_type: str) -> None:
    """Metadata-only TYPE PROMOTION (spec 'Schema Evolution': int→long,
    float→double, decimal precision widen — same field id, data files
    keep the narrow physical type): commits a new schema whose field
    carries the widened type. Reads stay correct because
    read_iceberg_py casts every resolved column to the CURRENT table
    type — old narrow files upcast at scan time. Anything not on the
    spec's promotion list raises (narrowing or cross-family changes
    would corrupt silently). Delta twin: alter_delta_widen_column."""
    logstore.check_write_scheme(table_path)
    meta_path = latest_metadata_file(table_path)
    meta = json.loads(fsio.read_text(meta_path))
    schema = json.loads(json.dumps(_load_current_schema(meta)))
    field = next((f for f in schema["fields"] if f["name"] == name), None)
    if field is None:
        raise ValueError(
            f"no column {name!r} (have {[f['name'] for f in schema['fields']]})"
        )
    old_type = field["type"]
    ok = (old_type, new_type) in {("int", "long"), ("float", "double")}
    if not ok and isinstance(old_type, str) and old_type.startswith("decimal"):
        # decimal(P, S) -> decimal(P', S): same scale, wider precision
        import re as _re

        mo = _re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", old_type)
        mn = _re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", new_type or "")
        ok = bool(
            mo and mn and mo.group(2) == mn.group(2)
            and int(mn.group(1)) > int(mo.group(1))
        )
    if not ok:
        raise ValueError(
            f"{old_type!r} -> {new_type!r} is not a spec-legal Iceberg "
            "type promotion (int->long, float->double, decimal precision "
            "widen)"
        )
    field["type"] = new_type
    _commit_schema_change(table_path, meta_path, meta, schema)


def iceberg_table_changes(
    spark: SparkSession,
    table_path: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
) -> DataFrame:
    """Incremental CHANGE FEED between snapshots (the Iceberg twin of
    ``delta_py.delta_table_changes``; the spec's incremental-scan
    concept): for every snapshot in (from, to], manifest entries with
    status=ADDED and that snapshot's id drive the changes —

    - an added DATA file → INSERTs of its rows;
    - added POSITION-delete files → DELETEs of the targeted rows,
      matched executor-side on the scan's (file, row-index) identity;
    - added EQUALITY-delete files → DELETEs of the rows LIVE at the
      previous snapshot matching the equality values (one time-travel
      read + a null-safe semi filter; pushdown applies).

    Output = table columns (at ``to``'s schema) + ``_change_type``
    ('insert' | 'delete') + ``_commit_snapshot_id``. Caveat (documented,
    same class as the Delta side's update attribution): a foreign
    writer that re-lists ALREADY-DEAD positions in a new delete file
    over-reports those rows as deleted again; this repo's committers
    match live rows only, so self-written tables are exact."""
    meta_path = latest_metadata_file(table_path)
    meta = json.loads(fsio.read_text(meta_path))
    location = meta.get("location")
    snapshots = sorted(
        meta.get("snapshots") or [],
        key=lambda s: (s.get("timestamp-ms", 0), s["snapshot-id"]),
    )
    ids = [s["snapshot-id"] for s in snapshots]
    if from_snapshot_id not in ids:
        raise ValueError(f"snapshot {from_snapshot_id} not found (have {ids})")
    if to_snapshot_id is None:
        to_snapshot_id = ids[-1]
    if to_snapshot_id not in ids:
        raise ValueError(f"snapshot {to_snapshot_id} not found (have {ids})")
    lo, hi = ids.index(from_snapshot_id), ids.index(to_snapshot_id)
    if lo > hi:
        raise ValueError(f"from {from_snapshot_id} is newer than to {to_snapshot_id}")

    schema_json = _load_current_schema(meta)
    spark_schema = iceberg_to_spark_type(schema_json)
    field_names = {f["id"]: f["name"] for f in schema_json["fields"]}
    out_cols = [f.name for f in spark_schema.fields]

    def _project(df: DataFrame, helpers: list[str]) -> DataFrame:
        groups_cols = []
        lower = {c.lower(): c for c in df.columns if c not in helpers}
        for field in spark_schema.fields:
            src = lower.get(field.name.lower())
            if src is None:
                groups_cols.append(F.lit(None).cast(field.dataType).alias(field.name))
            else:
                groups_cols.append(F.col(src).cast(field.dataType).alias(field.name))
        return df.select(*groups_cols, *helpers)

    def with_meta(df: DataFrame, change: str, sid: int) -> DataFrame:
        return df.select(
            *out_cols,
            F.lit(change).alias("_change_type"),
            F.lit(sid).cast("long").alias("_commit_snapshot_id"),
        )

    frames: list[DataFrame] = []
    for idx in range(lo + 1, hi + 1):
        snap = snapshots[idx]
        sid = snap["snapshot-id"]
        if (snap.get("summary") or {}).get("operation") == "replace":
            # compaction (rewrite_data_files): files are rearranged but
            # table content is unchanged — the spec's changelog-scan
            # contract is that replace snapshots emit no changes.
            continue
        prev_sid = snapshots[idx - 1]["snapshot-id"]
        _, manifests = read_avro_file(
            _resolve(snap["manifest-list"], table_path, location)
        )
        added_data: list[str] = []
        added_pos: list[str] = []
        added_eq: list[tuple[str, tuple[int, ...]]] = []
        all_data_paths: list[str] = []
        for m in manifests:
            _, entries = read_avro_file(
                _resolve(m["manifest_path"], table_path, location)
            )
            for e in entries:
                if e["status"] == 2:
                    continue
                dfile = e["data_file"]
                path = _resolve(dfile["file_path"], table_path, location)
                content = dfile.get("content", 0)
                if content == 0:
                    all_data_paths.append(path)
                if e["status"] == 1 and e.get("snapshot_id") == sid:
                    if content == 0:
                        added_data.append(path)
                    elif content == 1:
                        added_pos.append(path)
                    elif content == 2:
                        ids_ = tuple(sorted(dfile.get("equality_ids") or ()))
                        if not ids_ or any(i not in field_names for i in ids_):
                            raise NotImplementedError(
                                f"equality delete without resolvable ids: table {_JAR_HINT}"
                            )
                        added_eq.append((path, ids_))
        if added_data:
            frames.append(
                with_meta(
                    _project(spark.read.parquet(*sorted(added_data)), []), "insert", sid
                )
            )
        if added_pos:
            dels = spark.read.parquet(*sorted(added_pos)).select(
                F.regexp_replace(F.col("file_path"), r"^file:(//)?", "").alias("__del_fp"),
                F.col("pos").cast("long").alias("__del_pos"),
            )
            targets = sorted(
                {p for p in all_data_paths}
                & {
                    _resolve(fp, table_path, location)
                    for fp in {
                        r["__del_fp"]
                        for r in dels.select("__del_fp").distinct().collect()
                    }
                }
            )
            if targets:
                scan = spark.read.parquet(*targets).select(
                    "*",
                    F.regexp_replace(
                        F.col("_metadata.file_path"), r"^file:(//)?", ""
                    ).alias("__ice_fp"),
                    F.col("_metadata.row_index").alias("__ice_pos"),
                )
                scan = _project(scan, ["__ice_fp", "__ice_pos"])
                matched = scan.join(
                    dels,
                    (scan["__ice_fp"] == dels["__del_fp"])
                    & (scan["__ice_pos"] == dels["__del_pos"]),
                    "left_semi",
                )
                frames.append(with_meta(matched, "delete", sid))
        for path, ids_ in added_eq:
            names = [field_names[i] for i in ids_]
            vals = spark.read.parquet(path).select(
                *[F.col(n).alias(f"__del_{n}") for n in names]
            )
            prev_live = read_iceberg_py(spark, table_path, snapshot_id=prev_sid)
            cond = None
            for n in names:
                c = prev_live[n].eqNullSafe(vals[f"__del_{n}"])
                cond = c if cond is None else cond & c
            frames.append(with_meta(prev_live.join(vals, cond, "left_semi"), "delete", sid))

    if not frames:
        empty = spark.createDataFrame([], spark_schema)
        return with_meta(empty, "insert", 0).limit(0)
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    return out


def expire_snapshots(
    table_path: str,
    keep_last: int = 1,
    older_than_ms: int | None = None,
) -> int:
    """Physical snapshot expiration (the Iceberg twin of Delta VACUUM,
    parity with ``delta_py.vacuum_delta``): drop every snapshot except
    the newest ``keep_last`` by timestamp (the CURRENT snapshot is
    always kept; ``older_than_ms`` additionally protects newer ones),
    commit the pruned metadata atomically, then delete manifest lists,
    manifests, and data/delete files referenced ONLY by expired
    snapshots. Returns the number of files deleted.

    Trade and shape are exactly Iceberg's ``expireSnapshots``: time
    travel to expired snapshots is destroyed, readers of surviving
    snapshots are unaffected (their file sets are immutable), and the
    reachability walk is driver-side METADATA work — O(manifests +
    file entries) over Avro, the same walk the reader performs, no row
    data. Single-writer assumption as for all jar-less commits."""
    logstore.check_write_scheme(table_path)
    meta_path = latest_metadata_file(table_path)
    meta = json.loads(fsio.read_text(meta_path))
    location = meta.get("location")
    snapshots = meta.get("snapshots") or []
    if len(snapshots) <= 1:
        return 0
    current_id = meta.get("current-snapshot-id")
    by_ts = sorted(snapshots, key=lambda s: (s.get("timestamp-ms", 0), s["snapshot-id"]))
    keep_ids = {s["snapshot-id"] for s in by_ts[-max(1, keep_last):]}
    keep_ids.add(current_id)
    # named refs (tags/branches) PROTECT their snapshots — the spec's
    # retention rule; drop_ref releases them for the next run
    keep_ids |= {
        int(r["snapshot-id"]) for r in (meta.get("refs") or {}).values()
    }
    if older_than_ms is not None:
        keep_ids |= {
            s["snapshot-id"]
            for s in snapshots
            if s.get("timestamp-ms", 0) >= older_than_ms
        }
    expired = [s for s in snapshots if s["snapshot-id"] not in keep_ids]
    if not expired:
        return 0

    def reachable(snaps: list[dict]) -> tuple[set[str], set[str], set[str]]:
        lists_, manifests_, files_ = set(), set(), set()
        for s in snaps:
            ml = _resolve(s["manifest-list"], table_path, location)
            lists_.add(ml)
            _, rows = read_avro_file(ml)
            for m in rows:
                mp = _resolve(m["manifest_path"], table_path, location)
                manifests_.add(mp)
                _, entries = read_avro_file(mp)
                for e in entries:
                    files_.add(
                        _resolve(e["data_file"]["file_path"], table_path, location)
                    )
        return lists_, manifests_, files_

    kept_snaps = [s for s in snapshots if s["snapshot-id"] in keep_ids]
    k_lists, k_manifests, k_files = reachable(kept_snaps)
    e_lists, e_manifests, e_files = reachable(expired)

    # commit the pruned snapshot list FIRST (atomic), so a crash during
    # file deletion leaves a consistent table with some garbage — never
    # a metadata pointer at deleted files
    meta["snapshots"] = kept_snaps
    version = int(os.path.basename(meta_path).split(".")[0].lstrip("v")) + 1
    mdir = os.path.join(table_path, "metadata")
    try:
        _write_json_if_absent(os.path.join(mdir, f"v{version}.metadata.json"), meta)
    except FileExistsError:
        raise CommitConflictError(
            f"concurrent commit v{version} beat this metadata change; "
            "re-read and retry"
        ) from None
    _write_text_atomic(os.path.join(mdir, "version-hint.text"), str(version))

    # batched deletes (fsio.bulk_delete → LogStore.delete_batch): one
    # RPC per ~100-1000 objects on stores with a batch endpoint, never
    # one serial driver RPC per garbage file (r14 verdict #1)
    garbage = sorted(
        (e_lists - k_lists) | (e_manifests - k_manifests) | (e_files - k_files)
    )
    return fsio.bulk_delete(garbage)


def add_files(
    spark: SparkSession,
    table_path: str,
    src_dir: str,
    snapshot_ts_ms: int | None = None,
) -> int:
    """The ``add_files`` procedure's jar-less twin: one append snapshot
    whose new data manifest references EXISTING parquet files from
    ``src_dir`` by absolute path — zero data movement, the onboarding
    move for raw parquet corpora (Iceberg's migrate/snapshot family).
    The files' columns must match the table schema BY NAME at add time
    (external parquet carries no Iceberg field ids — validated loudly
    here); the manifest is stamped with the ADD-TIME schema, which
    records field-id -> add-time-name, so even a later column RENAME
    keeps resolving these files correctly. Unpartitioned v2 tables
    only — hive-layout sources should convert their partition dirs
    first (the Java procedure requires matching partitioning too)."""
    import time as _time

    ctx = _v2_table_context(table_path, "add_files")
    if ctx["part_struct_names"]:
        raise NotImplementedError(
            "add_files into a PARTITIONED iceberg table (the files "
            "carry no partition tuples); append via append_iceberg_v2"
        )
    meta = ctx["meta"]
    snapshot = ctx["snapshot"]
    files = sorted(
        (p, sz) for p, sz in fsio.list_files(src_dir)
        if p.endswith(".parquet")
        and not os.path.basename(p).startswith((".", "_"))
    )
    if not files:
        raise FileNotFoundError(f"no parquet files under {src_dir!r}")
    # column-name compatibility gate, loud at ADD time
    src_schema = spark.read.parquet(src_dir).schema
    table_cols = {n.lower() for n in ctx["field_names"].values()}
    missing = sorted(table_cols - {f.name.lower() for f in src_schema.fields})
    if missing:
        raise ValueError(
            f"source files lack table columns {missing} (name-resolved: "
            "external parquet carries no iceberg field ids)"
        )
    bounds_spec = {
        name: (fid, ctx["field_types"][fid])
        for name, fid in ctx["field_ids"].items()
        if isinstance(ctx["field_types"].get(fid), str)
    }
    sid = max((s["snapshot-id"] for s in ctx["snapshots"]), default=0) + 1
    new_seq = int(meta.get("last-sequence-number", 0)) + 1
    now = int(
        snapshot_ts_ms if snapshot_ts_ms is not None else _time.time() * 1000
    )
    entries = _parquet_entries(
        spark, files, variant=_schema_has_variant(ctx),
        content=0, seq=new_seq, snapshot_id=sid, bounds_spec=bounds_spec,
    )
    mdir = os.path.join(table_path, "metadata")
    fsio.makedirs(mdir)
    manifest = os.path.join(mdir, _uniq(f"manifest-addfiles-{sid}.avro"))
    write_avro_file(
        manifest, manifest_entry_schema_v2(ctx["part_avro"]), entries,
        codec="null", extra_meta=_schema_stamp(meta),
    )
    new_list_rows = []
    if snapshot is not None:
        _, rows = read_avro_file(
            _resolve(snapshot["manifest-list"], table_path, ctx["location"])
        )
        new_list_rows = list(rows)
    new_list_rows.append(
        {
            "manifest_path": fsio.absolute(manifest),
            "manifest_length": fsio.size(manifest),
            "partition_spec_id": ctx["spec_id"],
            "content": 0,
            "sequence_number": new_seq,
            "min_sequence_number": new_seq,
            "added_snapshot_id": sid,
        }
    )
    return _v2_commit_snapshot(
        table_path, ctx, new_list_rows, new_seq, sid, now, "append"
    )


def sync_uniform_iceberg(
    spark: SparkSession,
    table_path: str,
    snapshot_ts_ms: int | None = None,
) -> int:
    """UniForm, jar-lessly: generate Iceberg metadata OVER a Delta
    table's current state, so any Iceberg reader (including this
    module's own ``read_iceberg_py``) reads the same parquet files the
    Delta log governs — one copy of the data, two table formats
    (Databricks' Delta UniForm does exactly this: Iceberg metadata in
    ``metadata/`` beside ``_delta_log/``, regenerated after commits).
    Call again after Delta commits to re-sync; the Iceberg snapshot id
    tracks the Delta version (+1: snapshot ids start at 1), so a stale
    sync is detectable by comparing them.

    Per-file ``record_count`` comes from the Delta adds' own stats
    (numRecords — no footer IO); the manifest carries the write-time
    schema stamp, so the Iceberg scan keeps the zero-footer-probe plan
    path. PARTITIONED Delta tables work: manifest entries carry typed
    partition tuples parsed from the string partitionValues, and the
    manifest's data-only schema stamp tells the scan the files LACK
    the partition column, so it materializes the identity value from
    the manifest tuple (the migrated-hive read shape).

    COLUMN MAPPING tables work (r16): Iceberg field ids come straight
    from ``delta.columnMapping.id`` (the same id reuse real UniForm
    performs), the manifest is stamped with a PHYSICAL-named schema
    twin (same ids) so this module's scan resolves file columns
    physical->id->logical, and the metadata carries the public spec's
    ``schema.name-mapping.default`` so foreign Iceberg readers resolve
    the id-less parquet files too. DELETION VECTORS work (r16): Delta
    DVs and Iceberg v3 DVs share the 64-bit roaring portable format,
    so each add's DV is decoded and re-rendered as a
    ``deletion-vector-v1`` Puffin blob referenced from a delete
    manifest — format-version 3, no OPTIMIZE tax. Identity partitions
    sync for int/long/string/boolean/float/double/decimal (avro
    decimal logical values in the manifest tuples, r17), date (int
    days) and timestamp (long micros, session-tz parse); the remaining
    refusal is BINARY partition values (no canonical Delta string
    form — never wrong rows)."""
    import time as _time

    from gcs2postgres_spark.sources.delta_py import replay_head_state

    logstore.check_write_scheme(table_path)
    live, dmeta = replay_head_state(spark, table_path)
    if dmeta is None:
        raise FileNotFoundError(f"not a Delta table: {table_path}")
    cfg = dmeta.get("configuration") or {}
    mapped = cfg.get("delta.columnMapping.mode", "none") != "none"
    from gcs2postgres_spark.sources.delta_py import (
        _list_commits as _delta_commits,
    )
    from gcs2postgres_spark.sources.delta_py import _log_dir as _delta_log_dir

    delta_version = max(
        _delta_commits(_delta_log_dir(table_path)), default=0
    )
    sid = delta_version + 1
    # idempotent re-sync: when the existing Iceberg metadata already
    # tracks the head Delta version (the uniform.delta-version
    # watermark), skip the rewrite entirely — the no-change case real
    # UniForm's async sync hits on every poll
    try:
        prev_meta = json.loads(fsio.read_text(latest_metadata_file(table_path)))
        if (prev_meta.get("properties") or {}).get(
            "uniform.delta-version"
        ) == str(delta_version):
            return int(prev_meta.get("current-snapshot-id") or sid)
    except (FileNotFoundError, ValueError):
        pass  # first sync, or unreadable metadata: full sync below
    now = int(
        snapshot_ts_ms if snapshot_ts_ms is not None else _time.time() * 1000
    )
    delta_schema_json = json.loads(dmeta["schemaString"])
    phys_schema = None
    name_mapping = None
    phys_of: dict[str, str] = {}
    if mapped:
        schema_json, phys_schema, name_mapping = _delta_mapping_to_iceberg(
            delta_schema_json,
            max_column_id=cfg.get("delta.columnMapping.maxColumnId"),
        )
        for f in delta_schema_json["fields"]:
            md = f.get("metadata") or {}
            phys_of[f["name"]] = md.get(
                "delta.columnMapping.physicalName", f["name"]
            )
    else:
        spark_schema = T.StructType.fromJson(delta_schema_json)
        schema_json = spark_to_iceberg_schema(spark_schema)
    schema_json["schema-id"] = 0
    part_cols = list(dmeta.get("partitionColumns") or [])
    # PARTITIONED Delta: hive-layout files LACK the partition columns,
    # so (a) manifest entries carry the TYPED partition tuple parsed
    # from Delta's string partitionValues, and (b) the manifest is
    # stamped with a DATA-ONLY schema (id 1, same field ids) so the
    # Iceberg scan knows those files omit the source column and
    # materializes the identity value from the manifest tuple — the
    # migrated-hive-table read shape.
    import datetime as _dt

    def _days(v: str) -> int:
        # Delta stores date partitionValues as ISO strings; Iceberg
        # manifests store identity-date partition values as int DAYS
        # from epoch (spec "Partition struct" + storage_transform)
        return (_dt.date.fromisoformat(v) - _dt.date(1970, 1, 1)).days

    # delta-spark serializes tz-naive `timestamp` partitionValues in
    # the SESSION timezone (TimestampFormatter over session tz), so a
    # foreign-written table's strings mean whatever tz its writer ran
    # under. Interpret them in THIS session's timezone: this repo's own
    # sessions pin spark.sql.session.timeZone=UTC (session.py:36) so
    # repo-written tables are unaffected, and syncing a foreign table
    # under the writer's session tz matches delta-spark exactly.
    # timestamp_ntz partitionValues are wall-clock (no tz math at all).
    _sess_tz = _dt.timezone.utc
    tzname = spark.conf.get("spark.sql.session.timeZone", "UTC")
    if tzname not in ("UTC", "Etc/UTC", "+00:00", "GMT"):
        from zoneinfo import ZoneInfo

        _sess_tz = ZoneInfo(tzname)

    def _micros(v: str) -> int:
        # timestamp partitionValues serialize as 'YYYY-MM-DD HH:MM:SS[.f]'
        # in the writer session's tz; manifests store long MICROS from
        # epoch UTC
        d = _dt.datetime.fromisoformat(v)
        if d.tzinfo is None:
            d = d.replace(tzinfo=_sess_tz)
        return int(d.timestamp() * 1_000_000)

    part_avro: list[tuple[str, str]] = []
    part_cast: dict[str, object] = {}
    for c in part_cols:
        ice_t = next(
            f["type"] for f in schema_json["fields"] if f["name"] == c
        )
        dec_m = re.match(r"decimal\((\d+),\s*(\d+)\)", str(ice_t))
        if ice_t in ("int", "long"):
            part_avro.append((c, ice_t))
            part_cast[c] = int
        elif ice_t == "string":
            part_avro.append((c, "string"))
            part_cast[c] = str
        elif ice_t == "boolean":
            # Delta serializes boolean partitionValues as "true"/"false"
            part_avro.append((c, "boolean"))
            part_cast[c] = lambda v: v == "true"
        elif ice_t in ("float", "double"):
            part_avro.append((c, ice_t))
            part_cast[c] = float
        elif dec_m:
            # manifest partition struct stores decimals as avro bytes
            # with the decimal logical type (unscaled big-endian
            # two's-complement — Iceberg single-value serialization);
            # avro_py round-trips Decimal values through it
            from decimal import Decimal as _Dec

            part_avro.append(
                (
                    c,
                    {
                        "type": "bytes",
                        "logicalType": "decimal",
                        "precision": int(dec_m.group(1)),
                        "scale": int(dec_m.group(2)),
                    },
                )
            )
            part_cast[c] = _Dec
        elif ice_t == "date":
            part_avro.append((c, "int"))
            part_cast[c] = _days
        elif ice_t in ("timestamp", "timestamptz"):
            part_avro.append((c, "long"))
            part_cast[c] = _micros
        else:
            raise NotImplementedError(
                f"UniForm over partition column {c!r} of type {ice_t!r} "
                "(identity partitions over int/long/string/boolean/"
                "float/double/decimal/date/timestamp only; binary "
                "partition values have no canonical Delta string form)"
            )
    schemas = [schema_json]
    stamp_sid = 0
    if part_cols or mapped:
        # the stamp schema describes what the FILES contain: physical
        # names when mapped (same field ids — the scan resolves
        # physical->id->logical), and no partition columns under the
        # hive layout (the scan materializes them from manifest tuples)
        src_schema = phys_schema if mapped else schema_json
        drop_names = {phys_of.get(c, c) for c in part_cols}
        data_only = {
            **src_schema,
            "schema-id": 1,
            "fields": [
                f for f in src_schema["fields"] if f["name"] not in drop_names
            ],
        }
        schemas = [schema_json, data_only]
        stamp_sid = 1
    mdir = os.path.join(table_path, "metadata")
    fsio.makedirs(mdir)
    entries = []
    dv_list: list[tuple[str, list[int], dict]] = []
    # Delta writers pack MANY files' DVs into one blob object per
    # commit (u-type descriptors share a path, distinct offsets) — one
    # fetch per DISTINCT blob, not per DV'd add, keeps driver IO
    # O(blobs) instead of O(files) on remote schemes
    _dv_blob_cache: dict[str, bytes] = {}
    for rel in sorted(live):
        add = live[rel]
        full = os.path.join(table_path, unquote(rel)) if not (
            fsio.has_scheme(rel) or os.path.isabs(rel)
        ) else rel
        rc = None
        st = add.get("stats")
        if st:
            try:
                rc = int(json.loads(st)["numRecords"])
            except (ValueError, TypeError, KeyError):
                rc = None
        pv_raw = add.get("partitionValues") or {}

        def _pv(c):
            # partitionValues is keyed by PHYSICAL name under column
            # mapping; tolerate logical-keyed maps (pre-upgrade commits)
            return pv_raw.get(phys_of.get(c, c), pv_raw.get(c))

        partition = {
            c: (part_cast[c](_pv(c)) if _pv(c) is not None else None)
            for c in part_cols
        }
        dv = add.get("deletionVector")
        if dv:
            # Delta DV -> Iceberg v3 DV: same roaring portable bitmap,
            # different framing — collect the descriptor; the decode +
            # Puffin re-render happens below (driver-side for a handful
            # of files, distributed above the threshold)
            dv_list.append((fsio.absolute(full), dv, partition))
        entries.append(
            _v2_entry(
                full, content=0, seq=1, snapshot_id=sid,
                record_count=rc,
                file_size=int(add.get("size") or 0) or None,
                partition=partition,
            )
        )
    meta_stub = {"schemas": schemas, "current-schema-id": stamp_sid}
    manifest = os.path.join(mdir, _uniq(f"manifest-uniform-{sid}.avro"))
    write_avro_file(
        manifest, manifest_entry_schema_v2(part_avro), entries, codec="null",
        extra_meta=_schema_stamp(meta_stub),
    )
    list_rows = [
        {
            "manifest_path": fsio.absolute(manifest),
            "manifest_length": fsio.size(manifest),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": 1,
            "min_sequence_number": 1,
            "added_snapshot_id": sid,
        }
    ]
    if dv_list:
        # v3 merge-on-read shape: Puffin deletion-vector-v1 blobs
        # referenced from a delete manifest (the scan anti-joins the
        # decoded positions, dv_seq >= data_seq, both 1 here).
        from gcs2postgres_spark.sources.delta_py import _dv_location

        part_of = {fp: pt for fp, _dv, pt in dv_list}
        del_entries = []
        if len(dv_list) <= _MAX_UNION_ARMS:
            # handful of DV'd files: decode driver-side (KB-scale
            # blobs, one fetch per DISTINCT blob object) and render ONE
            # Puffin carrying every frame
            from gcs2postgres_spark.sources.dv_roaring import (
                read_dv_blob,
                roaring_array_decode,
                z85_decode,
            )
            from gcs2postgres_spark.sources.puffin import render_puffin_dv

            decoded = []
            for fp, dv, _pt in dv_list:
                kind, loc = _dv_location(table_path, dv)
                if kind == "inline":
                    positions = roaring_array_decode(z85_decode(loc))
                else:
                    raw = _dv_blob_cache.get(loc)
                    if raw is None:
                        raw = _dv_blob_cache[loc] = fsio.read_bytes(loc)
                    positions = read_dv_blob(
                        raw, int(dv.get("offset") or 0), int(dv["sizeInBytes"])
                    )
                card = dv.get("cardinality")
                if card is not None and int(card) >= 0 and (
                    len(positions) != int(card)
                ):
                    raise ValueError(
                        f"deletion vector for {fp!r} decoded "
                        f"{len(positions)} positions, descriptor says {card}"
                    )
                decoded.append((fp, sorted(positions)))
            body, frames = render_puffin_dv(decoded, sid, 1)
            puffin = os.path.join(mdir, _uniq(f"dv-uniform-{sid}.puffin"))
            fsio.write_bytes(puffin, body)
            for fp, _pos in decoded:
                off, size, card = frames[fp]
                del_entries.append(
                    _v2_entry(
                        puffin, content=1, seq=1, snapshot_id=sid,
                        dv=(fp, off, size, card), partition=part_of[fp],
                        file_size=len(body),
                    )
                )
        else:
            # MANY DV'd files: the decode + render must not serialize
            # through the driver (at 10^4 files / 10^7 deleted rows the
            # driver-side position lists are the wall). Reuse the read
            # path's executor-side decode (dv_positions_frame — blobs
            # ride a binaryFile scan on remote schemes) and the DML
            # committers' per-file Puffin writer (_write_dv_files); the
            # collect is one metadata row per DV'd file
            from gcs2postgres_spark.sources.delta_py import (
                dv_positions_frame,
            )

            dv_rows = []
            for fp, dv, _pt in dv_list:
                kind, loc = _dv_location(table_path, dv)
                dv_rows.append(
                    (
                        fp, kind, loc,
                        int(dv.get("offset") or 0),
                        int(dv["sizeInBytes"]),
                        int(dv.get("cardinality", -1)),
                    )
                )
            positions = dv_positions_frame(spark, dv_rows).selectExpr(
                "__del_fp AS file_path", "__del_pos AS pos"
            )
            for r in _write_dv_files(spark, positions, mdir, sid, 1):
                del_entries.append(
                    _v2_entry(
                        r["puffin"], content=1, seq=1, snapshot_id=sid,
                        dv=(r["data_fp"], r["off"], r["size"], r["card"]),
                        partition=part_of.get(r["data_fp"]) or {},
                        file_size=fsio.size(r["puffin"]),
                    )
                )
        del_manifest = os.path.join(
            mdir, _uniq(f"manifest-uniform-del-{sid}.avro")
        )
        write_avro_file(
            del_manifest, manifest_entry_schema_v2(part_avro), del_entries,
            codec="null", extra_meta=_schema_stamp(meta_stub),
        )
        list_rows.append(
            {
                "manifest_path": fsio.absolute(del_manifest),
                "manifest_length": fsio.size(del_manifest),
                "partition_spec_id": 0,
                "content": 1,
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": sid,
            }
        )
    mlist = os.path.join(mdir, _uniq(f"snap-uniform-{sid}.avro"))
    write_avro_file(mlist, MANIFEST_LIST_SCHEMA_V2, list_rows, codec="null")
    hint = os.path.join(mdir, "version-hint.text")
    prev = 0
    if fsio.exists(hint):
        try:
            prev = int(fsio.read_text(hint).strip())
        except ValueError:
            prev = 0
    version = prev + 1
    meta = {
        # deletion vectors are a v3 feature; DV-free syncs stay v2
        "format-version": 3 if dv_list else 2,
        "table-uuid": "00000000-0000-0000-0000-00000000f0f0",
        "location": fsio.absolute(table_path),
        "last-sequence-number": 1,
        "last-updated-ms": now,
        # max over ALL ids (nested/minted included), and over Delta's
        # maxColumnId (dominates dropped columns' ids) — a committing
        # catalog seeds new field ids past this value
        "last-column-id": max(
            _max_field_id(schema_json),
            int(cfg.get("delta.columnMapping.maxColumnId") or 0),
        ),
        "schemas": schemas,
        "current-schema-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": c,
                        "transform": "identity",
                        "source-id": next(
                            f["id"] for f in schema_json["fields"]
                            if f["name"] == c
                        ),
                        "field-id": 1000 + i,
                    }
                    for i, c in enumerate(part_cols)
                ],
            }
        ],
        "default-spec-id": 0,
        "last-partition-id": 999 + len(part_cols),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {
            # the marker real UniForm writes, and the sync watermark
            "delta.universalFormat.enabledFormats": "iceberg",
            "uniform.delta-version": str(delta_version),
            # physical-name -> field-id resolution for foreign readers
            # of the id-less parquet files (Iceberg spec name mapping)
            **(
                {"schema.name-mapping.default": json.dumps(name_mapping)}
                if name_mapping
                else {}
            ),
        },
        "current-snapshot-id": sid,
        "snapshots": [
            {
                "snapshot-id": sid,
                "sequence-number": 1,
                "timestamp-ms": now,
                "summary": {"operation": "replace"},
                "manifest-list": fsio.absolute(mlist),
            }
        ],
    }
    try:
        _write_json_if_absent(
            os.path.join(mdir, f"v{version}.metadata.json"), meta
        )
    except FileExistsError:
        raise CommitConflictError(
            f"concurrent iceberg metadata v{version} exists; re-sync"
        ) from None
    _write_text_atomic(hint, str(version))
    return sid


def rewrite_manifests(
    spark: SparkSession,
    table_path: str,
    snapshot_ts_ms: int | None = None,
) -> int | None:
    """The ``rewrite_manifests`` maintenance action, jar-lessly: fold
    the current snapshot's many small manifests into ONE manifest per
    (content kind, write-time schema id) — after N streaming appends
    the plan-time metadata walk reads N avro files; folding restores
    O(1). Entries keep their ORIGINAL snapshot ids and explicit
    sequence numbers with status EXISTING (0), exactly how the Java
    action rewrites them, so delete-file sequence gating and v3 row
    lineage are untouched; grouping by recorded schema-id preserves the
    zero-footer-probe scan property. Historical snapshots still point
    at the old manifests (metadata only — nothing is deleted;
    expire_snapshots reclaims them later). Returns the new snapshot id,
    or None when there is nothing to fold."""
    import time as _time

    ctx = _v2_table_context(table_path, "rewrite_manifests")
    meta = ctx["meta"]
    snapshot = ctx["snapshot"]
    if snapshot is None:
        return None
    _, manifest_rows = read_avro_file(
        _resolve(snapshot["manifest-list"], table_path, ctx["location"])
    )
    if len(manifest_rows) <= 1:
        return None
    # (content, schema-id) -> folded entries; spec heterogeneity refuses
    groups: dict[tuple[int, int | None], list[dict]] = {}
    seqs: dict[tuple[int, int | None], list[int]] = {}
    for m in manifest_rows:
        if m.get("partition_spec_id", 0) != ctx["spec_id"]:
            raise NotImplementedError(
                "rewrite_manifests over historical partition specs "
                f"(manifest spec {m.get('partition_spec_id')} != current "
                f"{ctx['spec_id']}); {_JAR_HINT}"
            )
        manifest_seq = m.get("sequence_number") or 0
        _s, entries, fmeta = read_avro_file_meta(
            _resolve(m["manifest_path"], table_path, ctx["location"])
        )
        m_sid: int | None = None
        try:
            if "schema-id" in fmeta:
                m_sid = int(fmeta["schema-id"])
            elif "schema" in fmeta:
                m_sid = json.loads(fmeta["schema"]).get("schema-id")
        except (ValueError, TypeError):
            m_sid = None
        content = m.get("content", 0)
        for e in entries:
            if e["status"] == 2:
                continue  # tombstone: dropped by the fold, like the action
            seq = e.get("sequence_number")
            if seq is None:
                seq = manifest_seq
            folded = dict(e)
            folded["status"] = 0  # EXISTING
            folded["sequence_number"] = seq
            folded["file_sequence_number"] = (
                e.get("file_sequence_number")
                if e.get("file_sequence_number") is not None
                else seq
            )
            key = (content, m_sid)
            groups.setdefault(key, []).append(folded)
            seqs.setdefault(key, []).append(int(seq))
    if len(groups) >= len(manifest_rows):
        return None  # already as folded as the grouping allows
    sid = max(s["snapshot-id"] for s in ctx["snapshots"]) + 1
    new_seq = int(meta.get("last-sequence-number", 0)) + 1
    now = int(
        snapshot_ts_ms if snapshot_ts_ms is not None else _time.time() * 1000
    )
    mdir = os.path.join(table_path, "metadata")
    schemas_by_id = {
        s.get("schema-id", 0): s for s in (meta.get("schemas") or [])
    }
    new_list_rows: list[dict] = []
    for (content, m_sid), entries in sorted(
        groups.items(), key=lambda kv: (kv[0][0], kv[0][1] is None, kv[0][1])
    ):
        man = os.path.join(
            mdir, _uniq(f"manifest-folded-{sid}-{content}.avro")
        )
        extra = None
        if m_sid is not None and m_sid in schemas_by_id:
            extra = {
                "schema-id": str(m_sid),
                "schema": json.dumps(schemas_by_id[m_sid]),
            }
        write_avro_file(
            man, manifest_entry_schema_v2(ctx["part_avro"]), entries,
            codec="null", extra_meta=extra,
        )
        new_list_rows.append(
            {
                "manifest_path": fsio.absolute(man),
                "manifest_length": fsio.size(man),
                "partition_spec_id": ctx["spec_id"],
                "content": content,
                "sequence_number": new_seq,
                "min_sequence_number": min(seqs[(content, m_sid)]),
                "added_snapshot_id": sid,
            }
        )
    return _v2_commit_snapshot(
        table_path, ctx, new_list_rows, new_seq, sid, now, "replace"
    )


def remove_orphan_files(
    table_path: str,
    older_than_ms: int | None = None,
    now_ms: int | None = None,
) -> int:
    """Delete files under the table location that NO snapshot reaches —
    crashed writers' staged data/delete files, loser branches of commit
    races, abandoned manifests (Iceberg's ``remove_orphan_files``
    action; ``expire_snapshots``'s complement: expiry deletes files
    reachable ONLY from dropped snapshots, this deletes files reachable
    from none). Reachability walk = every snapshot's manifest list →
    manifests → data/delete/DV file paths, all entry statuses (a
    DELETED entry's file may still serve older snapshots), plus every
    ``v*.metadata.json`` / ``version-hint.text``. Age guard: only files
    older than ``older_than_ms`` (default 72 h before now — the
    action's stock retention) are removed, so in-flight writers'
    staging survives. One bulk listing + batched deletes
    (fsio.bulk_delete), scheme-agnostic."""
    logstore.check_write_scheme(table_path)
    meta_path = latest_metadata_file(table_path)
    meta = json.loads(fsio.read_text(meta_path))
    location = meta.get("location")

    def _norm(p: str) -> str:
        p = _norm_path(p)
        return p if fsio.has_scheme(p) else os.path.abspath(p)

    referenced: set[str] = {_norm(meta_path)}
    for s in meta.get("snapshots") or []:
        ml = _resolve(s["manifest-list"], table_path, location)
        referenced.add(_norm(ml))
        _, rows = read_avro_file(ml)
        for m in rows:
            mp = _resolve(m["manifest_path"], table_path, location)
            referenced.add(_norm(mp))
            _, entries = read_avro_file(mp)
            for e in entries:
                referenced.add(
                    _norm(
                        _resolve(
                            e["data_file"]["file_path"], table_path, location
                        )
                    )
                )

    import time as _time

    now = now_ms if now_ms is not None else int(_time.time() * 1000)
    horizon = (
        older_than_ms if older_than_ms is not None else now - 72 * 3_600_000
    )
    orphans: list[str] = []
    for p, _sz, mt in fsio.list_files_mtime(table_path):
        base = os.path.basename(p)
        if re.fullmatch(r"v\d+\.metadata\.json", base) or (
            base == "version-hint.text"
        ):
            continue  # the metadata version chain is never an orphan
        if _norm(p) in referenced:
            continue
        if mt >= horizon:
            continue  # too fresh: may belong to an in-flight writer
        orphans.append(p)
    return fsio.bulk_delete(orphans)


# ------------------------------------------------ v2 row-level DML (write)


def delete_where(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    snapshot_ts_ms: int | None = None,
    partition_filter: dict[str, set] | None = None,
    _ctx: dict | None = None,
    _catalog_ctx: tuple | None = None,
) -> int | None:
    """Jar-less Iceberg v2 merge-on-read DELETE: commit position-delete
    files for the rows matching ``predicate`` (a Spark SQL boolean
    expression over the table columns) and return the new snapshot id —
    or None when nothing matches (no commit, table untouched).

    Scale shape: the current snapshot's data files are scanned
    DISTRIBUTED (``spark.read.parquet``; Catalyst prunes the scan to
    the predicate columns), each matching row is identified by
    ``_metadata.file_path`` / ``_metadata.row_index`` — exactly the
    (file, pos) identity the v2 spec stores — and the pairs are written
    back as parquet delete files range-partitioned and sorted by
    (file_path, pos), as the spec prescribes. Executors do every
    per-row step; the driver handles only manifests and metadata JSON
    (file-count-sized, same bound every Iceberg committer pays).

    The matching scan applies the snapshot's EXISTING delete files
    first (the same executor-side anti-joins the read path uses —
    ``_apply_v2_deletes``), so only LIVE rows are matched: a repeated
    predicate is a true no-op (returns None, no commit) and delete
    files never accumulate dead positions. The new delete file takes
    sequence number last-sequence-number+1, >= every current data
    file's sequence, so it applies to all of them (read-side gating:
    iceberg_py._apply_v2_deletes).

    Parity: the reference delegates row-level DML to its warehouse
    (DELETE through the query passthrough, reference src/db/db.go:59);
    this is the lakehouse-side equivalent a jar-ful runtime exposes as
    SQL DELETE, driven through the same metadata chain the jar-less
    reader certifies.

    ``partition_filter`` (same shape as read_iceberg_py's) prunes the
    MATCHING SCAN to the named identity partitions at planning time —
    zero I/O for pruned partitions on a DELETE that targets one
    partition of a 10^5-file table. The caller asserts the filter is
    IMPLIED by the predicate: rows outside it are silently not
    matched."""
    return _v2_row_level_commit(
        spark, table_path, predicate, None, snapshot_ts_ms,
        partition_filter=partition_filter,
        _ctx=_ctx, _catalog_ctx=_catalog_ctx,
    )


def overwrite_where(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    replacement: DataFrame,
    snapshot_ts_ms: int | None = None,
    partition_filter: dict[str, set] | None = None,
    _ctx: dict | None = None,
    _catalog_ctx: tuple | None = None,
) -> int:
    """Jar-less Iceberg v2 merge-on-read OVERWRITE: one commit that
    position-deletes the rows matching ``predicate`` AND appends
    ``replacement`` as new data files.

    Both the delete files and the new data files carry the same new
    sequence number; the position deletes reference only pre-existing
    file paths, so the replacement rows are never self-deleted (and the
    spec's ``delete_seq >= data_seq`` rule would be vacuous for them
    anyway). Callers compute ``replacement`` however they like
    (typically the matched rows with columns rewritten) and the commit
    is atomic — one snapshot, one metadata version."""
    sid = _v2_row_level_commit(
        spark, table_path, predicate, replacement, snapshot_ts_ms,
        partition_filter=partition_filter,
        _ctx=_ctx, _catalog_ctx=_catalog_ctx,
    )
    assert sid is not None  # replacement commit always produces a snapshot
    return sid


def update_where(
    spark: SparkSession,
    table_path: str,
    predicate: str,
    set_exprs: dict[str, str],
    snapshot_ts_ms: int | None = None,
    partition_filter: dict[str, set] | None = None,
    _ctx: dict | None = None,
    _catalog_ctx: tuple | None = None,
    _preloaded_meta: dict | None = None,
) -> int | None:
    """Jar-less Iceberg v2 merge-on-read ``UPDATE ... SET ... WHERE``:
    one atomic commit that position-deletes the rows matching
    ``predicate`` and appends their rewritten versions (``set_exprs``
    maps column name -> Spark SQL expression, evaluated over the
    matched rows). Returns the new snapshot id, or None when nothing
    matches (no commit, table untouched).

    Scale shape: the replacement rows are the LIVE matched rows (read
    through read_iceberg_py, so existing deletes and renamed-column
    resolution apply) with the SET expressions applied — computed and
    written entirely on executors. Delete files and new data files land
    in ONE snapshot (no window where a reader sees rows deleted but not
    yet rewritten). The extra existence probe is a take(1) over the
    predicate-pushed scan — Spark early-terminates it, so a no-match
    UPDATE costs one pruned scan, not a commit. Planned by
    sources/row_level.update.

    Parity: the reference delegates UPDATE to its warehouse (query
    passthrough, reference src/db/db.go:59); this is the lakehouse-side
    equivalent jar-ful runtimes expose as SQL UPDATE."""
    return row_level.update(
        _dml_target(
            spark, table_path, snapshot_ts_ms, partition_filter=partition_filter,
            _ctx=_ctx, _catalog_ctx=_catalog_ctx,
            _preloaded_meta=_preloaded_meta,
        ),
        predicate, set_exprs,
    )


def merge_into(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: list[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    latest_wins_on: list[str] | None = None,
    snapshot_ts_ms: int | None = None,
    txn: tuple[str, int] | None = None,
    set_exprs: dict[str, str] | None = None,
    _ctx: dict | None = None,
    _catalog_ctx: tuple | None = None,
    _preloaded_meta: dict | None = None,
) -> int | None:
    """Jar-less Iceberg v2 merge-on-read ``MERGE INTO`` (the CDC-apply
    shape): one atomic commit that position-deletes every target row
    whose ``on`` key appears in ``source`` and appends the replacement
    rows the clauses call for. Returns the new snapshot id, or None
    when the merge is a no-op.

    - ``when_matched="update"``: matched target rows are replaced by
      their source rows (full-row upsert — the source must carry the
      table's columns and be unique on ``on``; a duplicate source key
      raises, matching Spark/Delta MERGE's multiple-source-rows error).
      ``set_exprs`` makes it a per-column update over the ``t``/``s``
      pair instead.
    - ``when_matched="delete"``: matched target rows are removed.
    - ``when_matched="ignore"``: the INSERT-ONLY merge — no delete
      files, a plain fast-append snapshot.
    - ``when_not_matched="insert"``: source rows with no target match
      are appended; ``"ignore"`` drops them.
    - ``latest_wins_on`` (update-mode only): the source is reduced to
      its newest row per key, and a matched target row is replaced
      only by a strictly NEWER source row (lexicographic struct over
      the named columns) — replaying the same batch commits nothing.

    Planned by sources/row_level.merge, shared with
    delta_py.merge_delta: the match set is a LEFT SEMI join from the
    tagged live scan onto ``source``'s distinct keys — a
    shuffle-or-broadcast join Catalyst/AQE sizes (never a collected
    IN-list), carrying back only the (file, pos) identity the delete
    files encode — and the replacement rows come from ``source`` by
    anti/semi joins against the live key set, all executor-side.

    Parity: the reference applies CDC through its warehouse MERGE
    (query passthrough, src/db/db.go:59); streaming/cdc_apply.py is the
    foreachBatch twin of this batch committer."""
    return row_level.merge(
        _dml_target(
            spark, table_path, snapshot_ts_ms, txn=txn, _ctx=_ctx,
            _catalog_ctx=_catalog_ctx, _preloaded_meta=_preloaded_meta,
        ),
        source, on, when_matched, when_not_matched, latest_wins_on, set_exprs,
    )


def _dml_target(
    spark: SparkSession,
    table_path: str,
    snapshot_ts_ms: int | None,
    txn: tuple[str, int] | None = None,
    partition_filter: dict[str, set] | None = None,
    _ctx: dict | None = None,
    _catalog_ctx: tuple | None = None,
    _preloaded_meta: dict | None = None,
) -> row_level.Target:
    """The delete-applying reader, the position-delete committer and the
    fast-append committer, bound for one row-level statement (see
    sources/row_level.py)."""
    return row_level.Target(
        read_live=lambda: read_iceberg_py(
            spark, table_path, partition_filter=partition_filter,
            _preloaded_meta=_preloaded_meta,
        ),
        commit=lambda matcher, replacement: _v2_row_level_commit(
            spark, table_path, matcher, replacement, snapshot_ts_ms,
            partition_filter=partition_filter, txn=txn,
            _ctx=_ctx, _catalog_ctx=_catalog_ctx,
        ),
        append=lambda rows: append_iceberg_v2(
            spark, table_path, rows, snapshot_ts_ms=snapshot_ts_ms, txn=txn,
            _ctx=_ctx, _catalog_ctx=_catalog_ctx,
        ),
    )


def upsert_equality(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: list[str],
    snapshot_ts_ms: int | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """SCAN-FREE CDC upsert via EQUALITY DELETES (the streaming-writer
    pattern Flink's Iceberg sink uses): ONE v2 snapshot that appends
    ``source`` as data files AND writes an equality-delete file on the
    ``on`` columns listing the source keys. The spec's strict-
    inequality gate (equality deletes apply only to data files with
    data_seq < delete_seq; read-side: _apply_v2_deletes) makes the
    delete hit every PRE-EXISTING file but never the same-snapshot
    appends — matched target rows die, source rows live.

    Why this exists next to merge_into: position-delete MERGE must SCAN
    the target to find (file, pos) identities — O(table) work per
    batch. This writer is O(source) regardless of table size: the only
    things written are the source rows and a key list. The cost moves
    to READERS (one null-safe anti-join per stacked delete group),
    which is exactly the merge-on-read trade; rewrite_data_files
    materializes the debt away. Use merge_into for rare large batches,
    upsert_equality for frequent small CDC batches — the same guidance
    the Iceberg docs give for the two delete shapes.

    The delete file is table-wide (a key may have moved partitions, so
    partition-scoping it would resurrect rows): its manifest uses an
    UNPARTITIONED spec, appended to partition-specs if the table lacks
    one. ``source`` must be unique on ``on`` (CDC dedupe upstream) and
    carry every table column."""
    import time as _time
    import uuid

    ctx = _v2_table_context(table_path, "equality-delete upsert")
    meta = ctx["meta"]
    schema_json = ctx["schema_json"]
    field_names = ctx["field_names"]
    field_ids = ctx["field_ids"]
    part_struct_names = ctx["part_struct_names"]
    part_src_cols = ctx["part_src_cols"]
    part_avro = ctx["part_avro"]
    spec_id = ctx["spec_id"]
    snapshot = ctx["snapshot"]
    location = ctx["location"]
    missing = sorted(set(on) - set(field_ids))
    if missing:
        raise ValueError(f"equality-delete key columns not in table schema: {missing}")
    missing_cols = sorted(set(field_names.values()) - set(source.columns))
    if missing_cols:
        raise ValueError(f"upsert source lacks table columns: {missing_cols}")
    eq_ids = [field_ids[c] for c in on]

    # the table-wide delete manifest needs an UNPARTITIONED spec
    specs = ctx["specs"] or [{"spec-id": 0, "fields": []}]
    eq_spec = next((s for s in specs if not s.get("fields")), None)
    if eq_spec is None:
        eq_spec = {"spec-id": max(s["spec-id"] for s in specs) + 1, "fields": []}
        meta["partition-specs"] = [*specs, eq_spec]
    eq_spec_id = int(eq_spec["spec-id"])

    if snapshot is None:
        raise ValueError(f"{table_path!r} has no current snapshot to upsert into")
    _, manifest_rows = read_avro_file(
        _resolve(snapshot["manifest-list"], table_path, location)
    )
    new_list_rows = list(manifest_rows)

    sid = max(s["snapshot-id"] for s in ctx["snapshots"]) + 1
    new_seq = int(meta.get("last-sequence-number", 0)) + 1
    now = int(snapshot_ts_ms if snapshot_ts_ms is not None else _time.time() * 1000)
    mdir = os.path.join(table_path, "metadata")

    # 1. the key list: one small parquet per executor partition — a CDC
    # batch's keys, coalesced (they are metadata-sized relative to the
    # table; the WHOLE point is never touching the table's data files)
    spark_schema = iceberg_to_spark_type(schema_json)
    keys = source.select(
        *[
            F.col(c).cast(spark_schema[c].dataType).alias(c)
            for c in on
        ]
    ).distinct().coalesce(1)
    eq_dir = os.path.join(table_path, "data", f"eqdel-{sid}-{uuid.uuid4().hex[:8]}")
    keys.write.mode("overwrite").parquet(eq_dir)
    delete_entries = _parquet_entries(
        spark, file_stats.part_files(eq_dir), variant=False,
        content=2, seq=new_seq, equality_ids=eq_ids, snapshot_id=sid,
    )
    del_manifest = os.path.join(mdir, _uniq(f"manifest-eqdeletes-{sid}.avro"))
    write_avro_file(
        del_manifest, manifest_entry_schema_v2([]), delete_entries, codec="null"
    )
    new_list_rows.append(
        {
            "manifest_path": fsio.absolute(del_manifest),
            "manifest_length": fsio.size(del_manifest),
            "partition_spec_id": eq_spec_id,
            "content": 1,
            "sequence_number": new_seq,
            "min_sequence_number": new_seq,
            "added_snapshot_id": sid,
        }
    )

    # 2. the source rows as data files at the SAME sequence number
    # (immune to the delete by strict inequality)
    pid_of: dict[tuple, int] = {}

    def _pid(tup: tuple) -> int:
        if tup not in pid_of:
            pid_of[tup] = len(pid_of)
        return pid_of[tup]

    replacement = source.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in spark_schema.fields
        ]
    )
    data_entries = _stage_v2_data_files(
        spark,
        replacement,
        table_path,
        sid,
        new_seq,
        ctx,
        _pid,
        pid_of,
    )
    if data_entries:
        data_manifest = os.path.join(mdir, _uniq(f"manifest-data-{sid}.avro"))
        write_avro_file(
            data_manifest,
            manifest_entry_schema_v2(part_avro),
            data_entries,
            codec="null",
            extra_meta=_schema_stamp(ctx["meta"]),
        )
        new_list_rows.append(
            {
                "manifest_path": fsio.absolute(data_manifest),
                "manifest_length": fsio.size(data_manifest),
                "partition_spec_id": spec_id,
                "content": 0,
                "sequence_number": new_seq,
                "min_sequence_number": new_seq,
                "added_snapshot_id": sid,
            }
        )

    return _v2_commit_snapshot(
        table_path, ctx, new_list_rows, new_seq, sid, now, "overwrite",
        summary_extra=(
            {"app-id": txn[0], "batch-id": txn[1]} if txn else None
        ),
    )


def append_iceberg_v2(
    spark: SparkSession,
    table_path: str,
    df: DataFrame,
    snapshot_ts_ms: int | None = None,
    txn: tuple[str, int] | None = None,
    branch: str | None = None,
    _ctx: dict | None = None,
    _catalog_ctx: tuple | None = None,
) -> int:
    """Jar-less Iceberg v2 APPEND, including PARTITIONED tables: one
    snapshot whose manifest list is the current snapshot's rows plus a
    new data manifest for ``df``'s files — the plain fast-append every
    Iceberg writer does (v1 append via write_iceberg refuses
    partitioned tables; this is the partition-routing path). Rows are
    routed to identity partitions by the same broadcast value->pid map
    the DML committer uses; no existing file or delete is touched, and
    stacked equality deletes (lower sequence numbers) do NOT apply to
    the appended files (strict-inequality gate)."""
    import time as _time

    ctx = (
        _ctx
        if _ctx is not None
        else _v2_table_context(table_path, "append", branch=branch)
    )
    meta = ctx["meta"]
    schema_json = ctx["schema_json"]
    snapshot = ctx["snapshot"]
    missing_cols = sorted(set(ctx["field_names"].values()) - set(df.columns))
    if missing_cols:
        raise ValueError(f"append source lacks table columns: {missing_cols}")
    if snapshot is None:
        # fresh table (create_iceberg_v2_table): first snapshot
        new_list_rows = []
        sid = 1
    else:
        _, manifest_rows = read_avro_file(
            _resolve(snapshot["manifest-list"], table_path, ctx["location"])
        )
        new_list_rows = list(manifest_rows)
        sid = max(s["snapshot-id"] for s in ctx["snapshots"]) + 1
    new_seq = int(meta.get("last-sequence-number", 0)) + 1
    now = int(snapshot_ts_ms if snapshot_ts_ms is not None else _time.time() * 1000)
    mdir = os.path.join(table_path, "metadata")

    spark_schema = iceberg_to_spark_type(schema_json)
    aligned = df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in spark_schema.fields]
    )
    pid_of: dict[tuple, int] = {}

    def _pid(tup: tuple) -> int:
        if tup not in pid_of:
            pid_of[tup] = len(pid_of)
        return pid_of[tup]

    data_entries = _stage_v2_data_files(
        spark,
        aligned,
        table_path,
        sid,
        new_seq,
        ctx,
        _pid,
        pid_of,
    )
    if not data_entries:
        # empty append: no commit (fresh empty table stays snapshotless)
        return int(snapshot["snapshot-id"]) if snapshot is not None else -1
    data_manifest = os.path.join(mdir, _uniq(f"manifest-data-{sid}.avro"))
    write_avro_file(
        data_manifest,
        manifest_entry_schema_v2(ctx["part_avro"]),
        data_entries,
        codec="null",
        extra_meta=_schema_stamp(ctx["meta"]),
    )
    new_list_rows.append(
        {
            "manifest_path": fsio.absolute(data_manifest),
            "manifest_length": fsio.size(data_manifest),
            "partition_spec_id": ctx["spec_id"],
            "content": 0,
            "sequence_number": new_seq,
            "min_sequence_number": new_seq,
            "added_snapshot_id": sid,
        }
    )
    return _v2_commit_snapshot(
        table_path, ctx, new_list_rows, new_seq, sid, now, "append",
        summary_extra=(
            {"app-id": txn[0], "batch-id": txn[1]} if txn else None
        ),
        branch=branch,
        catalog_ctx=_catalog_ctx,
    )


def last_txn_version_iceberg(table_path: str, app_id: str) -> int:
    """Highest ``batch-id`` stamped in any snapshot summary for
    ``app_id`` — the Iceberg twin of delta_py.last_txn_version (Flink's
    sink records its checkpoint id in snapshot properties the same
    way). Streaming sinks skip micro-batches at or below this
    watermark, upgrading at-least-once redelivery to exactly-once.
    Returns -1 when the app has no recorded batch. O(snapshots) driver
    metadata work; expire_snapshots can age the record out, which only
    re-allows a batch so old the checkpoint could never replay it."""
    try:
        meta = json.loads(fsio.read_text(latest_metadata_file(table_path)))
    except FileNotFoundError:
        return -1
    return last_txn_version_from_meta(meta, app_id)


def last_txn_version_from_meta(meta: dict, app_id: str) -> int:
    """The txn watermark computed from an ALREADY-LOADED metadata dict
    — what a catalog-addressed sink uses (the LoadTableResult is the
    commit pointer; re-walking the path would race it)."""
    best = -1
    for snap in meta.get("snapshots") or []:
        summ = snap.get("summary") or {}
        if summ.get("app-id") == app_id and "batch-id" in summ:
            best = max(best, int(summ["batch-id"]))
    return best


def upgrade_iceberg_format_version(
    spark: SparkSession, table_path: str, snapshot_ts_ms: int | None = None
) -> int | None:
    """Upgrade a format-version-2 table to v3 (spec "Version 3":
    deletion vectors, row lineage).

    - Existing parquet position-delete files are CONVERTED to Puffin
      deletion vectors in the same upgrade (v3 forbids position-delete
      files): their (file_path, pos) rows are read distributed, grouped
      per referenced data file, and written as one DV per file at a
      fresh sequence number (safe: positions address exact file paths,
      so lifting the sequence number cannot touch other files' rows);
      the old position-delete entries are dropped from their manifests.
      Equality deletes remain valid in v3 and are untouched.
    - ``next-row-id`` is seeded at 0: row lineage starts with the first
      post-upgrade snapshot (each new snapshot records ``first-row-id``
      and advances ``next-row-id`` by its added record count —
      _v2_commit_snapshot); pre-upgrade snapshots keep v2 semantics.

    Returns the conversion snapshot id, or None when the table had no
    position deletes (pure metadata bump, no new snapshot)."""
    import time as _time

    ctx = _v2_table_context(table_path, "format upgrade")
    meta = ctx["meta"]
    if ctx["format_version"] >= 3:
        raise ValueError(f"{table_path!r} is already format-version 3")
    location = ctx["location"]
    snapshot = ctx["snapshot"]
    mdir = os.path.join(table_path, "metadata")

    pos_delete_paths: set[str] = set()
    manifest_rows: list[dict] = []
    data_parts: dict[str, dict] = {}
    if snapshot is not None:
        _, manifest_rows = read_avro_file(
            _resolve(snapshot["manifest-list"], table_path, location)
        )
        manifest_rows = list(manifest_rows)
        for m in manifest_rows:
            _, entries = read_avro_file(
                _resolve(m["manifest_path"], table_path, location)
            )
            for e in entries:
                if e["status"] == 2:
                    continue
                dfile = e["data_file"]
                if (
                    dfile.get("content", 0) == 1
                    and dfile["file_format"].lower() == "parquet"
                ):
                    pos_delete_paths.add(
                        _resolve(dfile["file_path"], table_path, location)
                    )
                elif dfile.get("content", 0) == 0:
                    data_parts[
                        _norm_path(_resolve(dfile["file_path"], table_path, location))
                    ] = dfile.get("partition") or {}

    meta["format-version"] = 3
    meta["next-row-id"] = 0
    ctx["meta"] = meta

    if not pos_delete_paths:
        # pure metadata bump: no new snapshot needed
        meta_path = ctx["meta_path"]
        version = int(os.path.basename(meta_path).split(".")[0].lstrip("v")) + 1
        _write_json_if_absent(os.path.join(mdir, f"v{version}.metadata.json"), meta)
        _write_text_atomic(os.path.join(mdir, "version-hint.text"), str(version))
        return None

    sid = max(s["snapshot-id"] for s in ctx["snapshots"]) + 1
    new_seq = int(meta.get("last-sequence-number", 0)) + 1
    now = int(snapshot_ts_ms if snapshot_ts_ms is not None else _time.time() * 1000)

    positions = spark.read.parquet(*sorted(pos_delete_paths)).select(
        F.regexp_replace(F.col("file_path"), r"^file:(//)?", "").alias("file_path"),
        F.col("pos").cast("long").alias("pos"),
    )
    dv_dir = os.path.join(table_path, "data", f"dv-upgrade-{sid}")
    dv_rows = _write_dv_files(spark, positions, dv_dir, sid, new_seq)

    # drop the converted position-delete entries from their manifests
    new_list_rows: list[dict] = []
    for r in manifest_rows:
        if r.get("content", 0) != 1:
            new_list_rows.append(r)
            continue
        _, entries = read_avro_file(_resolve(r["manifest_path"], table_path, location))
        entries = list(entries)
        keep = [
            e
            for e in entries
            if not (
                e["data_file"].get("content", 0) == 1
                and e["data_file"]["file_format"].lower() == "parquet"
            )
        ]
        if len(keep) == len(entries):
            new_list_rows.append(r)
        elif keep:
            newman = os.path.join(mdir, _uniq("manifest-v3conv.avro"))
            write_avro_file(
                newman, manifest_entry_schema_v2(ctx["part_avro"]), keep, codec="null"
            )
            new_list_rows.append(
                {
                    **r,
                    "manifest_path": fsio.absolute(newman),
                    "manifest_length": fsio.size(newman),
                }
            )
    dv_entries = [
        _v2_entry(
            r["puffin"],
            content=1,
            seq=new_seq,
            snapshot_id=sid,
            partition=data_parts.get(r["data_fp"]) or {},
            dv=(r["data_fp"], r["off"], r["size"], r["card"]),
        )
        for r in sorted(dv_rows, key=lambda r: r["data_fp"])
    ]
    dv_manifest = os.path.join(mdir, _uniq(f"manifest-dv-{sid}.avro"))
    write_avro_file(
        dv_manifest, manifest_entry_schema_v2(ctx["part_avro"]), dv_entries,
        codec="null",
    )
    new_list_rows.append(
        {
            "manifest_path": fsio.absolute(dv_manifest),
            "manifest_length": fsio.size(dv_manifest),
            "partition_spec_id": ctx["spec_id"],
            "content": 1,
            "sequence_number": new_seq,
            "min_sequence_number": new_seq,
            "added_snapshot_id": sid,
        }
    )
    return _v2_commit_snapshot(
        table_path, ctx, new_list_rows, new_seq, sid, now, "replace"
    )


def rewrite_data_files(
    spark: SparkSession,
    table_path: str,
    target_file_mb: float = 128,
    zorder_by: list[str] | None = None,
    snapshot_ts_ms: int | None = None,
    _ctx: dict | None = None,
    _catalog_ctx: tuple | None = None,
    _preloaded_meta: dict | None = None,
) -> int:
    """Jar-less Iceberg v2 compaction (the ``rewrite_data_files``
    maintenance action): read the table's LIVE rows (position/equality
    deletes applied), rewrite them as right-sized data files, and
    commit a ``replace`` snapshot whose manifest list carries ONLY the
    new files — merge-on-read debt (delete files, fragmented small
    files) is materialized away while table content is bit-identical.
    Returns the new snapshot id.

    Scale shape: the rewrite is one distributed read + one distributed
    write; the target file count comes from the MANIFEST byte sizes
    (driver reads metadata only, never data). Partitioned tables
    repartition on the partition source columns so each task holds
    whole partitions and partitionBy emits ~1 compacted file per
    partition; unpartitioned tables repartition to
    ceil(live_bytes / target), and ``zorder_by`` clusters the rewrite
    along the Morton curve (the sort-order rewrite strategy;
    layout.cluster_for_rewrite). Old snapshots still reference the old
    files, so time travel keeps working until expire_snapshots drops
    them — exactly the contract of the real maintenance action.

    Single-writer assumed (HadoopTables layout, like every committer in
    this module): a concurrent row-level DML against the pre-rewrite
    snapshot would be lost by this replace."""
    import math
    import time as _time

    ctx = _ctx if _ctx is not None else _v2_table_context(
        table_path, "compaction (rewrite_data_files)"
    )
    meta = ctx["meta"]
    part_struct_names = ctx["part_struct_names"]
    part_src_cols = ctx["part_src_cols"]
    part_avro = ctx["part_avro"]
    spec_id = ctx["spec_id"]
    snapshot = ctx["snapshot"]
    location = ctx["location"]
    if snapshot is None:
        raise ValueError(f"{table_path!r} has no current snapshot to rewrite")

    # live byte total from MANIFEST metadata (one row per data file)
    _, manifest_rows = read_avro_file(
        _resolve(snapshot["manifest-list"], table_path, location)
    )
    live_bytes = 0
    for m in manifest_rows:
        _, entries = read_avro_file(_resolve(m["manifest_path"], table_path, location))
        for e in entries:
            if e["status"] != 2 and e["data_file"].get("content", 0) == 0:
                live_bytes += int(e["data_file"].get("file_size_in_bytes") or 0)
    n_files = max(1, math.ceil(live_bytes / (target_file_mb * 1024 * 1024)))

    live = read_iceberg_py(spark, table_path, _preloaded_meta=_preloaded_meta)
    from gcs2postgres_spark.layout import cluster_for_rewrite

    # this committer owns the write action — release the rewrite-input
    # cache right after the staged files exist (r17 ADVICE)
    _caches: list = []
    compacted = cluster_for_rewrite(
        live, n_files, part_src_cols, zorder_by, caches=_caches
    )

    sid = max(s["snapshot-id"] for s in ctx["snapshots"]) + 1
    new_seq = int(meta.get("last-sequence-number", 0)) + 1
    now = int(snapshot_ts_ms if snapshot_ts_ms is not None else _time.time() * 1000)
    mdir = os.path.join(table_path, "metadata")
    pid_of: dict[tuple, int] = {}

    def _pid(tup: tuple) -> int:
        if tup not in pid_of:
            pid_of[tup] = len(pid_of)
        return pid_of[tup]

    try:
        data_entries = _stage_v2_data_files(
            spark,
            compacted,
            table_path,
            sid,
            new_seq,
            ctx,
            _pid,
            pid_of,
        )
    finally:
        for _c in _caches:
            _c.unpersist()
    new_list_rows = []
    if data_entries:
        data_manifest = os.path.join(mdir, _uniq(f"manifest-data-{sid}.avro"))
        write_avro_file(
            data_manifest, manifest_entry_schema_v2(part_avro), data_entries,
            codec="null", extra_meta=_schema_stamp(ctx["meta"]),
        )
        new_list_rows.append(
            {
                "manifest_path": fsio.absolute(data_manifest),
                "manifest_length": fsio.size(data_manifest),
                "partition_spec_id": spec_id,
                "content": 0,
                "sequence_number": new_seq,
                "min_sequence_number": new_seq,
                "added_snapshot_id": sid,
            }
        )
    return _v2_commit_snapshot(
        table_path, ctx, new_list_rows, new_seq, sid, now, "replace",
        catalog_ctx=_catalog_ctx,
    )


def _v2_table_context(
    table_path: str,
    op: str,
    branch: str | None = None,
    preloaded: tuple[dict, str] | None = None,
) -> dict:
    """Shared head of every v2 committer (row-level DML, equality
    upsert, compaction, append): local-scheme guard, metadata + current
    schema/snapshot resolution, and the partition-spec validation that
    gates jar-less partition ROUTING. Returns the parsed pieces each
    committer composes; raising here keeps the error texts uniform
    across operations.

    ``branch`` resolves the BASE snapshot from the named branch ref
    instead of the table head (the write-audit-publish staging flow);
    a branch that does not exist yet starts from the current head (the
    same implicit creation spark.wap.branch performs).

    ``preloaded`` is (metadata dict, metadata-location) from a catalog's
    LoadTableResult — the CATALOG is the commit pointer for such tables,
    so the version-hint walk is skipped entirely (a path-addressed walk
    could see a stale or divergent head)."""
    logstore.check_write_scheme(table_path)
    if preloaded is not None:
        meta, meta_path = dict(preloaded[0]), preloaded[1]
    else:
        meta_path = latest_metadata_file(table_path)
        meta = json.loads(fsio.read_text(meta_path))
    if meta.get("format-version", 1) not in (2, 3):
        raise ValueError(
            f"{op} is a format-version-2+ feature; "
            f"{table_path!r} is v{meta.get('format-version', 1)} "
            "(for v1 use write_iceberg overwrite, which swaps snapshots)"
        )
    schema_json = _load_current_schema(meta)
    field_names = {f["id"]: f["name"] for f in schema_json["fields"]}
    field_ids = {f["name"]: f["id"] for f in schema_json["fields"]}
    field_types = {f["id"]: f["type"] for f in schema_json["fields"]}
    specs = meta.get("partition-specs") or []
    default_spec = next(
        (s for s in specs if s.get("spec-id") == meta.get("default-spec-id", 0)),
        specs[0] if specs else None,
    )
    part_fields = (default_spec or {}).get("fields", [])
    # Hidden-partitioning transforms (spec "Partition Transforms"):
    # identity / bucket[N] / truncate[W] / year / month / day / hour are
    # all supported for DML and appends — the committers route rows by
    # the TRANSFORMED value (iceberg_transforms.transform_expr), and the
    # manifest partition structs store the transform's result type.
    from gcs2postgres_spark.sources.iceberg_transforms import (
        parse_transform,
        storage_transform,
    )

    part_avro: list[tuple[str, str]] = []
    part_transforms: list[str] = []
    for f in part_fields:
        t = field_types[f["source-id"]]
        tr = f.get("transform", "identity")
        kind, _arg = parse_transform(tr)  # unknown transform: ValueError
        ok = {
            "identity": ("int", "long", "string", "date", "timestamp", "timestamptz"),
            "truncate": ("int", "long", "string"),
            "bucket": ("int", "long", "string", "date", "timestamp", "timestamptz"),
            "year": ("date", "timestamp", "timestamptz"),
            "month": ("date", "timestamp", "timestamptz"),
            "day": ("date", "timestamp", "timestamptz"),
            "hour": ("timestamp", "timestamptz"),
        }.get(kind)
        if ok is None or t not in ok:
            raise NotImplementedError(
                f"{tr} partition on iceberg type {t!r} for jar-less {op}: "
                f"table {_JAR_HINT}"
            )
        # part_transforms carries the STORAGE transform: identity on a
        # temporal source stores the underlying int days / long micros
        # (spec partition-struct encoding), so routing and pruning both
        # compute exactly the stored value
        st = storage_transform(tr, t)
        if st == "micros":
            avro_t = "long"
        elif kind == "bucket" or st in ("year", "month", "day", "hour"):
            avro_t = "int"
        else:
            avro_t = {"int": "int", "long": "long", "string": "string"}[t]
        part_avro.append((f["name"], avro_t))
        part_transforms.append(st)
    snapshots = meta.get("snapshots") or []
    snap_id = meta.get("current-snapshot-id")
    if branch is not None:
        ref = (meta.get("refs") or {}).get(branch)
        if ref is not None:
            if ref.get("type") == "tag":
                raise ValueError(
                    f"{branch!r} is a tag (immutable); commits need a branch"
                )
            snap_id = int(ref["snapshot-id"])
        # else: new branch — base on the current head (implicit create)
    snapshot = None
    if snap_id is not None and snap_id != -1 and snapshots:
        snapshot = next(s for s in snapshots if s["snapshot-id"] == snap_id)
    return {
        "meta_path": meta_path,
        "meta": meta,
        "schema_json": schema_json,
        "field_names": field_names,
        "field_ids": field_ids,
        "field_types": field_types,
        "specs": specs,
        "part_fields": part_fields,
        "part_struct_names": [f["name"] for f in part_fields],
        "part_src_cols": [field_names[f["source-id"]] for f in part_fields],
        "part_src_types": [field_types[f["source-id"]] for f in part_fields],
        "part_transforms": part_transforms,
        "part_avro": part_avro,
        "spec_id": int(meta.get("default-spec-id", 0)),
        "snapshots": snapshots,
        "snapshot": snapshot,
        "location": meta.get("location"),
        "format_version": int(meta.get("format-version", 1)),
    }


def _v2_commit_snapshot(
    table_path: str,
    ctx: dict,
    new_list_rows: list[dict],
    new_seq: int,
    sid: int,
    now: int,
    operation: str,
    summary_extra: dict | None = None,
    branch: str | None = None,
    catalog_ctx: tuple | None = None,
) -> int:
    """Shared tail of every v2 committer: write the manifest list,
    append the snapshot, bump sequence/version, and commit the metadata
    with PUT-IF-ABSENT semantics (hard-link, no overwrite) plus
    OPTIMISTIC-CONCURRENCY retry: when a concurrent writer wins the
    version race, an APPEND rebases — its (immutable) data files get a
    fresh manifest stamped with the new head's snapshot/sequence ids
    and the commit retries on top of the winner; any other operation
    raises CommitConflictError (its matched file inventory is stale).
    This is the same conflict model the jar-ful HadoopTableOperations +
    SnapshotProducer pair implements.

    ``catalog_ctx`` = (IcebergRestCatalog, namespace, table name): the
    commit goes THROUGH the catalog instead of the file layout — the
    client still writes manifests + the manifest list (exactly what the
    Java SnapshotProducer does under a REST catalog), but metadata
    application happens server-side via CommitTableRequest
    ``requirements``/``updates`` (assert-table-uuid +
    assert-ref-snapshot-id guarding the base; add-snapshot +
    set-snapshot-ref applying the new head). A 409 means a concurrent
    committer won: appends REFRESH from the catalog and rebase onto the
    new head (same restack as the file path), other operations raise
    CommitConflictError."""
    meta, meta_path = dict(ctx["meta"]), ctx["meta_path"]
    mdir = os.path.join(table_path, "metadata")
    added_rows = 0
    if int(meta.get("format-version", 1)) >= 3:
        # v3 row lineage: count the rows this snapshot ADDS (status=1
        # data entries in this sid's manifests — record_count sums, a
        # driver metadata read over just-written small files) so the
        # snapshot can carry first-row-id and the table next-row-id
        # advances (spec "Row Lineage")
        for r in new_list_rows:
            if r.get("added_snapshot_id") == sid and r.get("content", 0) == 0:
                _, entries = read_avro_file(
                    _resolve(r["manifest_path"], table_path, meta.get("location"))
                )
                added_rows += sum(
                    int(e["data_file"].get("record_count") or 0)
                    for e in entries
                    if e["status"] == 1 and e["data_file"].get("content", 0) == 0
                )
    while True:
        # the base this attempt builds on — what the catalog's
        # assert-ref-snapshot-id requirement must match (None on a
        # snapshotless table; refreshed after every rebase)
        if branch is not None:
            _bref = (meta.get("refs") or {}).get(branch)
            base_sid = int(_bref["snapshot-id"]) if _bref else None
        else:
            base_sid = meta.get("current-snapshot-id")
            if base_sid == -1:
                base_sid = None
        mlist = os.path.join(mdir, _uniq(f"snap-{sid}.avro"))
        write_avro_file(mlist, MANIFEST_LIST_SCHEMA_V2, new_list_rows, codec="null")
        meta["last-sequence-number"] = new_seq
        meta["last-updated-ms"] = now
        if branch is None:
            meta["current-snapshot-id"] = sid
        else:
            # STAGED commit (write-audit-publish): only the branch ref
            # moves; readers of the table head see nothing until
            # fast_forward publishes the branch
            refs = dict(meta.get("refs") or {})
            refs[branch] = {"snapshot-id": sid, "type": "branch"}
            meta["refs"] = refs
        summary = {"operation": operation}
        if summary_extra:
            # streaming exactly-once bookkeeping (Flink-sink style
            # snapshot properties, e.g. app-id / batch-id)
            summary.update({k: str(v) for k, v in summary_extra.items()})
        snap = {
            "snapshot-id": sid,
            "sequence-number": new_seq,
            "timestamp-ms": now,
            "summary": summary,
            "manifest-list": fsio.absolute(mlist),
        }
        if int(meta.get("format-version", 1)) >= 3:
            first = int(meta.get("next-row-id", 0))
            snap["first-row-id"] = first
            meta["next-row-id"] = first + added_rows
        meta["snapshots"] = list(meta.get("snapshots") or []) + [snap]
        conflict = False
        if catalog_ctx is not None:
            # CATALOG-MEDIATED COMMIT: the catalog pointer is the
            # commit authority — client-side files (manifests + list)
            # are already written; metadata application happens on the
            # server via requirements/updates. The spec's optimistic-
            # concurrency contract: assert the base we built on, 409
            # means someone else committed first.
            from gcs2postgres_spark.sources.rest_catalog import (
                CatalogCommitConflict,
            )

            client, cat_ns, cat_name = catalog_ctx
            ref_name = branch if branch is not None else "main"
            if int(meta.get("format-version", 1)) >= 3:
                # v3 row lineage: real writers stamp added-records in
                # the snapshot summary; the serving catalog uses it to
                # advance next-row-id past this snapshot's block
                snap["summary"]["added-records"] = str(added_rows)
            try:
                client.commit_table(
                    cat_ns,
                    cat_name,
                    requirements=[
                        {
                            "type": "assert-table-uuid",
                            "uuid": meta.get("table-uuid"),
                        },
                        {
                            "type": "assert-ref-snapshot-id",
                            "ref": ref_name,
                            "snapshot-id": base_sid,
                        },
                    ],
                    updates=[
                        {"action": "add-snapshot", "snapshot": snap},
                        {
                            "action": "set-snapshot-ref",
                            "ref-name": ref_name,
                            "snapshot-id": sid,
                            "type": "branch",
                        },
                    ],
                )
                return sid
            except CatalogCommitConflict:
                conflict = True
        else:
            version = (
                int(os.path.basename(meta_path).split(".")[0].lstrip("v")) + 1
            )
            try:
                _write_json_if_absent(
                    os.path.join(mdir, f"v{version}.metadata.json"), meta
                )
            except FileExistsError:
                conflict = True
            if not conflict:
                # hint write stays OUTSIDE the put-if-absent guard: it
                # is an overwrite-allowed optimization, and a store
                # surfacing FileExistsError from it must not be
                # mistaken for a lost commit race
                _write_text_atomic(
                    os.path.join(mdir, "version-hint.text"), str(version)
                )
                return sid
        if conflict:
            if operation != "append":
                raise CommitConflictError(
                    f"concurrent commit of {table_path!r} beat this "
                    f"{operation!r} snapshot; its file matches are stale — "
                    "re-read and retry the operation"
                ) from None
            # APPEND REBASE: re-read the true head (catalog: refresh the
            # LoadTableResult; files: ignore the hint — a crashed winner
            # may not have updated it), restack OUR new manifests (rows
            # this sid added) onto the head's list with fresh
            # snapshot/sequence ids
            if catalog_ctx is not None:
                res = catalog_ctx[0].load_table(catalog_ctx[1], catalog_ctx[2])
                head = res["metadata"]
                head_path = res.get("metadata-location") or meta_path
            else:
                def _ver(p: str) -> int:
                    m = re.match(r"v?(\d+)", os.path.basename(p))
                    return int(m.group(1)) if m else -1

                heads = [
                    os.path.join(mdir, n)
                    for n in fsio.listdir(mdir)
                    if n.endswith(".metadata.json")
                ]
                head_path = max(heads, key=lambda p: (_ver(p), p))
                head = json.loads(fsio.read_text(head_path))

            # an append rebases over DISJOINT appends only: a concurrent
            # schema or partition-spec change invalidates the rows this
            # writer staged against the old contract (same rule the
            # Delta side's _commit_with_rebase enforces on metaData)
            def _cur_schema(m: dict):
                if "schemas" in m:
                    cs = m.get("current-schema-id", 0)
                    return next(
                        (s for s in m["schemas"] if s.get("schema-id", 0) == cs),
                        None,
                    )
                return m.get("schema")

            if json.dumps(_cur_schema(head), sort_keys=True) != json.dumps(
                _cur_schema(ctx["meta"]), sort_keys=True
            ) or head.get("default-spec-id", 0) != ctx["meta"].get(
                "default-spec-id", 0
            ):
                raise CommitConflictError(
                    f"concurrent commit changed {table_path!r}'s schema or "
                    "partition spec; this append's rows were staged against "
                    "the old contract — re-read and retry"
                ) from None
            head_snaps = head.get("snapshots") or []
            head_cur = head.get("current-snapshot-id")
            if branch is not None:
                bref = (head.get("refs") or {}).get(branch)
                if bref is not None:
                    head_cur = int(bref["snapshot-id"])
            base_rows: list[dict] = []
            if head_cur is not None and head_cur != -1 and head_snaps:
                cur = next(s for s in head_snaps if s["snapshot-id"] == head_cur)
                _, base_rows = read_avro_file(
                    _resolve(cur["manifest-list"], table_path, head.get("location"))
                )
                base_rows = list(base_rows)
            new_sid = max((s["snapshot-id"] for s in head_snaps), default=0) + 1
            new_seq2 = int(head.get("last-sequence-number", 0)) + 1
            ours = [
                r for r in new_list_rows if r.get("added_snapshot_id") == sid
            ]
            rewritten = []
            # ONE row-id watermark across ALL rebased manifests — a
            # per-manifest reset would re-carve overlapping blocks
            # (duplicate _row_id values) for a losing commit that
            # carries more than one data manifest with first_row_id set
            lineage_base = int(head.get("next-row-id", 0))
            for i, r in enumerate(ours):
                _, entries, r_fmeta = read_avro_file_meta(
                    _resolve(r["manifest_path"], table_path, meta.get("location"))
                )
                for e in entries:
                    e["sequence_number"] = new_seq2
                    e["file_sequence_number"] = new_seq2
                    e["snapshot_id"] = new_sid
                    if (
                        int(head.get("format-version", 2)) >= 3
                        and e["data_file"].get("first_row_id") is not None
                    ):
                        # the loser's row-id block may collide with the
                        # winner's: re-carve from the HEAD's watermark
                        e["data_file"]["first_row_id"] = lineage_base
                        lineage_base += int(e["data_file"]["record_count"])
                import uuid as _uuid

                newman = os.path.join(
                    mdir, f"manifest-rebase-{new_sid}-{i}-{_uuid.uuid4().hex[:8]}.avro"
                )
                write_avro_file(
                    newman,
                    manifest_entry_schema_v2(ctx["part_avro"]),
                    list(entries),
                    codec="null",
                    # propagate the SOURCE manifest's schema facts: the
                    # files inside were written under that schema
                    extra_meta=_stamp_of(r_fmeta),
                )
                rewritten.append(
                    {
                        **r,
                        "manifest_path": fsio.absolute(newman),
                        "manifest_length": fsio.size(newman),
                        "sequence_number": new_seq2,
                        "min_sequence_number": new_seq2,
                        "added_snapshot_id": new_sid,
                    }
                )
            new_list_rows = base_rows + rewritten
            meta, meta_path = dict(head), head_path
            sid, new_seq = new_sid, new_seq2
            continue


def _stage_v2_data_files(
    spark: SparkSession,
    replacement: DataFrame,
    table_path: str,
    sid: int,
    new_seq: int,
    ctx: dict,
    _pid,
    pid_of: dict,
) -> list[dict]:
    """Write ``replacement`` as v2 data files (executor-side) and return
    their manifest entries. Rows (which may introduce NEW partition
    tuples) are routed by a broadcast tuple->pid map built from one
    distinct() over the TRANSFORMED partition values (identity: the
    source value itself; bucket/truncate/day/...: computed executor-side
    via iceberg_transforms.transform_expr) — one row per distinct
    partition tuple, the bound every partitioned committer pays. Data
    files keep ALL source columns (hidden partitioning: partition values
    are derived, never stored in place of the source column); only the
    synthetic routing columns are dropped."""
    import uuid

    from gcs2postgres_spark.sources.iceberg_transforms import transform_expr

    part_struct_names = ctx["part_struct_names"]
    part_src_cols = ctx["part_src_cols"]
    part_transforms = ctx["part_transforms"]
    # per-file lower/upper bounds for planning-time skipping: top-level
    # primitive columns only (footer-stat metadata read per staged file)
    bounds_spec = {
        name: (fid, ctx["field_types"][fid])
        for name, fid in ctx["field_ids"].items()
        if isinstance(ctx["field_types"].get(fid), str)
    }
    commit_dir = os.path.join(table_path, "data", f"commit-{sid}-{uuid.uuid4().hex[:8]}")
    if part_struct_names:
        ptcols = [f"__pt_{i}" for i in range(len(part_struct_names))]
        with_pt = replacement.select(
            "*",
            *[
                transform_expr(tr, src, replacement.schema[src].dataType).alias(pt)
                for tr, src, pt in zip(part_transforms, part_src_cols, ptcols)
            ],
        )
        new_tuples = [
            tuple(r) for r in with_pt.select(*ptcols).distinct().collect()
        ]
        map_fields = [
            T.StructField(f"__pm_{i}", with_pt.schema[pc].dataType, True)
            for i, pc in enumerate(ptcols)
        ]
        map_fields.append(T.StructField("__pid", T.IntegerType(), False))
        map_df = spark.createDataFrame(
            [t + (_pid(t),) for t in new_tuples], T.StructType(map_fields)
        )
        cond = None
        for i, pc in enumerate(ptcols):
            cc = with_pt[pc].eqNullSafe(map_df[f"__pm_{i}"])
            cond = cc if cond is None else cond & cc
        rep = with_pt.join(F.broadcast(map_df), cond).drop(
            *ptcols, *[f"__pm_{i}" for i in range(len(ptcols))]
        )
        # cluster rows by partition BEFORE the partitioned write: without
        # it every input task fans out into every partition directory —
        # a tasks×partitions small-files explosion (the sf1 sweep measured
        # 20k files / 50 s for a 640-partition append; one shuffle on the
        # dense pid makes it one file per partition). At cluster scale
        # this is the standard dynamic-partition-write shuffle.
        rep = rep.repartition(F.col("__pid"))
        rep.write.partitionBy("__pid").mode("overwrite").parquet(commit_dir)
        partition_of = _pid_partitions(
            commit_dir, part_struct_names,
            {pid: tup for tup, pid in pid_of.items()},
        )
    else:
        replacement.write.mode("overwrite").parquet(commit_dir)
        partition_of = None
    data_entries = _parquet_entries(
        spark, file_stats.part_files(commit_dir),
        variant=_schema_has_variant(ctx), partition_of=partition_of,
        content=0, seq=new_seq, snapshot_id=sid, bounds_spec=bounds_spec,
    )
    if ctx.get("format_version", 2) >= 3:
        # v3 row lineage: each data file gets a first_row_id block
        # [base, base + record_count) carved sequentially from the
        # table's next-row-id (the commit tail advances the watermark
        # by exactly the same added record count — _v2_commit_snapshot).
        # Compaction REASSIGNS ids in this build (preserving them
        # across file-merging rewrites needs materialized lineage
        # columns; documented deviation).
        base = int(ctx["meta"].get("next-row-id", 0))
        for e in data_entries:
            e["data_file"]["first_row_id"] = base
            base += int(e["data_file"]["record_count"])
    return data_entries


def merge_into_clauses(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    on: list[str],
    matched: list[dict] | None = None,
    not_matched: list[dict] | None = None,
    not_matched_by_source: list[dict] | None = None,
    snapshot_ts_ms: int | None = None,
    txn: tuple[str, int] | None = None,
    _ctx: dict | None = None,
    _catalog_ctx: tuple | None = None,
    _preloaded_meta: dict | None = None,
) -> int | None:
    """Full multi-clause conditional ``MERGE INTO`` for the jar-less v2
    committer (WHEN MATCHED AND cond THEN UPDATE/DELETE, WHEN NOT
    MATCHED [AND cond] THEN INSERT *, WHEN NOT MATCHED BY SOURCE
    [AND cond] THEN UPDATE/DELETE) — one atomic position-delete +
    append snapshot. Clause semantics and the single-join scale shape
    live in sources/row_level.py; single-clause ``merge_into``
    remains the CDC fast path."""
    return row_level.merge_clauses(
        _dml_target(
            spark, table_path, snapshot_ts_ms, txn=txn, _ctx=_ctx,
            _catalog_ctx=_catalog_ctx, _preloaded_meta=_preloaded_meta,
        ),
        source, on, matched, not_matched, not_matched_by_source,
    )


def _decode_dvs_df(spark: SparkSession, dv_descs: list[tuple[str, int, int, str]]):
    """(puffin path, offset, size, referenced file) descriptors → a
    distributed (file_path, pos) DataFrame. Descriptor frame is
    metadata-sized (one row per DV'd file); the roaring decode runs on
    executors via mapInPandas."""
    from pyspark import cloudpickle as _cp

    from gcs2postgres_spark.sources import dv_roaring, puffin
    from gcs2postgres_spark.sources.puffin import read_dv_frame

    _cp.register_pickle_by_value(puffin)
    _cp.register_pickle_by_value(dv_roaring)
    desc_df = spark.createDataFrame(
        dv_descs, "puffin string, off long, size long, ref string"
    ).repartition(min(len(dv_descs), spark.sparkContext.defaultParallelism))
    # scheme'd Puffin files: bytes ride the plan via a binaryFile scan
    # (executor-side, any Hadoop scheme) joined on path — same delivery
    # delta_py._apply_deletion_vectors uses
    remote_pf = sorted({d[0] for d in dv_descs if fsio.has_scheme(d[0])})
    if remote_pf:
        canon = lambda c: F.regexp_replace(c, r"^(\w+):/+", "$1:/")  # noqa: E731
        blobs = (
            spark.read.format("binaryFile")
            .load(remote_pf)
            .select(canon(F.col("path")).alias("__bp"),
                    F.col("content").alias("blob"))
        )
        desc_df = desc_df.join(
            blobs, canon(desc_df["puffin"]) == blobs["__bp"], "left"
        ).drop("__bp")
    else:
        desc_df = desc_df.withColumn("blob", F.lit(None).cast("binary"))

    def _decode(batches, _read=read_dv_frame):
        import pandas as pd

        for pdf in batches:
            for i in range(len(pdf)):
                row = pdf.iloc[i]
                if row["blob"] is not None:
                    raw = bytes(row["blob"])
                else:
                    with open(row["puffin"], "rb") as f:
                        raw = f.read()
                yield pd.DataFrame(
                    {
                        "file_path": row["ref"],
                        "pos": pd.Series(
                            _read(raw, int(row["off"]), int(row["size"])),
                            dtype="int64",
                        ),
                    }
                )

    return desc_df.mapInPandas(_decode, "file_path string, pos long")


def _write_dv_files(
    spark: SparkSession, positions_df, out_dir: str, sid: int, seq: int
) -> list:
    """Group (file_path, pos) by data file and write ONE Puffin DV per
    file, executor-side (applyInPandas — a task holds one file's
    deleted positions, the same per-file bound a jar-ful DV writer
    has). Returns one metadata row per DV'd file:
    (data_fp, puffin, off, size, card). The collect is one row per
    DV'd data file — manifest-entry-scale, the O(#files) bound every
    Iceberg committer pays (see tests/test_no_driver_materialization.py)."""
    import os as _os

    from pyspark import cloudpickle as _cp

    from gcs2postgres_spark.sources import dv_roaring, puffin
    from gcs2postgres_spark.sources.puffin import write_puffin_dv_file

    _cp.register_pickle_by_value(puffin)
    _cp.register_pickle_by_value(dv_roaring)
    remote = fsio.has_scheme(out_dir)
    if not remote:
        _os.makedirs(out_dir, exist_ok=True)

    # closure captures (applyInPandas requires exactly (key, pdf)); the
    # writer fns pickle BY VALUE via the module registrations above
    from gcs2postgres_spark.sources.puffin import render_puffin_dv

    _writefn, _renderfn = write_puffin_dv_file, render_puffin_dv
    _dir, _sid, _seq, _remote = out_dir, sid, seq, remote

    def _write(key, pdf):
        import base64
        import hashlib
        import os as _os2

        import pandas as pd

        fp = key[0]
        positions = sorted({int(x) for x in pdf["pos"]})
        name = hashlib.md5(fp.encode()).hexdigest()[:16]
        path = f"{_dir}/dv-{name}.puffin" if _remote else _os2.path.join(
            _dir, f"dv-{name}.puffin"
        )
        if _remote:
            # scheme'd table: executors cannot posix-write — return the
            # rendered bytes (one roaring DV per touched file) for the
            # driver to land through fsio/Hadoop
            body, meta = _renderfn([(fp, positions)], _sid, _seq)
            off, size, card = meta[fp]
            blob = base64.b64encode(body).decode("ascii")
        else:
            off, size, card = _writefn(path, [(fp, positions)], _sid, _seq)[fp]
            blob = None
        return pd.DataFrame(
            [{"data_fp": fp, "puffin": path, "off": off, "size": size,
              "card": card, "blob": blob}]
        )

    rows = (
        positions_df.groupBy("file_path")
        .applyInPandas(
            _write,
            "data_fp string, puffin string, off long, size long, card long, "
            "blob string",
        )
        .collect()
    )
    if remote:
        import base64

        for r in rows:
            if r["blob"] is not None:
                fsio.write_bytes(r["puffin"], base64.b64decode(r["blob"]))
    return rows


def _drop_superseded_dvs(
    list_rows: list[dict],
    superseded: set[str],
    table_path: str,
    location: str | None,
    mdir: str,
    part_avro: list[tuple[str, str]],
) -> list[dict]:
    """Rewrite delete manifests so data files receiving a NEW deletion
    vector lose their OLD one (spec: at most one DV per data file per
    snapshot; the new DV is a superset by construction). Manifests with
    no surviving entries drop out of the list; untouched manifests keep
    their files."""
    out = []
    for r in list_rows:
        if r.get("content", 0) != 1:
            out.append(r)
            continue
        _, entries = read_avro_file(_resolve(r["manifest_path"], table_path, location))
        entries = list(entries)
        keep = [
            e
            for e in entries
            if not (
                e["data_file"].get("file_format", "").lower() == "puffin"
                and e["data_file"].get("referenced_data_file")
                and _norm_path(
                    _resolve(
                        e["data_file"]["referenced_data_file"], table_path, location
                    )
                )
                in superseded
            )
        ]
        if len(keep) == len(entries):
            out.append(r)
            continue
        if not keep:
            continue
        newman = os.path.join(mdir, _uniq("manifest-dvrw.avro"))
        write_avro_file(
            newman, manifest_entry_schema_v2(part_avro), keep, codec="null"
        )
        out.append(
            {
                **r,
                "manifest_path": fsio.absolute(newman),
                "manifest_length": fsio.size(newman),
            }
        )
    return out


def _v2_row_level_commit(
    spark: SparkSession,
    table_path: str,
    predicate,  # SQL string or Callable[[DataFrame], DataFrame] matcher
    replacement: DataFrame | None,
    snapshot_ts_ms: int | None,
    partition_filter: dict[str, set] | None = None,
    txn: tuple[str, int] | None = None,
    _ctx: dict | None = None,
    _catalog_ctx: tuple | None = None,
) -> int | None:
    import time as _time
    import uuid

    # Partitioned tables: delete files belong to a partition spec like
    # data files (spec "Delete files"), so every delete/data file this
    # committer writes must carry the partition tuple of the rows it
    # holds, and its manifest needs the TYPED partition struct. Identity
    # transforms only (validated in _v2_table_context) — the partition
    # value IS the source column value, so executors can route rows
    # without re-implementing transform functions.
    ctx = (
        _ctx
        if _ctx is not None
        else _v2_table_context(table_path, "row-level DML")
    )
    meta = ctx["meta"]
    schema_json = ctx["schema_json"]
    field_names = ctx["field_names"]
    part_fields = ctx["part_fields"]
    part_struct_names = ctx["part_struct_names"]
    part_src_cols = ctx["part_src_cols"]
    part_avro = ctx["part_avro"]
    spec_id = ctx["spec_id"]
    snapshot = ctx["snapshot"]
    location = ctx["location"]
    if snapshot is None:
        raise ValueError(f"{table_path!r} has no current snapshot to delete from")

    # driver-side partition-tuple interning: tuple -> dense pid, used to
    # route executor-written files into per-partition directories and
    # map them back to typed manifest partition structs. Bounded by the
    # table's live partition count — metadata scale, the same bound any
    # partitioned-table committer pays.
    pid_of: dict[tuple, int] = {}

    def _pid(tup: tuple) -> int:
        if tup not in pid_of:
            pid_of[tup] = len(pid_of)
        return pid_of[tup]

    # current snapshot's file inventory (driver reads manifests only —
    # metadata, one row per file), same walk the reader performs
    _, manifest_rows = read_avro_file(
        _resolve(snapshot["manifest-list"], table_path, location)
    )
    data_files: list[tuple[str, int]] = []  # (path, data sequence number)
    orc_dml_paths: set[str] = set()  # ORC-format members of data_files
    avro_dml_paths: set[str] = set()  # Avro-format members of data_files
    data_parts: dict[str, dict] = {}  # normalized path -> partition tuple dict
    data_stats: dict[str, dict] = {}  # normalized path -> manifest bounds
    pos_deletes: list[tuple[str, int]] = []
    eq_deletes: list[tuple[str, int, tuple[int, ...]]] = []
    # v3 DVs: (puffin path, offset, size, seq, normalized referenced file)
    dv_deletes: list[tuple[str, int, int, int, str]] = []
    file_schema_id: dict[str, int] = {}  # data path -> manifest schema-id
    file_schema_json: dict[str, dict] = {}  # data path -> embedded schema
    for m in manifest_rows:
        manifest_seq = m.get("sequence_number") or 0
        _, entries, m_fmeta = read_avro_file_meta(
            _resolve(m["manifest_path"], table_path, location)
        )
        m_sid: int | None = None
        m_schema: dict | None = None
        try:
            if "schema" in m_fmeta:
                m_schema = json.loads(m_fmeta["schema"])
            if "schema-id" in m_fmeta:
                m_sid = int(m_fmeta["schema-id"])
            elif m_schema is not None:
                m_sid = m_schema.get("schema-id")
        except (ValueError, TypeError):
            m_sid, m_schema = None, None
        for e in entries:
            if e["status"] == 2:
                continue
            dfile = e["data_file"]
            seq = e.get("sequence_number")
            if seq is None:
                seq = manifest_seq
            content = dfile.get("content", 0)
            fmt = dfile["file_format"].lower()
            if fmt == "puffin" and content == 1 and dfile.get("referenced_data_file"):
                dv_deletes.append(
                    (
                        _resolve(dfile["file_path"], table_path, location),
                        int(dfile["content_offset"]),
                        int(dfile["content_size_in_bytes"]),
                        seq,
                        _norm_path(
                            _resolve(
                                dfile["referenced_data_file"], table_path, location
                            )
                        ),
                    )
                )
                continue
            if fmt not in ("parquet", "orc", "avro") or (
                fmt in ("orc", "avro") and content != 0
            ):
                # ORC/Avro DATA files scan with decoder-derived
                # positions (r15, _scan_orc_groups/_scan_avro_groups);
                # non-parquet DELETE files still need the runtime jar
                raise NotImplementedError(
                    f"iceberg {dfile['file_format']} content={content} "
                    f"files in DML: table {_JAR_HINT}"
                )
            path = _resolve(dfile["file_path"], table_path, location)
            if content == 0:
                data_files.append((path, seq))
                if fmt == "orc":
                    orc_dml_paths.add(path)
                elif fmt == "avro":
                    avro_dml_paths.add(path)
                if m_sid is not None:
                    file_schema_id[path] = m_sid
                if m_schema is not None and isinstance(
                    m_schema.get("fields"), list
                ):
                    file_schema_json[path] = m_schema
                data_parts[_norm_path(path)] = dfile.get("partition") or {}
                if dfile.get("lower_bounds") or dfile.get("upper_bounds"):
                    data_stats[_norm_path(path)] = {
                        "lower_bounds": dfile.get("lower_bounds"),
                        "upper_bounds": dfile.get("upper_bounds"),
                    }
            elif content == 1:
                pos_deletes.append((path, seq))
            elif content == 2:
                ids = tuple(sorted(dfile.get("equality_ids") or ()))
                eq_deletes.append((path, seq, ids))
    fmt_version = ctx.get("format_version", 2)
    if fmt_version >= 3 and pos_deletes:
        raise ValueError(
            "v3 table carries parquet position-delete files (spec: v3 "
            "position deletes must be deletion vectors) — run "
            "upgrade_iceberg_format_version to convert them"
        )
    if partition_filter and data_files:
        # prune the MATCHING SCAN to the named partitions — manifest-
        # level file skip, the same planning-time prune the read path
        # performs. Source-column filter values are mapped THROUGH the
        # partition transform (identity included); a filter keyed by the
        # partition-struct name is treated as already-transformed. The
        # caller guarantees the filter is implied by the predicate;
        # delete files are NOT pruned (they apply to whatever files
        # survive).
        from gcs2postgres_spark.sources.iceberg_transforms import apply_transform

        allowed_of: dict[str, set] = {}
        for pname, src, tr, styp in zip(
            part_struct_names, part_src_cols, ctx["part_transforms"],
            ctx["part_src_types"],
        ):
            if src in partition_filter:
                try:
                    allowed_of[pname] = {
                        apply_transform(tr, v, styp) for v in partition_filter[src]
                    }
                except (NotImplementedError, ValueError, TypeError):
                    pass  # can't evaluate: never prune on this field
            elif pname in partition_filter:
                allowed_of[pname] = set(partition_filter[pname])

        def _keep(part: dict) -> bool:
            for pname, allowed in allowed_of.items():
                if pname in part and part[pname] not in allowed:
                    return False
            return True

        data_files = [
            (p, sq) for p, sq in data_files if _keep(data_parts[_norm_path(p)])
        ]
    if isinstance(predicate, str) and data_files and data_stats:
        # prune the MATCHING SCAN by manifest bounds derived from the
        # predicate itself (conservative syntactic extraction —
        # predicate_bounds module): files whose recorded range cannot
        # hold a matching row need no scan AND no delete file. A
        # range-targeted DELETE on a 10^5-file table touches only its
        # files' footers.
        from gcs2postgres_spark.sources.predicate_bounds import (
            bounds_from_predicate,
        )

        b = bounds_from_predicate(predicate)
        if b:
            ids_by_name = {n: i for i, n in field_names.items()}
            data_files = [
                (p, sq)
                for p, sq in data_files
                if not _stats_prune_dfile(
                    data_stats.get(_norm_path(p)) or {},
                    b, ids_by_name, ctx["field_types"],
                )
            ]
    if not data_files and replacement is None:
        return None

    sid = max(s["snapshot-id"] for s in ctx["snapshots"]) + 1
    new_seq = int(meta.get("last-sequence-number", 0)) + 1
    now = int(snapshot_ts_ms if snapshot_ts_ms is not None else _time.time() * 1000)
    mdir = os.path.join(table_path, "metadata")
    new_list_rows = list(manifest_rows)

    del_files: list[str] = []
    if data_files:
        # The matching scan mirrors the read path exactly: files grouped
        # by field-id signature, each group tagged with its (file, pos)
        # identity FIRST (plain columns, manifest-normalized paths) and
        # projected to the TABLE schema by id/name — so the caller's
        # predicate runs over table-named, table-typed columns even on a
        # renamed table, and existing deletes apply on the same frame.
        spark_schema = iceberg_to_spark_type(schema_json)
        parts = []

        def _proj(t, idmap):
            lower = {
                c.lower(): c
                for c in t.columns
                if c not in ("__ice_fp", "__ice_pos")
            }
            cols = []
            for fjson, field in zip(schema_json["fields"], spark_schema.fields):
                src = idmap.get(fjson["id"]) if idmap else None
                if src is None:
                    src = lower.get(field.name.lower())
                if src is None:
                    cols.append(
                        _missing_column_lit(fjson, field.dataType).alias(field.name)
                    )
                else:
                    cols.append(F.col(src).cast(field.dataType).alias(field.name))
            return t.select(*cols, "__ice_fp", "__ice_pos")

        pq_paths = sorted(
            {p for p, _ in data_files} - orc_dml_paths - avro_dml_paths
        )
        for idmap, gpaths in (
            _schema_id_groups(pq_paths, file_schema_id, meta, file_schema_json)
            if pq_paths else []
        ):
            t = spark.read.parquet(*gpaths).select(
                "*",
                F.regexp_replace(
                    F.col("_metadata.file_path"), r"^file:(//)?", ""
                ).alias("__ice_fp"),
                F.col("_metadata.row_index").cast("long").alias("__ice_pos"),
            )
            parts.append(_proj(t, idmap))
        if orc_dml_paths:
            # ORC data files: decoder-derived positions (the read
            # path's _scan_orc_groups), stamped-schema id-resolved
            # (r16 — renames during an ORC era match correctly)
            for sid_idmap, gpaths in _sid_groups(
                orc_dml_paths, file_schema_id, meta, file_schema_json
            ):
                for o_idmap, odf in _scan_orc_groups(spark, gpaths, True):
                    parts.append(_proj(odf, o_idmap or sid_idmap))
        if avro_dml_paths:
            # Avro data files: the pure-Python decoder's record
            # ordinals, field-id resolved (the read path's
            # _scan_avro_groups) with the stamped-schema fallback
            for sid_idmap, gpaths in _sid_groups(
                avro_dml_paths, file_schema_id, meta, file_schema_json
            ):
                for a_idmap, adf in _scan_avro_groups(spark, gpaths, True):
                    parts.append(_proj(adf, a_idmap or sid_idmap))
        tagged = parts[0]
        for p in parts[1:]:
            tagged = tagged.unionByName(p)
        if pos_deletes or eq_deletes or dv_deletes:
            tagged = _apply_v2_deletes(
                spark,
                tagged,
                data_files,
                pos_deletes,
                eq_deletes,
                field_names,
                pretagged=True,
                dv_deletes=dv_deletes,
            )
        # predicate: SQL string (filter) or a callable matcher that maps
        # the tagged live frame to its matched subset (MERGE uses a
        # semi-join on the source keys) — either way the result keeps
        # the (__ice_fp, __ice_pos) identity the delete files encode.
        matched = predicate(tagged) if callable(predicate) else tagged.filter(predicate)
        matches = matched.select(
            F.col("__ice_fp").alias("file_path"),
            F.col("__ice_pos").alias("pos"),
        )
        del_dir = os.path.join(
            table_path, "data", f"delete-{sid}-{uuid.uuid4().hex[:8]}"
        )
        if fmt_version >= 3:
            # v3: row-level deletes are DELETION VECTORS (spec v3 —
            # parquet position-delete files must not be written). Per
            # matched data file, the new DV merges the file's EXISTING
            # DV positions (superset rule) with the new matches; the
            # old DV entry is dropped from its manifest (at most one DV
            # per file per snapshot).
            all_pos = matches
            if dv_deletes:
                matched_files = matches.select("file_path").distinct()
                old_kept = _decode_dvs_df(
                    spark, [(p, o, s, ref) for p, o, s, _sq, ref in dv_deletes]
                ).join(matched_files, "file_path", "left_semi")
                all_pos = matches.unionByName(old_kept)
            dv_rows = _write_dv_files(spark, all_pos, del_dir, sid, new_seq)
            dv_refs = {r["data_fp"] for r in dv_rows}
            superseded = dv_refs & {ref for *_x, ref in dv_deletes}
            if superseded:
                new_list_rows = _drop_superseded_dvs(
                    new_list_rows, superseded, table_path, location, mdir, part_avro
                )
            delete_entries = [
                _v2_entry(
                    r["puffin"],
                    content=1,
                    seq=new_seq,
                    snapshot_id=sid,
                    partition=data_parts.get(r["data_fp"]) or {},
                    dv=(r["data_fp"], r["off"], r["size"], r["card"]),
                )
                for r in sorted(dv_rows, key=lambda r: r["data_fp"])
            ]
        else:
            if part_fields:
                # Route each matched (file, pos) to its data file's partition
                # (broadcast map join, one row per file — metadata-sized) and
                # write partitionBy(__pid): ONE distributed job, one output
                # directory per partition, each delete file spec-scoped to
                # exactly one partition tuple. Dir names carry only the dense
                # integer pid, so driver-side mapping back to typed partition
                # values never parses data values from paths.
                pid_rows = [
                    (fp, _pid(tuple(part.get(n) for n in part_struct_names)))
                    for fp, part in sorted(data_parts.items())
                ]
                pid_df = spark.createDataFrame(pid_rows, "__pid_fp string, __pid int")
                matches = matches.join(
                    F.broadcast(pid_df), matches["file_path"] == pid_df["__pid_fp"]
                ).drop("__pid_fp")
                (
                    matches.repartitionByRange(
                        F.col("__pid"), F.col("file_path"), F.col("pos")
                    )
                    .sortWithinPartitions("__pid", "file_path", "pos")
                    .write.partitionBy("__pid")
                    .mode("overwrite")
                    .parquet(del_dir)
                )
                partition_of = _pid_partitions(
                    del_dir, part_struct_names,
                    {pid: tup for tup, pid in pid_of.items()},
                )
            else:
                (
                    matches.repartitionByRange(F.col("file_path"), F.col("pos"))
                    .sortWithinPartitions("file_path", "pos")
                    .write.mode("overwrite")
                    .parquet(del_dir)
                )
                partition_of = None
            # zero-row parts (empty range partitions) are not delete files
            delete_entries = [
                e for e in _parquet_entries(
                    spark, file_stats.part_files(del_dir), variant=False,
                    partition_of=partition_of,
                    content=1, seq=new_seq, snapshot_id=sid,
                )
                if e["data_file"]["record_count"] > 0
            ]
        if not delete_entries:
            fsio.delete(del_dir, recursive=True)
            if replacement is None:
                return None  # nothing matched: no commit
        else:
            del_manifest = os.path.join(mdir, _uniq(f"manifest-deletes-{sid}.avro"))
            write_avro_file(
                del_manifest,
                manifest_entry_schema_v2(part_avro),
                delete_entries,
                codec="null",
            )
            new_list_rows.append(
                {
                    "manifest_path": fsio.absolute(del_manifest),
                    "manifest_length": fsio.size(del_manifest),
                    "partition_spec_id": spec_id,
                    "content": 1,
                    "sequence_number": new_seq,
                    "min_sequence_number": new_seq,
                    "added_snapshot_id": sid,
                }
            )

    if replacement is not None:
        data_entries = _stage_v2_data_files(
            spark,
            replacement,
            table_path,
            sid,
            new_seq,
            ctx,
            _pid,
            pid_of,
        )
        if data_entries:
            data_manifest = os.path.join(mdir, _uniq(f"manifest-data-{sid}.avro"))
            write_avro_file(
                data_manifest,
                manifest_entry_schema_v2(part_avro),
                data_entries,
                codec="null",
                # schema-id stamp, same as append/upsert/rewrite: files
                # added by UPDATE/MERGE must resolve by field id without
                # the per-file footer probe (and on remote schemes the
                # probe falls back to name-only resolution, which reads
                # NULLs after a rename)
                extra_meta=_schema_stamp(ctx["meta"]),
            )
            new_list_rows.append(
                {
                    "manifest_path": fsio.absolute(data_manifest),
                    "manifest_length": fsio.size(data_manifest),
                    "partition_spec_id": spec_id,
                    "content": 0,
                    "sequence_number": new_seq,
                    "min_sequence_number": new_seq,
                    "added_snapshot_id": sid,
                }
            )

    return _v2_commit_snapshot(
        table_path,
        ctx,
        new_list_rows,
        new_seq,
        sid,
        now,
        "delete" if replacement is None else "overwrite",
        summary_extra=(
            {"app-id": txn[0], "batch-id": txn[1]} if txn else None
        ),
        catalog_ctx=_catalog_ctx,
    )


# ---------------------------------------------------------- partitioned v1


def partitioned_manifest_schema(partition_col: str, avro_type: str) -> dict:
    """MANIFEST_ENTRY_SCHEMA with a TYPED partition struct (one identity
    field) — the metadata a partition-pruning scan planner reads."""
    schema = json.loads(json.dumps(MANIFEST_ENTRY_SCHEMA))  # deep copy
    part = next(
        f for f in schema["fields"][2]["type"]["fields"] if f["name"] == "partition"
    )
    part["type"]["fields"] = [
        {"name": partition_col, "type": avro_type, "field-id": 1000}
    ]
    return schema


def _avro_prim_for(dt: T.DataType) -> str:
    if isinstance(dt, (T.LongType,)):
        return "long"
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(dt, T.StringType):
        return "string"
    raise ValueError(f"unsupported identity-partition type for fixture: {dt}")


def write_iceberg_v2_partitioned_fixture(
    df: DataFrame, table_path: str, partition_col: str | list[str]
) -> None:
    """Identity-partitioned v2 table (one or MORE partition columns):
    the fixture the partitioned DML committer (_v2_row_level_commit)
    mutates in tests. Data files keep the partition columns (spec:
    identity-partitioned files retain them), manifest entries carry
    TYPED partition tuples, and the table metadata declares the identity
    partition spec. Executors write the row data (per-partition
    df.write.parquet); driver work is bounded by the distinct
    partition-tuple list — one row per partition."""
    part_cols = [partition_col] if isinstance(partition_col, str) else list(partition_col)
    schema = df.schema
    ice = spark_to_iceberg_schema(schema)
    part_avro: list[tuple[str, str]] = []
    fids: dict[str, int] = {}
    for c in part_cols:
        fids[c] = next(f["id"] for f in ice["fields"] if f["name"] == c)
        ice_t = next(f["type"] for f in ice["fields"] if f["name"] == c)
        if ice_t not in ("int", "long", "string"):
            raise ValueError(
                f"unsupported identity-partition type for v2 fixture: {ice_t!r}"
            )
        part_avro.append((c, ice_t))
    mdir = os.path.join(table_path, "metadata")
    fsio.makedirs(mdir)
    tuples = [
        tuple(r)
        for r in df.select(*part_cols).distinct().orderBy(*part_cols).collect()
    ]
    entries = []
    for i, tup in enumerate(tuples):
        pdir = os.path.join(table_path, "data", f"part-{i}")
        cond = None
        for c, v in zip(part_cols, tup):
            cc = F.col(c) == F.lit(v)
            cond = cc if cond is None else cond & cc
        df.filter(cond).coalesce(1).write.mode("overwrite").parquet(pdir)
        entries.extend(
            _v2_entry(p, content=0, seq=1, partition=dict(zip(part_cols, tup)))
            for p in sorted(glob.glob(os.path.join(pdir, "*.parquet")))
        )
    man = os.path.join(mdir, "manifest-data-1.avro")
    write_avro_file(man, manifest_entry_schema_v2(part_avro), entries, codec="null")
    mlist = os.path.join(mdir, "snap-1.avro")
    write_avro_file(
        mlist,
        MANIFEST_LIST_SCHEMA_V2,
        [
            {
                "manifest_path": fsio.absolute(man),
                "manifest_length": fsio.size(man),
                "partition_spec_id": 0,
                "content": 0,
                "sequence_number": 1,
                "min_sequence_number": 1,
                "added_snapshot_id": 1,
            }
        ],
        codec="null",
    )
    schema_json = spark_to_iceberg_schema(schema)
    schema_json["schema-id"] = 0
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000003",
        "location": fsio.absolute(table_path),
        "last-sequence-number": 1,
        "last-updated-ms": 0,
        "last-column-id": len(schema.fields),
        "schemas": [schema_json],
        "current-schema-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": c,
                        "transform": "identity",
                        "source-id": fids[c],
                        "field-id": 1000 + i,
                    }
                    for i, c in enumerate(part_cols)
                ],
            }
        ],
        "default-spec-id": 0,
        "last-partition-id": 1000 + len(part_cols) - 1,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {},
        "current-snapshot-id": 1,
        "snapshots": [
            {
                "snapshot-id": 1,
                "sequence-number": 1,
                "timestamp-ms": 0,
                "summary": {"operation": "append"},
                "manifest-list": fsio.absolute(mlist),
            }
        ],
    }
    _write_json_atomic(os.path.join(mdir, "v1.metadata.json"), meta)
    _write_text_atomic(os.path.join(mdir, "version-hint.text"), "1")


def create_iceberg_v2_table(
    schema: T.StructType,
    table_path: str,
    partition_spec: list[tuple[str, str]] | None = None,
) -> None:
    """CREATE TABLE for the jar-less v2 committers: write the table
    metadata (schema + partition spec, including HIDDEN-PARTITIONING
    transforms) with NO snapshot; the first ``append_iceberg_v2`` makes
    snapshot 1. ``partition_spec`` is ``[(source_col, transform)]``
    with transforms from the spec's grammar — ``identity``,
    ``bucket[16]``, ``truncate[4]``, ``year``/``month``/``day``/
    ``hour``. Field names follow the Java implementation's defaults
    (``col``, ``col_bucket``, ``col_trunc``, ``col_day``, ...)."""
    from gcs2postgres_spark.sources.iceberg_transforms import parse_transform

    logstore.check_write_scheme(table_path)
    ice = spark_to_iceberg_schema(schema)
    ice["schema-id"] = 0
    fid_of = {f["name"]: f["id"] for f in ice["fields"]}
    spec_fields = []
    for i, (src, tr) in enumerate(partition_spec or []):
        if src not in fid_of:
            raise ValueError(f"partition source column {src!r} not in schema")
        kind, _ = parse_transform(tr)  # unknown transform: ValueError
        suffix = {"identity": "", "bucket": "_bucket", "truncate": "_trunc"}.get(
            kind, f"_{kind}"
        )
        spec_fields.append(
            {
                "name": f"{src}{suffix}",
                "transform": tr,
                "source-id": fid_of[src],
                "field-id": 1000 + i,
            }
        )
    meta = new_table_metadata_json(
        ice, fsio.absolute(table_path), spec_fields,
        table_uuid="00000000-0000-0000-0000-00000000000c",
    )
    mdir = os.path.join(table_path, "metadata")
    fsio.makedirs(mdir)
    # put-if-absent: re-creating over an existing table would reset
    # version-hint to 1 and corrupt its time-travel history — real
    # engines raise "table already exists"
    _write_json_if_absent(os.path.join(mdir, "v1.metadata.json"), meta)
    _write_text_atomic(os.path.join(mdir, "version-hint.text"), "1")


def new_table_metadata_json(
    schema_json: dict,
    location: str,
    spec_fields: list[dict] | None = None,
    table_uuid: str | None = None,
    properties: dict | None = None,
) -> dict:
    """Initial (snapshotless) v2 table metadata — the JSON a CREATE
    TABLE mints, shared by the path-layout creator above and any
    catalog server applying a CreateTableRequest. last-column-id
    dominates ALL assigned ids (nested included) per spec."""
    spec_fields = spec_fields or []
    return {
        "format-version": 2,
        "table-uuid": table_uuid or "00000000-0000-0000-0000-00000000000c",
        "location": location,
        "last-sequence-number": 0,
        "last-updated-ms": 0,
        "last-column-id": _max_field_id(schema_json),
        "schemas": [schema_json],
        "current-schema-id": int(schema_json.get("schema-id", 0)),
        "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
        "default-spec-id": 0,
        "last-partition-id": (
            max(f["field-id"] for f in spec_fields) if spec_fields else 999
        ),
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": properties or {},
        "current-snapshot-id": -1,
        "snapshots": [],
    }


def write_iceberg_partitioned_fixture(
    df: DataFrame, table_path: str, partition_col: str
) -> None:
    """Identity-partitioned v1 table: one data directory per partition
    value, manifest entries carrying TYPED partition values, and a
    partition spec in the table metadata — the exact metadata surface
    `read_iceberg_py(partition_filter=...)` prunes on. Per the Iceberg
    spec, identity-partitioned data files KEEP the partition column
    (unlike Hive/Delta layouts), so pruning is pure file skipping with
    no value re-injection.

    Driver work is metadata-bounded: the only collect() is the DISTINCT
    partition-value list (one row per partition — the same bound every
    table-format writer pays to commit a partitioned snapshot); row data
    is written by executors via df.write.parquet."""
    schema = df.schema
    ice = spark_to_iceberg_schema(schema)
    fid = next(f["id"] for f in ice["fields"] if f["name"] == partition_col)
    avro_t = _avro_prim_for(schema[partition_col].dataType)
    mdir = os.path.join(table_path, "metadata")
    fsio.makedirs(mdir)
    values = [
        r[0]
        for r in df.select(partition_col).distinct().orderBy(partition_col).collect()
    ]
    entries = []
    for v in values:
        pdir = os.path.join(table_path, "data", f"{partition_col}={v}")
        df.filter(F.col(partition_col) == v).coalesce(1).write.mode(
            "overwrite"
        ).parquet(pdir)
        for p in sorted(glob.glob(os.path.join(pdir, "*.parquet"))):
            e = data_file_entry(p)
            e["data_file"]["partition"] = {partition_col: v}
            entries.append(e)
    man = os.path.join(mdir, "manifest-part-1.avro")
    write_avro_file(man, partitioned_manifest_schema(partition_col, avro_t), entries, codec="null")
    ml = os.path.join(mdir, "snap-part-1.avro")
    write_manifest_list(ml, [man], 1)
    write_snapshot_metadata(
        table_path,
        schema,
        [{"snapshot-id": 1, "manifest-list": ml}],
        1,
        partition_spec_fields=[
            {
                "name": partition_col,
                "transform": "identity",
                "source-id": fid,
                "field-id": 1000,
            }
        ],
    )

def rollback_to_snapshot(table_path: str, snapshot_id: int) -> None:
    """Jar-less Iceberg ROLLBACK (the catalog's
    ``rollback_to_snapshot`` maintenance action): repoint
    current-snapshot-id at an older snapshot in a NEW metadata version.
    Pure metadata — no file is read, written, or dropped, every
    snapshot stays time-travelable, and the sequence-number high-water
    mark is preserved so later commits continue above it (a rolled-back
    equality delete cannot accidentally re-apply to post-rollback
    appends). The atomic tmp+replace repoint means a crash leaves the
    previous current snapshot intact."""
    logstore.check_write_scheme(table_path)
    meta_path = latest_metadata_file(table_path)
    meta = json.loads(fsio.read_text(meta_path))
    snapshots = meta.get("snapshots") or []
    if not any(s["snapshot-id"] == snapshot_id for s in snapshots):
        raise ValueError(
            f"snapshot {snapshot_id} not found "
            f"(have {[s['snapshot-id'] for s in snapshots]})"
        )
    if meta.get("current-snapshot-id") == snapshot_id:
        return  # already current: no new metadata version
    meta["current-snapshot-id"] = snapshot_id
    mdir = os.path.join(table_path, "metadata")
    version = int(os.path.basename(meta_path).split(".")[0].lstrip("v")) + 1
    try:
        _write_json_if_absent(os.path.join(mdir, f"v{version}.metadata.json"), meta)
    except FileExistsError:
        raise CommitConflictError(
            f"concurrent commit v{version} beat this metadata change; "
            "re-read and retry"
        ) from None
    _write_text_atomic(os.path.join(mdir, "version-hint.text"), str(version))

def read_iceberg_meta(spark: SparkSession, table_path: str, kind: str) -> DataFrame:
    """Metadata tables (`table$snapshots` / `table$files` /
    `table$manifests` in engine SQL), jar-lessly: DataFrames built from
    the metadata chain only — snapshots from the table JSON, manifests
    from the current snapshot's manifest list, files from the manifest
    entries (live entries, data AND delete files, with the partition
    tuple and the footer-recorded record_count). Driver work is the
    same O(manifests + files) walk every Iceberg client performs; no
    data file is opened. record_count comes from the manifests, so a
    committer that mis-stats its files is caught by comparing
    sum(record_count) to the actual scan (the registry query does
    exactly that)."""
    meta_path = latest_metadata_file(table_path)
    meta = json.loads(fsio.read_text(meta_path))
    location = meta.get("location")
    if kind == "snapshots":
        rows = [
            (
                int(s["snapshot-id"]),
                int(s.get("sequence-number") or 0),
                int(s.get("timestamp-ms") or 0),
                (s.get("summary") or {}).get("operation"),
                s["snapshot-id"] == meta.get("current-snapshot-id"),
            )
            for s in (meta.get("snapshots") or [])
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id long, sequence_number long, timestamp_ms long, "
            "operation string, is_current boolean",
        )
    if kind == "refs":
        rows = [
            (name, r.get("type"), int(r["snapshot-id"]))
            for name, r in sorted((meta.get("refs") or {}).items())
        ]
        return spark.createDataFrame(
            rows, "name string, type string, snapshot_id long"
        )
    snap_id = meta.get("current-snapshot-id")
    snapshots = meta.get("snapshots") or []
    if snap_id is None or snap_id == -1 or not snapshots:
        raise ValueError(f"{table_path!r} has no current snapshot")
    snapshot = next(s for s in snapshots if s["snapshot-id"] == snap_id)
    _, manifests = read_avro_file(
        _resolve(snapshot["manifest-list"], table_path, location)
    )
    if kind == "manifests":
        rows = [
            (
                m["manifest_path"],
                int(m.get("manifest_length") or 0),
                int(m.get("content", 0)),
                int(m.get("sequence_number") or 0),
                int(m.get("added_snapshot_id") or 0),
            )
            for m in manifests
        ]
        return spark.createDataFrame(
            rows,
            "path string, length_bytes long, content int, sequence_number long, "
            "added_snapshot_id long",
        )
    if kind == "partitions":
        # per-partition summary (`table$partitions`): one row per live
        # partition TUPLE — with hidden partitioning the tuple holds the
        # TRANSFORMED values (month ordinals, bucket ids, ...), which is
        # exactly what a user inspects to verify layout/skew before a
        # 100 TB backfill. Aggregated from the files table (metadata
        # walk, no data I/O) on the driver at metadata scale, then
        # parallelized.
        files = read_iceberg_meta(spark, table_path, "files")
        return (
            files.filter(F.col("content") == 0)
            .groupBy("partition")
            .agg(
                F.count(F.lit(1)).alias("file_count"),
                F.sum("record_count").alias("record_count"),
                F.sum("size_bytes").alias("size_bytes"),
            )
            .orderBy("partition")
        )
    if kind != "files":
        raise ValueError(
            f"kind must be snapshots|manifests|files|partitions|refs, got {kind!r}"
        )
    rows = []
    for m in manifests:
        manifest_seq = m.get("sequence_number") or 0
        _, entries = read_avro_file(_resolve(m["manifest_path"], table_path, location))
        for e in entries:
            if e["status"] == 2:
                continue
            dfile = e["data_file"]
            seq = e.get("sequence_number")
            if seq is None:
                seq = manifest_seq
            rows.append(
                (
                    dfile["file_path"],
                    int(dfile.get("content", 0)),
                    int(dfile.get("record_count") or 0),
                    int(dfile.get("file_size_in_bytes") or 0),
                    json.dumps(dfile.get("partition") or {}, sort_keys=True),
                    int(seq),
                )
            )
    return spark.createDataFrame(
        rows,
        "file_path string, content int, record_count long, size_bytes long, "
        "partition string, sequence_number long",
    )

def fast_forward(table_path: str, branch: str) -> int:
    """PUBLISH a staged branch (the write-audit-publish flow's final
    step, Iceberg's ``fast_forward`` catalog procedure): repoint the
    table head at the branch's snapshot in one put-if-absent metadata
    version. Everything the branch staged becomes visible atomically;
    the branch ref stays for further staging. Returns the published
    snapshot id."""
    logstore.check_write_scheme(table_path)
    meta_path = latest_metadata_file(table_path)
    meta = json.loads(fsio.read_text(meta_path))
    ref = (meta.get("refs") or {}).get(branch)
    if ref is None:
        raise ValueError(f"branch {branch!r} not found (have {sorted(meta.get('refs') or {})})")
    if ref.get("type") == "tag":
        raise ValueError(f"{branch!r} is a tag; fast_forward publishes branches")
    sid = int(ref["snapshot-id"])
    if meta.get("current-snapshot-id") == sid:
        return sid  # already published: no new metadata version
    meta["current-snapshot-id"] = sid
    mdir = os.path.join(table_path, "metadata")
    version = int(os.path.basename(meta_path).split(".")[0].lstrip("v")) + 1
    try:
        _write_json_if_absent(os.path.join(mdir, f"v{version}.metadata.json"), meta)
    except FileExistsError:
        raise CommitConflictError(
            f"concurrent commit v{version} beat this publish; re-read and retry"
        ) from None
    _write_text_atomic(os.path.join(mdir, "version-hint.text"), str(version))
    return sid


def create_ref(
    table_path: str,
    name: str,
    snapshot_id: int | None = None,
    ref_type: str = "tag",
) -> None:
    """Create (or repoint) a NAMED REF — the spec's ``refs`` map, the
    mechanism behind ``table$refs`` / tags and branches: a tag pins a
    snapshot for audits and reproducible reads (read via
    ``read_iceberg_py(..., ref=name)``), a branch is the same pointer
    with branch semantics at the catalog level. Jar-less scope: refs
    here are read + retention surfaces — reading a ref resolves its
    snapshot, and expire_snapshots PROTECTS every ref'd snapshot; a
    branch cannot be written to without a catalog (commits always go to
    main / current-snapshot-id). Repointing an existing TAG refuses
    (tags are immutable per the spec); repointing a branch is allowed.
    Defaults to the current snapshot. Metadata-only, atomic."""
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"ref_type must be tag|branch, got {ref_type!r}")
    logstore.check_write_scheme(table_path)
    meta_path = latest_metadata_file(table_path)
    meta = json.loads(fsio.read_text(meta_path))
    snapshots = meta.get("snapshots") or []
    if snapshot_id is None:
        snapshot_id = meta.get("current-snapshot-id")
        if snapshot_id is None or snapshot_id == -1:
            raise ValueError(f"{table_path!r} has no current snapshot to tag")
    if not any(s["snapshot-id"] == snapshot_id for s in snapshots):
        raise ValueError(
            f"snapshot {snapshot_id} not found "
            f"(have {[s['snapshot-id'] for s in snapshots]})"
        )
    refs = dict(meta.get("refs") or {})
    existing = refs.get(name)
    if existing and existing.get("type") == "tag":
        raise ValueError(f"tag {name!r} already exists (tags are immutable; drop it first)")
    refs[name] = {"snapshot-id": int(snapshot_id), "type": ref_type}
    meta["refs"] = refs
    mdir = os.path.join(table_path, "metadata")
    version = int(os.path.basename(meta_path).split(".")[0].lstrip("v")) + 1
    try:
        _write_json_if_absent(os.path.join(mdir, f"v{version}.metadata.json"), meta)
    except FileExistsError:
        raise CommitConflictError(
            f"concurrent commit v{version} beat this metadata change; "
            "re-read and retry"
        ) from None
    _write_text_atomic(os.path.join(mdir, "version-hint.text"), str(version))


def drop_ref(table_path: str, name: str) -> None:
    """Drop a named ref. The snapshot it pinned becomes expirable by
    the next expire_snapshots run — the exact lifecycle the spec's
    retention model prescribes. Metadata-only, atomic."""
    logstore.check_write_scheme(table_path)
    meta_path = latest_metadata_file(table_path)
    meta = json.loads(fsio.read_text(meta_path))
    refs = dict(meta.get("refs") or {})
    if name not in refs:
        raise ValueError(f"ref {name!r} not found (have {sorted(refs)})")
    del refs[name]
    meta["refs"] = refs
    mdir = os.path.join(table_path, "metadata")
    version = int(os.path.basename(meta_path).split(".")[0].lstrip("v")) + 1
    try:
        _write_json_if_absent(os.path.join(mdir, f"v{version}.metadata.json"), meta)
    except FileExistsError:
        raise CommitConflictError(
            f"concurrent commit v{version} beat this metadata change; "
            "re-read and retry"
        ) from None
    _write_text_atomic(os.path.join(mdir, "version-hint.text"), str(version))
