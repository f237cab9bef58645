"""Spark Python DataSources for the jar-less lakehouse readers — the
native ``spark.read.format(...)`` / ``spark.readStream.format(...)``
front door (Spark 4's DataSource API, pyspark.sql.datasource).

- ``delta_py``: BATCH (live files after log replay, partition columns
  injected typed), a STREAMING SOURCE — the micro-batch source jar-ful
  Delta exposes: offsets are log versions, each batch reads exactly
  the data files the new commits added (dataChange=true), appends
  stream incrementally, and a commit that CHANGES data (removes / DV
  re-adds) fails the stream unless ``skipChangeCommits=true`` (the
  same semantics as delta-spark's streaming source) — and a STREAMING
  SINK: one put-if-absent Delta version per micro-batch (hive-layout
  partition routing, partition columns excluded from files), txn-
  stamped for exactly-once under checkpoint replay.
- ``iceberg_py``: BATCH over delete-free tables, a STREAMING SOURCE
  over the snapshot log — offsets are sequence numbers; ``append``
  snapshots emit their added data files, ``replace`` (compaction)
  snapshots are silently skipped (no logical row change — the
  dataChange=false twin), and overwrite/delete snapshots fail unless
  ``skipChangeCommits=true`` — and a STREAMING SINK: one fast-append
  snapshot per micro-batch, app-id/batch-id stamped for exactly-once.

Scope honesty: executor-side reads go through pyarrow (the Python
DataSource contract), so the BATCH fast path remains
``read_delta_py`` / ``read_iceberg_py`` (JVM parquet scan, deletion
vectors, column mapping, field-id resolution). The batch DataSource
reads DV'd and column-mapped tables too (r15), and the streaming SINK
appends to mapped tables with physical-named staging (r16); the
streaming sources are the real value — Spark has no other way to
stream these tables without the connector jars.

Worker-pickling: the DataSource classes are built inside a factory, so
cloudpickle serializes them BY VALUE (workers need no repo on
sys.path); ``read()`` uses only stdlib + pyarrow. Driver-only methods
(schema, offsets, partition planning) may import the package.

Register with ``register_lakehouse_datasources(spark)`` (idempotent).
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _arrow_partition_value(raw, spark_type_name: str):
    """Parse a Delta partitionValues STRING into a Python value for the
    arrow column (protocol: partition values serialize as strings)."""
    if raw is None:
        return None
    t = spark_type_name
    if t in ("integer", "long", "short", "byte"):
        return int(raw)
    if t in ("double", "float"):
        return float(raw)
    if t == "boolean":
        return raw.lower() == "true"
    if t == "date":
        import datetime as _dt

        return _dt.date.fromisoformat(raw)
    return raw  # string and friends


def make_delta_py_datasource():
    import json
    import os
    import re
    from pathlib import Path

    # The DataSource's lifecycle methods run in SEPARATE Python worker
    # processes (not the driver), so the package is not importable
    # there by default. Capture the repo root at factory time (baked
    # into the by-value pickle) and inject it before package imports —
    # local/shared-FS deployments work out of the box; on a real
    # cluster ship the package with --py-files, the standard mechanism.
    _REPO = str(Path(__file__).resolve().parents[2])

    def _ensure_pkg():
        import sys

        if _REPO not in sys.path:
            sys.path.insert(0, _REPO)

    from pyspark import cloudpickle as _cp
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        DataSourceStreamWriter,
        InputPartition,
        WriterCommitMessage,
    )
    from pyspark.sql.types import StructType

    # deletion-vector codecs ride the by-value pickle as CLOSURE
    # variables (workers have no repo on sys.path) — the same pattern
    # delta_py._apply_deletion_vectors uses for its executor decode
    from gcs2postgres_spark.sources import dv_roaring as _dvr

    _cp.register_pickle_by_value(_dvr)
    _read_dv_blob = _dvr.read_dv_blob
    _roaring_decode = _dvr.roaring_array_decode
    _z85_decode = _dvr.z85_decode

    def _phys_name_json(f: dict) -> str:
        """Physical column name from a schema-JSON field (columnMapping
        metadata; identity for unmapped fields/tables)."""
        return (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName"
        ) or f["name"]

    def _dv_location(table_path: str, dv: dict):
        """Resolve a deletion-vector descriptor to ('file', local path)
        or ('inline', z85 payload) — the protocol's storageType rules,
        self-contained (delta_py._dv_location's twin: this runs in the
        DataSource worker, where the package is not importable)."""
        import uuid as _uuid

        st = dv["storageType"]
        payload = dv["pathOrInlineDv"]
        if st == "i":
            return "inline", payload
        if st == "p":
            return "file", re.sub(r"^file:(//)?", "", payload)
        if st == "u":
            prefix, encoded = payload[:-20], payload[-20:]
            u = _uuid.UUID(bytes=_z85_decode(encoded))
            name = f"deletion_vector_{u}.bin"
            parts = [table_path] + ([prefix] if prefix else []) + [name]
            return "file", os.path.join(*parts)
        raise NotImplementedError(
            f"delta deletion-vector storageType {st!r}"
        )

    class _FilePart(InputPartition):
        """One data file: everything read() needs, self-contained.
        ``dv`` is an optional resolved deletion-vector descriptor
        ``(kind, payload_or_path, offset, size, cardinality)`` —
        kind 'inline' carries the z85 payload, 'file' a local path."""

        def __init__(self, path, partition_values, part_types, schema_json,
                     dv=None):
            self.path = path
            self.partition_values = partition_values  # {LOGICAL col: raw str}
            self.part_types = part_types  # {col: spark type name}
            self.schema_json = schema_json  # full table schema (json str)
            self.dv = dv

    def _read_file_part(part):
        """Executor-side: stdlib + pyarrow + the by-value-pickled DV
        codecs. Resolves column mapping (data files store PHYSICAL
        names, at every nesting depth) and applies the file's deletion
        vector, mirroring read_delta_py's resolution."""
        import datetime as _dt
        import json as _json

        import pyarrow as pa
        import pyarrow.parquet as pq

        def parse_pv(raw, t):
            if raw is None:
                return None
            if t in ("integer", "long", "short", "byte"):
                return int(raw)
            if t in ("double", "float"):
                return float(raw)
            if t == "boolean":
                return raw.lower() == "true"
            if t == "date":
                return _dt.date.fromisoformat(raw)
            return raw

        def phys(f):
            return (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName"
            ) or f["name"]

        def needs_rename(jtype):
            if not isinstance(jtype, dict):
                return False
            t = jtype.get("type")
            if t == "struct":
                return any(
                    phys(f) != f["name"] or needs_rename(f["type"])
                    for f in jtype["fields"]
                )
            if t == "array":
                return needs_rename(jtype["elementType"])
            if t == "map":
                return needs_rename(jtype["keyType"]) or needs_rename(
                    jtype["valueType"]
                )
            return False

        def to_logical(arr, jtype):
            # physical->logical rename at every nesting depth; rebuild
            # only subtrees that actually differ
            if not needs_rename(jtype):
                return arr
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            t = jtype["type"]
            if t == "struct":
                children, names = [], []
                for f in jtype["fields"]:
                    children.append(to_logical(arr.field(phys(f)), f["type"]))
                    names.append(f["name"])
                return pa.StructArray.from_arrays(
                    children, names=names, mask=arr.is_null()
                )
            if t == "array":
                values = to_logical(arr.values, jtype["elementType"])
                return pa.ListArray.from_arrays(
                    arr.offsets, values, mask=arr.is_null()
                )
            if t == "map":
                keys = to_logical(arr.keys, jtype["keyType"])
                items = to_logical(arr.items, jtype["valueType"])
                m = pa.MapArray.from_arrays(arr.offsets, keys, items)
                if arr.null_count:
                    # MapArray.from_arrays has NO mask parameter (unlike
                    # the struct/list builders above), so the rebuild
                    # silently reads NULL maps back as EMPTY maps —
                    # reattach validity by taking through a null-masked
                    # index vector (take of a null index yields null,
                    # vectorized, any nesting)
                    import numpy as np

                    idx = pa.array(
                        np.arange(len(arr), dtype="int64"),
                        mask=arr.is_null().to_numpy(zero_copy_only=False),
                    )
                    m = m.take(idx)
                return m
            return arr

        arrow_of = {
            "integer": pa.int32(), "long": pa.int64(), "short": pa.int16(),
            "byte": pa.int8(), "double": pa.float64(), "float": pa.float32(),
            "boolean": pa.bool_(), "date": pa.date32(), "string": pa.string(),
        }
        fields = _json.loads(part.schema_json)["fields"]
        tbl = pq.read_table(part.path)
        n = tbl.num_rows
        cols, names = [], []
        for f in fields:
            name, t = f["name"], f["type"]
            pn = phys(f)
            names.append(name)
            if name in part.partition_values:
                v = parse_pv(part.partition_values[name],
                             part.part_types.get(name, "string"))
                typ = arrow_of.get(part.part_types.get(name, "string"), pa.string())
                cols.append(pa.array([v] * n, type=typ))
            elif pn in tbl.column_names:
                cols.append(to_logical(tbl.column(pn).combine_chunks(), t))
            else:
                typ = arrow_of.get(t if isinstance(t, str) else "string")
                if typ is None:
                    raise NotImplementedError(
                        f"delta_py datasource cannot synthesize nulls for "
                        f"column {name!r} of type {t!r}"
                    )
                cols.append(pa.nulls(n, type=typ))
        out = pa.table(cols, names=names)
        if part.dv is not None:
            kind, payload, offset, size, card = part.dv
            if kind == "inline":
                positions = _roaring_decode(_z85_decode(payload))
            else:
                with open(payload, "rb") as fh:
                    raw = fh.read()
                positions = _read_dv_blob(raw, int(offset), int(size))
            if card is not None and card >= 0 and len(positions) != card:
                raise ValueError(
                    f"deletion vector for {part.path!r} decoded "
                    f"{len(positions)} positions, descriptor says {card}"
                )
            # vectorized keep-mask: a boolean scatter over the dead
            # positions (a per-row Python comprehension here is O(rows)
            # interpreted work per DV'd file — ~100x the CPU on 1M-row
            # files)
            import numpy as np

            keep = np.ones(n, dtype=bool)
            pos = np.fromiter(positions, dtype=np.int64, count=len(positions))
            keep[pos[pos < n]] = False
            out = out.filter(pa.array(keep))
        yield from out.to_batches()

    class _DeltaBatchReader(DataSourceReader):
        def __init__(self, options, parts):
            self._parts = parts

        def partitions(self):
            return self._parts

        def read(self, partition):
            yield from _read_file_part(partition)

    class _DeltaStreamReader(DataSourceStreamReader):
        def __init__(self, options, schema_json, part_types, part_phys=None):
            self.table = options["path"]
            self.schema_json = schema_json
            self.part_types = part_types
            # {logical partition col: physical log key} (columnMapping)
            self.part_phys = part_phys or {}
            self.skip_change = (
                str(options.get("skipChangeCommits", "false")).lower() == "true"
            )
            start = options.get("startingVersion")
            self.start_version = int(start) if start is not None else -1

        def initialOffset(self):
            return {"version": self.start_version}

        def latestOffset(self):
            log = os.path.join(self.table, "_delta_log")
            best = -1
            for f in os.listdir(log):
                m = re.fullmatch(r"(\d+)\.json", f)
                if m:
                    best = max(best, int(m.group(1)))
            return {"version": best}

        def partitions(self, start, end):
            log = os.path.join(self.table, "_delta_log")
            parts = []
            for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
                p = os.path.join(log, f"{v:020d}.json")
                if not os.path.exists(p):
                    continue  # pre-checkpoint history already cleaned
                adds, changes = [], False
                for line in open(p):
                    if not line.strip():
                        continue
                    a = json.loads(line)
                    if "remove" in a and a["remove"].get("dataChange", True):
                        changes = True
                    elif "add" in a:
                        add = a["add"]
                        if add.get("deletionVector"):
                            changes = True
                        elif add.get("dataChange", True):
                            adds.append(add)
                if changes:
                    if not self.skip_change:
                        raise ValueError(
                            f"delta_py stream: version {v} of {self.table!r} "
                            "changes existing rows (removes or deletion "
                            "vectors); streaming sources require append-only "
                            "commits — set skipChangeCommits=true to skip "
                            "such commits, or consume delta_table_changes"
                        )
                    continue  # whole commit skipped, like delta-spark
                for add in adds:
                    pv_raw = add.get("partitionValues") or {}
                    pv = {
                        c: pv_raw[k if k in pv_raw else c]
                        for c, k in self.part_phys.items()
                        if k in pv_raw or c in pv_raw
                    } or dict(pv_raw)
                    parts.append(
                        _FilePart(
                            os.path.join(self.table, add["path"]),
                            pv,
                            self.part_types,
                            self.schema_json,
                        )
                    )
            return parts

        def read(self, partition):
            yield from _read_file_part(partition)

        def commit(self, end):
            pass

    class DeltaPyDataSource(DataSource):
        """format("delta_py"): jar-less Delta as a native Spark source."""

        @classmethod
        def name(cls):
            return "delta_py"

        def _meta(self):
            # runs in the datasource worker process: self-contained log
            # replay (stdlib + pyarrow for the checkpoint files when
            # the JSON prefix was cleaned) — no SparkSession there
            table = self.options["path"]
            log = os.path.join(table, "_delta_log")
            if not os.path.isdir(log):
                raise FileNotFoundError(f"not a Delta table: {table!r}")
            live: dict = {}
            meta = None
            cp_version = -1
            commits = {}
            for f in os.listdir(log):
                m = re.fullmatch(r"(\d+)\.json", f)
                if m:
                    commits[int(m.group(1))] = os.path.join(log, f)
            lc = os.path.join(log, "_last_checkpoint")
            have_full_json = all(
                v in commits for v in range(max(commits, default=-1) + 1)
            ) and commits
            if os.path.exists(lc) and not have_full_json:
                from gcs2postgres_spark.sources.delta_py import (
                    checkpoint_actions_pyarrow,
                )

                cp_version = int(json.loads(open(lc).read())["version"])
                for a in checkpoint_actions_pyarrow(log, cp_version):
                    add = a.get("add")
                    if add and add.get("path"):
                        live[add["path"]] = add
                    md = a.get("metaData")
                    if md and md.get("schemaString"):
                        meta = md
            for v in sorted(c for c in commits if c > cp_version):
                for line in open(commits[v]):
                    if not line.strip():
                        continue
                    a = json.loads(line)
                    if "add" in a:
                        live[a["add"]["path"]] = a["add"]
                    elif "remove" in a:
                        live.pop(a["remove"]["path"], None)
                    elif "metaData" in a:
                        meta = a["metaData"]
            if meta is None:
                raise FileNotFoundError(f"not a Delta table: {table!r}")
            return live, meta

        def schema(self):
            _, meta = self._meta()
            return StructType.fromJson(json.loads(meta["schemaString"]))

        def reader(self, schema):
            live, meta = self._meta()
            schema_json = meta["schemaString"]
            fields = json.loads(schema_json)["fields"]
            tmap = {
                f["name"]: (f["type"] if isinstance(f["type"], str) else "string")
                for f in fields
            }
            part_cols = meta.get("partitionColumns") or []
            part_types = {c: tmap.get(c, "string") for c in part_cols}
            # columnMapping: partitionValues in the log are keyed by
            # PHYSICAL name (tolerate logical-keyed pre-upgrade commits)
            phys_of = {f["name"]: _phys_name_json(f) for f in fields}
            table = self.options["path"]

            def _pv_logical(pv: dict) -> dict:
                out = {}
                for c in part_cols:
                    if phys_of.get(c, c) in pv:
                        out[c] = pv[phys_of[c]]
                    elif c in pv:
                        out[c] = pv[c]
                return out

            def _dv_part(a):
                dv = a.get("deletionVector")
                if not dv:
                    return None
                # resolve the descriptor to (kind, payload) plan-side
                # (read_delta_py's _dv_location rules, self-contained:
                # this method runs in the DataSource worker, where the
                # package is not importable)
                kind, loc = _dv_location(table, dv)
                return (
                    kind,
                    loc,
                    int(dv.get("offset") or 0),
                    int(dv["sizeInBytes"]),
                    int(dv.get("cardinality", -1)),
                )

            parts = [
                _FilePart(
                    os.path.join(table, a["path"]),
                    _pv_logical(a.get("partitionValues") or {}),
                    part_types,
                    schema_json,
                    dv=_dv_part(a),
                )
                for a in live.values()
            ]
            return _DeltaBatchReader(self.options, parts)

        def streamReader(self, schema):
            _, meta = self._meta()
            fields = json.loads(meta["schemaString"])["fields"]
            tmap = {
                f["name"]: (f["type"] if isinstance(f["type"], str) else "string")
                for f in fields
            }
            part_cols = meta.get("partitionColumns") or []
            part_types = {c: tmap.get(c, "string") for c in part_cols}
            phys_of = {f["name"]: _phys_name_json(f) for f in fields}
            return _DeltaStreamReader(
                self.options, meta["schemaString"], part_types,
                {c: phys_of.get(c, c) for c in part_cols},
            )

        def streamWriter(self, schema, overwrite):
            if overwrite:
                raise NotImplementedError(
                    "delta_py stream sink is append-mode only (complete/"
                    "update modes rewrite state; use the cdc_apply sinks)"
                )
            raw = self.options.get("partitionBy", "")
            declared = [c.strip() for c in raw.split(",") if c.strip()]
            phys_of: dict[str, str] = {}
            try:
                _, meta = self._meta()
                if (meta.get("configuration") or {}).get(
                    "delta.columnMapping.mode", "none"
                ) != "none":
                    # columnMapping table (r16 — the refusal is gone):
                    # staged files must store PHYSICAL column names and
                    # physical hive-dir/partitionValues keys; the sink
                    # only handles top-level primitive columns, so a
                    # flat logical->physical rename map suffices (nested
                    # types refuse in write() regardless of mapping)
                    phys_of = {
                        f["name"]: _phys_name_json(f)
                        for f in json.loads(meta["schemaString"])["fields"]
                    }
                part_cols = list(meta.get("partitionColumns") or [])
                if "partitionBy" in self.options and declared != part_cols:
                    raise ValueError(
                        f"delta_py stream sink partitionBy={declared} != "
                        f"existing table's partitionColumns {part_cols} "
                        f"for {self.options['path']!r}"
                    )
            except FileNotFoundError:
                # fresh table: partitioning comes from the sink option
                part_cols = declared
            return _DeltaStreamWriter(
                self.options, schema.json(), part_cols, phys_of
            )

    class _StageMsg(WriterCommitMessage):
        def __init__(self, entries):
            # [(rel_path, partitionValues dict, size)] staged by this task
            self.entries = entries

    class _DeltaStreamWriter(DataSourceStreamWriter):
        """Native EXACTLY-ONCE streaming APPEND sink: executors stage
        parquet files under the table (hive-layout dirs for partitioned
        tables, partition columns EXCLUDED from the files per the
        protocol), the per-batch commit is ONE put-if-absent Delta
        version carrying a ``txn`` action (appId = option txnAppId,
        version = batchId), and a replayed batchId is recognized from
        the log and dropped (staged files removed) — the same mechanism
        delta-spark's txnAppId/txnVersion options implement. CHECK
        constraints are a jar-less write_delta/cdc_apply feature, not
        enforced here."""

        def __init__(self, options, schema_json, part_cols, phys_of=None):
            self.table = options["path"]
            self.schema_json = schema_json
            self.part_cols = part_cols
            # {logical: physical} under columnMapping — staged FILE
            # columns, hive dir names, and partitionValues keys all use
            # the physical side (the protocol's mapped-table contract);
            # empty for unmapped tables (identity)
            self.phys_of = phys_of or {}
            self.app_id = options.get(
                "txnAppId", f"delta_py_stream_sink:{os.path.abspath(options['path'])}"
            )

        def write(self, iterator):
            # executor-side: stdlib + pyarrow only
            import datetime as _dt
            import json as _json
            import uuid as _uuid

            import pyarrow as pa
            import pyarrow.parquet as pq

            arrow_of = {
                "integer": pa.int32(), "long": pa.int64(), "short": pa.int16(),
                "byte": pa.int8(), "double": pa.float64(),
                "float": pa.float32(), "boolean": pa.bool_(),
                "date": pa.date32(), "string": pa.string(),
                "timestamp": pa.timestamp("us", tz="UTC"),
                "timestamp_ntz": pa.timestamp("us"),
            }
            fields = _json.loads(self.schema_json)["fields"]
            names = [f["name"] for f in fields]
            missing = [c for c in self.part_cols if c not in names]
            if missing:
                raise ValueError(
                    f"delta_py stream sink: partition columns {missing} "
                    "absent from the stream schema"
                )
            # row access stays LOGICAL (the stream's schema); the staged
            # file's column names are PHYSICAL under columnMapping
            data_names, file_names, data_types = [], [], []
            for f in fields:
                t = f["type"] if isinstance(f["type"], str) else None
                if t not in arrow_of:
                    raise NotImplementedError(
                        f"delta_py stream sink: unsupported column type "
                        f"{f['type']!r} for {f['name']!r}"
                    )
                if f["name"] not in self.part_cols:
                    data_names.append(f["name"])
                    file_names.append(self.phys_of.get(f["name"], f["name"]))
                    data_types.append(arrow_of[t])
            part_keys = [self.phys_of.get(c, c) for c in self.part_cols]

            def pv_str(v):
                # protocol: partitionValues serialize as strings
                if v is None:
                    raise ValueError(
                        "delta_py stream sink: NULL partition values are "
                        "not supported (hive-layout staging)"
                    )
                if isinstance(v, bool):
                    return "true" if v else "false"
                if isinstance(v, (_dt.date, _dt.datetime)):
                    return v.isoformat(sep=" ") if isinstance(v, _dt.datetime) else v.isoformat()
                return str(v)

            groups: dict[tuple, list] = {}  # pv tuple -> column buffers
            for row in iterator:
                key = tuple(pv_str(row[c]) for c in self.part_cols)
                buf = groups.get(key)
                if buf is None:
                    buf = [[] for _ in data_names]
                    groups[key] = buf
                for i, name in enumerate(data_names):
                    buf[i].append(row[name])
            entries = []
            for key, buf in groups.items():
                # hive dirs + partitionValues keys use the PHYSICAL
                # names (how delta-spark's mapped writer lays files out)
                sub = "/".join(
                    f"{c}={v}" for c, v in zip(part_keys, key)
                )
                rel_dir = sub if sub else ""
                rel = os.path.join(
                    rel_dir, f"part-stream-{_uuid.uuid4().hex}.snappy.parquet"
                )
                full = os.path.join(self.table, rel)
                os.makedirs(os.path.dirname(full), exist_ok=True)
                pq.write_table(
                    pa.table(
                        [pa.array(c, type=t) for c, t in zip(buf, data_types)],
                        names=file_names,
                    ),
                    full, compression="snappy",
                )
                entries.append(
                    (rel, dict(zip(part_keys, key)), os.path.getsize(full))
                )
            return _StageMsg(entries)

        def _last_txn(self):
            # session-free txn watermark scan (checkpoint + JSON commits)
            log = os.path.join(self.table, "_delta_log")
            if not os.path.isdir(log):
                return -1
            best, cp_version = -1, -1
            lc = os.path.join(log, "_last_checkpoint")
            if os.path.exists(lc):
                from gcs2postgres_spark.sources.delta_py import (
                    checkpoint_actions_pyarrow,
                )

                cp_version = int(json.loads(open(lc).read())["version"])
                try:
                    actions = checkpoint_actions_pyarrow(log, cp_version)
                except FileNotFoundError:
                    actions = []
                for a in actions:
                    t = a.get("txn")
                    if t and t.get("appId") == self.app_id:
                        best = max(best, int(t["version"]))
            for f in os.listdir(log):
                m = re.fullmatch(r"(\d+)\.json", f)
                if not m or int(m.group(1)) <= cp_version:
                    continue
                for line in open(os.path.join(log, f)):
                    if '"txn"' not in line:
                        continue
                    a = json.loads(line)
                    t = a.get("txn")
                    if t and t.get("appId") == self.app_id:
                        best = max(best, int(t["version"]))
            return best

        def commit(self, messages, batchId):
            import time as _time

            staged = [
                e for m in messages if m is not None
                for e in (m.entries or [])
            ]
            if batchId <= self._last_txn():
                # replayed micro-batch: drop the duplicate staging
                for rel, _pv, _sz in staged:
                    p = os.path.join(self.table, rel)
                    if os.path.exists(p):
                        os.remove(p)
                return
            log = os.path.join(self.table, "_delta_log")
            os.makedirs(log, exist_ok=True)
            commits = {
                int(m.group(1))
                for f in os.listdir(log)
                if (m := re.fullmatch(r"(\d+)\.json", f))
            }
            now = int(_time.time() * 1000)
            actions = []
            lc = os.path.join(log, "_last_checkpoint")
            cp_version = -1
            if os.path.exists(lc):
                cp_version = int(json.loads(open(lc).read())["version"])
            fresh = not commits and cp_version < 0
            if not fresh:
                # guard an EXISTING table's contract: the staged files'
                # partitioning and columns must MATCH its metaData —
                # appending mismatched files would read back nulls
                # (silent corruption)
                meta = None
                for f in sorted(os.listdir(log)):
                    if re.fullmatch(r"\d+\.json", f):
                        for line in open(os.path.join(log, f)):
                            if '"metaData"' not in line:
                                continue
                            a = json.loads(line)
                            if "metaData" in a:
                                meta = a["metaData"]
                if meta is None and cp_version >= 0:
                    # checkpoint-only table (JSON commits cleaned up past
                    # the checkpoint): the metaData lives in the
                    # checkpoint files — read it there so the contract
                    # guard still runs instead of silently skipping
                    from gcs2postgres_spark.sources.delta_py import (
                        checkpoint_actions_pyarrow,
                    )

                    try:
                        actions = checkpoint_actions_pyarrow(log, cp_version)
                    except FileNotFoundError:
                        actions = []
                    for a in actions:
                        r = a.get("metaData")
                        if r and r.get("schemaString"):
                            meta = r
                if meta is not None:
                    theirs_parts = list(meta.get("partitionColumns") or [])
                    if theirs_parts != self.part_cols:
                        raise ValueError(
                            f"delta_py stream sink partitioning "
                            f"{self.part_cols} != target {self.table!r}'s "
                            f"partitionColumns {theirs_parts} — use the "
                            "cdc_apply sinks or write_delta"
                        )
                    ours = [f["name"] for f in
                            json.loads(self.schema_json)["fields"]]
                    theirs = [f["name"] for f in
                              json.loads(meta["schemaString"])["fields"]]
                    if ours != theirs:
                        raise ValueError(
                            f"delta_py stream sink schema {ours} != table "
                            f"schema {theirs} for {self.table!r}"
                        )
            if fresh:
                version = 0
                actions.append(
                    {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
                )
                actions.append({
                    "metaData": {
                        "id": __import__("uuid").uuid4().hex,
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": self.schema_json,
                        "partitionColumns": self.part_cols,
                        "configuration": {},
                        "createdTime": now,
                    }
                })
            else:
                # checkpoint-only tables have no JSON commits: the next
                # version is checkpoint+1, not max(∅)+1 (ValueError)
                version = max(commits) + 1 if commits else cp_version + 1
            actions.extend(
                {"add": {"path": rel, "partitionValues": pv, "size": size,
                         "modificationTime": now, "dataChange": True}}
                for rel, pv, size in staged
            )
            ci = {"commitInfo": {"timestamp": now, "operation": "STREAMING UPDATE"}}
            txn = {"txn": {"appId": self.app_id, "version": int(batchId),
                           "lastUpdated": now}}
            while True:
                path = os.path.join(log, f"{version:020d}.json")
                try:
                    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
                except FileExistsError:
                    # appends rebase over disjoint appends, but NOT over a
                    # metadata/protocol change — the same conflict rule
                    # _commit_with_rebase enforces: rows staged against the
                    # old metaData were never validated against the new one
                    # (ADD CONSTRAINT, schema change), so fail the batch and
                    # let the stream retry against fresh metadata
                    for line in open(path):
                        if '"metaData"' not in line and '"protocol"' not in line:
                            continue
                        a = json.loads(line)
                        if "metaData" in a or "protocol" in a:
                            raise RuntimeError(
                                f"delta_py stream sink: concurrent commit "
                                f"{version} changed table metadata/protocol "
                                f"for {self.table!r}; failing the batch so "
                                "the stream restarts against fresh metadata"
                            )
                    version += 1  # plain concurrent appends rebase trivially
                    continue
                with os.fdopen(fd, "w") as f:
                    for a in [ci, txn, *actions]:
                        f.write(json.dumps(a) + "\n")
                    f.flush()
                    os.fsync(f.fileno())
                return

        def abort(self, messages, batchId):
            for m in messages:
                for rel, _pv, _sz in (m.entries if m is not None else []):
                    p = os.path.join(self.table, rel)
                    if os.path.exists(p):
                        os.remove(p)

    return DeltaPyDataSource


def make_iceberg_py_datasource():
    import json
    import os
    from pathlib import Path

    _REPO = str(Path(__file__).resolve().parents[2])

    def _ensure_pkg():
        # see make_delta_py_datasource: lifecycle methods run in a
        # datasource worker process; avro manifest decoding lives in
        # the package, so inject the repo root (or ship --py-files)
        import sys

        if _REPO not in sys.path:
            sys.path.insert(0, _REPO)

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceStreamReader,
        DataSourceStreamWriter,
        InputPartition,
        WriterCommitMessage,
    )

    class _IceFilePart(InputPartition):
        def __init__(self, path, col_names):
            self.path = path
            self.col_names = col_names  # table column order (by name)

    def _read_ice_table_file(path, col_names):
        """One data file → arrow batches projected to the table columns,
        dispatched on the file's format (parquet/ORC natively via
        pyarrow; AVRO via the pure-Python avro_py codec, one batch per
        Avro block — same formats the jar-less batch reader accepts)."""
        import pyarrow as pa

        if path.endswith(".orc"):
            import pyarrow.orc as _orc

            batches = _orc.ORCFile(path).read().to_batches()
        elif path.endswith(".avro"):
            _ensure_pkg()
            from gcs2postgres_spark.sources.avro_py import read_avro_arrow

            batches = read_avro_arrow(path)
        else:
            import pyarrow.parquet as pq

            batches = pq.read_table(path).to_batches()
        for b in batches:
            names = [n for n in col_names if n in b.schema.names]
            yield pa.RecordBatch.from_arrays([b.column(n) for n in names], names=names)

    class _IceStreamReader(DataSourceStreamReader):
        def __init__(self, options):
            self.table = options["path"]
            self.skip_change = (
                str(options.get("skipChangeCommits", "false")).lower() == "true"
            )

        def _meta(self):
            _ensure_pkg()
            from gcs2postgres_spark.sources.iceberg_py import (
                latest_metadata_file,
            )

            return json.loads(open(latest_metadata_file(self.table)).read())

        def initialOffset(self):
            return {"seq": 0}

        def latestOffset(self):
            meta = self._meta()
            return {"seq": int(meta.get("last-sequence-number", 0))}

        def partitions(self, start, end):
            _ensure_pkg()
            from gcs2postgres_spark.sources.avro_py import read_avro_file
            from gcs2postgres_spark.sources.iceberg_py import (
                _load_current_schema,
                _resolve,
            )

            meta = self._meta()
            schema_json = _load_current_schema(meta)
            col_names = [f["name"] for f in schema_json["fields"]]
            lo, hi = int(start["seq"]), int(end["seq"])
            parts = []
            for snap in sorted(
                meta.get("snapshots") or [],
                key=lambda s: int(s.get("sequence-number") or 0),
            ):
                seq = int(snap.get("sequence-number") or 0)
                if not (lo < seq <= hi):
                    continue
                op = (snap.get("summary") or {}).get("operation", "append")
                if op == "replace":
                    continue  # compaction: no logical row change
                if op != "append":
                    if self.skip_change:
                        continue
                    raise ValueError(
                        f"iceberg_py stream: snapshot {snap['snapshot-id']} "
                        f"({op}) of {self.table!r} changes existing rows; "
                        "streaming sources require append snapshots — set "
                        "skipChangeCommits=true, or consume "
                        "iceberg_table_changes"
                    )
                sid = int(snap["snapshot-id"])
                _, mrows = read_avro_file(
                    _resolve(snap["manifest-list"], self.table,
                             meta.get("location"))
                )
                for m in mrows:
                    if m.get("added_snapshot_id") != sid or m.get("content", 0):
                        continue
                    _, entries = read_avro_file(
                        _resolve(m["manifest_path"], self.table,
                                 meta.get("location"))
                    )
                    for e in entries:
                        if e["status"] == 2 or e.get("snapshot_id") != sid:
                            continue
                        dfile = e["data_file"]
                        if dfile.get("content", 0):
                            continue
                        parts.append(
                            _IceFilePart(
                                _resolve(dfile["file_path"], self.table,
                                         meta.get("location")),
                                col_names,
                            )
                        )
            return parts

        def read(self, partition):
            yield from _read_ice_table_file(partition.path, partition.col_names)

        def commit(self, end):
            pass

    class _IceBatchReader(DataSourceReader):
        def __init__(self, parts):
            self._parts = parts

        def partitions(self):
            return self._parts

        def read(self, partition):
            yield from _read_ice_table_file(partition.path, partition.col_names)

    class IcebergPyDataSource(DataSource):
        """format("iceberg_py"): batch over the current snapshot's data
        files (DELETE-FREE tables only — position/equality deletes need
        read_iceberg_py, the JVM-scan + delete-applying fast path) and
        streaming source/sink over the snapshot log."""

        @classmethod
        def name(cls):
            return "iceberg_py"

        def reader(self, schema):
            _ensure_pkg()
            from gcs2postgres_spark.sources.avro_py import read_avro_file
            from gcs2postgres_spark.sources.iceberg_py import (
                _load_current_schema,
                _resolve,
                latest_metadata_file,
            )

            table = self.options["path"]
            meta = json.loads(open(latest_metadata_file(table)).read())
            schema_json = _load_current_schema(meta)
            col_names = [f["name"] for f in schema_json["fields"]]
            snaps = meta.get("snapshots") or []
            cur = meta.get("current-snapshot-id")
            if cur is None or cur == -1 or not snaps:
                return _IceBatchReader([])
            snap = next(s for s in snaps if s["snapshot-id"] == cur)
            _, mrows = read_avro_file(
                _resolve(snap["manifest-list"], table, meta.get("location"))
            )
            parts = []
            for m in mrows:
                if m.get("content", 0):
                    raise NotImplementedError(
                        "iceberg_py batch datasource does not apply "
                        "delete files — use read_iceberg_py (the "
                        "JVM-scan fast path)"
                    )
                _, entries = read_avro_file(
                    _resolve(m["manifest_path"], table, meta.get("location"))
                )
                for e in entries:
                    if e["status"] == 2:
                        continue
                    dfile = e["data_file"]
                    if dfile.get("content", 0):
                        raise NotImplementedError(
                            "iceberg_py batch datasource does not apply "
                            "delete files — use read_iceberg_py (the "
                            "JVM-scan fast path)"
                        )
                    parts.append(
                        _IceFilePart(
                            _resolve(dfile["file_path"], table,
                                     meta.get("location")),
                            col_names,
                        )
                    )
            return _IceBatchReader(parts)

        def schema(self):
            _ensure_pkg()
            from gcs2postgres_spark.sources.iceberg_py import (
                _load_current_schema,
                iceberg_to_spark_type,
                latest_metadata_file,
            )

            meta = json.loads(open(latest_metadata_file(self.options["path"])).read())
            return iceberg_to_spark_type(_load_current_schema(meta))

        def streamReader(self, schema):
            return _IceStreamReader(self.options)

        def streamWriter(self, schema, overwrite):
            if overwrite:
                raise NotImplementedError(
                    "iceberg_py stream sink is append-mode only (use the "
                    "cdc_apply sinks for upsert state)"
                )
            return _IceStreamWriter(self.options, schema.json())

    class _IceStageMsg(WriterCommitMessage):
        def __init__(self, path):
            self.path = path

    class _IceStreamWriter(DataSourceStreamWriter):
        """Native EXACTLY-ONCE streaming APPEND sink: executors stage
        parquet files under <table>/data/, the per-batch commit is one
        fast-append snapshot built from the staged files' footers
        (driver-side metadata work via the package committer) stamped
        with app-id/batch-id summary properties, and a replayed batchId
        is recognized and dropped. Scope: existing UNPARTITIONED v2
        tables, append mode; the first batch needs the table created
        (create_iceberg_v2_table)."""

        def __init__(self, options, schema_json):
            self.table = options["path"]
            self.schema_json = schema_json
            self.app_id = options.get(
                "txnAppId",
                f"iceberg_py_stream_sink:{os.path.abspath(options['path'])}",
            )

        def write(self, iterator):
            import json as _json
            import uuid as _uuid

            import pyarrow as pa
            import pyarrow.parquet as pq

            arrow_of = {
                "integer": pa.int32(), "long": pa.int64(), "short": pa.int16(),
                "byte": pa.int8(), "double": pa.float64(),
                "float": pa.float32(), "boolean": pa.bool_(),
                "date": pa.date32(), "string": pa.string(),
                "timestamp": pa.timestamp("us", tz="UTC"),
                "timestamp_ntz": pa.timestamp("us"),
            }
            fields = _json.loads(self.schema_json)["fields"]
            names, types = [], []
            for f in fields:
                t = f["type"] if isinstance(f["type"], str) else None
                if t not in arrow_of:
                    raise NotImplementedError(
                        f"iceberg_py stream sink: unsupported column type "
                        f"{f['type']!r} for {f['name']!r}"
                    )
                names.append(f["name"])
                types.append(arrow_of[t])
            cols = [[] for _ in names]
            n = 0
            for row in iterator:
                for i, name in enumerate(names):
                    cols[i].append(row[name])
                n += 1
            if n == 0:
                return _IceStageMsg(None)
            ddir = os.path.join(self.table, "data")
            os.makedirs(ddir, exist_ok=True)
            full = os.path.join(
                ddir, f"stream-{_uuid.uuid4().hex}.parquet"
            )
            pq.write_table(
                pa.table([pa.array(c, type=t) for c, t in zip(cols, types)],
                         names=names),
                full, compression="snappy",
            )
            return _IceStageMsg(full)

        def commit(self, messages, batchId):
            import time as _time

            _ensure_pkg()
            from gcs2postgres_spark.sources.iceberg_py import (
                _v2_commit_snapshot,
                _v2_entry,
                _v2_table_context,
                last_txn_version_iceberg,
                read_avro_file,
                _resolve,
            )

            staged = [m.path for m in messages if m is not None and m.path]
            if batchId <= last_txn_version_iceberg(self.table, self.app_id):
                for p in staged:
                    if os.path.exists(p):
                        os.remove(p)
                return
            ctx = _v2_table_context(self.table, "stream append")
            if ctx["part_struct_names"]:
                raise ValueError(
                    "iceberg_py stream sink appends unpartitioned files; "
                    f"target {self.table!r} is partitioned — use the "
                    "cdc_apply sinks or append_iceberg_v2"
                )
            if not staged:
                return
            snapshot = ctx["snapshot"]
            if snapshot is None:
                rows = []
                sid = 1
            else:
                _, rows = read_avro_file(
                    _resolve(snapshot["manifest-list"], self.table,
                             ctx["location"])
                )
                rows = list(rows)
                sid = max(s["snapshot-id"] for s in ctx["snapshots"]) + 1
            new_seq = int(ctx["meta"].get("last-sequence-number", 0)) + 1
            from gcs2postgres_spark.sources.iceberg_py import (
                _uniq,
                manifest_entry_schema_v2,
                write_avro_file,
            )

            entries = [
                _v2_entry(p, content=0, seq=new_seq, snapshot_id=sid)
                for p in sorted(staged)
            ]
            mdir = os.path.join(self.table, "metadata")
            man = os.path.join(mdir, _uniq(f"manifest-data-{sid}.avro"))
            write_avro_file(man, manifest_entry_schema_v2([]), entries,
                            codec="null")
            rows.append(
                {
                    "manifest_path": os.path.abspath(man),
                    "manifest_length": os.path.getsize(man),
                    "partition_spec_id": ctx["spec_id"],
                    "content": 0,
                    "sequence_number": new_seq,
                    "min_sequence_number": new_seq,
                    "added_snapshot_id": sid,
                }
            )
            _v2_commit_snapshot(
                self.table, ctx, rows, new_seq, sid,
                int(_time.time() * 1000), "append",
                summary_extra={"app-id": self.app_id, "batch-id": batchId},
            )

        def abort(self, messages, batchId):
            for m in messages:
                if m is not None and m.path and os.path.exists(m.path):
                    os.remove(m.path)

    return IcebergPyDataSource


def register_lakehouse_datasources(spark: SparkSession) -> None:
    """Register format('delta_py') and format('iceberg_py') on this
    session (idempotent — re-registration replaces)."""
    spark.dataSource.register(make_delta_py_datasource())
    spark.dataSource.register(make_iceberg_py_datasource())
