"""The benchmark's workloads, each a closed loop with one client.

A workload is one Spark session plus the phases that make up a pass:

- ``etl``: ``CopyPhase`` (five tables through read_source ->
  reconcile_to_target -> write_jdbc_copy into the loopback COPY server)
  then ``TransferPhase`` (``pipeline.transfer_all`` over CSV, JSON, Avro
  and parquet copies into the parquet sink);
- ``query_mix``: ``QueryPhase`` (registry queries into the noop sink).

``setup`` makes the inputs from the seed while the JVM starts, wraps
each layer's public functions in spans (``LAYER_CALLS``; untraced, a
span is one extra function call) and runs one untimed pass over every op
shape; that pass also captures what the once-per-run checks need.
``warm_up`` then runs ``warm_passes`` more untimed passes, because the
JIT keeps speeding passes up well after the first one (an etl pass takes
~13 s cold, ~5 s second and reaches its plateau by about the fifth;
timing on that slope made whole runs disagree); a fixed count, not a
fixed time, so every run starts timing from the same JIT state.
``run_pass`` runs one timed pass in a seeded order and checks every op.

An op is one table load, one table transfer or one query.
"""

from __future__ import annotations

import math
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

from perfbench import datagen
from perfbench.tracing import Tracer, cpu_ticks, job_stage_counts, log, patch_everywhere, steal_pct

# Spark core count: fixed, never inherited from the environment, and
# never more than the machine has.
CORES = max(1, min(4, os.cpu_count() or 1))

SF = 0.005  # lineitem 30 k rows, orders 7.5 k

# The layers' public functions, each wrapped in a span of the given
# name in every workload, so a layer a workload never calls measures 0.
LAYER_CALLS = [
    ("gcs2postgres_spark.sources.readers", "read_source", "sources.read"),
    ("gcs2postgres_spark.reconcile", "reconcile_to_target", "reconcile.build"),
    ("gcs2postgres_spark.sinks", "write_jdbc_copy", "sinks.copy"),
    ("gcs2postgres_spark.sinks", "write_parquet", "sinks.parquet_write"),
    ("gcs2postgres_spark.pipeline", "transfer_file", "pipeline.table"),
    ("gcs2postgres_spark.catalog", "load_table", "catalog.load"),
]

LOAD_TABLES = ["orders", "lineitem", "customer", "part", "documents"]
TRANSFER_TABLES = ["orders", "lineitem"]
TRANSFER_FORMATS = ["csv", "json", "avro", "parquet"]

# The query_mix subset of bench.py's HEADLINE list: an aggregate, a join
# with top-N, a window, JSON extraction and a vector top-k (on Python
# workers). The whole 21 + 5 query mix takes ~22 s per warm pass and ~50 s
# cold on 4 cores, longer than a run lasts; and at this scale a query is
# mostly fixed per-query cost whose time keeps falling for ~10 runs of it
# (JIT, generated-code caches), so fewer queries warm up in fewer seconds.
QUERY_SUBSET = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "window_running",
    "json_extract_agg",
    "similarity_cosine_topk",
]


@dataclass
class PassResult:
    no: int
    wall: float
    steal_pct: float = 0.0
    ops: list[float] = field(default_factory=list)
    names: list[str] = field(default_factory=list)
    rows: int = 0
    failed: int = 0
    traced: bool = False
    extra: dict = field(default_factory=dict)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Phase:
    """One part of a pass. ``inputs`` runs before the session is up,
    ``ready`` after it; ``run`` adds its ops to the pass result."""

    def __init__(self, wl: Workload):
        self.wl = wl

    def inputs(self, tables: dict) -> None:
        pass

    def ready(self, spark) -> None:
        pass

    def run(self, res: PassResult, prefix: str, traced: bool) -> None:
        raise NotImplementedError

    def check(self) -> None:
        pass

    def close(self) -> None:
        pass


class Workload:
    name = ""
    app = "gcs2postgres"
    phase_types: tuple = ()
    warm_passes = 3

    def __init__(self, work_dir: str, seed: int, tracer: Tracer):
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.spark = None
        self.session_start_s = 0.0
        self.checks_attempted = 0
        self.checks_failed = 0
        self.problems: list[str] = []
        self.pass_no = 0
        self.warm: list[PassResult] = []
        # what the layer probes scan: COPY tables (name -> path, target
        # schema) and transfer files (name -> path, format, rows)
        self.copy_inputs: dict[str, tuple[str, list]] = {}
        self.transfer_inputs: dict[str, tuple[str, str, int]] = {}
        self._undo: list = []
        self.phases = [p(self) for p in self.phase_types]

    def setup(self) -> None:
        self._begin_session()
        tables = datagen.make_tables(SF, self.seed)
        for ph in self.phases:
            ph.inputs(tables)
        log("inputs written")
        self._session()
        self._instrument()
        for ph in self.phases:
            ph.ready(self.spark)
        self.warm.append(self.run_pass(traced=False))

    def warm_up(self) -> None:
        for _ in range(self.warm_passes):
            self.warm.append(self.run_pass(traced=False))
        log(f"{len(self.warm)} warm-up passes done")

    def run_pass(self, traced: bool) -> PassResult:
        """One pass; tracing is on for it only when ``traced``. Op ids
        start with ``p<pass number>:``."""
        self.pass_no += 1
        self.tracer.pass_no, self.tracer.enabled = self.pass_no, traced
        res = PassResult(self.pass_no, 0.0, traced=traced)
        ticks0, t0 = cpu_ticks(), time.perf_counter()
        for ph in self.phases:
            ph.run(res, f"p{self.pass_no}:", traced)
        res.wall = time.perf_counter() - t0
        res.steal_pct = steal_pct(ticks0, cpu_ticks())
        self.tracer.enabled = False
        return res

    def check(self) -> None:
        for ph in self.phases:
            ph.check()

    def layer_metrics(self, traced: list[PassResult]) -> dict[str, tuple[float, int]]:
        """Every per-layer metric as (value, samples), the same way in
        every workload: span times summed per traced pass, counts per
        traced pass, each the median over traced passes; then the scan
        probes. ``samples`` is the number of calls, ops or inputs behind
        the value, so a 0 from a layer the workload never calls shows as
        0 samples."""
        tr, nos = self.tracer, [p.no for p in traced]

        def spans(name: str, scale: float = 1.0) -> tuple[float, int]:
            return scale * _median(tr.per_pass(name, nos)), sum(tr.calls_per_pass(name, nos))

        def calls(name: str) -> tuple[float, int]:
            n = tr.calls_per_pass(name, nos)
            return _median(n), sum(n)

        def extra(key: str) -> tuple[float, int]:
            got = [p.extra[key] for p in traced if key in p.extra]
            return (_median(got), len(got)) if got else (0.0, 0)

        out = {
            "sources.read_ms": spans("sources.read", 1e3),
            "reconcile.build_ms": spans("reconcile.build", 1e3),
            "sinks.copy_s": spans("sinks.copy"),
            "sinks.copy_streams": extra("copy_streams"),
            "sinks.stream_max_s": extra("copy_stream_max_s"),
            "sinks.bytes_per_row": extra("copy_bytes_per_row"),
            "pipeline.table_s": spans("pipeline.table"),
            "pipeline.jobs_per_table": extra("transfer_jobs_per_table"),
            "sinks.parquet_write_s": spans("sinks.parquet_write"),
            "catalog.load_calls": calls("catalog.load"),
            "catalog.load_ms": spans("catalog.load", 1e3),
            "queries.build_ms": spans("queries.build", 1e3),
            "queries.plan_ms": spans("queries.plan", 1e3),
            "queries.exec_ms": spans("queries.exec", 1e3),
            "queries.jobs": extra("query_jobs"),
            "queries.stages": extra("query_stages"),
        }
        out.update(self._scan_probes())
        return out

    def _scan_probes(self) -> dict[str, tuple[float, int]]:
        """Noop writes, untimed by the passes: the reconciled COPY frames
        without the COPY (``sinks.scan_only_s``; its gap to
        ``sinks.copy_s`` is serialize + send) and ``read_source`` of each
        transfer file by format."""
        from gcs2postgres_spark.reconcile import reconcile_to_target
        from gcs2postgres_spark.sources.readers import read_source

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        t = time.perf_counter()
        for path, schema in self.copy_inputs.values():
            noop(reconcile_to_target(read_source(self.spark, path), schema))
        out = {"sinks.scan_only_s": (time.perf_counter() - t if self.copy_inputs else 0.0, len(self.copy_inputs))}
        for fmt in TRANSFER_FORMATS:
            files = [path for path, f, _ in self.transfer_inputs.values() if f == fmt]
            t = time.perf_counter()
            for path in files:
                noop(read_source(self.spark, path))
            out[f"sources.scan_s.{fmt}"] = (time.perf_counter() - t if files else 0.0, len(files))
        return out

    def close(self) -> None:
        for ph in self.phases:
            ph.close()
        for undo in reversed(self._undo):
            undo()

    # -- helpers for the phases -------------------------------------------

    def _begin_session(self) -> None:
        """Start ``get_spark`` in a thread, so the JVM boots while the
        inputs are generated; ``_session`` waits for it."""
        from gcs2postgres_spark.session import get_spark

        def start():
            t = time.perf_counter()
            try:
                self.spark = get_spark(self.app)
            except Exception as e:  # re-raised by _session
                self._session_error = e
            self.session_start_s = time.perf_counter() - t

        self._session_error = None
        self._session_thread = threading.Thread(target=start, daemon=True)
        self._session_thread.start()

    def _session(self) -> None:
        self._session_thread.join()
        if self._session_error is not None:
            raise self._session_error
        log(f"session ready ({self.session_start_s:.2f}s)")

    def _instrument(self) -> None:
        import importlib

        for mod, attr, span in LAYER_CALLS:
            fn = getattr(importlib.import_module(mod), attr)
            self._undo.append(patch_everywhere(fn, self.tracer.wrap(fn, span)))

    def fail(self, what: str) -> None:
        self.problems.append(what)
        print(f"[perfbench] FAILED {what}", file=sys.stderr)

    def group(self, op: str, traced: bool) -> None:
        if traced:
            self.spark.sparkContext.setJobGroup(op, op)

    def order(self, names: list[str]) -> list[str]:
        return [names[i] for i in self.rng.permutation(len(names))]


# -------------------------------------------------------------- COPY load


class CopyPhase(Phase):
    """read_source -> reconcile_to_target -> write_jdbc_copy per table,
    into the benchmark's loopback COPY server. Each table is ``CORES``
    part files, so it loads over ``CORES`` COPY streams at once."""

    def inputs(self, tables: dict) -> None:
        from perfbench.pgcopy import CopyServer

        src = {t: tables[t] for t in LOAD_TABLES}
        # COPY's hard cases ride in customer.c_name: NULL vs empty
        # string, delimiter, quote, newline and the end-of-data marker.
        src["customer"] = datagen.with_edge_strings(src["customer"], "c_name")
        self.source = src
        self.paths = datagen.write_tables(src, os.path.join(self.wl.work_dir, "copy_in"), parts=CORES)
        self.expect_newlines = {t: tbl.num_rows + datagen.embedded_newlines(tbl) for t, tbl in src.items()}
        self.server = CopyServer(capture=True).__enter__()  # the first pass is kept

    def ready(self, spark) -> None:
        from gcs2postgres_spark.__main__ import identity_target_schema
        from gcs2postgres_spark.sources.readers import read_source

        # the CLI's offline path: identity Postgres-typed target schemas,
        # derived once from each source before the loads
        self.schemas = {t: identity_target_schema(read_source(spark, p)) for t, p in self.paths.items()}
        self.wl.copy_inputs.update({t: (p, self.schemas[t]) for t, p in self.paths.items()})

    def _load(self, table: str) -> None:
        from gcs2postgres_spark.reconcile import reconcile_to_target
        from gcs2postgres_spark.sinks import write_jdbc_copy
        from gcs2postgres_spark.sources.readers import read_source
        from perfbench.pgcopy import connect

        out = reconcile_to_target(read_source(self.wl.spark, self.paths[table]), self.schemas[table])
        write_jdbc_copy(out, self.server.dsn, table, out.columns, connect_factory=connect)

    def run(self, res: PassResult, prefix: str, traced: bool) -> None:
        streams, rows = [], 0
        for table in self.wl.order(LOAD_TABLES):
            op = prefix + table
            self.wl.group(op, traced)
            t = time.perf_counter()
            try:
                with self.wl.tracer.span("op", op):
                    self._load(table)
                ok = True
            except Exception as e:  # the op failed; the run goes on
                self.wl.fail(f"{table}: {type(e).__name__}: {e}")
                ok = False
            res.ops.append(time.perf_counter() - t)
            res.names.append(table)
            got = self.server.take_streams()
            streams += got
            newlines = sum(s.newlines for s in got)
            if ok and newlines != self.expect_newlines[table]:
                self.wl.fail(f"{table}: server saw {newlines} lines, expected {self.expect_newlines[table]}")
                ok = False
            rows += self.source[table].num_rows if ok else 0
            res.failed += not ok
        self.server.capture = False
        res.rows += rows
        res.extra.update(
            copy_streams=len(streams),
            copy_stream_max_s=max((s.end - s.start for s in streams), default=0.0),
            copy_bytes_per_row=sum(s.nbytes for s in streams) / max(1, rows),
        )

    def check(self) -> None:
        """Decode the first pass's captured payload by COPY csv rules and
        compare it, value by value, with the source rows."""
        from perfbench.pgcopy import decode_copy_csv

        wl = self.wl
        for table, tbl in self.source.items():
            wl.checks_attempted += 1
            got = decode_copy_csv(b"".join(self.server.payloads.get(table, [])))
            parsers = [_value_parser(tbl.schema.field(c).type) for c in tbl.column_names]
            got = sorted((tuple(p(v) for p, v in zip(parsers, r)) for r in got), key=repr)
            want = sorted((tuple(r.values()) for r in tbl.to_pylist()), key=repr)
            if got != want:
                bad = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), None)
                wl.checks_failed += 1
                wl.fail(f"{table}: decoded COPY payload differs from source (rows {len(got)} vs {len(want)}, first diff at {bad})")
        if self.server.errors:
            wl.checks_attempted += 1
            wl.checks_failed += 1
            wl.fail(f"COPY server errors: {self.server.errors[:3]}")

    def close(self) -> None:
        if hasattr(self, "server"):
            self.server.__exit__(None, None, None)


def _value_parser(arrow_type):
    import pyarrow as pa

    if pa.types.is_integer(arrow_type):
        conv = int
    elif pa.types.is_floating(arrow_type):
        conv = float
    elif pa.types.is_timestamp(arrow_type):
        conv = datetime.fromisoformat
    else:
        conv = str
    return lambda v: None if v is None else conv(v)


# ---------------------------------------------------------- format transfer


class TransferPhase(Phase):
    """pipeline.transfer_all over CSV, JSON, Avro and parquet copies of
    orders and lineitem, parquet sink, all tables concurrent on the one
    session."""

    def inputs(self, tables: dict) -> None:
        in_dir = os.path.join(self.wl.work_dir, "transfer_in")
        self.parquet = datagen.write_tables({t: tables[t] for t in TRANSFER_TABLES}, in_dir)
        self.files: dict[str, tuple[str, str, int]] = {}  # name -> (path, fmt, rows)
        for t in TRANSFER_TABLES:
            _write_format_copies(tables[t], os.path.join(in_dir, t))
            for fmt in TRANSFER_FORMATS:
                path = self.parquet[t] if fmt == "parquet" else os.path.join(in_dir, f"{t}.{fmt}")
                self.files[f"{t}_{fmt}"] = (path, fmt, tables[t].num_rows)
        self.wl.transfer_inputs.update(self.files)
        self.sink_dir = os.path.join(self.wl.work_dir, "sink")

    def ready(self, spark) -> None:
        from gcs2postgres_spark import pipeline
        from gcs2postgres_spark.__main__ import identity_target_schema
        from gcs2postgres_spark.sources.readers import read_source

        # one Postgres-typed target per table, as a database would hold
        # it: every format of a table reconciles onto the same schema
        target = {t: identity_target_schema(read_source(spark, p)) for t, p in self.parquet.items()}
        self.schemas = {f"{t}_{fmt}": target[t] for t in TRANSFER_TABLES for fmt in TRANSFER_FORMATS}

        # per-table latency (and, traced, the op span and job group, in
        # the pipeline's own thread) from a wrapper around transfer_file
        orig = pipeline.transfer_file
        tracer, sc = self.wl.tracer, spark.sparkContext
        self._latency: list[tuple[str, float]] = []
        self._groups: list[str] = []
        self._prefix, self._traced = "", False

        def transfer_file(spark_, path, table, *a, **k):
            op = self._prefix + table
            if self._traced:
                sc.setJobGroup(op, op)
                self._groups.append(op)
            t = time.perf_counter()
            with tracer.span("op", op):
                r = orig(spark_, path, table, *a, **k)
            self._latency.append((table, time.perf_counter() - t))
            return r

        self._undo = patch_everywhere(orig, transfer_file)

    def run(self, res: PassResult, prefix: str, traced: bool) -> None:
        from gcs2postgres_spark import pipeline
        from gcs2postgres_spark.config import Config, FileSpec, GCSConfig

        names = self.wl.order(list(self.files))
        # every table at once: with fewer threads than tables, the seeded
        # order would decide when the slowest (lineitem Avro) starts, and
        # so the pass time
        cfg = Config(gcs=GCSConfig(concurrent_jobs=len(names), files=[FileSpec(self.files[n][0], n) for n in names]))
        self._prefix, self._traced = prefix, traced
        self._latency, self._groups = [], []
        for r in pipeline.transfer_all(self.wl.spark, cfg, self.schemas, self.sink_dir):
            want = self.files[r.table][2]
            if r.ok and r.rows == want:
                res.rows += r.rows
            else:
                res.failed += 1
                self.wl.fail(f"{r.table}: ok={r.ok} rows={r.rows} expected {want} error={r.error}")
        res.names += [n for n, _ in self._latency]
        res.ops += [x for _, x in self._latency]
        self._traced = False
        if traced:
            sc = self.wl.spark.sparkContext
            jobs = sum(job_stage_counts(sc, g)[0] for g in self._groups)
            res.extra["transfer_jobs_per_table"] = jobs / len(names)

    def close(self) -> None:
        if hasattr(self, "_undo"):
            self._undo()


def _write_format_copies(tbl, stem: str) -> None:
    """``stem``.csv (with header), .json (JSON lines) and .avro copies of
    ``tbl``, written without Spark."""
    import pyarrow.csv
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_schema

    from gcs2postgres_spark.sources.avro_py import spark_to_avro_schema, write_avro_file

    pyarrow.csv.write_csv(tbl, stem + ".csv")
    tbl.to_pandas().to_json(stem + ".json", orient="records", lines=True, date_format="iso", date_unit="us")
    # avro_py.spark_to_avro_schema has no TimestampNTZ mapping, which is
    # how Spark reads these zone-less timestamps: write them as TIMESTAMP
    # (same instants in the UTC session).
    st = from_arrow_schema(tbl.schema, prefer_timestamp_ntz=True)
    st = T.StructType(
        [T.StructField(f.name, T.TimestampType() if isinstance(f.dataType, T.TimestampNTZType) else f.dataType) for f in st.fields]
    )
    write_avro_file(stem + ".avro", spark_to_avro_schema(st), tbl.to_pylist())


# ------------------------------------------------------------------ queries


class QueryPhase(Phase):
    """Registry queries into the noop sink on the one long-lived session,
    tuned the way bench.py tunes it."""

    def inputs(self, tables: dict) -> None:
        import bench

        missing = [q for q in QUERY_SUBSET if q not in bench.HEADLINE + bench.SCALE_TIER]
        if missing:
            raise ValueError(f"not in bench.py's query lists: {missing}")
        self.data_dir = os.path.join(self.wl.work_dir, "sf")
        datagen.write_tables(tables, self.data_dir)

    def ready(self, spark) -> None:
        from gcs2postgres_spark.queries import REGISTRY
        from gcs2postgres_spark.session import tune_local_fast
        from tests.oracle_utils import duckdb_connection

        # bench.py's shuffle sizing: ~24 MB of input per reducer, at least
        # 8, at most the core count beyond that
        mb = sum(os.path.getsize(os.path.join(self.data_dir, f)) for f in os.listdir(self.data_dir)) // 2**20
        spark.conf.set("spark.sql.shuffle.partitions", str(max(8, min(CORES, math.ceil(mb / 24)))))
        tune_local_fast(spark, self.data_dir)
        # rows each query returns, from its DuckDB oracle; the check
        # confirms Spark returns the same rows
        con = duckdb_connection(self.data_dir)
        self.result_rows = {n: len(con.sql(REGISTRY[n].oracle).fetchall()) for n in QUERY_SUBSET}
        con.close()

    def run(self, res: PassResult, prefix: str, traced: bool) -> None:
        from gcs2postgres_spark.operators.caching import release_transient_caches
        from gcs2postgres_spark.queries import REGISTRY

        tr, spark = self.wl.tracer, self.wl.spark
        jobs = stages = 0
        for name in self.wl.order(QUERY_SUBSET):
            op = prefix + name
            self.wl.group(op, traced)
            t = time.perf_counter()
            try:
                with tr.span("op", op):
                    with tr.span("queries.build"):
                        df = REGISTRY[name].fn(spark, self.data_dir)
                    if traced:
                        with tr.span("queries.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tr.span("queries.exec"):
                        df.write.format("noop").mode("overwrite").save()
                res.rows += self.result_rows[name]
            except Exception as e:
                res.failed += 1
                self.wl.fail(f"{name}: {type(e).__name__}: {e}")
            res.ops.append(time.perf_counter() - t)
            res.names.append(name)
            release_transient_caches()
            spark.catalog.clearCache()
            if traced:
                j, s = job_stage_counts(spark.sparkContext, op)
                jobs, stages = jobs + j, stages + s
        if traced:
            res.extra.update(query_jobs=jobs, query_stages=stages)

    def check(self) -> None:
        """Each query's collected result against its DuckDB oracle, with
        the repository's own oracle comparison; once per run, untimed."""
        from gcs2postgres_spark.queries import REGISTRY
        from tests.oracle_utils import compare_query

        wl = self.wl
        for name in QUERY_SUBSET:
            wl.checks_attempted += 1
            try:
                problems = compare_query(wl.spark, self.data_dir, REGISTRY[name].fn, REGISTRY[name].oracle)
            except Exception as e:
                problems = [f"{type(e).__name__}: {e}"]
            if problems:
                wl.checks_failed += 1
                wl.fail(f"{name}: oracle mismatch: {problems[:3]}")


class Etl(Workload):
    """The paper's tool end to end: COPY loads, then format transfers,
    on a session built the way ``python -m gcs2postgres_spark`` builds it."""

    name = "etl"
    phase_types = (CopyPhase, TransferPhase)


class QueryMix(Workload):
    """The engine: registry queries on a session built like bench.py's."""

    name = "query_mix"
    app = "gcs2postgres_spark-bench"
    phase_types = (QueryPhase,)
    warm_passes = 6  # short passes whose times keep falling for ~8 runs


WORKLOADS = {w.name: w for w in (Etl, QueryMix)}
