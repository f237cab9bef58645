"""Benchmark entry point.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Runs one workload (see ``perfbench/workloads.py``) from the root of a
checkout: set-up with untimed warm-up passes, then timed passes for
``--seconds``, then the once-per-run output checks. ``setup_s`` runs
from process start to the end of the last warm-up pass: session start,
input generation and the untimed warm-up. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, whose names and units are read from
``BENCHMARK.json``. With ``--trace 0`` the metrics are the end-to-end
ones; with ``--trace 1`` the passes alternate traced and untraced, and
the metrics are the per-layer ones plus the tracing overhead. A fuller
record (environment, per-pass numbers and, traced, the number of calls
or inputs behind each per-layer value) goes to
``.perfbench/result-<workload>-seed<seed>-trace<t>.json`` and, for traced
runs, the spans to ``.perfbench/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

def _program_present() -> bool:
    """The program under test must sit beside the benchmark."""
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("gcs2postgres_spark/__init__.py", "bench.py")
    )


def _environment(work: str) -> None:
    """Everything Spark, its JVM and its Python workers write goes under
    ``work``; the core count is the benchmark's, not the caller's."""
    from perfbench.workloads import CORES

    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CORES),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: the program is missing under {ROOT}", file=sys.stderr)
        return 2

    from perfbench import tracing
    from perfbench.workloads import CORES, WORKLOADS, PassResult, _median

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work)
    load_start, cpu_start = tracing.loadavg(), tracing.cpu_ticks()
    tracer = tracing.Tracer(enabled=False)
    w = WORKLOADS[args.workload](work, args.seed, tracer)
    passes: list[PassResult] = []
    try:
        with tracing.WorkerRss() as rss:
            w.setup()
            w.warm_up()
            setup_s = time.perf_counter() - tracing.T_START
            tracing.log(f"set-up done (session start {w.session_start_s:.2f}s)")
            t0 = time.perf_counter()
            min_passes = 2 if args.trace else 1
            while time.perf_counter() - t0 < args.seconds or len(passes) < min_passes:
                passes.append(w.run_pass(traced=bool(args.trace) and len(passes) % 2 == 0))
            tracing.log(f"{len(passes)} timed passes done")
            w.check()
            tracing.log("checks done")
            layers = w.layer_metrics([p for p in passes if p.traced]) if args.trace else {}
            tracing.log("layer metrics done")
    finally:
        w.close()
        if w.spark is not None:
            _stop_spark(w.spark)
        shutil.rmtree(work, ignore_errors=True)
        tracing.log("stopped")

    ops = [x for p in passes for x in p.ops]
    attempted = sum(len(p.ops) for p in w.warm + passes) + w.checks_attempted
    failed = sum(p.failed for p in w.warm + passes) + w.checks_failed
    untraced = [p for p in passes if not p.traced]
    samples = {}
    if args.trace:
        traced_wall, plain_wall = _median(p.wall for p in passes if p.traced), _median(p.wall for p in untraced)
        layers["session.start_s"] = (w.session_start_s, 1)
        layers["trace.overhead_pct"] = (100.0 * (traced_wall - plain_wall) / plain_wall, len(passes))
        values = {k: v for k, (v, _) in layers.items()}
        samples = {k: n for k, (_, n) in layers.items()}
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": _median(p.wall for p in passes),
            "rows_per_s": _median(p.rows / p.wall for p in passes),
            "op_p50_ms": 1e3 * _median(ops),
            "worker_rss_peak_mb": rss.peak_mb,
        }
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "spark_cores": CORES,
        "nproc": os.cpu_count(),
        "loadavg_start": load_start,
        "loadavg_end": tracing.loadavg(),
        "steal_pct": tracing.steal_pct(cpu_start, tracing.cpu_ticks()),
        "versions": tracing.versions(),
        "setup_s": setup_s,
        "session_start_s": w.session_start_s,
        "warm_up_passes": [{"wall": p.wall, "steal_pct": p.steal_pct} for p in w.warm],
        "passes": [{"wall": p.wall, "steal_pct": p.steal_pct, "ops": dict(zip(p.names, p.ops)), "rows": p.rows, "traced": p.traced, **p.extra} for p in passes],
        "op_count": len(ops),
        "problems": w.problems,
        "metrics": metrics,
        "samples": samples,
    }
    if len(ops) >= 100:
        record["op_p90_ms"] = {"value": 1e3 * sorted(ops)[int(0.9 * len(ops))], "samples": len(ops)}
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}"
    with open(os.path.join(out_dir, f"result-{stem}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(out_dir, f"trace-{stem}.json"), {"workload": args.workload, "seed": args.seed})
    env = ("spark_cores", "nproc", "loadavg_start", "loadavg_end", "steal_pct", "versions")
    print(json.dumps({k: record[k] for k in env}), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
