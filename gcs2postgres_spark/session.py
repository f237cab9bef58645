"""SparkSession factory.

Pinned semantics (SURVEY.md §4.2):
- ``spark.sql.session.timeZone=UTC`` — DuckDB-oracle comparison needs
  naive-UTC timestamps on both sides.
- ``spark.sql.ansi.enabled=false`` — the reference's casts are lenient
  (truncating int64→int32, stringify fallback — reference
  src/utils/utils.go:136-166); ANSI mode would raise instead.
- AQE on with coalesce + skew-join: at 100 TB the static partition
  count is always wrong somewhere; AQE re-plans at runtime.

Shuffle partitions default to the local core count (override with
``SPARK_GRAFT_SHUFFLE_PARTITIONS``); on a real cluster this would be
~2-3× total executor cores, and AQE coalesces the excess.

Local masters run Python workers under ``gcs2postgres_spark.pydaemon``,
which spares every Python task the worker's re-read of each zip archive
on its path (130-350 ms per task on Python < 3.13). Other masters keep
PySpark's default daemon: their executors may not have this package.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Directory holding this package: put on local workers' PYTHONPATH so
# ``python -m gcs2postgres_spark.pydaemon`` imports from any cwd.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "gcs2postgres_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the configured SparkSession."""
    cpus = _cpus()
    shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata events.ts is parquet TIMESTAMP(NANOS); Spark timestamps
        # are µs — read nanos as long, catalog converts to timestamp
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # int64 micros on write (not legacy INT96): Iceberg-spec data
        # files + footer min/max stats for file skipping
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if master.split("[")[0] == "local":
        builder = builder.config(
            "spark.python.daemon.module", "gcs2postgres_spark.pydaemon"
        ).config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def tune_scan_for_dir(spark: SparkSession, sf_dir: str) -> None:
    """Size ``spark.sql.files.maxPartitionBytes`` so the LARGEST single
    input file under ``sf_dir`` splits across the session's cores.

    The default 128 MB split is a multi-file/cluster setting; this
    benchdata ships one parquet file per table, so at sf1 a 184 MB
    lineitem scans as TWO tasks on a 32-core box — every downstream
    stage then inherits a 2-way-parallel scan feeding 32 idle cores
    (measured: the single biggest fixed cost in the sf1 suite). Parquet
    row groups here are ~4 MB, so a smaller split maps cleanly onto
    row-group boundaries. Clamped to [4 MB, 128 MB]: never below a row
    group (task-dispatch overhead), never above the cluster default.

    Runtime-settable SQL conf — call once per (session, data dir) from
    the bench/sweep entrypoints. Correctness is unaffected by scan
    partitioning (every partition-id-dependent query materializes an
    explicit repartitionByRange first), so the driver's vanilla session
    needs no call.
    """
    import glob

    files = glob.glob(os.path.join(sf_dir, "*.parquet"))
    largest = max((os.path.getsize(p) for p in files), default=0)
    cores = spark.sparkContext.defaultParallelism
    mb = 1024 * 1024
    target = max(4 * mb, min(128 * mb, largest // max(cores, 1) + 1))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))


def tune_local_fast(spark: SparkSession, sf_dir: str) -> None:
    """Single-node bench profile: the runtime-settable knobs where the
    cluster-safe defaults measurably lose on one 32-core box.

    Applied by the bench/sweep entrypoints only — ``get_spark`` keeps
    cluster-safe posture and the driver's vanilla correctness session
    never sees these (none of them can change results, only plans).
    Measured at sf1 on the 6-query TPC-H join block (best-of-2 each,
    same box, interleaved): 10.5 s cluster defaults → 5.8 s with all
    three, reproducibly ordered:

    - scan split sized to the data (``tune_scan_for_dir``);
    - ``preferSortMergeJoin=false``: shuffled-hash join beats
      sort-merge when every post-shuffle partition's build side fits
      executor memory — true by construction at bench scale. On a real
      cluster SMJ stays the safe default (SHJ build can't spill), which
      is why this is a profile and not the factory default.
    - ``autoBroadcastJoinThreshold=8MB``: the 64 MB default broadcasts
      the FILTERED FACT (q3 broadcast a 3 M-row shipdate-filtered
      lineitem: single-threaded HashedRelation build ~1.4 s); 8 MB
      keeps true dims broadcast and routes facts to 8-way-parallel
      shuffled-hash builds (q3 2.2 s → 0.6 s, q9 1.3 → 0.6).
    """
    tune_scan_for_dir(spark, sf_dir)
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(8 * 1024 * 1024))


def local_shuffle_to_shm() -> None:
    """Point Spark's shuffle/spill scratch at /dev/shm when it exists
    and is large (this box: 126 GiB tmpfs vs /tmp on the root disk).
    SPARK_LOCAL_DIRS is read at JVM start — call BEFORE the session is
    created (bench/sweep entrypoints do). A cluster submits with real
    local SSDs instead; this is the single-node analogue.

    Known trade (ADVICE r9, accepted): tmpfs-backed shuffle turns disk
    spill into RAM pressure — a spill the JVM performed to RELIEVE
    memory lands back in page cache. Why it's safe here: only the bench
    and sweep entrypoints opt in, their working sets at sf<=3 spill at
    most a few GiB against the 126 GiB tmpfs, and the kernel evicts
    clean tmpfs pages under pressure before OOMing. Long-lived services
    or boxes where shuffle spill can approach RAM size should NOT call
    this — leave scratch on disk (the factory default).
    """
    try:
        import shutil

        if shutil.disk_usage("/dev/shm").total >= 32 * 1024**3:
            d = "/dev/shm/spark-graft-local"
            os.makedirs(d, exist_ok=True)
            os.environ.setdefault("SPARK_LOCAL_DIRS", d)
    except OSError:
        pass


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable semantics to an externally-created session.

    The driver's verify harness constructs its own SparkSession. The
    query registry's ``register`` wrapper applies this once per query
    call, so pinned semantics (timezone, ANSI mode) hold regardless of
    who built the session; query code does not call it. Static configs
    (AQE, memory) can't be changed post-start and are left alone.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for k, v in [
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # int64 micros, not legacy INT96: what the Iceberg spec requires
        # of data files, and the only form parquet footers keep min/max
        # stats for (file-skipping bounds need them)
        ("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static in some deployments; lenient-cast tests gate on it
    return spark
