"""Per-table transfer pipeline + cross-table parallelism (parity layer,
OP-9/OP-10/OP-14).

Reference shape (src/db/db.go:188-220): for each configured file/table,
a producer goroutine streams rows through a channel into a synchronous
consumer — tables strictly sequential, `concurrent_jobs` only sizes the
channel buffer (src/db/db.go:193). Here each table is one Spark job
(scan → reconcile → sink, pipelined by the engine) and tables run
genuinely in parallel via a thread pool submitting jobs to the shared
SparkSession — Spark's scheduler interleaves their stages.

Failure model: the reference aborts the whole process on any error
(log.Fatalf everywhere, e.g. src/db/db.go:41). Here failures are
isolated per table and reported; Spark retries tasks internally.
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor, as_completed
from dataclasses import dataclass

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from gcs2postgres_spark.config import Config
from gcs2postgres_spark.reconcile import reconcile_to_target
from gcs2postgres_spark.sinks import write_parquet
from gcs2postgres_spark.sources.readers import read_source

log = logging.getLogger(__name__)


@dataclass
class TransferResult:
    table: str
    rows: int
    ok: bool
    error: str | None = None


def transfer_file(
    spark: SparkSession,
    path: str,
    target_table: str,
    target_schema: list[tuple[str, str]],
    sink_dir: str,
    fmt: str | None = None,
) -> TransferResult:
    """One file → reconcile → sink (the reference's DataProducer +
    DataConsumer pair, src/db/db.go:17-92 + :149-186, as one Spark job).
    The row count rides the write as an observed metric — no second
    job reads the sink back."""
    try:
        df = read_source(spark, path, fmt=fmt)
        rows = Observation()
        out = reconcile_to_target(df, target_schema).observe(
            rows, F.count(F.lit(1)).alias("rows")
        )
        write_parquet(out, f"{sink_dir}/{target_table}", mode="overwrite")
        return TransferResult(target_table, int(rows.get["rows"]), True)
    except Exception as e:  # isolate per-table failures (unlike reference Fatalf)
        log.exception("transfer failed for %s", target_table)
        return TransferResult(target_table, 0, False, str(e))


def resolve_source_path(gcs_cfg, name: str) -> str:
    """Where a configured file actually lives: bucket-relative names
    become ``gs://{bucket}/{name}`` exactly like the reference's
    SourceURIs (src/db/db.go:28); absolute paths and URI-scheme'd
    paths pass through untouched (the offline-harness and
    already-qualified forms)."""
    from gcs2postgres_spark.sources.fsio import has_scheme

    if gcs_cfg.bucket_name and not has_scheme(name) and not name.startswith("/"):
        from gcs2postgres_spark.sources.gcs import gcs_uri

        return gcs_uri(gcs_cfg.bucket_name, name)
    return name


def transfer_all(
    spark: SparkSession,
    config: Config,
    target_schemas: dict[str, list[tuple[str, str]]],
    sink_dir: str,
    max_parallel_tables: int | None = None,
) -> list[TransferResult]:
    """All configured sources, tables in parallel (real table-level
    concurrency — the reference's knob was vestigial, SURVEY §2.4 OP-10).

    BOTH config sections are enumerated, like the reference's main
    (gcs.files AND bq.tables — the BQ half is the program's namesake):
    each bq table reads ``{project}.{dataset}.{name}`` through the
    spark-bigquery connector (read_source fmt="bigquery"). Offline the
    connector is absent and that read raises the actionable jar error,
    which the per-table failure isolation reports as a failed
    TransferResult while every other table proceeds — exactly the
    isolation contract OP-14 mandates (the reference would Fatalf)."""
    jobs = [
        (resolve_source_path(config.gcs, f.name), f.table, None)
        for f in config.gcs.files
    ] + [
        (bq_table_id(config.bq, t.name), t.table, "bigquery")
        for t in config.bq.tables
    ]
    parallel = max_parallel_tables or max(1, config.gcs.concurrent_jobs)
    results: list[TransferResult] = []
    with ThreadPoolExecutor(max_workers=parallel) as pool:
        futs = {
            pool.submit(
                transfer_file,
                spark,
                path,
                table,
                target_schemas.get(table, []),
                sink_dir,
                fmt,
            ): table
            for path, table, fmt in jobs
        }
        for fut in as_completed(futs):
            results.append(fut.result())
    return sorted(results, key=lambda r: r.table)


def bq_table_id(bq_cfg, name: str) -> str:
    """Fully-qualified BigQuery table id for the connector's ``load``:
    ``{project}.{dataset}.{name}`` when the config carries them,
    else the shortest qualified form (the connector resolves dataset
    against its own options; already-qualified names pass through)."""
    if "." in name:
        return name
    parts = [p for p in (bq_cfg.project_id, bq_cfg.dataset) if p]
    return ".".join([*parts, name])
