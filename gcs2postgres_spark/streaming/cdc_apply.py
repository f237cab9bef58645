"""Streaming CDC apply: maintain a latest-wins keyed table from a
stream, committed per micro-batch to a (jar-less) Delta table.

The MERGE-INTO-from-a-stream shape (SURVEY §2.7 + the reference's
append-only load loop, reference src/db/db.go:149-180, upgraded to
upserts): each micro-batch unions with the current table state and
keeps the max-sequence row per key, then commits one new Delta version
via sources/delta_py.write_delta — so readers always see an atomic
snapshot (a version is visible only once its JSON commit lands), and
time travel preserves every intermediate state.

Scale notes: latest-wins is associative, so per-batch folding equals
the global answer regardless of how rows split across micro-batches
(the test pins stream==batch). The per-batch merge is one shuffle on
the key; stream_upsert_delta pays a full-table rewrite per batch (the
simplest atomic fold), while stream_merge_delta is the real MERGE INTO
body — delta_py.merge_delta with a conditional latest-wins clause, so
each batch touches only the files holding beaten rows and a replayed
batch commits nothing (idempotent at-least-once apply). foreachBatch
is the production pattern for stream upserts in either shape.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from gcs2postgres_spark.sources.row_level import latest_wins


def _app_id(checkpoint_dir: str, app_id: str | None) -> str:
    """Stable writer identity for exactly-once bookkeeping: defaults to
    the checkpoint location, which IS the stream's identity (restarts
    from the same checkpoint are the same logical writer; a new
    checkpoint dir is a new stream with its own batch-id sequence)."""
    return app_id or f"spark-graft-cdc:{os.path.abspath(checkpoint_dir)}"


def stream_upsert_delta(
    stream: DataFrame,
    table_path: str,
    key_cols: list[str],
    seq_cols: list[str],
    checkpoint_dir: str,
    app_id: str | None = None,
):
    """Start a foreachBatch query folding the stream into a latest-wins
    Delta table at ``table_path``. Returns the StreamingQuery.

    .. warning:: **O(table) per micro-batch** — every trigger reads the
       whole table, re-deduplicates, and rewrites every file. This is
       the simplest atomic fold and fine for small reference tables; at
       large scale use ``stream_merge_delta`` (touches only the files
       holding beaten rows) or ``stream_equality_upsert_iceberg``
       (scan-free, O(batch) regardless of table size) instead.

    EXACTLY-ONCE: each commit stamps ``txn`` (appId = the checkpoint
    identity, version = batchId) and already-recorded batch ids are
    skipped, so a crash between the Delta commit and the checkpoint
    advance cannot double-apply the replayed batch."""
    from gcs2postgres_spark.sources.delta_py import (
        last_txn_version,
        read_delta_py,
        write_delta,
    )

    app = _app_id(checkpoint_dir, app_id)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch_id <= last_txn_version(spark, table_path, app):
            return  # at-least-once redelivery of an applied batch
        try:
            current = read_delta_py(spark, table_path)
            merged_src = current.unionByName(batch.select(*current.columns))
        except FileNotFoundError:
            merged_src = batch
        merged = latest_wins(merged_src, key_cols, seq_cols)
        write_delta(merged, table_path, "overwrite",
                    txn={"appId": app, "version": batch_id})

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def stream_merge_delta(
    stream: DataFrame,
    table_path: str,
    key_cols: list[str],
    seq_cols: list[str],
    checkpoint_dir: str,
    app_id: str | None = None,
):
    """The MERGE-INTO upgrade of stream_upsert_delta: each micro-batch
    is deduped to its per-key winner, then applied with
    ``merge_delta(..., latest_wins_on=seq_cols)`` — deletion vectors on
    only the files holding beaten rows plus appends of the winners,
    instead of rewriting the whole table every batch (per-batch cost is
    O(batch + touched files), not O(table)).

    The conditional clause (replace only when source.seq beats
    target.seq, lexicographic) makes the fold ORDER-INDEPENDENT across
    micro-batches and IDEMPOTENT under at-least-once re-delivery: a
    replayed batch matches nothing and commits nothing, so a crash
    between the Delta commit and the checkpoint advance cannot
    double-apply. The test pins stream == batch equality against the
    one-shot latest-wins answer."""
    from gcs2postgres_spark.sources.delta_py import (
        last_txn_version,
        merge_delta,
        read_delta_py,
        write_delta,
    )

    app = _app_id(checkpoint_dir, app_id)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch_id <= last_txn_version(spark, table_path, app):
            return  # already applied: exactly-once skip
        winners = latest_wins(batch, key_cols, seq_cols)
        try:
            read_delta_py(spark, table_path)  # existence probe (metadata only)
        except FileNotFoundError:
            write_delta(winners, table_path, "overwrite",
                        txn={"appId": app, "version": batch_id})
            return
        merge_delta(
            spark, table_path, winners, key_cols, latest_wins_on=seq_cols,
            txn={"appId": app, "version": batch_id},
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def stream_equality_upsert_iceberg(
    stream: DataFrame,
    table_path: str,
    key_cols: list[str],
    seq_cols: list[str],
    checkpoint_dir: str,
    compact_every: int = 20,
    app_id: str | None = None,
):
    """The SCAN-FREE streaming upsert (exactly Flink's Iceberg-sink
    shape): each micro-batch is deduped to its per-key winner and
    committed with ``upsert_equality`` — an equality-delete key list
    plus the batch's data files, O(batch) per trigger REGARDLESS of
    table size (stream_merge_iceberg scans the target every batch to
    find position identities; this sink never reads target data files).

    The cost moves to readers as stacked delete groups — the
    merge-on-read trade — so every ``compact_every`` batches the sink
    retires the debt with ``rewrite_data_files`` (the replace snapshot
    is silent in the change feed, so downstream incremental consumers
    see no churn). Within-batch dedupe + Kafka-style per-key batch
    ordering give latest-wins overall; a replayed batch re-applies the
    same values (content-idempotent: the rows replace themselves), but
    unlike the conditional-merge sinks it DOES write a snapshot on
    replay — the trade for never scanning the target. Pick this sink
    for high-frequency small batches over huge tables; the merge sinks
    for order-unsafe sources."""
    from gcs2postgres_spark.sources.iceberg_py import (
        append_iceberg_v2,
        create_iceberg_v2_table,
        last_txn_version_iceberg,
        latest_metadata_file,
        rewrite_data_files,
        upsert_equality,
    )

    app = _app_id(checkpoint_dir, app_id)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch_id <= last_txn_version_iceberg(table_path, app):
            return  # already applied: exactly-once skip (this sink is
            # NOT content-idempotent on replay without it — it would
            # stack an extra snapshot per redelivery)
        winners = latest_wins(batch, key_cols, seq_cols)
        try:
            latest_metadata_file(table_path)
        except FileNotFoundError:
            create_iceberg_v2_table(winners.schema, table_path)
            append_iceberg_v2(spark, table_path, winners,
                              txn=(app, batch_id))
            return
        upsert_equality(spark, table_path, winners, key_cols,
                        txn=(app, batch_id))
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            rewrite_data_files(spark, table_path)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def stream_merge_iceberg(
    stream: DataFrame,
    table_path: str,
    key_cols: list[str],
    seq_cols: list[str],
    checkpoint_dir: str,
    app_id: str | None = None,
):
    """The Iceberg twin of stream_merge_delta: per-batch latest-wins
    dedupe + conditional MERGE (iceberg_py.merge_into latest_wins_on) —
    position deletes on only the files holding beaten rows plus appends
    of the winners, one snapshot per micro-batch. Same
    order-independence and at-least-once idempotence contract (a
    replayed batch commits no snapshot). The first batch materializes
    the table as a v2 fixture so subsequent batches have a snapshot to
    merge into."""
    from gcs2postgres_spark.sources.iceberg_py import (
        append_iceberg_v2,
        create_iceberg_v2_table,
        last_txn_version_iceberg,
        latest_metadata_file,
        merge_into,
    )

    app = _app_id(checkpoint_dir, app_id)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch_id <= last_txn_version_iceberg(table_path, app):
            return  # already applied: exactly-once skip
        winners = latest_wins(batch, key_cols, seq_cols)
        try:
            latest_metadata_file(table_path)  # existence probe (metadata only)
        except FileNotFoundError:
            create_iceberg_v2_table(winners.schema, table_path)
            append_iceberg_v2(spark, table_path, winners,
                              txn=(app, batch_id))
            return
        merge_into(
            spark, table_path, winners, key_cols, latest_wins_on=seq_cols,
            txn=(app, batch_id),
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .start()
    )


def stream_append_catalog(
    stream: DataFrame,
    catalog,
    ns,
    name: str,
    checkpoint_dir: str,
    app_id: str | None = None,
):
    """Streaming APPEND into a CATALOG-addressed Iceberg table (the
    production Flink/Spark-sink shape: the sink holds a catalog
    identifier, never a path; every commit is a CommitTableRequest and
    the catalog pointer is the only source of truth). Exactly-once:
    each commit stamps the ``txn`` watermark (appId = checkpoint
    identity, version = batchId) in the snapshot summary, and the
    watermark is read from the CATALOG's LoadTableResult — not a path
    walk that could race it — so a replayed micro-batch after a crash
    between commit and checkpoint-advance is skipped. A concurrent
    writer racing a micro-batch costs one 409 + the append rebase
    (client-side restack; no data rewrite).

    ``catalog`` is an ``IcebergRestCatalog``; the table must exist
    (``create_table`` it first — the catalog mints the location)."""
    from gcs2postgres_spark.sources.iceberg_py import (
        last_txn_version_from_meta,
    )

    app = _app_id(checkpoint_dir, app_id)

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        meta = catalog.load_table(ns, name).get("metadata") or {}
        if batch_id <= last_txn_version_from_meta(meta, app):
            return  # at-least-once redelivery of an applied batch
        catalog.append(
            batch.sparkSession, ns, name, batch, txn=(app, batch_id)
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )
