"""100 TB guard (SURVEY.md §7 M5): no operator may materialize data on
the driver. Greps package source for collect()/toPandas()/toLocalIterator
and asserts every occurrence is one of the documented bounded-small-side
exceptions.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "gcs2postgres_spark"

# file → substrings of lines where a driver-side materialization is
# deliberate AND bounded (small-by-contract side, documented in the
# function's docstring)
ALLOWED = {
    "operators/similarity.py": [
        "queries.select",   # ANN query set: small by contract, broadcast
        "sample_rows",      # IVF quantizer sample: bounded by sample_size
        ".limit(sample_size)",
        "q_rows = queries",
        # clustered miner's per-cell angular radius: one row per kmeans
        # cell (k = n_clusters, a knob ≤ thousands), never corpus rows
        "rad_rows",
    ],
    "reconcile.py": [
        "information_schema",  # target schema: one row per column
        "spark.read.jdbc",
    ],
    "operators/corpus.py": [
        ".limit(1)",  # BPE argmax: exactly one row per merge round
        # trained merge table: n_merges rows — the tokenizer's vocab
        # artifact, driver metadata by nature (every encoder ships it
        # to workers as literals)
        'merges.orderBy("step")',
    ],
    "sources/iceberg_py.py": [
        # partitioned fixture writer: DISTINCT partition-value list —
        # one row per partition, the bound every table-format writer
        # pays to commit a partitioned snapshot; data rows go through
        # df.write.parquet on executors
        'df.select(partition_col).distinct().orderBy(partition_col)',
        # multi-column variant of the same bound: one row per distinct
        # partition TUPLE
        "df.select(*part_cols).distinct().orderBy(*part_cols)",
    ],
    "operators/prefix.py": [
        # two-phase prefix fold: one aggregate row per range partition —
        # bounded by spark.sql.shuffle.partitions (config, not data);
        # see the module docstring
        "groupBy(pid_col)",
    ],
    "queries/sources_q.py": [
        # malformed-CSV fixture construction: .limit(100) bounded rows
        # written to a dirty test file; the read-back path under test
        # is fully distributed
        ".limit(100)",
        # shallow-clone roundtrip: ONE aggregate row (sum of a key
        # column) collected to build the single-row result frame
        'clone.agg(F.sum("k"))',
    ],
    "sources/delta_py.py": [
        # Delta log replay collects (path, partitionValues[, DV
        # descriptor]) per live file — metadata, one small row per data
        # file, never table data; the same bound every Delta client pays
        # to plan a scan.
        'select("add.path", "add.partitionValues")',
        "cp.filter(F.col(\"add.path\").isNotNull()).select(*sel)",
        'select("metaData")',
        # checkpoint-carried protocol row: ONE struct row, read gate
        'select("protocol")',
        # delete_where_delta: the bitmaps are built + written ON
        # EXECUTORS (applyInPandas per affected file); the collect fetches
        # one DESCRIPTOR row per file — metadata-sized, the commit payload
        'applyInPandas(\n        build_dv',
        # last_txn_version: ONE aggregate row (max txn version for an
        # appId) from the checkpoint's txn column — exactly-once
        # watermark lookup, never table data
        '.select(F.max("txn.version").alias("v"))',
        # row-tracking watermark lookup: the checkpoint's domainMetadata
        # rows (one per domain — metadata, never table data)
        '.select("domainMetadata.configuration")',
    ],
    "sources/row_level.py": [
        # duplicate-MERGE-key probe: .limit(1) — at most ONE offending
        # key tuple fetched to build the error message
        ".limit(1)",
    ],
    "sources/lakehouse_sql.py": [
        # DESCRIBE DETAIL: ONE aggregate row (file count + byte sum)
        # over the metadata files table — never table data
        'F.sum("size_bytes").alias("b")',
    ],
}

ALLOWED["sources/iceberg_py.py"].append(
    # _stage_v2_data_files routing map: DISTINCT **TRANSFORMED**
    # partition tuples (bucket/truncate/day results) — one row per
    # live partition (bucket(16, x) over 10^9 ids interns 16 tuples),
    # the same metadata bound the identity variants above pay
    "with_pt.select(*ptcols).distinct()"
)

ALLOWED["sources/iceberg_py.py"].append(
    # incremental scan: DISTINCT file paths referenced by a snapshot's
    # position-delete files — one row per targeted FILE (metadata
    # scale), used to plan the targeted scan; the row data flows
    # through the semi-join
    'dels.select("__del_fp").distinct()'
)
ALLOWED["sources/iceberg_py.py"].append(
    # partitioned OVERWRITE: distinct partition tuples of the
    # replacement — one row per partition, the bound every partitioned
    # committer pays; replacement row data goes through partitionBy
    # writes on executors
    "replacement.select(*part_src_cols).distinct()"
)
ALLOWED["sources/iceberg_py.py"].append(
    # v3 deletion-vector writer: the roaring bitmaps are built + the
    # Puffin files written ON EXECUTORS (applyInPandas per referenced
    # data file); the collect fetches ONE descriptor row per DV'd file
    # (path, offset, size, cardinality) — manifest-entry scale, the
    # same commit-payload bound delta_py's DV writer pays
    ".applyInPandas(\n            _write,"
)
ALLOWED["sources/iceberg_py.py"].append(
    # variant-table record counts: ONE aggregate row per staged data
    # file (count-by-file over _metadata.file_path) — the manifest-
    # entry bound every committer pays; the fallback exists because
    # pyarrow cannot parse variant parquet footers
    '_F.regexp_replace(_F.col("_metadata.file_path")'
)


def test_no_unbounded_driver_collect():
    pattern = re.compile(r"\.collect\(\)|\.toPandas\(\)|\.toLocalIterator\(\)")
    offenders: list[str] = []
    for py in PKG.rglob("*.py"):
        rel = str(py.relative_to(PKG))
        lines = py.read_text().splitlines()
        for i, line in enumerate(lines, 1):
            if pattern.search(line) and not line.strip().startswith("#"):
                # a collect chained over a multi-line statement: the
                # documented bounded-source token may sit a few lines up
                ctx = "\n".join(lines[max(0, i - 7) : i])
                allowed = any(tok in ctx for tok in ALLOWED.get(rel, []))
                if not allowed:
                    offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, "unbounded driver materialization:\n" + "\n".join(offenders)
