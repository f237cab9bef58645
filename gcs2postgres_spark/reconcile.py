"""Schema reconciliation + lenient casts (parity layer, OP-4/OP-5/OP-6)
— the one genuinely reference-specific algorithm.

Reference semantics being reproduced (and unit-tested):
- The *target* schema drives the projection: output has exactly the
  target's columns, in target order (reference src/db/db.go:162-172).
- Source columns are matched case-insensitively by name
  (strings.EqualFold, reference src/utils/utils.go:129).
- A target column with no source match becomes NULL (+ a warning), not
  an error (reference src/db/db.go:165-169).
- Extra source columns are dropped (pruned — and unlike the reference,
  which ships them from BigQuery and drops them in the consumer
  (src/db/db.go:59 vs :162-172), the pruning here reaches the scan via
  Catalyst column pruning).
- Per-value cast table (reference ConvertValue,
  src/utils/utils.go:136-166): text/varchar→string, int4/integer→int
  (truncating on overflow — reference does int32(num)), float8/double
  precision→double, boolean→bool, date/timestamp passed through,
  unknown types → stringify fallback, NULL in → NULL out. Requires
  spark.sql.ansi.enabled=false (session.py pins it) so overflow
  truncates instead of erroring.
"""

from __future__ import annotations

import logging
import re

from pyspark.sql import DataFrame

log = logging.getLogger(__name__)

# Postgres type name → Spark cast target (reference src/utils/utils.go:136-166
# enumerates exactly these; anything else falls through to stringify).
PG_TO_SPARK_TYPE = {
    "text": "string",
    "varchar": "string",
    "character varying": "string",
    "int4": "int",
    "integer": "int",
    "int8": "bigint",
    "bigint": "bigint",
    "float8": "double",
    "double precision": "double",
    "boolean": "boolean",
    "bool": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp without time zone": "timestamp",
}

STRINGIFY_FALLBACK = "string"  # reference: fmt.Sprintf("%v", value)


def spark_type_for_pg(pg_type: str) -> str:
    return PG_TO_SPARK_TYPE.get(pg_type.strip().lower(), STRINGIFY_FALLBACK)


def reconcile_to_target(df: DataFrame, target_schema: list[tuple[str, str]]) -> DataFrame:
    """Project/cast a source DataFrame onto a target (column, pg_type) list.

    One narrow ``selectExpr`` — Catalyst prunes unreferenced source
    columns at the scan and pipelines the casts into whole-stage codegen;
    nothing here shuffles. Names are back-quoted, so a source column
    named ``user.id`` is that column, not a struct field access.
    """
    by_lower = {c.lower(): c for c in df.columns}
    out = []
    for tgt_col, pg_type in target_schema:
        spark_t = spark_type_for_pg(pg_type)
        src = by_lower.get(tgt_col.lower())
        if src is None:
            log.warning("target column %s not in source — NULL-filled", tgt_col)
            out.append(f"CAST(NULL AS {spark_t}) AS {quoted_name(tgt_col)}")
        else:
            out.append(f"CAST({quoted_name(src)} AS {spark_t}) AS {quoted_name(tgt_col)}")
    return df.selectExpr(*out)


def quoted_name(name: str) -> str:
    """``name`` as a back-quoted SQL identifier, for ``selectExpr``."""
    return "`" + name.replace("`", "``") + "`"


_IDENTIFIER_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def fetch_target_schema_jdbc(
    spark,
    jdbc_url: str,
    table: str,
    properties: dict[str, str],
    table_schema: str = "public",
) -> list[tuple[str, str]]:
    """Target-schema fetch from information_schema.columns (reference
    FetchColumns, src/utils/utils.go:96-123) via a JDBC pushdown query.

    Table/schema names are config-controlled strings interpolated into
    SQL, so they are validated as plain identifiers first (injection /
    broken-quote guard), and the lookup is pinned to one table_schema so
    a same-named table in another schema can't shadow the target."""
    for ident in (table, table_schema):
        if not _IDENTIFIER_RE.match(ident):
            raise ValueError(f"invalid SQL identifier: {ident!r}")
    q = (
        "(SELECT column_name, data_type, ordinal_position "
        f"FROM information_schema.columns WHERE table_name = '{table}' "
        f"AND table_schema = '{table_schema}') AS cols"
    )
    rows = (
        spark.read.jdbc(jdbc_url, q, properties=properties)
        .orderBy("ordinal_position")
        .collect()
    )
    return [(r["column_name"], r["data_type"]) for r in rows]
