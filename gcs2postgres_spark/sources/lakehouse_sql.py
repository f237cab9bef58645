"""SQL façade over the jar-less lakehouse committers.

The reference exposes its whole mutation surface as SQL passed through
to the warehouse (reference src/db/db.go:59 query passthrough); this
module gives the jar-less Delta/Iceberg layers the same front door so a
user can issue the familiar statements instead of calling committer
functions:

    SELECT * FROM delta.`/p` VERSION AS OF 3
    SELECT * FROM iceberg.`/p` FOR REF release_tag
    INSERT INTO delta.`/p` SELECT ... | VALUES (...)
    CREATE TABLE iceberg.`/p` PARTITIONED BY (days(ts), bucket(16, id)) AS SELECT ...
    CREATE TABLE delta.`/p` (id BIGINT GENERATED ALWAYS AS IDENTITY
        (START WITH 100 INCREMENT BY 5), name STRING)
    CREATE TABLE delta.`/p2` SHALLOW CLONE delta.`/p` [VERSION AS OF 3]
    ALTER TABLE delta.`/p` ADD CONSTRAINT bound CHECK (k < 1000)
    ALTER TABLE iceberg.`/p` RENAME COLUMN a TO b | ADD COLUMN c BIGINT
    ALTER TABLE iceberg.`/p` CREATE TAG v1 | DROP BRANCH audit
    DELETE FROM delta.`/path/to/table` WHERE region = 2
    UPDATE iceberg.`/p` SET name = concat('U_', name) WHERE k = 1
    MERGE INTO delta.`/p` t USING src_view s ON t.k = s.k
        WHEN MATCHED AND s.op = 'del' THEN DELETE
        WHEN MATCHED THEN UPDATE SET name = s.name
        WHEN NOT MATCHED AND s.op <> 'del' THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.stale THEN DELETE
    OPTIMIZE delta.`/p` ZORDER BY (l_shipdate, l_discount)
    VACUUM delta.`/p`
    RESTORE TABLE delta.`/p` TO VERSION AS OF 3
    DESCRIBE HISTORY delta.`/p`

Scope is deliberately the statement shapes the committers implement.
MERGE supports the full Spark SQL clause matrix — multiple WHEN
MATCHED ``AND <cond>`` clauses (first match wins; an unconditioned
clause must be last), per-column or full-row UPDATE, DELETE,
conditional INSERT, and WHEN NOT MATCHED BY SOURCE — via
sources/row_level.py. Anything outside the grammar raises ValueError
naming what was expected, never a silent misparse. WHERE predicates and SET expressions pass through verbatim to
Spark SQL — the parser only brackets them, so the full expression
language works. Statements parse with anchored regexes over ONE
normalized line; identifiers are ``delta.`/path``` / ``iceberg.`/path```
(the path form engines use for direct-location tables), and MERGE
sources are registered temp views (create them with
``df.createOrReplaceTempView``)."""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcs2postgres_spark.sources import fsio

_TBL = r"(?P<fmt>delta|iceberg)\s*\.\s*`(?P<path>[^`]+)`"


def _norm(stmt: str) -> str:
    """Collapse whitespace runs to single spaces — OUTSIDE string
    literals only. ``WHERE name = 'a  b'`` must keep its two spaces:
    normalizing inside quotes would silently alter predicate matching
    and UPDATE SET values (same string-state tracking as _parse_set)."""
    s = stmt.strip().rstrip(";").strip()
    out: list[str] = []
    in_str: str | None = None
    pending_ws = False
    for ch in s:
        if in_str:
            out.append(ch)
            if ch == in_str:
                in_str = None
            continue
        if ch in "'\"":
            if pending_ws:
                out.append(" ")
                pending_ws = False
            in_str = ch
            out.append(ch)
        elif ch.isspace():
            pending_ws = True
        else:
            if pending_ws:
                out.append(" ")
                pending_ws = False
            out.append(ch)
    return "".join(out)


def _parse_on(on: str, t_alias: str, s_alias: str) -> list[str]:
    """ON t.k = s.k AND t.j = s.j  ->  ['k', 'j'] (key-equality only,
    the MERGE shape the committers implement)."""
    keys = []
    for part in re.split(r"(?i)\s+AND\s+", on.strip()):
        m = re.fullmatch(
            rf"(?:{re.escape(t_alias)}\.)?(\w+)\s*=\s*(?:{re.escape(s_alias)}\.)?(\w+)",
            part.strip(),
        ) or re.fullmatch(
            rf"(?:{re.escape(s_alias)}\.)?(\w+)\s*=\s*(?:{re.escape(t_alias)}\.)?(\w+)",
            part.strip(),
        )
        if not m or m.group(1) != m.group(2):
            raise ValueError(
                f"MERGE ON clause must be key equality ({t_alias}.col = "
                f"{s_alias}.col AND ...); got {part.strip()!r}"
            )
        keys.append(m.group(1))
    return keys


def _parse_set(set_clause: str) -> dict[str, str]:
    """col = expr, col2 = expr2 — split on TOP-LEVEL commas only
    (parenthesized/quoted commas belong to the expression)."""
    out: dict[str, str] = {}
    depth, start, parts = 0, 0, []
    in_str: str | None = None
    for i, ch in enumerate(set_clause):
        if in_str:
            if ch == in_str:
                in_str = None
            continue
        if ch in "'\"":
            in_str = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(set_clause[start:i])
            start = i + 1
    parts.append(set_clause[start:])
    for part in parts:
        m = re.match(r"\s*(\w+)\s*=\s*(.+?)\s*$", part, re.S)
        if not m:
            raise ValueError(f"bad SET assignment: {part.strip()!r}")
        out[m.group(1)] = m.group(2)
    if not out:
        raise ValueError("empty SET clause")
    return out


_SELECT_TBL = re.compile(
    rf"{_TBL}"
    r"(?:\s+(?:"
    r"VERSION\s+AS\s+OF\s+(?P<v>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)'"
    r"|FOR\s+REF\s+(?P<ref>\w+)"
    r"))?",
    re.IGNORECASE,
)

# catalog-resolved identifier: iceberg.<catalog>.<namespace>.<table>
# (no backticks — the catalog, not a path, names the table; resolved
# through a registered rest_catalog client). Same optional time-travel
# suffixes as path identifiers.
_CAT_TBL = re.compile(
    r"\biceberg\s*\.\s*(?P<cat>\w+)\s*\.\s*(?P<ns>\w+)\s*\.\s*(?P<tbl>\w+)"
    r"(?:\s+(?:"
    r"VERSION\s+AS\s+OF\s+(?P<v>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)'"
    r"|FOR\s+REF\s+(?P<ref>\w+)"
    r"))?",
    re.IGNORECASE,
)


def _parse_partition_spec(raw: str) -> list[tuple[str, str]]:
    """``PARTITIONED BY`` items → ``[(source_col, transform)]``:
    identity column names or transform(col) calls per the Iceberg DDL
    shape (bucket(4, k) / truncate(3, s) / days(ts) / ...). Split on
    TOP-LEVEL commas only."""
    spec: list[tuple[str, str]] = []
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(raw):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(raw[start:i])
            start = i + 1
    parts.append(raw[start:])
    for part in parts:
        part = part.strip()
        if not part:
            continue
        fm = re.fullmatch(r"(\w+)\s*\(\s*(?:(\d+)\s*,\s*)?(\w+)\s*\)", part)
        if fm:
            fn, arg, col = fm.group(1).lower(), fm.group(2), fm.group(3)
            tr = {
                "bucket": f"bucket[{arg}]" if arg else None,
                "truncate": f"truncate[{arg}]" if arg else None,
                "years": "year", "year": "year",
                "months": "month", "month": "month",
                "days": "day", "day": "day",
                "hours": "hour", "hour": "hour",
            }.get(fn)
            if not tr:
                raise ValueError(f"unknown partition transform {part!r}")
            spec.append((col, tr))
        else:
            spec.append((part, "identity"))
    return spec


def _literal_spans(stmt: str) -> list[tuple[int, int]]:
    """[start, end) spans of quoted regions — single/double-quoted
    string literals and backtick identifiers — so table-reference
    rewrites never touch text INSIDE a literal (a WHERE clause
    mentioning 'iceberg.cat.ns.tbl' as data is data, not a table)."""
    spans: list[tuple[int, int]] = []
    i, n = 0, len(stmt)
    while i < n:
        ch = stmt[i]
        if ch in "'\"`":
            j = i + 1
            while j < n:
                if stmt[j] == ch:
                    # SQL doubles the quote char to escape it
                    if j + 1 < n and stmt[j + 1] == ch:
                        j += 2
                        continue
                    break
                j += 1
            spans.append((i, min(j + 1, n)))
            i = j + 1
        else:
            i += 1
    return spans


def _inside(spans: list[tuple[int, int]], pos: int) -> bool:
    return any(s <= pos < e for s, e in spans)


def _epoch_ms(ts: str) -> int:
    """'2024-01-31 12:00:00[.ffffff]' (UTC) → epoch ms."""
    import datetime as _dt

    d = _dt.datetime.fromisoformat(ts)
    if d.tzinfo is None:
        d = d.replace(tzinfo=_dt.timezone.utc)
    return int(d.timestamp() * 1000)


def _rewrite_select(spark: SparkSession, stmt: str) -> str:
    """Replace every ``delta.`/p``` / ``iceberg.`/p``` table reference
    (with optional ``VERSION AS OF n`` / ``TIMESTAMP AS OF 'ts'`` /
    ``FOR REF name`` time travel) in a SELECT/WITH statement by a temp
    view fed from the jar-less reader, and return the rewritten SQL.
    Everything else in the statement passes through to Spark SQL
    verbatim — joins, CTEs, aggregates over lakehouse tables all work."""
    from gcs2postgres_spark.sources import delta_py, iceberg_py
    from gcs2postgres_spark.sources.predicate_bounds import bounds_from_predicate

    # catalog-resolved identifiers first (iceberg.cat.ns.tbl — three
    # dotted words can never match the backtick path form): each becomes
    # a temp view fed by the REST-catalog read
    lit_spans = _literal_spans(stmt)
    cat_matches = [
        m
        for m in _CAT_TBL.finditer(stmt)
        if not _inside(lit_spans, m.start())
    ]
    if cat_matches:
        from gcs2postgres_spark.sources import rest_catalog

        # only rewrite identifiers whose catalog IS registered — an
        # unregistered name falls through verbatim (the statement may
        # legitimately mention it, e.g. as a column path on a struct)
        cat_matches = [
            m for m in cat_matches if rest_catalog.has_catalog(m["cat"])
        ]
    if cat_matches:
        from gcs2postgres_spark.sources import rest_catalog

        out, pos = [], 0
        for i, m in enumerate(cat_matches):
            client = rest_catalog.get_catalog(m["cat"])
            df = client.read(
                spark, m["ns"], m["tbl"],
                snapshot_id=int(m["v"]) if m["v"] else None,
                as_of_ms=_epoch_ms(m["ts"]) if m["ts"] else None,
                ref=m["ref"],
            )
            view = f"__lakehouse_cat_v{i}"
            df.createOrReplaceTempView(view)
            out.append(stmt[pos : m.start()])
            out.append(view)
            pos = m.end()
        out.append(stmt[pos:])
        stmt = "".join(out)

    # recompute spans: stmt may have been rewritten above. Path-form
    # matches start at the bare word delta/iceberg (outside their own
    # backtick path quoting), so only matches inside SINGLE/DOUBLE
    # quoted literals are skipped — quoted-path identifiers still match.
    lit_spans = [
        s for s in _literal_spans(stmt) if stmt[s[0]] != "`"
    ]
    matches = [
        m
        for m in _SELECT_TBL.finditer(stmt)
        if not _inside(lit_spans, m.start())
    ]
    stats_filter = None
    if len(matches) == 1 and not re.search(
        r"(?i)\b(JOIN|LATERAL|UNION|INTERSECT|EXCEPT)\b", stmt
    ) and not re.match(r"(?is)\s*WITH\b", stmt):
        # SINGLE-RELATION SELECT only: derive planning-time file-skip
        # bounds from the WHERE clause (conservative — unprovable shapes
        # contribute nothing; the predicate still runs as a row filter,
        # so this can only drop files with no matching rows). Any
        # statement that can bring in a second relation — JOIN, a CTE
        # (WITH), set ops, or a comma cross join in FROM — skips
        # extraction entirely: an unqualified WHERE conjunct there could
        # name the OTHER relation's column while sharing a name with a
        # lakehouse column, and applying it as a file-skip bound would
        # silently drop join rows.
        w = re.search(
            r"(?is)\bWHERE\b(.*?)(?:\bGROUP\s+BY\b|\bORDER\s+BY\b|"
            r"\bHAVING\b|\bLIMIT\b|\bUNION\b|\bWINDOW\b|$)",
            stmt,
        )
        f = re.search(r"(?is)\bFROM\b(.*?)(?:\bWHERE\b|$)", stmt)
        if (
            w
            and "(" not in w.group(1)
            and ")" not in w.group(1)
            and f is not None
            and "," not in f.group(1)
        ):
            stats_filter = bounds_from_predicate(w.group(1)) or None

    out, pos, n = [], 0, 0
    for m in matches:
        fmt, path = m["fmt"].lower(), m["path"]
        v = int(m["v"]) if m["v"] else None
        ts_ms = _epoch_ms(m["ts"]) if m["ts"] else None
        ref = m["ref"]
        if fmt == "delta":
            if ref is not None:
                raise ValueError("FOR REF is an Iceberg feature (named refs)")
            df = delta_py.read_delta_py(
                spark, path, version_as_of=v, timestamp_as_of_ms=ts_ms,
                stats_filter=stats_filter,
            )
        else:
            df = iceberg_py.read_iceberg_py(
                spark, path, snapshot_id=v, as_of_ms=ts_ms, ref=ref,
                stats_filter=stats_filter,
            )
        view = f"__lakehouse_sql_v{n}"
        n += 1
        df.createOrReplaceTempView(view)
        out.append(stmt[pos : m.start()])
        out.append(view)
        pos = m.end()
    out.append(stmt[pos:])
    return "".join(out)


def lakehouse_sql(spark: SparkSession, stmt: str) -> DataFrame | int | None:
    """Execute one lakehouse SQL statement against a jar-less table.

    Returns what the underlying committer returns: the new
    version/snapshot id (or None for a no-op DML), the reclaimed file
    count for VACUUM, a DataFrame for DESCRIBE HISTORY — or, for
    ``SELECT``/``WITH`` statements (optionally with ``VERSION AS OF n``
    / ``TIMESTAMP AS OF 'ts'`` / ``FOR REF name`` time travel after a
    table reference), the query's DataFrame. See the module docstring
    for the grammar."""
    from gcs2postgres_spark.sources import delta_py, iceberg_py

    s = _norm(stmt)

    if re.match(r"(?i)\s*(SELECT|WITH)\b", s):
        # reads: substitute jar-less-reader temp views, let Spark SQL
        # plan the rest (pushdown/pruning apply to the parquet scans
        # the readers build)
        return spark.sql(_rewrite_select(spark, s))

    # ----- catalog-resolved DDL/DML (iceberg.<catalog>.<ns>.<table> — no
    # backticks; the CATALOG, not a path, names the table; the catalog
    # pointer is the commit authority for every one of these)
    catid = (
        r"iceberg\s*\.\s*(?P<cat>\w+)\s*\.\s*(?P<ns>\w+)\s*\.\s*(?P<tbl>\w+)"
    )

    def _cat_client(name: str):
        from gcs2postgres_spark.sources import rest_catalog

        return rest_catalog.get_catalog(name)

    m = re.fullmatch(
        rf"(?i)CREATE TABLE {catid} \((?P<defs>.+?)\)"
        r"(?: PARTITIONED BY \((?P<parts>(?:[^()]|\([^()]*\))+)\))?"
        r"(?: LOCATION '(?P<loc>[^']+)')?",
        s,
        re.DOTALL,
    )
    if m:
        from pyspark.sql.types import _parse_datatype_string

        _cat_client(m["cat"]).create_table(
            m["ns"],
            m["tbl"],
            _parse_datatype_string(m["defs"]),
            partition_spec=_parse_partition_spec(m["parts"] or ""),
            location=m["loc"],
        )
        return 0

    m = re.fullmatch(
        rf"(?i)CREATE TABLE {catid}"
        r"(?: PARTITIONED BY \((?P<parts>(?:[^()]|\([^()]*\))+)\))?"
        r" AS (?P<q>(?:SELECT|WITH)\b.+)",
        s,
    )
    if m:
        # CTAS through the catalog: create (catalog mints location +
        # metadata), then one catalog-routed append commit
        client = _cat_client(m["cat"])
        rows = spark.sql(_rewrite_select(spark, m["q"]))
        client.create_table(
            m["ns"], m["tbl"], rows.schema,
            partition_spec=_parse_partition_spec(m["parts"] or ""),
        )
        return client.append(spark, m["ns"], m["tbl"], rows)

    m = re.fullmatch(
        rf"(?i)INSERT INTO {catid} (?P<q>(?:SELECT|WITH|VALUES)\b.+)", s
    )
    if m:
        client = _cat_client(m["cat"])
        rows = spark.sql(_rewrite_select(spark, m["q"]))
        target = client.read(spark, m["ns"], m["tbl"])
        if re.match(r"(?i)VALUES\b", m["q"]):
            if len(rows.columns) != len(target.columns):
                raise ValueError(
                    f"INSERT VALUES arity {len(rows.columns)} != table "
                    f"columns {len(target.columns)} ({target.columns})"
                )
            rows = rows.toDF(*target.columns)
        return client.append(spark, m["ns"], m["tbl"], rows)

    m = re.fullmatch(rf"(?i)DELETE FROM {catid} WHERE (?P<pred>.+)", s)
    if m:
        return _cat_client(m["cat"]).delete_where(
            spark, m["ns"], m["tbl"], m["pred"]
        )

    m = re.fullmatch(
        rf"(?i)UPDATE {catid} SET (?P<set>.+?) WHERE (?P<pred>.+)", s
    )
    if m:
        return _cat_client(m["cat"]).update_where(
            spark, m["ns"], m["tbl"], m["pred"], _parse_set(m["set"])
        )

    m = re.fullmatch(
        rf"(?i)OPTIMIZE {catid}(?: ZORDER BY \((?P<z>[\w\s,]+)\))?", s
    )
    if m:
        z = [c.strip() for c in m["z"].split(",")] if m["z"] else None
        return _cat_client(m["cat"]).rewrite_data_files(
            spark, m["ns"], m["tbl"], zorder_by=z
        )

    m = re.fullmatch(rf"(?i)DROP TABLE {catid}(?P<purge> PURGE)?", s)
    if m:
        _cat_client(m["cat"]).drop_table(
            m["ns"], m["tbl"], purge=bool(m["purge"])
        )
        return 0

    m = re.fullmatch(
        rf"(?i)ALTER TABLE {catid} RENAME TO "
        r"(?:(?P<dns>\w+)\.)?(?P<dst>\w+)",
        s,
    )
    if m:
        _cat_client(m["cat"]).rename_table(
            m["ns"], m["tbl"], m["dns"] or m["ns"], m["dst"]
        )
        return 0

    m = re.fullmatch(
        r"(?i)CREATE NAMESPACE iceberg\s*\.\s*(?P<cat>\w+)\s*\.\s*(?P<ns>\w+)",
        s,
    )
    if m:
        _cat_client(m["cat"]).create_namespace(m["ns"])
        return 0

    m = re.fullmatch(
        r"(?i)DROP NAMESPACE iceberg\s*\.\s*(?P<cat>\w+)\s*\.\s*(?P<ns>\w+)",
        s,
    )
    if m:
        _cat_client(m["cat"]).drop_namespace(m["ns"])
        return 0

    m = re.fullmatch(
        rf"(?i)INSERT (?P<over>OVERWRITE|INTO) {_TBL}"
        r"(?: \((?P<cols>[\w\s,]+)\))?"
        r" (?P<q>(?:SELECT|WITH|VALUES)\b.+)",
        s,
    )
    if m:
        # INSERT INTO|OVERWRITE t [(col, ...)] <query>: the query may
        # itself read lakehouse tables (time travel included); rows
        # land atomically — one append commit / one overwrite snapshot
        rows = spark.sql(_rewrite_select(spark, m["q"]))
        from pyspark.sql import functions as _F

        if m["fmt"] == "delta":
            target = delta_py.read_delta_py(spark, m["path"])
        else:
            target = iceberg_py.read_iceberg_py(spark, m["path"])
        if m["cols"]:
            # explicit column list: bind positionally, missing table
            # columns fill with NULL (standard INSERT semantics)
            listed = [c.strip() for c in m["cols"].split(",") if c.strip()]
            unknown = sorted(set(listed) - set(target.columns))
            if unknown:
                raise ValueError(f"INSERT column list names unknown columns: {unknown}")
            if len(rows.columns) != len(listed):
                raise ValueError(
                    f"INSERT query arity {len(rows.columns)} != column "
                    f"list arity {len(listed)} ({listed})"
                )
            # identity columns absent from the list are NOT null-filled:
            # omitting them is exactly how the writer knows to GENERATE
            # (delta spec: identity values come from the writer)
            ident = {
                f["name"]
                for f in (
                    delta_py._identity_fields(
                        delta_py.replay_head_state(spark, m["path"])[1]
                    )
                    if m["fmt"] == "delta"
                    else []
                )
            }
            rows = rows.toDF(*listed).select(
                *[
                    _F.col(c).cast(target.schema[c].dataType).alias(c)
                    if c in listed
                    else _F.lit(None).cast(target.schema[c].dataType).alias(c)
                    for c in target.columns
                    if c in listed or c not in ident
                ]
            )
        elif re.match(r"(?i)VALUES\b", m["q"]):
            # VALUES rows are positional: bind them to the target's
            # column names (cols1/col2 aliases would corrupt the files)
            if len(rows.columns) != len(target.columns):
                raise ValueError(
                    f"INSERT VALUES arity {len(rows.columns)} != table "
                    f"columns {len(target.columns)} ({target.columns})"
                )
            rows = rows.toDF(*target.columns)
        overwrite = m["over"].upper() == "OVERWRITE"
        if m["fmt"] == "delta":
            return delta_py.write_delta(
                rows, m["path"], mode="overwrite" if overwrite else "append"
            )
        if overwrite:
            return iceberg_py.overwrite_where(spark, m["path"], "true", rows)
        return iceberg_py.append_iceberg_v2(spark, m["path"], rows)

    m = re.fullmatch(
        r"(?i)CREATE TABLE (?P<fmt2>delta)\s*\.\s*`(?P<path2>[^`]+)` "
        rf"SHALLOW CLONE {_TBL}(?: VERSION AS OF (?P<v>\d+))?",
        s,
    )
    if m:
        if m["fmt"] != "delta":
            raise ValueError("SHALLOW CLONE is Delta-to-Delta only")
        return delta_py.shallow_clone_delta(
            spark, m["path"], m["path2"],
            version_as_of=int(m["v"]) if m["v"] else None,
        )

    m = re.fullmatch(
        rf"(?i)CREATE TABLE {_TBL} \((?P<defs>.+)\)",
        s,
        re.DOTALL,
    )
    if m and not re.search(r"(?i)\)\s*AS\s+(SELECT|WITH)\b", s):
        # column-DEFINITION create (no AS SELECT): plain typed columns,
        # optionally GENERATED ALWAYS|BY DEFAULT AS IDENTITY (START WITH
        # n INCREMENT BY n) — the SQL front door for what
        # create_delta_identity_table / create_iceberg_v2_table already
        # do in Python (r13 verdict item 8)
        from pyspark.sql.types import _parse_datatype_string

        defs, depth, start, items = m["defs"], 0, 0, []
        for i, ch in enumerate(defs):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                items.append(defs[start:i])
                start = i + 1
        items.append(defs[start:])
        identity: dict[str, tuple[int, int]] = {}
        allow_explicit = False
        ddl_cols: list[str] = []
        for item in items:
            gm = re.fullmatch(
                r"(?is)\s*(?P<name>\w+)\s+(?P<typ>.+?)\s+GENERATED\s+"
                r"(?P<kind>ALWAYS|BY\s+DEFAULT)\s+AS\s+IDENTITY\s*"
                r"(?:\(\s*START\s+WITH\s+(?P<start>-?\d+)\s+"
                r"INCREMENT\s+BY\s+(?P<step>-?\d+)\s*\))?\s*",
                item,
            )
            if gm:
                identity[gm["name"]] = (
                    int(gm["start"] or 1), int(gm["step"] or 1)
                )
                if gm["kind"].upper() != "ALWAYS":
                    allow_explicit = True
                ddl_cols.append(f"{gm['name']} {gm['typ']}")
            else:
                ddl_cols.append(item.strip())
        schema = _parse_datatype_string(", ".join(ddl_cols))
        if m["fmt"] == "delta":
            return delta_py.create_delta_identity_table(
                spark, m["path"], schema, identity,
                allow_explicit=allow_explicit,
            )
        if identity:
            raise ValueError(
                "GENERATED ... AS IDENTITY is a Delta feature (Iceberg "
                "has no identity columns)"
            )
        iceberg_py.create_iceberg_v2_table(schema, m["path"])
        return 0

    m = re.fullmatch(
        rf"(?i)CREATE TABLE {_TBL}"
        r"(?: PARTITIONED BY \((?P<parts>(?:[^()]|\([^()]*\))+)\))?"
        r" AS (?P<q>(?:SELECT|WITH)\b.+)",
        s,
    )
    if m:
        # CTAS (+ optional transform partitioning: identity col names or
        # transform(col) calls per the Iceberg DDL shape)
        rows = spark.sql(_rewrite_select(spark, m["q"]))
        spec = _parse_partition_spec(m["parts"] or "")
        # CREATE TABLE over an existing table must raise, never silently
        # append to it (Delta) or reset its history (Iceberg)
        probe = (
            os.path.join(m["path"], "_delta_log") if m["fmt"] == "delta"
            else os.path.join(m["path"], "metadata", "v1.metadata.json")
        )
        if fsio.exists(probe):
            raise ValueError(f"table already exists: {m['fmt']}.`{m['path']}`")
        if m["fmt"] == "delta":
            if any(tr != "identity" for _, tr in spec):
                raise ValueError(
                    "Delta partitioning is identity-only (hidden-partition "
                    "transforms are an Iceberg feature)"
                )
            return delta_py.write_delta(
                rows, m["path"], mode="append",
                partition_by=[c for c, _ in spec] or None,
            )
        iceberg_py.create_iceberg_v2_table(rows.schema, m["path"], spec or None)
        return iceberg_py.append_iceberg_v2(spark, m["path"], rows)

    m = re.fullmatch(
        rf"(?i)ALTER TABLE {_TBL} ADD CONSTRAINT (?P<name>\w+) "
        r"CHECK \((?P<expr>.+)\)",
        s,
    )
    if m:
        if m["fmt"] != "delta":
            raise ValueError(
                "CHECK constraints are a Delta writer feature (Iceberg has "
                "no table-level constraint spec)"
            )
        return delta_py.alter_delta_add_constraint(
            spark, m["path"], m["name"], m["expr"]
        )

    m = re.fullmatch(
        rf"(?i)FSCK REPAIR TABLE {_TBL}(?P<dry> DRY RUN)?", s
    )
    if m:
        if m["fmt"] != "delta":
            raise ValueError("FSCK REPAIR TABLE is a Delta statement")
        return spark.createDataFrame(
            [(p,) for p in delta_py.fsck_delta(
                spark, m["path"], dry_run=bool(m["dry"])
            )],
            "removed_path string",
        )

    m = re.fullmatch(
        r"(?i)CONVERT TO DELTA parquet\s*\.\s*`(?P<path>[^`]+)`"
        r"(?: PARTITIONED BY \((?P<cols>[\w\s,]+)\))?",
        s,
    )
    if m:
        cols = (
            [c.strip() for c in m["cols"].split(",")] if m["cols"] else None
        )
        return delta_py.convert_to_delta(spark, m["path"], partition_by=cols)

    m = re.fullmatch(
        rf"(?i)ALTER TABLE {_TBL} CLUSTER BY \((?P<cols>[\w\s,]+)\)", s
    )
    if m:
        if m["fmt"] != "delta":
            raise ValueError(
                "CLUSTER BY is a Delta liquid-clustering statement; for "
                "Iceberg use OPTIMIZE ... ZORDER BY"
            )
        return delta_py.set_delta_clustering(
            spark, m["path"], [c.strip() for c in m["cols"].split(",")]
        )

    m = re.fullmatch(
        rf"(?i)ALTER TABLE {_TBL} RENAME COLUMN (?P<old>\w+) TO (?P<new>\w+)", s
    )
    if m:
        if m["fmt"] == "delta":
            return delta_py.alter_delta_rename_column(
                spark, m["path"], m["old"], m["new"]
            )
        iceberg_py.alter_iceberg_rename_column(m["path"], m["old"], m["new"])
        return None

    m = re.fullmatch(
        rf"(?i)ALTER TABLE {_TBL} ADD COLUMN (?P<col>\w+) (?P<typ>\w+(?:\(\s*\d+\s*,\s*\d+\s*\))?)",
        s,
    )
    if m:
        sql_t = m["typ"].lower()
        names = {
            "int": ("integer", "int"), "integer": ("integer", "int"),
            "bigint": ("long", "long"), "long": ("long", "long"),
            "string": ("string", "string"), "varchar": ("string", "string"),
            "double": ("double", "double"), "float": ("float", "float"),
            "boolean": ("boolean", "boolean"), "date": ("date", "date"),
            "timestamp": ("timestamp", "timestamptz"),
            "timestamp_ntz": ("timestamp_ntz", "timestamp"),
        }
        if sql_t not in names:
            raise ValueError(f"unsupported ADD COLUMN type {m['typ']!r}")
        spark_t, ice_t = names[sql_t]
        if m["fmt"] == "delta":
            return delta_py.alter_delta_add_column(
                spark, m["path"], m["col"], json.dumps(spark_t)
            )
        iceberg_py.alter_iceberg_add_column(m["path"], m["col"], ice_t)
        return None

    m = re.fullmatch(
        rf"(?i)ALTER TABLE {_TBL} ALTER COLUMN (?P<col>\w+) TYPE (?P<typ>\w+)",
        s,
    )
    if m:
        if m["fmt"] == "iceberg":
            ice_types = {"bigint": "long", "long": "long", "double": "double"}
            t = ice_types.get(m["typ"].lower(), m["typ"].lower())
            iceberg_py.alter_iceberg_widen_column(m["path"], m["col"], t)
            return None
        spark_types = {
            "smallint": "short", "short": "short",
            "int": "integer", "integer": "integer",
            "bigint": "long", "long": "long",
            "double": "double", "timestamp_ntz": "timestamp_ntz",
        }
        t = spark_types.get(m["typ"].lower())
        if t is None:
            raise ValueError(f"unsupported ALTER COLUMN type {m['typ']!r}")
        return delta_py.alter_delta_widen_column(spark, m["path"], m["col"], t)

    m = re.fullmatch(
        rf"(?i)ALTER TABLE {_TBL} (?P<verb>CREATE|DROP) "
        r"(?P<kind>TAG|BRANCH) (?P<name>\w+)",
        s,
    )
    if m:
        if m["fmt"] != "iceberg":
            raise ValueError("named refs (tags/branches) are an Iceberg feature")
        if m["verb"].upper() == "CREATE":
            iceberg_py.create_ref(
                m["path"], m["name"], ref_type=m["kind"].lower()
            )
        else:
            iceberg_py.drop_ref(m["path"], m["name"])
        return None

    m = re.fullmatch(rf"(?i)DELETE FROM {_TBL} WHERE (?P<pred>.+)", s)
    if m:
        if m["fmt"] == "delta":
            return delta_py.delete_where_delta(spark, m["path"], m["pred"])
        return iceberg_py.delete_where(spark, m["path"], m["pred"])

    m = re.fullmatch(rf"(?i)UPDATE {_TBL} SET (?P<set>.+?) WHERE (?P<pred>.+)", s)
    if m:
        set_exprs = _parse_set(m["set"])
        if m["fmt"] == "delta":
            return delta_py.update_where_delta(spark, m["path"], m["pred"], set_exprs)
        return iceberg_py.update_where(spark, m["path"], m["pred"], set_exprs)

    m = re.fullmatch(
        rf"(?i)MERGE INTO (?:{_TBL}|"
        r"iceberg\s*\.\s*(?P<mcat>\w+)\s*\.\s*(?P<mns>\w+)\s*\.\s*"
        r"(?P<mtbl>\w+))"
        rf"(?: AS)? (?P<t>\w+) USING (?P<src>\w+)(?: AS)? "
        r"(?P<s>\w+) ON (?P<on>.+?) "
        r"(?P<clauses>WHEN .+)",
        s,
    )
    if m:
        keys = _parse_on(m["on"], m["t"], m["s"])
        clauses = m["clauses"].strip()
        # clause boundaries: the explicit markers, now with optional
        # per-clause conditions (a CASE WHEN inside a SET expression
        # cannot match them — the kind word is literal). Conditions may
        # not contain the literal token " THEN " (raise-on-misparse
        # grammar, same rule as the rest of the facade).
        markers = list(
            re.finditer(
                r"(?i)WHEN (?P<kind>NOT MATCHED BY SOURCE|NOT MATCHED|MATCHED)"
                r"(?: AND (?P<cond>.+?))? THEN ",
                clauses,
            )
        )
        if not markers or markers[0].start() != 0:
            raise ValueError(
                f"MERGE needs at least one WHEN clause; got {clauses!r}"
            )

        def norm_expr(e: str) -> str:
            # statement aliases -> the committers' t./s. environment
            return re.sub(
                rf"\b{re.escape(m['s'])}\.", "s.",
                re.sub(rf"\b{re.escape(m['t'])}\.", "t.", e),
            )

        matched: list[dict] = []
        not_matched: list[dict] = []
        nmbs: list[dict] = []
        for i, mk in enumerate(markers):
            body = clauses[
                mk.end() : markers[i + 1].start() if i + 1 < len(markers)
                else len(clauses)
            ].strip()
            kind = mk["kind"].upper()
            cond = norm_expr(mk["cond"]) if mk["cond"] else None
            if kind == "NOT MATCHED":
                if body.upper() != "INSERT *":
                    raise ValueError(
                        "WHEN NOT MATCHED supports only 'INSERT *'; "
                        f"got {body!r}"
                    )
                not_matched.append({"cond": cond, "action": "insert", "set": None})
                continue
            if body.upper() == "DELETE":
                cl = {"cond": cond, "action": "delete", "set": None}
            elif body.upper() == "UPDATE SET *":
                if kind == "NOT MATCHED BY SOURCE":
                    raise ValueError(
                        "WHEN NOT MATCHED BY SOURCE has no source row to "
                        "'UPDATE SET *' from — use explicit SET assignments"
                    )
                cl = {"cond": cond, "action": "update", "set": None}
            elif re.match(r"(?i)UPDATE SET ", body):
                raw = _parse_set(body[len("UPDATE SET "):])
                cl = {
                    "cond": cond, "action": "update",
                    "set": {c: norm_expr(e) for c, e in raw.items()},
                }
            else:
                raise ValueError(
                    f"{'WHEN ' + kind} supports 'UPDATE SET *', 'UPDATE "
                    f"SET col = expr, ...', or 'DELETE'; got {body!r}"
                )
            (matched if kind == "MATCHED" else nmbs).append(cl)
        source = spark.table(m["src"])
        if m.groupdict().get("mcat"):
            # catalog-resolved target: commit THROUGH the catalog
            return _cat_client(m["mcat"]).merge(
                spark, m["mns"], m["mtbl"], source, keys,
                matched=matched, not_matched=not_matched,
                not_matched_by_source=nmbs,
            )
        if m["fmt"] == "delta":
            return delta_py.merge_delta_clauses(
                spark, m["path"], source, keys,
                matched=matched, not_matched=not_matched,
                not_matched_by_source=nmbs,
            )
        return iceberg_py.merge_into_clauses(
            spark, m["path"], source, keys,
            matched=matched, not_matched=not_matched,
            not_matched_by_source=nmbs,
        )

    m = re.fullmatch(
        rf"(?i)OPTIMIZE {_TBL}(?: ZORDER BY \((?P<z>[\w\s,]+)\))?", s
    )
    if m:
        z = [c.strip() for c in m["z"].split(",")] if m["z"] else None
        if m["fmt"] == "delta":
            return delta_py.compact_delta(spark, m["path"], zorder_by=z)
        return iceberg_py.rewrite_data_files(spark, m["path"], zorder_by=z)

    m = re.fullmatch(
        rf"(?i)VACUUM {_TBL}(?: RETAIN (?P<h>\d+(?:\.\d+)?) HOURS)?", s
    )
    if m:
        hours = float(m["h"]) if m["h"] else 0.0
        if m["fmt"] == "delta":
            return delta_py.vacuum_delta(m["path"], retain_hours=hours)
        if hours:
            # RETAIN on Iceberg = expire only snapshots older than the
            # horizon (the CURRENT snapshot is always kept)
            import time as _time

            return iceberg_py.expire_snapshots(
                m["path"], keep_last=1,
                older_than_ms=int(_time.time() * 1000) - int(hours * 3_600_000),
            )
        return iceberg_py.expire_snapshots(m["path"], keep_last=1)

    m = re.fullmatch(
        rf"(?i)RESTORE TABLE {_TBL} TO VERSION AS OF (?P<v>\d+)", s
    )
    if m:
        if m["fmt"] == "delta":
            return delta_py.restore_delta(spark, m["path"], int(m["v"]))
        iceberg_py.rollback_to_snapshot(m["path"], int(m["v"]))
        return None

    m = re.fullmatch(
        rf"(?i)RESTORE TABLE {_TBL} TO TIMESTAMP AS OF '(?P<ts>[^']+)'", s
    )
    if m:
        ts = _epoch_ms(m["ts"])
        if m["fmt"] == "delta":
            return delta_py.restore_delta(
                spark, m["path"], delta_py.version_at_timestamp(m["path"], ts)
            )
        meta = json.loads(
            fsio.read_text(iceberg_py.latest_metadata_file(m["path"]))
        )
        snaps = [
            sn for sn in (meta.get("snapshots") or [])
            if sn.get("timestamp-ms", 0) <= ts
        ]
        if not snaps:
            raise ValueError(
                f"no snapshot of {m['path']!r} at or before {m['ts']!r}"
            )
        iceberg_py.rollback_to_snapshot(
            m["path"],
            max(snaps, key=lambda sn: sn["timestamp-ms"])["snapshot-id"],
        )
        return None

    m = re.fullmatch(
        r"(?i)SHOW TABLES IN iceberg\s*\.\s*(?P<cat>\w+)\s*\.\s*(?P<ns>\w+)", s
    )
    if m:
        # catalog-resolved listing (REST catalog read surface)
        from gcs2postgres_spark.sources import rest_catalog

        names = rest_catalog.get_catalog(m["cat"]).list_tables(m["ns"])
        return spark.createDataFrame(
            [(m["ns"], n) for n in sorted(names)] or [("", "")],
            "namespace string, table_name string",
        ).where("table_name <> ''")

    m = re.fullmatch(r"(?i)SHOW NAMESPACES IN iceberg\s*\.\s*(?P<cat>\w+)", s)
    if m:
        from gcs2postgres_spark.sources import rest_catalog

        nss = rest_catalog.get_catalog(m["cat"]).list_namespaces()
        return spark.createDataFrame(
            [(".".join(ns),) for ns in sorted(nss)] or [("",)],
            "namespace string",
        ).where("namespace <> ''")

    m = re.fullmatch(rf"(?i)SHOW PARTITIONS {_TBL}", s)
    if m:
        if m["fmt"] == "iceberg":
            # per-TRANSFORMED-tuple summary from the manifests
            return iceberg_py.read_iceberg_meta(spark, m["path"], "partitions")
        # delta: aggregate the live log adds' partitionValues (metadata
        # only — the same O(files) replay every Delta client pays)
        live, meta = delta_py.replay_head_state(spark, m["path"])
        if meta is None:
            raise FileNotFoundError(f"not a Delta table: {m['path']!r}")
        part_cols = list(meta.get("partitionColumns") or [])
        if not part_cols:
            raise ValueError(f"table {m['path']!r} is not partitioned")
        agg: dict[str, tuple[int, int]] = {}
        for a in live.values():
            pv = a.get("partitionValues") or {}
            key = json.dumps({c: pv.get(c) for c in part_cols}, sort_keys=True)
            files, size = agg.get(key, (0, 0))
            agg[key] = (files + 1, size + int(a.get("size") or 0))
        return spark.createDataFrame(
            sorted((k, f, sz) for k, (f, sz) in agg.items()),
            "partition string, file_count long, size_bytes long",
        )

    m = re.fullmatch(rf"(?i)TRUNCATE TABLE {_TBL}", s)
    if m:
        # logical truncate: one commit removing every live row (old
        # files stay for time travel; VACUUM reclaims them physically)
        if m["fmt"] == "delta":
            empty = delta_py.read_delta_py(spark, m["path"]).limit(0)
            return delta_py.write_delta(empty, m["path"], mode="overwrite")
        empty = iceberg_py.read_iceberg_py(spark, m["path"]).limit(0)
        return iceberg_py.overwrite_where(spark, m["path"], "true", empty)

    m = re.fullmatch(
        rf"(?i)ALTER TABLE {_TBL} SET TBLPROPERTIES "
        r"\(\s*'(?P<key>[\w.-]+)'\s*=\s*'?(?P<val>[^')]+?)'?\s*\)",
        s,
    )
    if m:
        key, val = m["key"], m["val"].strip()
        if m["fmt"] != "delta":
            if key == "format-version" and val == "3":
                # the engine-side upgrade converts position deletes to
                # DVs and seeds row lineage (iceberg_py docstring)
                return iceberg_py.upgrade_iceberg_format_version(spark, m["path"])
            raise NotImplementedError(
                "SET TBLPROPERTIES on Iceberg supports 'format-version'='3' "
                "(the v3 upgrade); other property writes need the runtime jar"
            )
        if key == "delta.enableRowTracking" and val == "true":
            return delta_py.enable_row_tracking(spark, m["path"])
        if key in ("delta.appendOnly", "delta.checkpointPolicy"):
            return delta_py.set_delta_property(spark, m["path"], key, val)
        raise ValueError(
            f"unsupported table property {key!r}={val!r} (supported: "
            "delta.enableRowTracking=true, delta.appendOnly, "
            "delta.checkpointPolicy)"
        )

    m = re.fullmatch(rf"(?i)SHOW TBLPROPERTIES {_TBL}", s)
    if m:
        if m["fmt"] == "delta":
            _live, meta = delta_py.replay_head_state(spark, m["path"])
            if meta is None:
                raise FileNotFoundError(f"not a Delta table: {m['path']!r}")
            props = dict(meta.get("configuration") or {})
        else:
            meta = json.loads(
                fsio.read_text(iceberg_py.latest_metadata_file(m["path"]))
            )
            props = dict(meta.get("properties") or {})
        return spark.createDataFrame(
            sorted(props.items()) or [], "key string, value string"
        )

    m = re.fullmatch(rf"(?i)DESCRIBE DETAIL {_TBL}", s)
    if m:
        # one-row table summary (format, files, bytes, partitioning) —
        # all from log/manifest METADATA, no data scan
        if m["fmt"] == "delta":
            live, meta = delta_py.replay_head_state(spark, m["path"])
            if meta is None:
                raise FileNotFoundError(f"not a Delta table: {m['path']!r}")
            row = (
                "delta", meta.get("id"), len(live),
                sum(int(a.get("size") or 0) for a in live.values()),
                list(meta.get("partitionColumns") or []),
            )
        else:
            inv = iceberg_py.read_iceberg_meta(spark, m["path"], "files")
            agg = inv.filter(F.col("content") == 0).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("size_bytes").alias("b"),
            ).collect()[0]
            meta = json.loads(
                fsio.read_text(iceberg_py.latest_metadata_file(m["path"]))
            )
            spec = next(
                (sp for sp in meta.get("partition-specs", [])
                 if sp.get("spec-id") == meta.get("default-spec-id", 0)),
                None,
            )
            row = (
                "iceberg", meta.get("table-uuid"), int(agg["n"] or 0),
                int(agg["b"] or 0),
                [f["name"] for f in (spec or {}).get("fields", [])],
            )
        return spark.createDataFrame(
            [row],
            "format string, id string, num_files long, size_bytes long, "
            "partition_columns array<string>",
        )

    m = re.fullmatch(rf"(?i)DESCRIBE HISTORY {_TBL}", s)
    if m:
        if m["fmt"] == "delta":
            return delta_py.describe_history_delta(spark, m["path"])
        return iceberg_py.read_iceberg_meta(spark, m["path"], "snapshots")

    raise ValueError(
        "unrecognized lakehouse statement (supported: SELECT/WITH [VERSION "
        "AS OF | TIMESTAMP AS OF | FOR REF] / INSERT INTO|OVERWRITE "
        "[(cols)] / CREATE TABLE (col TYPE [GENERATED ALWAYS|BY DEFAULT AS "
        "IDENTITY (START WITH n INCREMENT BY n)], ...) / "
        "CREATE TABLE [PARTITIONED BY] AS / CREATE TABLE ... "
        "SHALLOW CLONE / ALTER TABLE ADD CONSTRAINT|RENAME COLUMN|CLUSTER "
        "BY|ADD "
        "COLUMN|ALTER COLUMN TYPE|SET TBLPROPERTIES|CREATE/DROP TAG|BRANCH "
        "/ DELETE FROM / UPDATE / MERGE INTO (multi-clause, NOT MATCHED BY "
        "SOURCE) / TRUNCATE TABLE / OPTIMIZE [ZORDER BY] / VACUUM "
        "[RETAIN n HOURS] / RESTORE TABLE ... TO VERSION|TIMESTAMP AS OF "
        "/ DESCRIBE HISTORY|DETAIL / SHOW "
        f"PARTITIONS|TBLPROPERTIES over delta.`path` | iceberg.`path`): {stmt!r}"
    )
