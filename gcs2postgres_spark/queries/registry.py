"""Registry of named queries with optional DuckDB oracle SQL.

Contract (driver's __spark_entry__ docstring): every operator gets a
``queries()`` entry ``(spark, sf_dir) -> DataFrame``; SQL-expressible
ones also get an ANSI-SQL oracle string DuckDB runs on the same
parquet views. Column names must match exactly between the two —
alias every computed column on both sides.
"""

from __future__ import annotations

import functools
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from gcs2postgres_spark.session import tune_for_session

QueryFn = Callable[[SparkSession, str], DataFrame]


def materialize_ctes(sql: str) -> str:
    """Insert ``MATERIALIZED`` into every top-level non-recursive CTE of
    the oracle's WITH chain.

    DuckDB 1.0 INLINES CTEs by default: a CTE referenced k times is
    re-evaluated k times, and a chain of iterative stages that each
    reference the previous one twice re-evaluates EXPONENTIALLY — the
    round-5 k-core oracle never finished at sf1 and the PageRank oracle
    measured ">600 s" purely from this artifact (4.2 s materialized).
    Centralizing the hint here keeps every oracle an honest, fairly-
    costed denominator without each author remembering the footgun.

    The scanner walks the top-level WITH chain only (balanced parens,
    single-quoted strings skipped), leaves already-hinted CTEs alone,
    and skips self-referencing (recursive) members, whose semantics
    MATERIALIZED would break.
    """
    m = re.search(r"\bWITH\b(\s+RECURSIVE\b)?", sql, re.IGNORECASE)
    if not m:
        return sql
    out = []
    pos = m.end()
    edits: list[tuple[int, str]] = []  # (insert_at, text)
    n = len(sql)
    while True:
        # name AS [MATERIALIZED|NOT MATERIALIZED] (
        mm = re.compile(
            r"\s*(\w+)\s+AS\s+(MATERIALIZED\s+|NOT\s+MATERIALIZED\s+)?\(",
            re.IGNORECASE,
        ).match(sql, pos)
        if not mm:
            break
        name, hint = mm.group(1), mm.group(2)
        body_start = mm.end()  # char after '('
        # scan to the matching ')' skipping quoted strings
        depth, i = 1, body_start
        while i < n and depth:
            c = sql[i]
            if c == "'":
                i += 1
                while i < n:
                    if sql[i] == "'":
                        if i + 1 < n and sql[i + 1] == "'":
                            i += 2
                            continue
                        break
                    i += 1
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            i += 1
        body = sql[body_start : i - 1]
        if hint is None and not re.search(rf"\b{re.escape(name)}\b", body):
            edits.append((mm.start(1) + len(name), None))  # placeholder
            # insert after the 'AS ' keyword: find its end = position of '('
            edits[-1] = (mm.end() - 1, "MATERIALIZED ")
        pos = i
        nxt = re.compile(r"\s*,").match(sql, pos)
        if not nxt:
            break
        pos = nxt.end()
    for at, txt in sorted(edits, reverse=True):
        sql = sql[:at] + txt + sql[at:]
    return sql


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable SQL, or None → rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name`` and return it wrapped so every call
    pins the session's semantics (UTC, lenient casts, nanos-as-long
    reads: ``tune_for_session``) before the query builds. The driver
    runs queries on a session it built itself; this is the one place
    that holds them to the engine's semantics, so query code never pins.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_for_session(spark)
            return fn(spark, sf_dir)

        REGISTRY[name] = QuerySpec(
            name, pinned, materialize_ctes(oracle) if oracle else oracle
        )
        return pinned

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle is not None}
