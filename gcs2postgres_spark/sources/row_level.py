"""Row-level DML planning, shared by the jar-less Delta and Iceberg
writers: every MERGE and UPDATE is planned here once, format-blind.

A plan is a ``(matcher, replacement)`` pair. ``matcher(tagged)``
selects the live target rows the statement deletes (or it is a SQL
predicate); ``replacement`` is the rows it writes back — rewritten and
inserted — or None. The commit stays per format, because the
committers are the encoders: deletion vectors
(``delta_py._dv_row_level_commit``) or position deletes
(``iceberg_py._v2_row_level_commit``) for the matched rows plus an
append of the replacement, in ONE version/snapshot. Each format hands
the planners a ``Target``: its reader and its two committers, with its
own arguments (timestamp, txn, partition filter, catalog context)
already bound.

- ``merge``: the single-clause MERGE (``merge_delta`` /
  ``merge_into``, the CDC path): update / delete / ignore on matched
  keys, insert / ignore on unmatched ones, a per-column SET, or the
  latest-wins conditional update. Argument errors raise before the
  table is read; the source must be unique on the key unless the
  statement modifies no target row or resolves duplicates latest-wins.
- ``merge_clauses``: the full Spark SQL clause matrix, planned by
  ``build_merge_plan``::

    MERGE INTO t USING s ON t.k = s.k
      WHEN MATCHED AND <cond> THEN UPDATE SET col = expr, ...
      WHEN MATCHED AND <cond> THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED AND <cond> THEN INSERT *
      WHEN NOT MATCHED BY SOURCE AND <cond> THEN UPDATE SET ... | DELETE

- ``update``: ``UPDATE ... SET ... WHERE`` — the live rows matching
  the predicate, with SET applied, replace themselves.

A statement with no matcher (insert-only) touches no existing file
and goes to the format's plain append committer instead.

Clause-matrix semantics (identical to Spark/Delta MERGE):
- clauses within a group evaluate IN ORDER per row; the first whose
  condition holds applies, later ones are shadowed. An unconditioned
  clause therefore must be LAST in its group — anything after it is
  dead, which real engines reject and so does ``validate_clauses``.
- a matched (target, source) pair with no applicable clause leaves the
  target row untouched.
- conditions and SET expressions are Spark SQL over the aliases ``t``
  (target) and ``s`` (source); NOT MATCHED conditions see ``s`` only,
  NOT MATCHED BY SOURCE conditions see ``t`` only.

Scale shape: ONE inner equi-join target x source (shuffle-or-broadcast,
Catalyst/AQE sized) feeds every matched clause; semi/anti-joins on the
key sets feed the insert / by-source sides, so no plan here is ever a
cartesian product or a collected IN-list. The only driver-side reads
are the bounded probes: one duplicate-key row, ``isEmpty`` and
``take(1)``.

Each clause is a dict: ``{"cond": str|None, "action":
"update"|"delete"|"insert", "set": dict[str, str]|None}`` where
``set=None`` on an update means full-row ``UPDATE SET *``.
"""

from __future__ import annotations

from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


class Target(NamedTuple):
    """One table's side of a row-level statement, its format's
    arguments bound: ``read_live()`` scans the live rows,
    ``commit(matcher_or_predicate, replacement)`` is the row-level
    committer, ``append(rows)`` the plain append committer. Each
    committer returns the new version / snapshot id, or None when it
    commits nothing."""

    read_live: Callable[[], DataFrame]
    commit: Callable[[Any, DataFrame | None], int | None]
    append: Callable[[DataFrame], int]


def latest_wins(
    df: DataFrame, key_cols: list[str], seq_cols: list[str]
) -> DataFrame:
    """One row per key: the row with the greatest (seq_cols) tuple —
    deterministic when the tuple is unique per key (pass tie-breakers)."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.desc(c) for c in seq_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _raise_on_duplicate_merge_keys(source: DataFrame, on: list[str]) -> None:
    """One bounded aggregate probe over the MERGE source: if any key
    tuple appears more than once, raise (matching Spark/Delta MERGE's
    "multiple source rows matched and attempted to modify the same
    target row" error) instead of silently committing N rewritten
    copies per matched target row."""
    dup = (
        source.groupBy(*on)
        .count()
        .filter(F.col("count") > 1)
        .select(*on)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            "MERGE source has duplicate key rows (e.g. "
            f"{dup[0].asDict()}): multiple source rows would modify the "
            "same target row — deduplicate the source first"
        )


def _check_keys(source: DataFrame, on: list[str]) -> None:
    missing = sorted(set(on) - set(source.columns))
    if missing:
        raise ValueError(f"MERGE key columns missing from source: {missing}")


def _commit(target: Target, matcher, replacement: DataFrame | None):
    """Hand a plan to the format: no matcher means an insert-only
    statement, which touches no existing file — a plain append."""
    if replacement is not None and replacement.isEmpty():
        replacement = None
    if matcher is None:
        return None if replacement is None else target.append(replacement)
    return target.commit(matcher, replacement)


def merge(
    target: Target,
    source: DataFrame,
    on: list[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
    latest_wins_on: list[str] | None = None,
    set_exprs: dict[str, str] | None = None,
) -> int | None:
    """Single-clause MERGE: delete every live row whose ``on`` key the
    source holds and write the rows the clauses call for.

    Replacement rows are picked from ``source`` with semi/anti-joins
    against the live key set. ``set_exprs`` rewrites matched rows from
    the joined ``t``/``s`` pair, un-SET columns keeping the target's
    value. ``latest_wins_on`` first keeps each key's newest source row
    (``latest_wins``), then replaces a matched target row only when
    that row's struct over the named columns is strictly greater, so a
    replayed batch commits nothing."""
    if when_matched not in ("update", "delete", "ignore"):
        raise ValueError(
            f"when_matched must be update|delete|ignore, got {when_matched!r}"
        )
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(
            f"when_not_matched must be insert|ignore, got {when_not_matched!r}"
        )
    if latest_wins_on and when_matched != "update":
        raise ValueError("latest_wins_on requires when_matched='update'")
    if when_matched == "ignore" and when_not_matched != "insert":
        raise ValueError(
            "when_matched='ignore' with when_not_matched='ignore' is a "
            "whole-statement no-op; a MERGE needs at least one acting clause"
        )
    if set_exprs is not None and (when_matched != "update" or latest_wins_on):
        raise ValueError(
            "set_exprs (per-column WHEN MATCHED THEN UPDATE SET) requires "
            "when_matched='update' and no latest_wins_on"
        )
    live = target.read_live()
    _check_keys(source, on)
    if latest_wins_on:
        # several source rows of one key: only the newest may act, on
        # the matcher and the replacement alike
        source = latest_wins(source, on, latest_wins_on)
    elif when_matched == "update":
        # a target row modified by MULTIPLE source rows is an error,
        # never N silent rewritten copies (delta-spark raises "multiple
        # source rows matched...")
        _raise_on_duplicate_merge_keys(source, on)
    types = {f.name: f.dataType for f in live.schema.fields}
    insert = when_not_matched == "insert"
    src_keys = source.select(*on).distinct()
    live_keys = live.select(*on).distinct()

    def conform(rows: DataFrame, needed_for: str = "") -> DataFrame:
        missing = sorted(set(live.columns) - set(rows.columns))
        if missing:
            raise ValueError(
                f"MERGE source lacks table columns{needed_for}: {missing}"
            )
        return rows.select(*[F.col(c).cast(types[c]).alias(c) for c in live.columns])

    def matcher(tagged: DataFrame) -> DataFrame:
        return tagged.join(src_keys, on=on, how="left_semi")

    if set_exprs is not None:
        bad = sorted(set(set_exprs) - set(live.columns))
        if bad:
            raise ValueError(f"MERGE SET targets unknown columns: {bad}")
        joined = live.alias("t").join(source.alias("s"), on=on, how="inner")
        replacement = joined.select(
            *[
                F.expr(set_exprs[c]).cast(types[c]).alias(c)
                if c in set_exprs
                else F.col(f"t.{c}").alias(c)
                for c in live.columns
            ]
        )
        if insert:
            inserts = source.join(live_keys, on=on, how="left_anti")
            replacement = replacement.unionByName(
                conform(inserts, " needed for INSERT")
            )
        return _commit(target, matcher, replacement)
    if when_matched == "ignore":
        inserts = source.join(live_keys, on=on, how="left_anti")
        return _commit(target, None, conform(inserts))

    if latest_wins_on:
        src_cmp = source.select(*on, F.struct(*latest_wins_on).alias("__src_seq"))

        def matcher(tagged: DataFrame) -> DataFrame:  # noqa: F811
            return (
                tagged.join(src_cmp, on=on, how="inner")
                .filter(F.struct(*latest_wins_on) < F.col("__src_seq"))
                .drop("__src_seq")
            )

        tgt_cmp = live.select(*on, F.struct(*latest_wins_on).alias("__tgt_seq"))
        newer = F.struct(*latest_wins_on) > F.col("__tgt_seq")
        beats = (F.col("__tgt_seq").isNull() | newer) if insert else (
            F.col("__tgt_seq").isNotNull() & newer
        )
        replacement = (
            source.join(tgt_cmp, on=on, how="left").filter(beats).drop("__tgt_seq")
        )
    elif when_matched == "update":
        replacement = (
            source if insert else source.join(live_keys, on=on, how="left_semi")
        )
    else:  # delete
        replacement = (
            source.join(live_keys, on=on, how="left_anti") if insert else None
        )
    if replacement is not None:
        replacement = conform(replacement)
    return _commit(target, matcher, replacement)


def merge_clauses(
    target: Target,
    source: DataFrame,
    on: list[str],
    matched: list[dict] | None = None,
    not_matched: list[dict] | None = None,
    not_matched_by_source: list[dict] | None = None,
) -> int | None:
    """Clause-matrix MERGE: the statement ``build_merge_plan`` plans,
    committed as one row-level version (or a plain append when no
    clause can modify a target row)."""
    matched = list(matched or [])
    not_matched = list(not_matched or [])
    not_matched_by_source = list(not_matched_by_source or [])
    live = target.read_live()
    _check_keys(source, on)
    if matched:
        _raise_on_duplicate_merge_keys(source, on)
    matcher, replacement = build_merge_plan(
        live, source, on, matched, not_matched, not_matched_by_source
    )
    return _commit(target, matcher, replacement)


def update(target: Target, predicate: str, set_exprs: dict[str, str]) -> int | None:
    """``UPDATE ... SET ... WHERE``: the live rows matching ``predicate``
    are deleted and rewritten with ``set_exprs`` (column -> Spark SQL
    expression over the matched row) in one commit. A ``take(1)``
    probe over the predicate-pushed scan returns None for a no-match
    statement without committing."""
    live = target.read_live()
    # validate SET targets BEFORE the no-match early return: a typo'd
    # column must raise even when the predicate matches nothing
    bad = sorted(set(set_exprs) - set(live.columns))
    if bad:
        raise ValueError(f"UPDATE SET targets unknown columns: {bad}")
    matched = live.filter(predicate)
    if not matched.take(1):
        return None
    return target.commit(
        predicate,
        matched.select(
            *[
                F.expr(set_exprs[c]).cast(live.schema[c].dataType).alias(c)
                if c in set_exprs
                else F.col(c)
                for c in live.columns
            ]
        ),
    )


def validate_clauses(
    matched: list[dict],
    not_matched: list[dict],
    not_matched_by_source: list[dict],
    table_cols: list[str],
) -> None:
    """Reject dead clause orders and malformed actions up front (parse
    time), so a misparse can never silently drop a clause."""
    if not (matched or not_matched or not_matched_by_source):
        raise ValueError("MERGE needs at least one WHEN clause")
    for group, name, actions in (
        (matched, "WHEN MATCHED", {"update", "delete"}),
        (not_matched, "WHEN NOT MATCHED", {"insert"}),
        (not_matched_by_source, "WHEN NOT MATCHED BY SOURCE", {"update", "delete"}),
    ):
        for i, cl in enumerate(group):
            if cl.get("action") not in actions:
                raise ValueError(
                    f"{name} supports {sorted(actions)}; got {cl.get('action')!r}"
                )
            if cl.get("cond") is None and i != len(group) - 1:
                raise ValueError(
                    f"unconditioned {name} clause must be LAST in its "
                    f"group — clause {i + 1} of {len(group)} shadows the "
                    "rest (dead clauses)"
                )
            bad = sorted(set(cl.get("set") or {}) - set(table_cols))
            if bad:
                raise ValueError(f"MERGE SET targets unknown columns: {bad}")
            if cl.get("action") == "delete" and cl.get("set"):
                raise ValueError("DELETE clause cannot carry SET assignments")


def _fires_any(clauses: list[dict]):
    """Column: does ANY clause of the group apply to this row (the
    row-is-modified predicate the delete side needs — which clause wins
    only matters for the rewrite side)."""
    out = F.lit(False)
    for cl in clauses:
        out = out | (F.expr(cl["cond"]) if cl["cond"] else F.lit(True))
    return out


def _pick(clauses: list[dict]):
    """Column: 0-based index of the FIRST clause whose condition holds,
    NULL when none does — first-match-wins, Spark MERGE's clause rule."""
    pick = F.lit(None).cast("int")
    chain = None
    for i, cl in enumerate(clauses):
        cond = F.expr(cl["cond"]) if cl["cond"] else F.lit(True)
        chain = (chain.when(cond, i) if chain is not None
                 else F.when(cond, F.lit(i)))
    return chain.otherwise(pick) if chain is not None else pick


def build_merge_plan(
    live: DataFrame,
    source: DataFrame,
    on: list[str],
    matched: list[dict],
    not_matched: list[dict],
    not_matched_by_source: list[dict],
):
    """Returns ``(matcher, replacement)`` for a row-level committer:
    ``matcher(tagged)`` selects the tagged live rows to delete (any
    clause modified them), ``replacement`` is the rewritten + inserted
    row set (None when no clause produces rows). The caller has already
    validated clauses and raised on duplicate source keys."""
    validate_clauses(matched, not_matched, not_matched_by_source, live.columns)
    types = {f.name: f.dataType for f in live.schema.fields}
    key_eq = [F.col(f"t.{k}") == F.col(f"s.{k}") for k in on]
    src_keys = source.select(*on).distinct()
    live_keys = live.select(*on).distinct()

    def _full_row_ok(cl: dict, label: str) -> None:
        if cl["action"] in ("update", "insert") and cl.get("set") is None:
            missing = sorted(set(live.columns) - set(source.columns))
            if missing:
                raise ValueError(
                    f"MERGE source lacks table columns needed for "
                    f"{label}: {missing}"
                )

    for cl in matched:
        _full_row_ok(cl, "UPDATE SET *")
    for cl in not_matched:
        _full_row_ok(cl, "INSERT *")

    def matcher(tagged: DataFrame) -> DataFrame:
        parts = []
        if matched:
            parts.append(
                tagged.alias("t")
                .join(source.alias("s"), key_eq, "inner")
                .filter(_fires_any(matched))
                .select("t.*")
            )
        if not_matched_by_source:
            parts.append(
                tagged.alias("t")
                .join(src_keys, on, "left_anti")
                .filter(_fires_any(not_matched_by_source))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _rewrite(base: DataFrame, cl: dict, env: str) -> DataFrame:
        # env: "ts" (matched; t.col/s.col both visible) or "t" (by-source)
        cols = []
        for c in live.columns:
            if cl.get("set") is not None and c in cl["set"]:
                cols.append(F.expr(cl["set"][c]).cast(types[c]).alias(c))
            elif cl.get("set") is None and env == "ts":
                cols.append(F.col(f"s.{c}").cast(types[c]).alias(c))  # SET *
            else:
                cols.append(F.col(f"t.{c}").cast(types[c]).alias(c))
        return base.select(*cols)

    parts: list[DataFrame] = []
    upd_matched = [cl for cl in matched if cl["action"] == "update"]
    if upd_matched:
        joined = (
            live.alias("t")
            .join(source.alias("s"), key_eq, "inner")
            .withColumn("__clause", _pick(matched))
        )
        for i, cl in enumerate(matched):
            if cl["action"] != "update":
                continue
            parts.append(_rewrite(joined.filter(F.col("__clause") == i), cl, "ts"))
    if not_matched:
        ins = (
            source.alias("s")
            .join(live_keys, on, "left_anti")
            .filter(_fires_any(not_matched))
        )
        parts.append(
            ins.select(
                *[F.col(f"s.{c}").cast(types[c]).alias(c) for c in live.columns]
            )
        )
    upd_nmbs = [cl for cl in not_matched_by_source if cl["action"] == "update"]
    if upd_nmbs:
        anti = (
            live.alias("t")
            .join(src_keys, on, "left_anti")
            .withColumn("__clause", _pick(not_matched_by_source))
        )
        for i, cl in enumerate(not_matched_by_source):
            if cl["action"] != "update":
                continue
            parts.append(_rewrite(anti.filter(F.col("__clause") == i), cl, "t"))

    replacement: DataFrame | None = None
    for p in parts:
        replacement = p if replacement is None else replacement.unionByName(p)
    if not (matched or not_matched_by_source):
        return None, replacement
    return matcher, replacement
