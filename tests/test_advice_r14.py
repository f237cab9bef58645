"""Round-14 regression pins for the r13 ADVICE findings (finding 1,
the timestamp separator in stats-skip comparisons, is pinned in
tests/test_stats_skip.py):

2. (med) _rewrite_select must not derive file-skip bounds from a WHERE
   clause when the statement can bring in a second relation (JOIN /
   WITH / comma cross join / set ops) — an unqualified conjunct on the
   other relation's column could be applied as a lakehouse bound.
3. (med) bounds_from_predicate refuses extraction on any backslash in
   the predicate (Spark also accepts backslash-escaped quotes, which
   the doubled-quote lexer would mis-tokenize into a WRONG bound).
4. (low) ICT chain survives a foreign commitInfo-less / ICT-less
   commit: the next own commit consults the snapshot metaData config
   and restarts the chain instead of silently dropping the feature.
5. (low) Iceberg rebase row-lineage watermark advances across ALL
   rebased manifests (pinned behaviorally via a concurrent v3 race:
   _row_id values stay unique).
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from gcs2postgres_spark.sources.delta_py import (
    set_delta_property,
    write_delta,
)
from gcs2postgres_spark.sources.predicate_bounds import bounds_from_predicate


# ---------------------------------------------------------------------------
# 2. bounds extraction only for single-relation statements
# ---------------------------------------------------------------------------

def test_rewrite_select_bounds_single_relation_only(spark, tmp_path, monkeypatch):
    from gcs2postgres_spark.sources import delta_py as dmod
    from gcs2postgres_spark.sources.lakehouse_sql import _rewrite_select

    t = str(tmp_path / "t")
    write_delta(spark.range(0, 4).withColumnRenamed("id", "k"), t, "overwrite")
    spark.range(0, 2).withColumnRenamed("id", "j").createOrReplaceTempView(
        "advice14_other"
    )

    seen: list = []
    real = dmod.read_delta_py

    def spy(spark_, path, **kw):
        seen.append(kw.get("stats_filter"))
        return real(spark_, path, **kw)

    monkeypatch.setattr(dmod, "read_delta_py", spy)

    # plain single-relation SELECT: bounds extracted
    _rewrite_select(spark, f"SELECT * FROM delta.`{t}` WHERE k >= 2")
    assert seen[-1] == {"k": (2, None)}
    # JOIN: no extraction (the conjunct could belong to the other side)
    _rewrite_select(
        spark,
        f"SELECT * FROM delta.`{t}` x JOIN advice14_other o ON x.k = o.j "
        "WHERE j >= 1",
    )
    assert seen[-1] is None
    # comma cross join in FROM: no extraction
    _rewrite_select(
        spark,
        f"SELECT * FROM delta.`{t}`, advice14_other WHERE j >= 1",
    )
    assert seen[-1] is None
    # CTE: no extraction
    _rewrite_select(
        spark,
        "WITH c AS (SELECT 1 AS j) "
        f"SELECT * FROM delta.`{t}` WHERE k >= 2",
    )
    assert seen[-1] is None


# ---------------------------------------------------------------------------
# 3. backslash anywhere in the predicate → refuse extraction
# ---------------------------------------------------------------------------

def test_bounds_refuse_on_backslash():
    # backslash-escaped quote: the doubled-quote lexer would terminate
    # the literal at \' and derive a WRONG bound ("isn\") — refuse
    assert bounds_from_predicate(r"col = 'isn\'t foo'") == {}
    assert bounds_from_predicate(r"a >= 5 AND b = 'x\\y'") == {}
    # no backslash: extraction still works, incl. doubled quotes
    assert bounds_from_predicate("b = 'it''s'") == {"b": ("it's", "it's")}


# ---------------------------------------------------------------------------
# 4. ICT survives a foreign ICT-less commit
# ---------------------------------------------------------------------------

def test_ict_restarts_after_foreign_ictless_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    write_delta(
        spark.range(0, 3).withColumnRenamed("id", "k"), t, "overwrite",
        timestamp_ms=1_700_000_000_000,
    )
    set_delta_property(
        spark, t, "delta.enableInCommitTimestamps", "true",
        timestamp_ms=1_700_000_010_000,
    )
    log = os.path.join(t, "_delta_log")
    head = max(
        int(os.path.basename(p).split(".")[0])
        for p in glob.glob(os.path.join(log, "*.json"))
    )
    # a foreign / non-compliant writer lands a commit whose commitInfo
    # has NO inCommitTimestamp (spec violation, but happens)
    with open(os.path.join(log, f"{head + 1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1_700_000_011_000}}))
    # the next OWN commit must restart the chain (config still enables
    # the feature), never silently stop stamping ICTs
    write_delta(
        spark.range(10, 12).withColumnRenamed("id", "k"), t, "append",
        timestamp_ms=1_700_000_005_000,  # skewed wall clock
    )
    new_head = os.path.join(log, f"{head + 2:020d}.json")
    ci = next(
        json.loads(line)["commitInfo"]
        for line in open(new_head)
        if '"commitInfo"' in line
    )
    # >= enablement floor + 1, never the skewed wall clock, never absent
    assert ci.get("inCommitTimestamp") == 1_700_000_010_001


# ---------------------------------------------------------------------------
# 5. v3 row-lineage uniqueness under a concurrent rebase
# ---------------------------------------------------------------------------

def test_v3_rebase_row_ids_stay_unique(spark, tmp_path):
    import threading

    from pyspark.sql import functions as F

    from gcs2postgres_spark.sources.iceberg_py import (
        append_iceberg_v2,
        read_iceberg_with_row_ids,
        upgrade_iceberg_format_version,
        write_iceberg_v2_fixture,
    )

    t = str(tmp_path / "ice")
    base = spark.range(0, 4).withColumnRenamed("id", "k").withColumn(
        "v", (F.col("k") * 2).cast("long")
    )
    write_iceberg_v2_fixture(base, t, sort_col="k")
    upgrade_iceberg_format_version(spark, t)
    barrier = threading.Barrier(2)
    errs: list = []

    def appender(lo, hi):
        df = spark.range(lo, hi).withColumnRenamed("id", "k").withColumn(
            "v", (F.col("k") * 2).cast("long")
        )

        def run():
            barrier.wait()
            try:
                append_iceberg_v2(spark, t, df)
            except Exception as e:  # pragma: no cover - surfaced below
                errs.append(e)
        return run

    th = [
        threading.Thread(target=appender(10, 14)),
        threading.Thread(target=appender(20, 24)),
    ]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errs
    rows = read_iceberg_with_row_ids(spark, t).collect()
    ids = [r["_row_id"] for r in rows if r["_row_id"] is not None]
    assert len(ids) == len(set(ids)), "duplicate _row_id after rebase"
    assert len(rows) == 12
