"""The external driver verifies the first 50 registry entries; the
round-2 rotation must put exactly the unverified + fixed-red names
there. Guard the invariants so a refactor can't silently shrink the
verification window."""

from hypothesis import given, settings
from hypothesis import strategies as st

from gcs2postgres_spark.queries import REGISTRY, VERIFY_DEFERRED, VERIFY_FRONT
from tests.conftest import SF_ORACLE
from tests.oracle_utils import compare_query


def test_front_window_is_exactly_50_known_names():
    assert len(VERIFY_FRONT) == 50
    assert len(set(VERIFY_FRONT)) == 50
    missing = [n for n in VERIFY_FRONT if n not in REGISTRY]
    assert not missing, f"front-window names not in registry: {missing}"


def test_no_overlap_front_vs_deferred():
    assert not set(VERIFY_FRONT) & set(VERIFY_DEFERRED)


def test_registry_iteration_order_starts_with_front_window():
    assert list(REGISTRY)[:50] == VERIFY_FRONT


def test_registry_complete():
    # every registered query is accounted for exactly once
    assert len(REGISTRY) >= 109
    assert sorted(set(REGISTRY)) == sorted(REGISTRY)


# A driver-built session: Spark 4's ANSI default, a local time zone and
# parquet nanos read as timestamps. The registry must pin the engine's
# semantics (lenient casts, naive UTC) before every query on it.
_MIS_SET = {
    "spark.sql.session.timeZone": "Asia/Kolkata",
    "spark.sql.ansi.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "false",
}
_PINNED = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def test_register_pins_session_semantics(spark):
    from gcs2postgres_spark.queries import events_q

    cases = [
        # time zone: timestamps shift by 5:30 unpinned
        ("stream_interval_join_leftouter", REGISTRY["stream_interval_join_leftouter"].fn),
        # ANSI: divide by zero raises unpinned
        ("ab_test_conversion", REGISTRY["ab_test_conversion"].fn),
        # a direct call of the module function pins too
        ("stream_interval_join_leftouter", events_q.stream_interval_join_leftouter),
    ]
    prior = {k: spark.conf.get(k) for k in _MIS_SET}
    try:
        for name, fn in cases:
            for k, v in _MIS_SET.items():
                spark.conf.set(k, v)
            problems = compare_query(spark, SF_ORACLE, fn, REGISTRY[name].oracle)
            assert not problems, f"{name}: {problems}"
            assert {k: spark.conf.get(k) for k in _MIS_SET} == _PINNED
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)


def test_materialize_ctes_transformer():
    from gcs2postgres_spark.queries.registry import materialize_ctes

    # plain CTEs get the hint
    assert (
        materialize_ctes("WITH a AS (SELECT 1), b AS (SELECT * FROM a) SELECT * FROM b")
        == "WITH a AS MATERIALIZED (SELECT 1), b AS MATERIALIZED (SELECT * FROM a) SELECT * FROM b"
    )
    # recursive member untouched, siblings hinted
    out = materialize_ctes(
        "WITH RECURSIVE r AS (SELECT 1 UNION SELECT x+1 FROM r), s AS (SELECT * FROM r) SELECT * FROM s"
    )
    assert "r AS (SELECT 1" in out and "s AS MATERIALIZED (" in out
    # already-hinted CTEs not double-hinted
    assert materialize_ctes("WITH a AS MATERIALIZED (SELECT 1) SELECT * FROM a").count("MATERIALIZED") == 1
    # quoted parens must not break the scanner; WINDOW clause untouched
    out = materialize_ctes(
        "WITH a AS (SELECT '(' AS lit) SELECT * FROM a WINDOW w AS (ORDER BY 1)"
    )
    assert "a AS MATERIALIZED (" in out and "WINDOW w AS (ORDER BY 1)" in out
    # no WITH: identity
    assert materialize_ctes("SELECT 1") == "SELECT 1"


@st.composite
def _with_chains(draw):
    """Random top-level WITH chains over a tiny base table, stressing
    the transformer's scanner: multiply-referenced CTEs, string
    literals containing parens/commas/escaped quotes, nested
    subqueries, unions."""
    k = draw(st.integers(1, 4))
    ctes = []
    for i in range(k):
        prev = f"c{i - 1}" if i else "base"
        shape = draw(st.integers(0, 4))
        if shape == 0:
            body = f"SELECT x + {draw(st.integers(0, 5))} AS x, s FROM {prev}"
        elif shape == 1:
            # double reference — the case DuckDB inlining re-evaluates
            body = (
                f"SELECT a.x AS x, b.s AS s FROM {prev} a "
                f"JOIN {prev} b ON a.x = b.x"
            )
        elif shape == 2:
            lit = draw(
                st.sampled_from(["it''s (tricky)", "plain", "x,y(z)", ""])
            )
            body = (
                f"SELECT x, '{lit}' AS s FROM {prev} "
                f"WHERE x > {draw(st.integers(-1, 3))}"
            )
        elif shape == 3:
            body = f"SELECT x, s FROM {prev} UNION ALL SELECT x, s FROM {prev}"
        else:
            body = (
                f"SELECT x, s FROM (SELECT x, s FROM {prev} WHERE x IN "
                f"(SELECT x FROM {prev})) q"
            )
        ctes.append(f"c{i} AS ({body})")
    return "WITH " + ", ".join(ctes) + f" SELECT * FROM c{k - 1} ORDER BY x, s"


@given(_with_chains())
@settings(max_examples=60, deadline=None)
def test_materialize_ctes_is_semantics_preserving(sql):
    """Property (round-6 verdict item 9): transformed SQL ≡ original on
    DuckDB, for random WITH chains — so a future DuckDB upgrade that
    changes MATERIALIZED semantics (or a scanner bug on a new oracle
    shape) fails loudly here instead of silently corrupting oracle
    results. Also pins idempotence (fixed point) since registration
    applies the transformer exactly once."""
    import duckdb

    from gcs2postgres_spark.queries.registry import materialize_ctes

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE base AS SELECT * FROM (VALUES "
        "(1, 'a'), (2, 'b'), (3, 'c''d'), (2, '(x)')) t(x, s)"
    )
    orig = con.execute(sql).fetchall()
    trans = materialize_ctes(sql)
    assert "AS MATERIALIZED (" in trans  # the transformer actually fired
    assert con.execute(trans).fetchall() == orig
    assert materialize_ctes(trans) == trans


def test_every_oracle_has_no_unmaterialized_hot_cte():
    # the registration transformer must leave no top-level non-recursive
    # CTE without the MATERIALIZED hint (DuckDB inlining re-evaluates
    # multiply-referenced CTEs; see registry.materialize_ctes docstring)
    import re

    from gcs2postgres_spark.queries import REGISTRY
    from gcs2postgres_spark.queries.registry import materialize_ctes

    for name, spec in REGISTRY.items():
        if spec.oracle:
            assert spec.oracle == materialize_ctes(spec.oracle), name
