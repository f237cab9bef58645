"""Join queries: every standard join type, broadcast vs shuffle, theta,
range, and as-of (SURVEY.md §2.6 "Joins"). Multi-way TPC-H-style joins
exercise Catalyst's join reordering + AQE.

Scale notes: dimension tables (region/nation/supplier) are broadcast —
`F.broadcast` hints where Catalyst's size estimate might not see it.
Fact-fact joins (lineitem ⋈ orders) shuffle on the join key; at 100 TB
these would be bucketed on l_orderkey/o_orderkey to co-locate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.operators.joins import asof_join, range_join
from gcs2postgres_spark.queries.registry import register


# ---------------------------------------------------------------------------
# TPC-H Q3-style shipping priority (3-way join + agg + top-k)
# ---------------------------------------------------------------------------

Q3_ORACLE = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(o_orderdate AS DATE)               AS order_date,
       o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, l_orderkey
LIMIT 10
"""


@register("q3_shipping_priority", oracle=Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: 3-table join, dims broadcast, revenue agg + top-10 by (revenue, date)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.to_timestamp(F.lit("1998-03-15 00:00:00"))
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o.filter(F.col("o_orderdate") < cutoff), F.col("c_custkey") == F.col("o_custkey"))
        .join(li.filter(F.col("l_shipdate") > cutoff), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("order_date"), "o_orderpriority")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.round("revenue", 2).alias("revenue"),
            "order_date",
            "o_orderpriority",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q5-style local supplier volume (6-way join)
# ---------------------------------------------------------------------------

Q5_ORACLE = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@register("q5_local_supplier", oracle=Q5_ORACLE)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact shuffle join (lineitem⋈orders) with all dimensions
    broadcast; Catalyst + AQE pick the order, broadcast hints pin the
    small sides."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(
            o.filter(
                (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
                & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01 00:00:00")))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# ---------------------------------------------------------------------------
# Join-type battery
# ---------------------------------------------------------------------------

JOIN_INNER_ORACLE = """
SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_value
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


@register("join_inner", oracle=JOIN_INNER_ORACLE)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join customer x orders on the natural key."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total_value"))
        .orderBy("n_name")
    )


JOIN_LEFT_ORACLE = """
SELECT n_name,
       CAST(count(s_suppkey) AS BIGINT) AS n_suppliers,
       round(coalesce(sum(s_acctbal), 0.0), 2) AS total_bal
FROM nation
LEFT JOIN supplier ON n_nationkey = s_nationkey
GROUP BY n_name
ORDER BY n_name
"""


@register("join_left", oracle=JOIN_LEFT_ORACLE)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping customers with no orders (null-padded right side)."""
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return (
        n.join(s, F.col("n_nationkey") == F.col("s_nationkey"), "left")
        .groupBy("n_name")
        .agg(
            F.count("s_suppkey").alias("n_suppliers"),
            F.round(F.coalesce(F.sum("s_acctbal"), F.lit(0.0)), 2).alias("total_bal"),
        )
        .orderBy("n_name")
    )


JOIN_RIGHT_ORACLE = """
SELECT n_name,
       CAST(count(s_suppkey) AS BIGINT) AS n_suppliers
FROM supplier
RIGHT JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


@register("join_right", oracle=JOIN_RIGHT_ORACLE)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join — mirror of join_left with sides swapped."""
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(n, F.col("s_nationkey") == F.col("n_nationkey"), "right")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
        .orderBy("n_name")
    )


JOIN_FULL_ORACLE = """
WITH cust_by_nation AS (
  SELECT c_nationkey AS nationkey, count(*) AS n_cust FROM customer GROUP BY 1
),
supp_by_nation AS (
  SELECT s_nationkey AS nationkey, count(*) AS n_supp FROM supplier GROUP BY 1
)
SELECT coalesce(c.nationkey, s.nationkey)  AS nationkey,
       coalesce(c.n_cust, 0)               AS n_cust,
       coalesce(s.n_supp, 0)               AS n_supp
FROM cust_by_nation c
FULL OUTER JOIN supp_by_nation s ON c.nationkey = s.nationkey
ORDER BY nationkey
"""


@register("join_full", oracle=JOIN_FULL_ORACLE)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join preserving unmatched rows from both sides (null-padded)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.alias("c")
        .join(s.alias("s"), F.col("c.nationkey") == F.col("s.nationkey"), "full_outer")
        .select(
            F.coalesce(F.col("c.nationkey"), F.col("s.nationkey")).alias("nationkey"),
            F.coalesce(F.col("c.n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("s.n_supp"), F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


JOIN_SEMI_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 200000)
ORDER BY c_custkey
"""


@register("join_semi", oracle=JOIN_SEMI_ORACLE)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS form): filters the left side, emits no right columns."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


JOIN_ANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


@register("join_anti", oracle=JOIN_ANTI_ORACLE)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT IN / NOT EXISTS form) — stops at first match, no duplication."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


JOIN_CROSS_ORACLE = """
SELECT r_name, p_type, count(*) AS n
FROM region
CROSS JOIN (SELECT DISTINCT p_type FROM part) t
GROUP BY r_name, p_type
ORDER BY r_name, p_type
"""


@register("join_cross", oracle=JOIN_CROSS_ORACLE)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny dims with an explicit crossJoin (the only legal cross)."""
    r = load_table(spark, sf_dir, "region")
    p = load_table(spark, sf_dir, "part").select("p_type").distinct()
    return (
        r.crossJoin(F.broadcast(p))
        .groupBy("r_name", "p_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("r_name", "p_type")
    )


JOIN_THETA_ORACLE = """
SELECT s_suppkey,
       CAST(count(*) AS BIGINT)  AS n_richer_cust,
       max(c_acctbal)            AS max_cust_bal
FROM supplier
JOIN customer ON s_nationkey = c_nationkey AND c_acctbal > s_acctbal
GROUP BY s_suppkey
ORDER BY s_suppkey
"""


@register("join_theta", oracle=JOIN_THETA_ORACLE)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join: equi component (nationkey) drives the shuffle/broadcast,
    the non-equi predicate is evaluated post-match — the scalable shape for
    mixed conditions (a pure theta join would be a broadcast-nested-loop)."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    return (
        F.broadcast(s)
        .join(c, (F.col("s_nationkey") == F.col("c_nationkey")) & (F.col("c_acctbal") > F.col("s_acctbal")))
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_richer_cust"), F.max("c_acctbal").alias("max_cust_bal"))
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Range (band) join
# ---------------------------------------------------------------------------

RANGE_JOIN_ORACLE = """
SELECT band, count(*) AS n_orders, round(sum(o_totalprice), 2) AS band_value
FROM orders
JOIN (VALUES ('small', 0.0, 50000.0),
             ('mid',   50000.0, 150000.0),
             ('big',   150000.0, 1e12)) AS bands(band, lo, hi)
  ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
ORDER BY band
"""


@register("range_join_bands", oracle=RANGE_JOIN_ORACLE)
def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/band join: each fact row matched to its [lo,hi) band; band table broadcast."""
    o = load_table(spark, sf_dir, "orders")
    # SQL VALUES → JVM LocalTableScan: createDataFrame would route the
    # build side through a Python RDD (slow worker spin-up per task)
    bands = spark.sql(
        "SELECT band, CAST(lo AS DOUBLE) lo, CAST(hi AS DOUBLE) hi FROM VALUES "
        "('small', 0.0, 50000.0), ('mid', 50000.0, 150000.0), "
        "('big', 150000.0, 1e12) AS bands(band, lo, hi)"
    )
    return (
        range_join(o, bands, "o_totalprice")
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("band_value"))
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# As-of join: each event ↔ the customer's latest order at event time
# ---------------------------------------------------------------------------

ASOF_ORACLE = """
WITH ord AS (  -- dedupe to one order per (custkey, orderdate): deterministic match
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS asof_orderkey
  FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id,
       ord.asof_orderkey,
       CAST(ord.o_orderdate AS TIMESTAMP) AS asof_order_date
FROM events e
ASOF LEFT JOIN ord ON e.user_id = ord.o_custkey AND e.ts >= ord.o_orderdate
ORDER BY e.event_id
"""


@register("asof_join_events_orders", oracle=ASOF_ORACLE)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via union + window (see operators/joins.py) — one
    shuffle, no row explosion. Oracle uses DuckDB's native ASOF JOIN."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("asof_orderkey"))
    )
    joined = asof_join(
        e,
        o,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_payload=["asof_orderkey", "o_orderdate"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "asof_orderkey",
        # timestamp, not date: this column is NULLable (left as-of), and a
        # nullable date round-trips as python objects while the oracle's
        # comes back datetime64 — same instant, different canonical type
        F.col("o_orderdate").cast("timestamp").alias("asof_order_date"),
    ).orderBy("event_id")


ASOF_FWD_ORACLE = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
purch AS (  -- dedupe to one purchase per (user, ts): deterministic match
  SELECT user_id AS p_user, ts AS p_ts, max(event_id) AS next_purchase_id,
         max(value) AS next_purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id,
       p.next_purchase_id,
       p.p_ts AS next_purchase_ts
FROM clicks c
ASOF LEFT JOIN purch p ON c.user_id = p.p_user AND c.ts <= p.p_ts
ORDER BY c.event_id
"""


@register("asof_join_forward_next_purchase", oracle=ASOF_FWD_ORACLE)
def asof_join_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each click attaches the EARLIEST subsequent
    purchase by the same user (unbounded lookahead — the funnel metric
    "time to next conversion"). Same union+window single-shuffle plan as
    the backward as-of, with the frame flipped to
    currentRow..unboundedFollowing + first(ignorenulls)
    (operators/joins.py::asof_join direction='forward'). Oracle is
    DuckDB's native ASOF with the inequality reversed."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .agg(F.max("event_id").alias("next_purchase_id"))
    )
    joined = asof_join(
        clicks,
        purch,
        left_on="user_id",
        right_on="p_user",
        left_time="ts",
        right_time="p_ts",
        right_payload=["next_purchase_id", "p_ts"],
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        "next_purchase_id",
        F.col("p_ts").alias("next_purchase_ts"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Entity resolution: blocked fuzzy join
# ---------------------------------------------------------------------------

FUZZY_ER_ORACLE = """
WITH dirty AS (
  SELECT p_partkey AS d_key,
         CASE WHEN p_partkey % 3 = 0
              THEN substr(p_name, 1, length(p_name) - 1) || 'x'
              ELSE p_name END AS d_name,
         p_brand AS d_brand,
         p_type AS d_type,
         string_split(p_name, ' ')[1] AS d_tok0,
         string_split(p_name, ' ')[2] AS d_tok1
  FROM part
)
SELECT p.p_partkey AS a_key, d.d_key AS b_key,
       CAST(levenshtein(p.p_name, d.d_name) AS INTEGER) AS dist
FROM part p
JOIN dirty d
  ON p.p_brand = d.d_brand
 AND p.p_type = d.d_type
 AND string_split(p.p_name, ' ')[1] = d.d_tok0
 AND string_split(p.p_name, ' ')[2] IS NOT DISTINCT FROM d.d_tok1
 AND levenshtein(p.p_name, d.d_name) <= 2
ORDER BY a_key, b_key
"""


@register("fuzzy_join_entity_match", oracle=FUZZY_ER_ORACLE)
def fuzzy_join_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution between the part catalog and a deterministically
    'dirtied' copy (every third name has its last char mangled):
    equality blocking on (brand, type, first TWO name tokens) bounds
    candidates, then exact JVM levenshtein <= 2 verifies within blocks
    (operators/joins.py blocked_fuzzy_join). The cartesian-free shape of
    approximate matching that survives 100 TB.

    Blocking-key sizing is the r5b sweep lesson in miniature: with only
    tok0 the duplicate-heavy sf1 replica data built 35.4M candidate
    pairs for 6.1M true matches (78 s); adding tok1 drops the excess
    29M candidates and — measured on both SFs — loses ZERO matches
    (the dirt model touches only the LAST character, so any pair
    within edit distance 2 agrees on the first two tokens). Finer
    blocks with data growth is standard ER practice; multiple blocking
    passes union when a dirt model can damage early tokens."""
    from gcs2postgres_spark.operators.joins import blocked_fuzzy_join

    p = load_table(spark, sf_dir, "part")
    left = p.select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        F.split("p_name", " ")[0].alias("p_tok0"),
        F.split("p_name", " ")[1].alias("p_tok1"),
    )
    dirty = p.select(
        F.col("p_partkey").alias("d_key"),
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.concat(
                F.expr("substr(p_name, 1, length(p_name) - 1)"), F.lit("x")
            ),
        )
        .otherwise(F.col("p_name"))
        .alias("d_name"),
        F.col("p_brand").alias("d_brand"),
        F.col("p_type").alias("d_type"),
        F.split("p_name", " ")[0].alias("d_tok0"),
        F.split("p_name", " ")[1].alias("d_tok1"),
    )
    matched = blocked_fuzzy_join(
        left,
        dirty,
        "p_name",
        "d_name",
        [
            ("p_brand", "d_brand"),
            ("p_type", "d_type"),
            ("p_tok0", "d_tok0"),
            ("p_tok1", "d_tok1"),
        ],
        max_dist=2,
    )
    return matched.select(
        F.col("p_partkey").alias("a_key"),
        F.col("d_key").alias("b_key"),
        F.levenshtein("p_name", "d_name").alias("dist"),
    ).orderBy("a_key", "b_key")


FUZZY_TOPK_ORACLE = """
WITH dirty AS (
  SELECT p_partkey AS d_key,
         CASE WHEN p_partkey % 3 = 0
              THEN substr(p_name, 1, length(p_name) - 1) || 'x'
              ELSE p_name END AS d_name,
         p_brand AS d_brand,
         p_type AS d_type,
         string_split(p_name, ' ')[1] AS d_tok0,
         string_split(p_name, ' ')[2] AS d_tok1
  FROM part
),
cand AS (
  SELECT p.p_partkey AS a_key, d.d_key AS b_key,
         CAST(levenshtein(p.p_name, d.d_name) AS INTEGER) AS dist
  FROM part p
  JOIN dirty d
    ON p.p_brand = d.d_brand
   AND p.p_type = d.d_type
   AND string_split(p.p_name, ' ')[1] = d.d_tok0
   AND string_split(p.p_name, ' ')[2] IS NOT DISTINCT FROM d.d_tok1
   AND levenshtein(p.p_name, d.d_name) <= 2
),
ranked AS (
  SELECT a_key, b_key, dist,
         row_number() OVER (PARTITION BY a_key ORDER BY dist, b_key) AS rn
  FROM cand
)
SELECT a_key, b_key, dist
FROM ranked WHERE rn <= 2
ORDER BY a_key, b_key
"""


@register("fuzzy_join_topk_per_entity", oracle=FUZZY_TOPK_ORACLE)
def fuzzy_join_topk_per_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution with graceful degradation: same blocking +
    levenshtein verify as fuzzy_join_entity_match, but capped to the
    k=2 BEST matches per left entity (ties broken by right key —
    deterministic), via operators/joins.py::blocked_fuzzy_join_topk.

    This is the answer to the full bipartite match set's Ω(output)
    blow-up on duplicate-heavy data (sf3: 166 s, ~9× quadratic output
    growth): output is bounded by k·|left| no matter how pathological a
    block gets, and WindowGroupLimit's rank-limit pushdown prunes each
    map partition to k rows per key before the window shuffle — a hot
    block's candidate pairs never all cross the wire. Real ER pipelines
    consume exactly this shape (best candidate(s) per entity, not every
    pair)."""
    from gcs2postgres_spark.operators.joins import blocked_fuzzy_join_topk

    p = load_table(spark, sf_dir, "part")
    left = p.select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        F.split("p_name", " ")[0].alias("p_tok0"),
        F.split("p_name", " ")[1].alias("p_tok1"),
    )
    dirty = p.select(
        F.col("p_partkey").alias("d_key"),
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.concat(
                F.expr("substr(p_name, 1, length(p_name) - 1)"), F.lit("x")
            ),
        )
        .otherwise(F.col("p_name"))
        .alias("d_name"),
        F.col("p_brand").alias("d_brand"),
        F.col("p_type").alias("d_type"),
        F.split("p_name", " ")[0].alias("d_tok0"),
        F.split("p_name", " ")[1].alias("d_tok1"),
    )
    matched = blocked_fuzzy_join_topk(
        left,
        dirty,
        "p_name",
        "d_name",
        [
            ("p_brand", "d_brand"),
            ("p_type", "d_type"),
            ("p_tok0", "d_tok0"),
            ("p_tok1", "d_tok1"),
        ],
        left_key="p_partkey",
        right_order=["d_key"],
        max_dist=2,
        k=2,
    )
    return matched.select(
        F.col("p_partkey").alias("a_key"),
        F.col("d_key").alias("b_key"),
        F.col("dist"),
    ).orderBy("a_key", "b_key")
