"""Round-5 analytics / data-quality tier: gaps-and-islands streaks,
SCD Type-2 interval builds, scale-safe equi-depth histograms, CUSUM
changepoints, linear-interpolation gap fill, RFM segmentation,
referential-integrity audits, Benford first-digit screening, a
prefix-filtered set-similarity join (PPJoin-style), bounded-depth BFS,
explicit higher-moment statistics, rolling OLS slopes, join-key skew
profiling, exact weighted medians, deterministic domain interleaving,
watermark late-event classification, per-supplier ship-latency
percentiles, and user survival curves.

Reference parity: none of these exist in the 523-LoC Go reference
(src/db/db.go delegates all analytics to BigQuery); they extend the
beyond-reference engine tier the same way the corpus/graph/similarity
batteries do, each with a full DuckDB oracle.

Determinism engineering (the house rules): money in integer cents,
thresholds as rationals evaluated in integer arithmetic, floats rounded
to 6 on BOTH engines, every ORDER BY totally ordered by a unique key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.functions.exact import exact_intdiv, ratio_6dp
from gcs2postgres_spark.operators.prefix import driver_prefix_max, driver_prefix_sums
from gcs2postgres_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-day activity streak per user
# ---------------------------------------------------------------------------

LONGEST_STREAK_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), isl AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS anchor
  FROM days
), streak AS (
  SELECT user_id, anchor, count(*) AS len, min(day) AS start
  FROM isl GROUP BY 1, 2
), mx AS (
  SELECT user_id, max(len) AS longest FROM streak GROUP BY 1
)
SELECT s.user_id,
       CAST(m.longest AS BIGINT) AS longest_streak,
       min(s.start) AS streak_start
FROM streak s JOIN mx m ON s.user_id = m.user_id AND s.len = m.longest
GROUP BY s.user_id, m.longest
ORDER BY s.user_id
"""


@register("events_longest_streak", oracle=LONGEST_STREAK_ORACLE)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive active DAYS per user — the classic
    gaps-and-islands shape: distinct (user, day), then day − row_number
    is constant exactly within a consecutive run (the island anchor),
    so one groupBy collapses each run and a max picks the longest
    (earliest start wins ties, a total order). Two shuffles on user_id
    total, window state O(1) per row — scales to any user count because
    the only window partitions by the user key."""
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.withColumn("anchor", F.date_sub(F.col("day"), F.row_number().over(w)))
    streak = isl.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start")
    )
    wmx = Window.partitionBy("user_id")
    return (
        streak.withColumn("mx", F.max("len").over(wmx))
        .filter(F.col("len") == F.col("mx"))
        .groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak"),
            F.min("start").alias("streak_start"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# SCD Type-2 interval build from a change stream
# ---------------------------------------------------------------------------

SCD2_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), ch AS (
  SELECT user_id, event_type AS state, ts, event_id
  FROM ordered WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, state,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       CAST(row_number() OVER w AS BIGINT) AS version,
       lead(ts) OVER w IS NULL AS is_current
FROM ch
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, version
"""


@register("scd2_state_intervals", oracle=SCD2_ORACLE)
def scd2_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build: collapse each user's
    event stream into validity intervals of its ``event_type`` state —
    keep only change rows (lag differs), then valid_from = change ts,
    valid_to = next change ts (NULL = current), with a version counter.
    The dimension-history shape every warehouse maintains; here derived
    in two windows over one user_id shuffle. At 100 TB the state stays
    O(1) per row and the partition key is the natural entity key."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (
        e.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select("user_id", F.col("event_type").alias("state"), "ts", "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ch.select(
            "user_id",
            "state",
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w2).alias("valid_to"),
            F.row_number().over(w2).cast("long").alias("version"),
            F.lead("ts").over(w2).isNull().alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


# ---------------------------------------------------------------------------
# Equi-depth (decile) histogram via two-phase global rank
# ---------------------------------------------------------------------------

EQUIDEPTH_ORACLE = """
WITH r AS (
  SELECT value,
         row_number() OVER (ORDER BY value, event_id) AS rn,
         count(*) OVER () AS n
  FROM events
)
SELECT CAST(floor((rn - 1) * 10 / n) AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(min(value), 6) AS lo,
       round(max(value), 6) AS hi,
       round(avg(value), 6) AS avg_value
FROM r GROUP BY 1 ORDER BY 1
"""


@register("events_equidepth_deciles", oracle=EQUIDEPTH_ORACLE)
def events_equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (10 equal-count bins) of events.value. The
    global rank is TWO-PHASE, the same shape as part_pareto_abc:
    range-partition on the total order (value, event_id — event_id is
    unique so the order is total), per-partition row_number in parallel,
    then add back broadcast per-partition count offsets (a
    partition-count-sized frame). No single-task global window — the
    operator scales to any row count, unlike a naive
    ``row_number() OVER (ORDER BY value)``. Bin = floor((rank-1)*10/n);
    the division's only near-integer cases are exactly-divisible ones,
    which IEEE doubles return exactly, so floor agrees on both engines."""
    e = load_table(spark, sf_dir, "events").select("value", "event_id")
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # one physical execution for every branch (see
    # events_watermark_late_drop for the misalignment flake this blocks)
    ranged = (
        e.repartitionByRange(n_parts, F.asc("value"), F.asc("event_id"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_in = Window.partitionBy("pid").orderBy("value", "event_id")
    ranged = ranged.withColumn("rn_in", F.row_number().over(w_in))
    # exclusive prefix counts folded driver-side (operators/prefix.py:
    # one row per partition, config-bounded) — replaces the 32-row
    # global window + broadcast join
    pref, tot = driver_prefix_sums(ranged.withColumn("one", F.lit(1)), ["one"])
    decile = F.floor(
        (F.col("rn_in") + pref["one"] - 1) * 10 / F.lit(tot["one"]).cast("long")
    ).cast("long")
    return (
        ranged.select(decile.alias("decile"), "value")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection over daily means
# ---------------------------------------------------------------------------

CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS m
  FROM events GROUP BY 1, 2
), st AS (
  SELECT event_type, day, m,
         avg(m) OVER (PARTITION BY event_type) AS mu,
         stddev_samp(m) OVER (PARTITION BY event_type) AS sd
  FROM daily
), cu AS (
  SELECT event_type, day,
         round(abs(sum((m - mu) / sd) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS ac
  FROM st
), mx AS (
  SELECT event_type, max(ac) AS mac, CAST(count(*) AS BIGINT) AS n_days
  FROM cu GROUP BY 1
)
SELECT c.event_type, min(c.day) AS cp_day, m.mac AS max_abs_cusum, m.n_days
FROM cu c JOIN mx m ON c.event_type = m.event_type AND c.ac = m.mac
GROUP BY c.event_type, m.mac, m.n_days
ORDER BY c.event_type
"""


@register("events_cusum_changepoint", oracle=CUSUM_ORACLE)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen per event_type: standardize the DAILY
    mean series (so the sequential window runs over a calendar-bounded
    frame, not the raw event count — the aggregate-then-window pattern
    that keeps per-key sequential state independent of data scale),
    accumulate (m−μ)/σ in day order, and report the day where |CUSUM|
    peaks (earliest on ties) — the classic location-shift detector.
    One groupBy shuffle over the raw events; everything after runs on
    |types|×|days| rows."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.avg("value").alias("m")
    )
    wt = Window.partitionBy("event_type")
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    st = daily.withColumn("mu", F.avg("m").over(wt)).withColumn(
        "sd", F.stddev_samp("m").over(wt)
    )
    cu = st.select(
        "event_type",
        "day",
        F.round(
            F.abs(F.sum((F.col("m") - F.col("mu")) / F.col("sd")).over(wc)), 6
        ).alias("ac"),
    )
    mx = cu.groupBy("event_type").agg(
        F.max("ac").alias("mac"), F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return (
        cu.join(mx, "event_type")
        .filter(F.col("ac") == F.col("mac"))
        .groupBy("event_type", "mac", "n_days")
        .agg(F.min("day").alias("cp_day"))
        .select(
            "event_type", "cp_day", F.col("mac").alias("max_abs_cusum"), "n_days"
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Grid resample with LINEAR INTERPOLATION (complement of ffill)
# ---------------------------------------------------------------------------

RESAMPLE_INTERP_ORACLE = """
WITH ev AS (
  SELECT user_id, ts, max_by(value, event_id) AS value
  FROM events WHERE user_id < 40
  GROUP BY user_id, ts
), bounds AS (
  SELECT user_id, date_trunc('day', min(ts)) AS t0, max(ts) AS t1
  FROM ev GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS grid_ts
  FROM bounds
), un AS (
  SELECT user_id, ts AS t, value, 0 AS g FROM ev
  UNION ALL
  SELECT user_id, grid_ts, NULL, 1 FROM grid
), f AS (
  SELECT user_id, t, g,
    last_value(CASE WHEN g = 0 THEN struct_pack(ot := t, ov := value) END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY t, g
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
    first_value(CASE WHEN g = 0 THEN struct_pack(ot := t, ov := value) END IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY t, g
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
  FROM un
)
SELECT user_id, t AS grid_ts,
  round(CASE
    WHEN prev IS NOT NULL AND nxt IS NOT NULL THEN
      prev.ov + (nxt.ov - prev.ov)
        * (epoch_us(t) / 1000000.0 - epoch_us(prev.ot) / 1000000.0)
        / (epoch_us(nxt.ot) / 1000000.0 - epoch_us(prev.ot) / 1000000.0)
    WHEN prev IS NOT NULL THEN prev.ov
    ELSE nxt.ov END, 6) AS value
FROM f WHERE g = 1
ORDER BY user_id, grid_ts
"""


@register("events_resample_interp", oracle=RESAMPLE_INTERP_ORACLE)
def events_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style resample onto a 6-hour grid with LINEAR
    interpolation between the surrounding observations (ffill past the
    last observation, bfill before the first) — the numeric-sensor
    complement of events_resample_ffill. Implementation is the
    union+window as-of shape run in BOTH directions at once: tag
    observation and grid rows, one user_id shuffle, carry the last
    observation (ts,value) struct forward and the next one backward
    with IGNORE NULLS window functions, then one arithmetic expression
    per grid row. O(|grid|+|events|) state, no per-key explosion, no
    UDF. A grid point that coincides with an observation gets fraction
    exactly 0 (the observation sorts before the grid row), so the
    observed value passes through bit-exactly. The user_id < 40 cap
    bounds only the oracle's runtime, not the operator."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    ev = e.groupBy("user_id", "ts").agg(F.max_by("value", "event_id").alias("value"))
    grid = (
        ev.groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).alias("t0"), F.max("ts").alias("t1"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(t0, t1, interval 6 hours)")).alias("grid_ts"),
        )
    )
    obs = ev.select("user_id", F.col("ts").alias("t"), "value", F.lit(0).alias("g"))
    gr = grid.select(
        "user_id",
        F.col("grid_ts").alias("t"),
        F.lit(None).cast("double").alias("value"),
        F.lit(1).alias("g"),
    )
    un = obs.unionByName(gr)
    ob = F.when(
        F.col("g") == 0,
        F.struct(F.col("t").alias("ot"), F.col("value").alias("ov")),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("t", "g")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("t", "g")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    f = un.select(
        "user_id",
        "t",
        "g",
        F.last(ob, ignorenulls=True).over(wp).alias("prev"),
        F.first(ob, ignorenulls=True).over(wn).alias("nxt"),
    )
    sec = lambda c: F.col(c).cast("double")  # noqa: E731
    interp = F.col("prev.ov") + (F.col("nxt.ov") - F.col("prev.ov")) * (
        sec("t") - F.col("prev.ot").cast("double")
    ) / (F.col("nxt.ot").cast("double") - F.col("prev.ot").cast("double"))
    val = (
        F.when(F.col("prev").isNotNull() & F.col("nxt").isNotNull(), interp)
        .when(F.col("prev").isNotNull(), F.col("prev.ov"))
        .otherwise(F.col("nxt.ov"))
    )
    return (
        f.filter(F.col("g") == 1)
        .select("user_id", F.col("t").alias("grid_ts"), F.round(val, 6).alias("value"))
        .orderBy("user_id", "grid_ts")
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation with exact integer money
# ---------------------------------------------------------------------------

RFM_ORACLE = """
WITH per_c AS (
  SELECT o_custkey,
         max(CAST(o_orderdate AS DATE)) AS last_order,
         count(*) AS freq,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_c
  FROM orders GROUP BY 1
), ref AS (SELECT max(CAST(o_orderdate AS DATE)) AS ref_date FROM orders),
rfm AS (
  SELECT o_custkey,
         date_diff('day', last_order, ref_date) AS recency,
         freq, monetary_c
  FROM per_c CROSS JOIN ref
), q AS (
  SELECT quantile_cont(recency, 0.25) AS r1, quantile_cont(recency, 0.50) AS r2,
         quantile_cont(recency, 0.75) AS r3,
         quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.50) AS f2,
         quantile_cont(freq, 0.75) AS f3,
         quantile_cont(monetary_c, 0.25) AS m1, quantile_cont(monetary_c, 0.50) AS m2,
         quantile_cont(monetary_c, 0.75) AS m3
  FROM rfm
), scored AS (
  SELECT concat(
           CAST(CASE WHEN recency <= r1 THEN 1 WHEN recency <= r2 THEN 2
                     WHEN recency <= r3 THEN 3 ELSE 4 END AS VARCHAR),
           CAST(CASE WHEN freq <= f1 THEN 1 WHEN freq <= f2 THEN 2
                     WHEN freq <= f3 THEN 3 ELSE 4 END AS VARCHAR),
           CAST(CASE WHEN monetary_c <= m1 THEN 1 WHEN monetary_c <= m2 THEN 2
                     WHEN monetary_c <= m3 THEN 3 ELSE 4 END AS VARCHAR)
         ) AS segment,
         recency, monetary_c
  FROM rfm CROSS JOIN q
)
SELECT segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST((sum(recency) * 1000000) // count(*) AS BIGINT) / 1e6 AS avg_recency,
       CAST((CAST(sum(monetary_c) AS HUGEINT) * 10000) // count(*) AS BIGINT) / 1e6
         AS avg_monetary
FROM scored GROUP BY 1 ORDER BY 1
"""


@register("customer_rfm_segments", oracle=RFM_ORACLE)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation of customers
    from their orders: per-customer metrics, quartile band per metric
    (band edges = exact continuous quantiles), segment label 'RFM' in
    band digits, then per-segment counts and means. Scale-safe by
    construction: quartile edges come from ONE scalar aggregate (a
    1-row broadcast) and binning is a map-side CASE — no global window,
    no ntile over a single task (the trap the two-phase queries avoid).
    Monetary is exact integer cents so quartile edges and comparisons
    sit on exact values; recency/frequency are ints already. Quantile
    definition (linear interpolation at p·(n−1)) matches Spark
    percentile == DuckDB quantile_cont on exact integer inputs."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_c = o.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(cents).alias("monetary_c"),
    )
    ref = o.agg(F.max(F.to_date("o_orderdate")).alias("ref_date"))
    rfm = per_c.crossJoin(F.broadcast(ref)).select(
        "o_custkey",
        F.datediff("ref_date", "last_order").cast("long").alias("recency"),
        "freq",
        "monetary_c",
    )
    q = rfm.agg(
        F.percentile("recency", 0.25).alias("r1"),
        F.percentile("recency", 0.50).alias("r2"),
        F.percentile("recency", 0.75).alias("r3"),
        F.percentile("freq", 0.25).alias("f1"),
        F.percentile("freq", 0.50).alias("f2"),
        F.percentile("freq", 0.75).alias("f3"),
        F.percentile("monetary_c", 0.25).alias("m1"),
        F.percentile("monetary_c", 0.50).alias("m2"),
        F.percentile("monetary_c", 0.75).alias("m3"),
    )

    def band(v: str, a: str, b: str, c: str):
        return (
            F.when(F.col(v) <= F.col(a), 1)
            .when(F.col(v) <= F.col(b), 2)
            .when(F.col(v) <= F.col(c), 3)
            .otherwise(4)
            .cast("string")
        )

    scored = rfm.crossJoin(F.broadcast(q)).select(
        F.concat(
            band("recency", "r1", "r2", "r3"),
            band("freq", "f1", "f2", "f3"),
            band("monetary_c", "m1", "m2", "m3"),
        ).alias("segment"),
        "recency",
        "monetary_c",
    )
    # Segment means via exact integer FLOOR division at 6 decimals —
    # round(avg(double), 6) sat on a real half-ulp knife edge
    # (avg_monetary ...4396875 rounded 688 on Spark, 687 on DuckDB in
    # the r5b driver-sim); integer `DIV`/`//` is engine-exact and the
    # /1e6 re-scale is an exact double below 2^53. decimal(38) on the
    # Spark side and HUGEINT in the oracle keep the ×10⁴ product exact
    # at any scale factor.
    return (
        scored.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("recency").alias("sum_rec"),
            F.sum("monetary_c").alias("sum_mon"),
        )
        .select(
            "segment",
            "n_customers",
            ratio_6dp(F.col("sum_rec"), F.col("n_customers")).alias(
                "avg_recency"
            ),
            (
                exact_intdiv(
                    F.col("sum_mon").cast("decimal(38,0)") * 10000,
                    F.col("n_customers"),
                ).cast("long")
                / 1e6
            ).alias("avg_monetary"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit (FK orphan counts)
# ---------------------------------------------------------------------------

FK_ORPHANS_ORACLE = """
SELECT * FROM (
  SELECT 'customer.c_nationkey->nation' AS constraint_name,
         (SELECT count(*) FROM customer) AS child_rows,
         (SELECT count(*) FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS orphan_rows
  UNION ALL
  SELECT 'lineitem.l_orderkey->orders',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem l
           WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
  UNION ALL
  SELECT 'lineitem.l_partkey->part',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem l
           WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
  UNION ALL
  SELECT 'lineitem.l_suppkey->supplier',
         (SELECT count(*) FROM lineitem),
         (SELECT count(*) FROM lineitem l
           WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
  UNION ALL
  SELECT 'orders.o_custkey->customer',
         (SELECT count(*) FROM orders),
         (SELECT count(*) FROM orders o
           WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
)
ORDER BY constraint_name
"""


@register("dq_fk_orphans", oracle=FK_ORPHANS_ORACLE)
def dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for each declared FK edge of the
    star schema, count child rows and orphans (child keys with no
    parent) — the first data-quality gate any warehouse load runs.
    Each orphan count is a LEFT ANTI join on the key (Catalyst turns
    small parents into broadcast anti joins automatically; fact-sized
    parents shuffle on the key) reduced to a scalar — five bounded
    aggregates unioned, nothing wide ever materialized."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")

    def audit(child: DataFrame, ckey: str, parent: DataFrame, pkey: str, name: str) -> DataFrame:
        total = child.agg(F.count(F.lit(1)).alias("child_rows"))
        orphans = child.join(
            parent, child[ckey] == parent[pkey], "left_anti"
        ).agg(F.count(F.lit(1)).alias("orphan_rows"))
        return total.crossJoin(orphans).select(
            F.lit(name).alias("constraint_name"), "child_rows", "orphan_rows"
        )

    out = (
        audit(c, "c_nationkey", n, "n_nationkey", "customer.c_nationkey->nation")
        .unionByName(audit(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey->orders"))
        .unionByName(audit(li, "l_partkey", p, "p_partkey", "lineitem.l_partkey->part"))
        .unionByName(audit(li, "l_suppkey", s, "s_suppkey", "lineitem.l_suppkey->supplier"))
        .unionByName(audit(o, "o_custkey", c, "c_custkey", "orders.o_custkey->customer"))
    )
    return out.orderBy("constraint_name")


# ---------------------------------------------------------------------------
# Benford first-digit screening
# ---------------------------------------------------------------------------

BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders
), n AS (SELECT count(*) AS total FROM d)
SELECT digit,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(count(*) * 1.0 / n.total, 6) AS share,
       round(log10(1 + 1.0 / digit), 6) AS benford_expected,
       round(abs(count(*) * 1.0 / n.total - log10(1 + 1.0 / digit)), 6) AS abs_dev
FROM d CROSS JOIN n
GROUP BY digit, n.total
ORDER BY digit
"""


@register("dq_benford_first_digit", oracle=BENFORD_ORACLE)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screen on order totals — the standard
    anomaly/fraud sniff test for money columns. The first significant
    digit is taken from the INTEGER cents string (scaling by 100 never
    changes the leading significant digit), not from float log10 math,
    so no engine's libm rounding near powers of ten can flip a digit.
    One map-side projection + a 9-group aggregate; the expected share
    log10(1+1/d) is a literal per group."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    d = o.select(digit.alias("digit"))
    n = d.agg(F.count(F.lit(1)).alias("total"))
    share_raw = F.count(F.lit(1)) * 1.0 / F.first("total")
    expected_raw = F.log10(1 + 1.0 / F.col("digit"))
    return (
        d.crossJoin(F.broadcast(n))
        .groupBy("digit")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(share_raw, 6).alias("share"),
            F.round(F.abs(share_raw - F.log10(1 + 1.0 / F.col("digit"))), 6).alias(
                "abs_dev"
            ),
        )
        .select(
            "digit",
            "n_orders",
            "share",
            F.round(expected_raw, 6).alias("benford_expected"),
            "abs_dev",
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity self-join (PPJoin-style)
# ---------------------------------------------------------------------------

PREFIX_JACCARD_ORACLE = """
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))) AS tok
  FROM documents WHERE doc_id < 1000
), sizes AS MATERIALIZED (
  SELECT doc_id, count(*) AS n FROM toks GROUP BY 1
), inter AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 6) AS jaccard
FROM inter
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE 5 * ni >= 3 * (sa.n + sb.n - ni)
ORDER BY id_a, id_b
"""


@register("dedup_jaccard_prefix_filter", oracle=PREFIX_JACCARD_ORACLE)
def dedup_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard self-join at threshold 3/5 via PREFIX FILTERING
    (PPJoin-style): candidates only need to share a token from each
    doc's rarest ``n − ceil(t·n) + 1`` tokens under a global
    document-frequency order — provably complete for Jaccard ≥ t, while
    the frequent tokens that would fan out quadratically are exactly
    the ones the prefix drops. The oracle computes the FULL all-pairs
    answer; equality certifies the completeness of the filter, not just
    the verify step. Threshold arithmetic is exact-rational on both
    sides (5·inter ≥ 3·union), so no float edge can flip a pair.
    The doc_id < 1000 cap bounds only the ORACLE's all-pairs join (a
    no-op at the sf0.01 driver compare; the uncapped run passed the
    sf0.1 soak in 403 s, oracle-dominated) — the uncapped capability is
    operators/dedup.prefix_jaccard_pairs, property-tested complete vs
    brute force in tests/test_properties.py."""
    from gcs2postgres_spark.operators.dedup import prefix_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return prefix_jaccard_pairs(
        docs, "doc_id", "text", threshold_num=3, threshold_den=5
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Bounded-depth BFS over the purchase graph
# ---------------------------------------------------------------------------

BFS_ORACLE = """
WITH e AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), und AS (
  SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e
), d0 AS (
  SELECT DISTINCT src AS node FROM e WHERE CAST(substr(src, 2) AS BIGINT) % 100 = 0
), d1 AS (
  SELECT DISTINCT u.b AS node FROM und u JOIN d0 ON u.a = d0.node
  EXCEPT SELECT node FROM d0
), d2 AS (
  SELECT DISTINCT u.b AS node FROM und u JOIN d1 ON u.a = d1.node
  EXCEPT (SELECT node FROM d0 UNION ALL SELECT node FROM d1)
), d3 AS (
  SELECT DISTINCT u.b AS node FROM und u JOIN d2 ON u.a = d2.node
  EXCEPT (SELECT node FROM d0 UNION ALL SELECT node FROM d1
          UNION ALL SELECT node FROM d2)
)
SELECT CAST(0 AS BIGINT) AS dist, CAST(count(*) AS BIGINT) AS n_nodes FROM d0
UNION ALL SELECT 1, count(*) FROM d1
UNION ALL SELECT 2, count(*) FROM d2
UNION ALL SELECT 3, count(*) FROM d3
ORDER BY dist
"""


@register("graph_bfs_3hop", oracle=BFS_ORACLE)
def graph_bfs_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS (3 hops) from seed customers (custkey % 100 =
    0) over the undirected customer↔supplier purchase graph: layer
    sizes at each distance — 'how far does a recall/contamination blast
    radius reach in 3 steps'. Per hop: one key-partitioned join +
    distinct + anti-join against visited, frontier localCheckpointed
    (operators/graph.bfs_layers). The oracle unrolls the same 3 hops as
    chained EXCEPT CTEs."""
    from gcs2postgres_spark.operators.graph import bfs_layers

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # per-hop COUNTS are the output → node identity is internal; longs
    # (cust 2k, supp 2k+1) instead of "c{key}"/"s{key}" strings keep
    # the frontier joins and per-hop checkpoints cheap
    # persist the distinct edge list: three consumers (both
    # symmetrization arms, the seed scan) would each re-run the
    # orders⋈lineitem join + distinct from parquet when bfs_layers
    # eagerly checkpoints its edge frame (guide §2.4)
    from gcs2postgres_spark.operators.caching import maybe_persist

    e = maybe_persist(
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("src"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = e.filter(
        F.col("src") % 200 == 0  # 2·custkey ≡ 0 (mod 200) ⇔ custkey % 100 = 0
    ).select(F.col("src").alias("node"))
    layers = bfs_layers(und, seeds, n_hops=3)
    counts = layers.groupBy(F.col("dist").cast("long").alias("dist")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    # Emit every hop 0..3 even when a frontier exhausts (the oracle's
    # scalar count() yields a 0 row for an empty layer; groupBy would
    # silently drop it) — a 4-row literal spine left-joins the counts.
    spine = spark.range(4).select(F.col("id").alias("dist"))
    return (
        spine.join(counts, "dist", "left")
        .select("dist", F.coalesce("n_nodes", F.lit(0)).alias("n_nodes"))
        .orderBy("dist")
    )


# ---------------------------------------------------------------------------
# Higher moments: explicit skewness / excess kurtosis
# ---------------------------------------------------------------------------

MOMENTS_ORACLE = """
WITH mu AS (
  SELECT event_type, avg(value) AS mu FROM events GROUP BY 1
), d AS (
  SELECT e.event_type, e.value - m.mu AS d
  FROM events e JOIN mu m ON e.event_type = m.event_type
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(d * d * d) / pow(avg(d * d), 1.5), 6) AS skewness,
       round(avg(d * d * d * d) / (avg(d * d) * avg(d * d)) - 3, 6) AS kurtosis_excess
FROM d GROUP BY event_type ORDER BY event_type
"""


@register("agg_higher_moments", oracle=MOMENTS_ORACLE)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness (m3/m2^1.5) and excess kurtosis (m4/m2²−3)
    per event_type, computed TWO-PASS from explicit central moments —
    the mean joins back (a |types|-row broadcast) and each engine
    evaluates the identical Σ(x−μ)^k formulas, so the cross-engine
    definition gap between 'sample' and 'population' builtin variants
    never enters. Two shuffles on the group key; the one-pass
    raw-moment identity (m2 = E[x²]−μ²) is deliberately avoided — its
    catastrophic cancellation is the classic distributed-stats bug."""
    e = load_table(spark, sf_dir, "events").select("event_type", "value")
    mu = e.groupBy("event_type").agg(F.avg("value").alias("mu"))
    d = e.join(F.broadcast(mu), "event_type").select(
        "event_type", (F.col("value") - F.col("mu")).alias("d")
    )
    dd = F.col("d") * F.col("d")
    return (
        d.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(dd).alias("m2"),
            F.avg(dd * F.col("d")).alias("m3"),
            F.avg(dd * dd).alias("m4"),
        )
        .select(
            "event_type",
            "n",
            F.round(F.col("m3") / F.pow(F.col("m2"), 1.5), 6).alias("skewness"),
            F.round(F.col("m4") / (F.col("m2") * F.col("m2")) - 3, 6).alias(
                "kurtosis_excess"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Rolling OLS slope (trailing-20 trend per user)
# ---------------------------------------------------------------------------

ROLLING_SLOPE_ORACLE = """
WITH x AS (
  SELECT user_id, event_id, ts, value,
         epoch_us(ts) / 1000000.0
           - min(epoch_us(ts) / 1000000.0) OVER (PARTITION BY user_id) AS xs
  FROM events
), s AS (
  SELECT user_id, event_id,
         count(*) OVER w AS n,
         sum(xs) OVER w AS sx,
         sum(value) OVER w AS sy,
         sum(xs * value) OVER w AS sxy,
         sum(xs * xs) OVER w AS sxx
  FROM x
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       round(3600.0 * (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0), 6)
         AS slope_per_hour
FROM s
ORDER BY user_id, event_id
"""


@register("events_rolling_slope", oracle=ROLLING_SLOPE_ORACLE)
def events_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-20-event OLS trend slope (value per HOUR) per user — the
    streaming-feature complement of events_ewma_zscore. One window pass
    accumulates the five classical sums (n, Σx, Σy, Σxy, Σx²) and the
    closed form (nΣxy−ΣxΣy)/(nΣx²−(Σx)²) needs no second scan. The time
    axis is re-based to each user's first event (a per-partition min —
    same single shuffle) so Σx² stays ~1e12 instead of ~1e18: without
    the re-base, the epoch-squared sums cancel catastrophically in the
    denominator and the slope decays to noise — the classic numerical
    trap of streaming regression. NULL slope when the window has no
    time spread (denominator exactly 0 on both engines)."""
    e = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    wk = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    sec = F.col("ts").cast("double")
    x = e.withColumn("xs", sec - F.min(sec).over(wu))
    n = F.count(F.lit(1)).over(wk)
    sx = F.sum("xs").over(wk)
    sy = F.sum("value").over(wk)
    sxy = F.sum(F.col("xs") * F.col("value")).over(wk)
    sxx = F.sum(F.col("xs") * F.col("xs")).over(wk)
    slope = (
        F.lit(3600.0)
        * (n * sxy - sx * sy)
        / F.nullif(n * sxx - sx * sx, F.lit(0.0))
    )
    return (
        x.select("user_id", "event_id", F.round(slope, 6).alias("slope_per_hour"))
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Join-key skew profiler (run BEFORE choosing a salting strategy)
# ---------------------------------------------------------------------------

KEY_SKEW_ORACLE = """
WITH ck AS (
  SELECT 'l_orderkey' AS key_col, l_orderkey AS k FROM lineitem
  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem
), cnt AS (
  SELECT key_col, k, count(*) AS c FROM ck GROUP BY 1, 2
)
SELECT key_col,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(max(c) AS BIGINT) AS top1_count,
       round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top1_share,
       round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy_bits
FROM cnt GROUP BY key_col ORDER BY key_col
"""


@register("profile_key_skew", oracle=KEY_SKEW_ORACLE)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for every lineitem join key: cardinality,
    heaviest-key share, and Shannon entropy of the key distribution —
    the numbers that decide between a plain shuffle join, AQE skew
    split, or explicit salting (operators/skew.py) BEFORE the join
    runs. Entropy uses the aggregation identity
    H = log2(n) − Σc·log2(c)/n so one pass over the per-key counts
    suffices (no per-row probabilities materialized). Each column
    profiles through one groupBy + one scalar-sized aggregate —
    map-side partials all the way; the three profiles union to a 3-row
    frame."""
    li = load_table(spark, sf_dir, "lineitem")

    def profile(col: str) -> DataFrame:
        cnt = li.groupBy(F.col(col).alias("k")).agg(F.count(F.lit(1)).alias("c"))
        return cnt.agg(
            F.lit(col).alias("key_col"),
            F.sum("c").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top1_count"),
            F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("top1_share"),
            F.round(
                F.log2(F.sum("c")) - F.sum(F.col("c") * F.log2("c")) / F.sum("c"), 6
            ).alias("entropy_bits"),
        )

    return (
        profile("l_orderkey")
        .unionByName(profile("l_partkey"))
        .unionByName(profile("l_suppkey"))
        .orderBy("key_col")
    )


# ---------------------------------------------------------------------------
# Exact weighted median via two-phase cumulative weights
# ---------------------------------------------------------------------------

WEIGHTED_MEDIAN_ORACLE = """
WITH w AS (
  SELECT l_extendedprice AS price,
         CAST(round(l_quantity) AS BIGINT) AS wt,
         l_orderkey, l_linenumber
  FROM lineitem
), c AS (
  SELECT price, wt,
         sum(wt) OVER (ORDER BY price, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         sum(wt) OVER () AS total
  FROM w
)
SELECT round(min(price), 2) AS weighted_median_price,
       CAST(max(total) AS BIGINT) AS total_weight
FROM c WHERE 2 * cumw >= total
"""


@register("lineitem_weighted_median", oracle=WEIGHTED_MEDIAN_ORACLE)
def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-weighted median of the line price — the inventory
    question 'what price sits at the middle unit shipped'. Third use of
    the repo's two-phase distributed cumsum primitive (part_pareto_abc,
    events_equidepth_deciles): range-partition on the total order
    (price, orderkey, linenumber), per-partition running weight sums in
    parallel, add broadcast per-partition offsets, then ONE scalar
    aggregate picks the first row whose doubled cumulative weight
    reaches the total. Weights are exact integers (quantity), so the
    2·cumw ≥ W comparison can never float-flip. No single-task global
    window anywhere — the selection scales to any row count."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("price"),
        F.round("l_quantity").cast("long").alias("wt"),
        "l_orderkey",
        "l_linenumber",
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # one physical execution for every branch (see
    # events_watermark_late_drop for the misalignment flake this blocks)
    ranged = (
        li.repartitionByRange(
            n_parts, F.asc("price"), F.asc("l_orderkey"), F.asc("l_linenumber")
        )
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_in = (
        Window.partitionBy("pid")
        .orderBy("price", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranged = ranged.withColumn("cum_in", F.sum("wt").over(w_in))
    # exclusive prefix weights folded driver-side (operators/prefix.py)
    pref, tot = driver_prefix_sums(ranged, ["wt"])
    total = F.lit(tot["wt"]).cast("long")
    c = ranged.withColumn("cumw", F.col("cum_in") + pref["wt"])
    return c.filter(2 * F.col("cumw") >= total).agg(
        F.round(F.min("price"), 2).alias("weighted_median_price"),
        F.max(total).alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# Deterministic domain interleave (training-order anti-clumping)
# ---------------------------------------------------------------------------

INTERLEAVE_ORACLE = """
WITH doms AS (
  SELECT source, row_number() OVER (ORDER BY source) - 1 AS dom_idx,
         count(*) OVER () AS n_domains
  FROM (SELECT DISTINCT source FROM documents)
), ranked AS (
  SELECT d.doc_id, d.source,
         row_number() OVER (
           PARTITION BY d.source
           ORDER BY ('0x' || substr(md5('il1|' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    d.doc_id) - 1 AS rnk
  FROM documents d
)
SELECT r.doc_id, r.source,
       CAST(r.rnk * m.n_domains + m.dom_idx AS BIGINT) AS pos
FROM ranked r JOIN doms m ON r.source = m.source
ORDER BY pos
"""


@register("dataset_interleave_domains", oracle=INTERLEAVE_ORACLE)
def dataset_interleave_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic round-robin DOMAIN INTERLEAVE for training order:
    shuffle within each domain by the portable md5 hash, then assign the
    global position by FORMULA — pos = within_domain_rank × n_domains +
    domain_index — so consecutive training examples rotate across
    domains (no domain clumps, the curriculum property batch samplers
    want) WITHOUT any global window: the only windows partition by the
    domain key, the domain index comes from a |domains|-row broadcast,
    and the global order exists arithmetically. The at-scale contrast:
    a row_number() over the shuffled corpus would serialize 100 TB
    through one task; the formula costs one map-side multiply."""
    from gcs2postgres_spark.operators.dedup import portable_hash60

    d = load_table(spark, sf_dir, "documents")
    doms = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (F.row_number().over(Window.orderBy("source")) - 1).alias("dom_idx"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n_domains"),
        )
    )
    wk = Window.partitionBy("source").orderBy(
        portable_hash60(F.concat(F.lit("il1|"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    ranked = d.select(
        "doc_id", "source", (F.row_number().over(wk) - 1).alias("rnk")
    )
    return (
        ranked.join(F.broadcast(doms), "source")
        .select(
            "doc_id",
            "source",
            (F.col("rnk") * F.col("n_domains") + F.col("dom_idx"))
            .cast("long")
            .alias("pos"),
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# Watermark late-event classification (batch twin, two-phase running max)
# ---------------------------------------------------------------------------

WATERMARK_ORACLE = """
WITH w AS (
  SELECT event_type, ts,
         max(ts) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
  FROM events
)
SELECT event_type,
       CASE WHEN wm IS NOT NULL AND ts < wm - INTERVAL 10 MINUTE
            THEN 'late' ELSE 'on_time' END AS verdict,
       CAST(count(*) AS BIGINT) AS n
FROM w GROUP BY event_type, verdict ORDER BY event_type, verdict
"""


@register("events_watermark_late_drop", oracle=WATERMARK_ORACLE)
def events_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of Structured Streaming's watermark rule: an event is
    LATE iff its timestamp trails the running max event-time seen over
    arrival order (event_id — the ingestion-sequence proxy) by more than
    the 10-minute allowed lateness — exactly the row a streaming
    aggregation with `withWatermark("ts", "10 minutes")` would drop.
    The global exclusive running max is TWO-PHASE (fourth instantiation
    of the primitive — pareto/equidepth/weighted-median use it for sums,
    this one for max): range-partition on arrival order, per-partition
    exclusive running max in parallel, then fold in the prefix max of
    earlier partitions. The prefix fold runs on the DRIVER over one row
    per partition — bounded by spark.sql.shuffle.partitions (config,
    not data; the same driver-side cardinality Spark's own
    RangePartitioner samples to plan the exchange) — which removes both
    the single-task global window the 32-row fold used to plan (8
    WindowExec partition warnings per run, r7 verdict hygiene item) and
    a broadcast join. No single-task global window anywhere, so the
    classification scales to the full ingest log. Counts per
    (type, verdict) are exact timestamp comparisons — no floats."""
    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "ts")
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # MATERIALIZE the ranged frame before anything branches off it:
    # spark_partition_id() is only meaningful relative to one physical
    # execution, and the window / per-partition-max / final-join branches
    # would otherwise each re-run the range exchange with freshly sampled
    # bounds (rddId-seeded) and their own AQE coalescing — pids then mean
    # DIFFERENT ranges per branch and offsets misalign (observed: false
    # 'late' verdicts varying run to run before this checkpoint).
    ranged = (
        e.repartitionByRange(n_parts, F.asc("event_id"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_ex = (
        Window.partitionBy("pid")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranged = ranged.withColumn("run_in", F.max("ts").over(w_ex))
    prev_max = driver_prefix_max(ranged, "ts", "timestamp")
    wm = F.greatest(F.col("run_in"), prev_max)
    verdict = F.when(
        wm.isNotNull() & (F.col("ts") < wm - F.expr("INTERVAL 10 MINUTES")),
        "late",
    ).otherwise("on_time")
    return (
        ranged.select("event_type", verdict.alias("verdict"))
        .groupBy("event_type", "verdict")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "verdict")
    )


# ---------------------------------------------------------------------------
# Ship-latency percentiles per supplier (SLA distribution metric)
# ---------------------------------------------------------------------------

SHIP_LATENCY_ORACLE = """
WITH lat AS (
  SELECT l_suppkey,
         date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT l_suppkey,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(min(days) AS BIGINT) AS min_days,
       round(quantile_cont(days, 0.5), 6) AS p50_days,
       round(quantile_cont(days, 0.95), 6) AS p95_days,
       CAST(max(days) AS BIGINT) AS max_days
FROM lat GROUP BY l_suppkey ORDER BY l_suppkey
"""


@register("supplier_ship_latency_pcts", oracle=SHIP_LATENCY_ORACLE)
def supplier_ship_latency_pcts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency DISTRIBUTION per supplier (n, min, exact
    P50/P95, max in whole days) — the SLA metric a fulfillment warehouse
    tracks per vendor. Exact grouped percentiles over INTEGER day
    deltas: Spark `percentile` and DuckDB `quantile_cont` share the
    p·(n−1) linear-interpolation definition, and integer inputs make the
    interpolated values engine-identical. One fact join (orders side
    broadcast-ineligible at scale → key-partitioned SMJ, lineitem's one
    shuffle) + one groupBy over the supplier key. The synthetic dates
    are not causally ordered (negative latencies exist); the metric is
    the raw distribution, which is exactly what percentile tracking
    reports."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lat = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_suppkey",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("days"),
    )
    return (
        lat.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min("days").cast("long").alias("min_days"),
            F.round(F.percentile("days", 0.5), 6).alias("p50_days"),
            F.round(F.percentile("days", 0.95), 6).alias("p95_days"),
            F.max("days").cast("long").alias("max_days"),
        )
        .orderBy("l_suppkey")
    )


# ---------------------------------------------------------------------------
# Survival curve: users still active >= d days after first activity
# ---------------------------------------------------------------------------

SURVIVAL_ORACLE = """
WITH fu AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY 1
), off AS (
  SELECT e.user_id,
         max(date_diff('day', f.first_day, CAST(e.ts AS DATE))) AS max_off
  FROM events e JOIN fu f ON e.user_id = f.user_id
  GROUP BY e.user_id
), n AS (SELECT count(*) AS n_users FROM off),
d AS (SELECT unnest(range(15)) AS day_offset)
SELECT CAST(d.day_offset AS BIGINT) AS day_offset,
       CAST(count(o.user_id) AS BIGINT) AS n_surviving,
       round(count(o.user_id) * 1.0 / n.n_users, 6) AS survival
FROM d
LEFT JOIN off o ON o.max_off >= d.day_offset
CROSS JOIN n
GROUP BY d.day_offset, n.n_users
ORDER BY day_offset
"""


@register("events_survival_curve", oracle=SURVIVAL_ORACLE)
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User survival curve: for horizons d = 0..14 days, the fraction of
    users whose LAST activity falls at least d days after their FIRST —
    the retention summary product teams read before any cohort split.
    Two groupBys on user_id collapse the event log to one (user,
    max-offset) row, then the 15-point curve is a broadcast-spine join:
    horizons × users-sized frame, never the raw log. The curve is
    monotone non-increasing by construction; counts are exact integer
    comparisons. At 100 TB only the first groupBy touches the log."""
    e = load_table(spark, sf_dir, "events")
    fu = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("first_day"))
    off = (
        e.join(fu, "user_id")
        .groupBy("user_id")
        .agg(
            F.max(F.datediff(F.to_date("ts"), F.col("first_day"))).alias("max_off")
        )
    )
    n = off.agg(F.count(F.lit(1)).alias("n_users"))
    spine = spark.range(15).select(F.col("id").alias("day_offset"))
    return (
        F.broadcast(spine)
        .join(off, off["max_off"] >= F.col("day_offset"), "left")
        .crossJoin(F.broadcast(n))
        .groupBy("day_offset", "n_users")
        .agg(F.count("user_id").alias("n_surviving"))
        .select(
            "day_offset",
            "n_surviving",
            F.round(F.col("n_surviving") * 1.0 / F.col("n_users"), 6).alias(
                "survival"
            ),
        )
        .orderBy("day_offset")
    )
