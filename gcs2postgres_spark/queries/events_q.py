"""Event-table queries: JSON extraction and the batch equivalents of the
streaming windows (SURVEY.md §2.7). Each windowed aggregation here has
a true Structured Streaming twin in gcs2postgres_spark/streaming/ —
batch-first so the DuckDB oracle can verify values, per SURVEY §2.7.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.operators.skew import salted_two_phase_agg
from gcs2postgres_spark.queries.registry import register


JSON_EXTRACT_ORACLE = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       count(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("json_extract_agg", oracle=JSON_EXTRACT_ORACLE)
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-string column access (events.props = '{"k": <int>}'), parsed
    ONCE per row with from_json + an explicit schema, then struct access
    for every aggregate input — the at-scale form. get_json_object per
    aggregate re-parses the JSON for each access (measured 41× the
    DuckDB baseline in round 1; this form is one parse regardless of how
    many fields the aggregates touch)."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.select(
        "event_type", F.from_json(F.col("props"), "k BIGINT").alias("p")
    )
    k = F.col("p.k")
    return (
        parsed.groupBy("event_type")
        .agg(
            F.sum(k).alias("sum_k"),
            F.max(k).alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


TUMBLING_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       count(*)    AS n_events,
       round(sum(value), 2)  AS total_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


@register("events_tumbling_window", oracle=TUMBLING_ORACLE)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h window (batch form). The streaming twin uses
    F.window(ts, '1 hour') + watermark; date_trunc('hour') is the identical
    grouping expressed oracle-checkably."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("window_start", "event_type")
    )


SLIDING_ORACLE = """
-- sliding window (2h size, 1h slide) == each event contributes to 2 hourly-anchored windows
WITH contrib AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, value FROM events
  UNION ALL
  SELECT CAST(date_trunc('hour', ts) - INTERVAL 1 HOUR AS TIMESTAMP) AS window_start, value FROM events
)
SELECT window_start, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM contrib
GROUP BY window_start
ORDER BY window_start
"""


@register("events_sliding_window", oracle=SLIDING_ORACLE)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window, 2h size / 1h slide, via F.window — Spark expands each
    row into size/slide window copies before the aggregation (same expansion
    the oracle's UNION ALL spells out)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start")
    )


SESSION_ORACLE = """
-- sessionize: new session when gap to previous event (per user) > 30 min
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM sessions
GROUP BY user_id
ORDER BY user_id
"""


@register("events_sessionize", oracle=SESSION_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: lag-gap flag + running sum = session id — the
    classic two-window plan (single shuffle on user_id; both windows share
    the same partitioning so Catalyst reuses the sort). Streaming twin uses
    F.session_window."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    flagged = e.select(
        "user_id",
        "ts",
        F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0).alias("new_session"),
    )
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(run))
    return (
        sessions.groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


STREAM_DEDUP_ORACLE = """
SELECT user_id, event_type,
       CAST(min(event_id) AS BIGINT) AS first_event_id,
       CAST(min(ts) AS TIMESTAMP)    AS first_ts
FROM events
GROUP BY user_id, event_type
ORDER BY user_id, event_type
"""


SALTED_AGG_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT)                    AS n_rows,
       CAST(count(DISTINCT event_type) AS BIGINT)  AS n_distinct_types,
       round(sum(value), 2)                        AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("agg_salted_skew", oracle=SALTED_AGG_ORACLE)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase aggregation (operators/skew.py): the
    events table is maximally skewed (15 hot user_ids own every row), so
    a plain groupBy lands each key on one reducer; salting spreads each
    key over 8, then merges. Exact same result as the plain GROUP BY —
    which is precisely what the oracle checks."""
    e = load_table(spark, sf_dir, "events")
    return (
        salted_two_phase_agg(e, ["user_id"], salt_buckets=8)
        # quantize the double sum: salted two-phase accumulation order
        # differs from the oracle's single-pass order in the last ulp
        .withColumn("total_value", F.round(F.col("total_value"), 2))
        .orderBy("user_id")
    )


@register("events_dedup_first", oracle=STREAM_DEDUP_ORACLE)
def events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keeping the first occurrence — deterministic form of
    dropDuplicates(['user_id','event_type']) (which keeps an arbitrary row).
    Streaming twin: dropDuplicates within watermark."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(F.min("event_id").alias("first_event_id"), F.min("ts").alias("first_ts"))
        .orderBy("user_id", "event_type")
    )


CLICK_PURCHASE_ORACLE = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
ORDER BY click_id, purchase_id
"""


@register("events_click_purchase_attr", oracle=CLICK_PURCHASE_ORACLE)
def events_click_purchase_attr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution join: purchases within 30 minutes after a click by
    the same user — the batch twin of the stream-stream interval join
    in streaming/windows.py (watermarked on both sides there). The
    equi-key (user_id) carries the join; the time interval is a
    residual predicate evaluated inside the hash join, so this is NOT
    a cartesian — same property the streaming version's state store
    relies on to bound state per user."""
    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
        )
        .select(
            "click_id", "purchase_id", "user_id",
            "click_ts", "purchase_ts", "purchase_value",
        )
        .orderBy("click_id", "purchase_id")
    )


LEFTOUTER_ATTR_ORACLE = """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       c.ts AS click_ts, p.ts AS purchase_ts, p.value AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
ORDER BY click_id, purchase_id
"""


@register("stream_interval_join_leftouter", oracle=LEFTOUTER_ATTR_ORACLE)
def stream_interval_join_leftouter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream LEFT OUTER interval join
    (streaming/windows.py::stream_stream_interval_join_outer): clicks
    with no purchase in the 30-minute horizon survive null-extended —
    in the streaming version those are exactly the rows the engine may
    emit only after the watermark passes click_ts+horizon (emission and
    state eviction are the same event; pinned stream==batch incl. the
    null-extended rows in tests/test_streaming.py). Same plan shape as
    the inner variant: equi-key user_id carries the hash join, the time
    interval is a residual predicate — no cartesian."""
    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (
                F.col("purchase_ts")
                <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
            ),
            "left",
        )
        .select(
            "click_id", "purchase_id", "user_id",
            "click_ts", "purchase_ts", "purchase_value",
        )
        .orderBy("click_id", "purchase_id")
    )


TIME_ROLLUP_ORACLE = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)  AS day,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
       CAST(count(*) AS BIGINT)  AS n_events,
       round(sum(value), 2)      AS total_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
GROUP BY ROLLUP (1, 2)
ORDER BY day NULLS FIRST, hour NULLS FIRST
"""


@register("events_time_rollup", oracle=TIME_ROLLUP_ORACLE)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity time rollup: one pass over the
    events stream produces hour-level, day-level, and grand-total
    aggregates (GROUP BY ROLLUP over truncated timestamps) — the batch
    form of a continuous aggregate. Spark expands the rollup with one
    Expand operator before the partial agg, so it is still a single
    shuffle; at 100 TB the day/total levels ride along with the hourly
    aggregation for free instead of re-scanning."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            F.date_trunc("day", "ts").alias("day"),
            F.date_trunc("hour", "ts").alias("hour"),
            "value",
            "user_id",
        )
        .rollup("day", "hour")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(
            F.col("day").asc_nulls_first(), F.col("hour").asc_nulls_first()
        )
    )


# ---------------------------------------------------------------------------
# Time-series features: truncated EWMA + rolling z-score
# ---------------------------------------------------------------------------

EWMA_ZSCORE_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), agg AS (
  SELECT a.user_id, a.event_id, a.value,
         sum(b.value * pow(0.7, a.rn - b.rn)) AS num,
         sum(pow(0.7, a.rn - b.rn)) AS den,
         avg(b.value) AS mu,
         stddev_samp(b.value) AS sigma
  FROM e a JOIN e b
    ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 19 AND a.rn
  GROUP BY 1, 2, 3
)
SELECT user_id, event_id,
       round(num / den, 6) AS ewma,
       round((value - mu) / nullif(sigma, 0), 6) AS zscore
FROM agg
ORDER BY user_id, event_id
"""


@register("events_ewma_zscore", oracle=EWMA_ZSCORE_ORACLE)
def events_ewma_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-series features in one window pass: 20-event
    truncated EWMA (alpha=0.3 → weights (1-a)^j, normalized — the
    truncation makes the recurrence a finite weighted sum both engines
    evaluate identically; the dropped tail is bounded by 0.7^20 ≈ 8e-4
    of total weight) and a 20-event rolling z-score for anomaly
    flagging. All Catalyst: collect_list over a rows frame + zip_with/
    aggregate HOFs for the weighted sum, avg/stddev window aggregates
    for the z-score — no UDF, one shuffle on user_id, linear in events
    (each row touches at most 20 lags). Feature-engineering shape every
    behavioral-ML pipeline materializes at scale."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wk = w.rowsBetween(-19, Window.currentRow)
    arr = F.reverse(F.collect_list("value").over(wk))  # newest first
    weighted = F.aggregate(
        F.zip_with(
            arr,
            F.sequence(F.lit(0), F.size(arr) - 1),
            lambda x, i: x * F.pow(F.lit(0.7), i.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    den = F.aggregate(
        F.sequence(F.lit(0), F.size(arr) - 1),
        F.lit(0.0),
        lambda acc, i: acc + F.pow(F.lit(0.7), i.cast("double")),
    )
    mu = F.avg("value").over(wk)
    sigma = F.stddev_samp("value").over(wk)
    return (
        e.select(
            "user_id",
            "event_id",
            F.round(weighted / den, 6).alias("ewma"),
            F.round(
                (F.col("value") - mu) / F.nullif(sigma, F.lit(0.0)), 6
            ).alias("zscore"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# Sequential pattern match: 3-step funnel (MATCH_RECOGNIZE shape)
# ---------------------------------------------------------------------------

FUNNEL_ORACLE = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS uts FROM events
), c AS (
  SELECT user_id, event_type, uts,
         max(CASE WHEN event_type = 'view' THEN uts END) OVER w AS last_view
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY uts
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
), q AS (
  SELECT user_id, event_type, uts,
         CASE WHEN event_type = 'click' AND last_view IS NOT NULL
              THEN uts END AS qclick_uts
  FROM c
), p AS (
  SELECT user_id, event_type,
         max(qclick_uts) OVER w AS last_qclick
  FROM q
  WINDOW w AS (PARTITION BY user_id ORDER BY uts
               RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
)
SELECT user_id, count(*) AS n_conversions
FROM p
WHERE event_type = 'purchase' AND last_qclick IS NOT NULL
GROUP BY user_id
ORDER BY user_id
"""


@register("events_funnel_3step", oracle=FUNNEL_ORACLE)
def events_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern detection (the MATCH_RECOGNIZE shape Spark
    lacks natively): purchases preceded by a click within 24h that was
    itself preceded by a view within 24h, counted per user. Two stacked
    conditional-max RANGE windows over epoch-micros — both share the
    (user_id, uts) sort, so Catalyst plans ONE shuffle + one sort, each
    row touches only its 24h frame, and the whole pattern stays in the
    JVM (no per-row UDF, no self-join blowup). At 100 TB this is a
    single key-partitioned pass over the event log."""
    e = load_table(spark, sf_dir, "events")
    ev = e.select("user_id", "event_type", F.unix_micros(F.col("ts")).alias("uts"))
    day_us = 86_400_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("uts")
        .rangeBetween(-day_us, Window.currentRow)
    )
    last_view = F.max(
        F.when(F.col("event_type") == "view", F.col("uts"))
    ).over(w)
    c = ev.withColumn("last_view", last_view)
    q = c.withColumn(
        "qclick_uts",
        F.when(
            (F.col("event_type") == "click") & F.col("last_view").isNotNull(),
            F.col("uts"),
        ),
    )
    p = q.withColumn("last_qclick", F.max("qclick_uts").over(w))
    return (
        p.filter(
            (F.col("event_type") == "purchase")
            & F.col("last_qclick").isNotNull()
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_conversions"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Time-series resample to a regular grid + forward fill (gap fill)
# ---------------------------------------------------------------------------

RESAMPLE_FFILL_ORACLE = """
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
)
SELECT g.user_id, g.grid_ts, round(e.value, 6) AS value
FROM grid g
ASOF LEFT JOIN ev e ON g.user_id = e.user_id AND g.grid_ts >= e.ts
ORDER BY 1, 2
"""


@register("events_resample_ffill", oracle=RESAMPLE_FFILL_ORACLE)
def events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill: resample each user's event stream onto
    a regular 6-hour grid (per-user bounds, day-aligned start) and
    forward-fill the latest observation at or before each grid point.
    Grid generation is F.sequence per user (no driver loop); the fill
    reuses the union+window as-of operator — one shuffle on user_id,
    O(|grid|+|events|) state, no per-key explosion. Events at identical
    (user, ts) are pre-collapsed with max_by(event_id) so the as-of
    match is unambiguous on both engines. DuckDB replays it with native
    ASOF JOIN — two independent implementations of the same semantics.
    The user_id < 40 cap bounds only the oracle's runtime, not the
    operator (sf0.1 soak runs the same capped set)."""
    from gcs2postgres_spark.operators.joins import asof_join

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    ev = e.groupBy("user_id", "ts").agg(
        F.max_by("value", "event_id").alias("value")
    )
    grid = (
        ev.groupBy("user_id")
        .agg(
            F.date_trunc("day", F.min("ts")).alias("t0"),
            F.max("ts").alias("t1"),
        )
        .select(
            "user_id",
            F.explode(
                F.expr("sequence(t0, t1, interval 6 hours)")
            ).alias("grid_ts"),
        )
    )
    filled = asof_join(
        grid,
        ev.select(F.col("user_id").alias("e_user"), F.col("ts"), "value"),
        left_on="user_id",
        right_on="e_user",
        left_time="grid_ts",
        right_time="ts",
        right_payload=["value"],
    )
    return filled.select(
        "user_id", "grid_ts", F.round("value", 6).alias("value")
    ).orderBy("user_id", "grid_ts")


# ---------------------------------------------------------------------------
# Cohort retention matrix
# ---------------------------------------------------------------------------

COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
)
SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
       CAST(date_diff('day', f.cohort_week, a.act_week) / 7 AS INT) AS week_n,
       count(*) AS n_users
FROM firsts f JOIN activity a USING (user_id)
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("events_cohort_retention", oracle=COHORT_ORACLE)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-activity week,
    counted in every subsequent week they return — the
    (cohort, weeks-since) matrix behind every retention dashboard. Two
    aggregations sharing the user_id partitioning (first-touch, distinct
    activity) and one equi-join; weeks are date_trunc-aligned so the
    week delta is an exact integer on both engines."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        firsts.join(activity, "user_id")
        .select(
            "cohort_week",
            (F.datediff(F.col("act_week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_n"),
        )
        .groupBy("cohort_week", "week_n")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_n")
    )


# ---------------------------------------------------------------------------
# Sweep-line: peak concurrent activity windows
# ---------------------------------------------------------------------------

PEAK_CONCURRENCY_ORACLE = """
WITH pts AS (
  SELECT event_type, ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 30 MINUTE, -1 FROM events
), run AS (
  SELECT event_type,
         sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM pts
)
SELECT event_type,
       CAST(max(c) AS BIGINT) AS peak_concurrency,
       count(*) // 2 AS n_intervals
FROM run GROUP BY event_type ORDER BY event_type
"""


@register("events_peak_concurrency", oracle=PEAK_CONCURRENCY_ORACLE)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap maximum via the sweep line: each event opens a
    30-minute activity window; +1/-1 boundary points, one running sum
    per event_type, max = peak concurrency. Ends sort before starts at
    equal timestamps (delta asc) = half-open intervals, and the peak is
    invariant to ordering within remaining ties, so the result is
    deterministic on both engines. The shape behind concurrent-session
    and resource-overlap metrics; partitioned by the grouping key, the
    cumsum is the standard per-key sequential pass (same scale contract
    as sessionization)."""
    e = load_table(spark, sf_dir, "events")
    starts = e.select("event_type", F.col("ts").alias("t"), F.lit(1).alias("delta"))
    ends = e.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionByName(ends)
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.withColumn("c", F.sum("delta").over(w))
    return (
        run.groupBy("event_type")
        .agg(
            F.max("c").cast("long").alias("peak_concurrency"),
            (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Robust outliers: median/MAD per group
# ---------------------------------------------------------------------------

MAD_ORACLE = """
WITH med AS (
  SELECT event_type, median(value) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, med, median(abs(e.value - med)) AS mad
  FROM events e JOIN med USING (event_type)
  GROUP BY e.event_type, med
)
SELECT e.event_type,
       count(*) FILTER (WHERE abs(e.value - m.med) > 3 * 1.4826 * m.mad) AS n_outliers,
       count(*) AS n,
       round(m.med, 6) AS med,
       round(m.mad, 6) AS mad
FROM events e JOIN mad m USING (event_type)
GROUP BY e.event_type, m.med, m.mad
ORDER BY e.event_type
"""


@register("events_mad_outliers", oracle=MAD_ORACLE)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly gate: median/MAD per event_type (exact
    percentile — both engines interpolate the same), flagging values
    beyond 3 robust sigmas (1.4826·MAD). Two grouped exact-percentile
    passes + one broadcast join back; unlike mean/stddev this survives
    the exact skewed tails it is meant to catch. Exact medians shuffle
    per-group values once each pass; at 100 TB swap in
    approx_percentile with documented error — same plan shape."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    j = e.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type", "med").agg(
        F.expr("percentile(abs(value - med), 0.5)").alias("mad")
    )
    out = e.join(F.broadcast(mad), "event_type")
    return (
        out.groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med"))
                    > 3 * 1.4826 * F.col("mad"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type",
            "n_outliers",
            "n",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Equi-width histogram
# ---------------------------------------------------------------------------

HISTOGRAM_ORACLE = """
WITH b AS (SELECT min(value) AS lo, max(value) AS hi FROM events)
SELECT CAST(least(floor((value - lo) / ((hi - lo) / 20)), 19) AS INT) AS bin,
       count(*) AS n,
       round(min(value), 6) AS bin_min,
       round(max(value), 6) AS bin_max
FROM events CROSS JOIN b
GROUP BY 1 ORDER BY 1
"""


@register("events_value_histogram", oracle=HISTOGRAM_ORACLE)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bin histogram of the value column: global bounds in
    one tiny broadcast row, binning as pure arithmetic in the scan
    stage, one partial+final count per bin — the distribution-profiling
    pass that sizes skew mitigations. Identical float arithmetic on
    both engines (same divide/floor/clamp), so bins match exactly."""
    e = load_table(spark, sf_dir, "events")
    b = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    binned = e.crossJoin(F.broadcast(b)).select(
        F.least(
            F.floor(
                (F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 20)
            ),
            F.lit(19),
        )
        .cast("int")
        .alias("bin"),
        "value",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("bin_min"),
            F.round(F.max("value"), 6).alias("bin_max"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users (sliding distinct via day-range join)
# ---------------------------------------------------------------------------

ROLLING_DISTINCT_ORACLE = """
WITH du AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id FROM events
), days AS (
  SELECT DISTINCT day FROM du
)
SELECT d.day,
       CAST(count(DISTINCT u.user_id) AS BIGINT) AS users_7d
FROM days d
JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
GROUP BY d.day
ORDER BY d.day
"""


@register("events_rolling_7d_distinct", oracle=ROLLING_DISTINCT_ORACLE)
def events_rolling_7d_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day. COUNT(DISTINCT)
    over a sliding window is not window-function-expressible, so the
    scalable shape is: dedupe to (day, user) once — the big shuffle,
    |events| → |active pairs| — then a day×7 range join (broadcast of
    the tiny day list) and a distinct count per day. Cost is
    7·|pairs|, independent of raw event volume; the HLL-merge variant
    (agg_hll_sketch_merge) replaces the exact distinct when ±2% is
    acceptable at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct().select(F.col("day").alias("d"))
    return (
        du.join(
            F.broadcast(days),
            (F.col("day") >= F.date_sub(F.col("d"), 6)) & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("users_7d"))
        .select(F.col("d").alias("day"), "users_7d")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Debounce: drop rapid repeats per (user, type)
# ---------------------------------------------------------------------------

DEBOUNCE_ORACLE = """
WITH lagged AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
         ) AS gap_us
  FROM events
)
SELECT event_type,
       count(*) FILTER (WHERE gap_us IS NULL OR gap_us > 300000000) AS n_kept,
       count(*) FILTER (WHERE gap_us IS NOT NULL AND gap_us <= 300000000) AS n_dropped
FROM lagged
GROUP BY event_type ORDER BY event_type
"""


@register("events_debounce", oracle=DEBOUNCE_ORACLE)
def events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce pass: an event survives only if the previous event of
    the same (user, type) is more than 5 minutes older — the
    double-click / retry-storm cleaner every event pipeline runs before
    counting anything. One lag window per (user, type) partition
    (single shuffle); the streaming twin is the stateful
    events_dedup_first with a per-key timestamp state. Counts per type
    certify every keep/drop decision."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    lagged = e.select("event_type", gap.alias("gap_us"))
    keep = F.col("gap_us").isNull() | (F.col("gap_us") > 300_000_000)
    return (
        lagged.groupBy("event_type")
        .agg(
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.sum(F.when(~keep, 1).otherwise(0)).cast("long").alias("n_dropped"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Growth accounting: new / retained / resurrected per week
# ---------------------------------------------------------------------------

LIFECYCLE_ORACLE = """
WITH wu AS (
  SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week, user_id FROM events
), lagged AS (
  SELECT week, user_id,
         lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week
  FROM wu
)
SELECT week,
       count(*) FILTER (WHERE prev_week IS NULL) AS n_new,
       count(*) FILTER (WHERE prev_week = week - 7) AS n_retained,
       count(*) FILTER (WHERE prev_week IS NOT NULL AND prev_week < week - 7)
         AS n_resurrected
FROM lagged
GROUP BY week ORDER BY week
"""


@register("events_user_lifecycle", oracle=LIFECYCLE_ORACLE)
def events_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: each week's active users classified as new
    (first-ever week), retained (active the immediately previous week),
    or resurrected (returning after a gap) — the decomposition every
    growth dashboard is built on. Dedupe to (week, user) once, one lag
    window per user, one aggregate; all key-partitioned, week alignment
    via date_trunc so the 7-day delta is exact on both engines."""
    e = load_table(spark, sf_dir, "events")
    wu = e.select(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"), "user_id"
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    lagged = wu.withColumn("prev_week", F.lag("week").over(w))
    is_new = F.col("prev_week").isNull()
    is_ret = F.col("prev_week") == F.date_sub(F.col("week"), 7)
    return (
        lagged.groupBy("week")
        .agg(
            F.sum(F.when(is_new, 1).otherwise(0)).cast("long").alias("n_new"),
            F.sum(F.when(is_ret, 1).otherwise(0)).cast("long").alias("n_retained"),
            F.sum(F.when(~is_new & ~is_ret, 1).otherwise(0))
            .cast("long")
            .alias("n_resurrected"),
        )
        .orderBy("week")
    )


SEASONAL_BASELINE_ORACLE = """
WITH train AS (
  SELECT event_type, extract(hour FROM ts) AS hr, value
  FROM events WHERE ts < TIMESTAMP '2024-01-24 00:00:00'
), test AS (
  SELECT event_type, extract(hour FROM ts) AS hr, value
  FROM events WHERE ts >= TIMESTAMP '2024-01-24 00:00:00'
), seasonal AS (
  SELECT event_type, hr, avg(value) AS hr_mean FROM train GROUP BY 1, 2
), gmean AS (
  SELECT event_type, avg(value) AS g_mean FROM train GROUP BY 1
)
SELECT t.event_type,
       CAST(count(*) AS BIGINT) AS n_test,
       round(avg(abs(t.value - s.hr_mean)), 4) AS mae_seasonal,
       round(avg(abs(t.value - g.g_mean)), 4) AS mae_global
FROM test t
JOIN seasonal s ON t.event_type = s.event_type AND t.hr = s.hr
JOIN gmean g ON t.event_type = g.event_type
GROUP BY t.event_type
ORDER BY t.event_type
"""


@register("events_seasonal_baseline", oracle=SEASONAL_BASELINE_ORACLE)
def events_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: train a per-(event_type,
    hour-of-day) mean on the first 23 days, forecast the last 7, and
    report MAE against the global per-type mean baseline — the sanity
    harness every production forecaster is judged against before
    anything fancier ships. Scale shape: both models are tiny keyed
    aggregates (|types|×24 and |types| rows) broadcast to one streaming
    pass over the test rows; nothing re-shuffles the fact table."""
    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-24 00:00:00").cast("timestamp")
    base = e.select("event_type", F.hour("ts").alias("hr"), "value", "ts")
    train = base.filter(F.col("ts") < cutoff)
    test = base.filter(F.col("ts") >= cutoff)
    seasonal = train.groupBy("event_type", "hr").agg(F.avg("value").alias("hr_mean"))
    glob = train.groupBy("event_type").agg(F.avg("value").alias("g_mean"))
    return (
        test.join(F.broadcast(seasonal), ["event_type", "hr"])
        .join(F.broadcast(glob), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.round(F.avg(F.abs(F.col("value") - F.col("hr_mean"))), 4).alias("mae_seasonal"),
            F.round(F.avg(F.abs(F.col("value") - F.col("g_mean"))), 4).alias("mae_global"),
        )
        .orderBy("event_type")
    )


PSI_DRIFT_ORACLE = """
WITH cents AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS v_c,
         ts >= TIMESTAMP '2024-01-16 00:00:00' AS is_cur
  FROM events
), ref_bounds AS (
  SELECT min(v_c) AS lo, max(v_c) AS hi FROM cents WHERE NOT is_cur
), binned AS (
  SELECT event_type, is_cur,
         least(9, greatest(0,
           (v_c - b.lo) * 10 // (b.hi - b.lo + 1))) AS bin
  FROM cents CROSS JOIN ref_bounds b
), counts AS (
  SELECT event_type, bin,
         count(*) FILTER (WHERE NOT is_cur) AS n_ref,
         count(*) FILTER (WHERE is_cur) AS n_cur
  FROM binned GROUP BY event_type, bin
), tot AS (
  SELECT event_type,
         sum(n_ref) + 0.5 * 10 AS d_ref,
         sum(n_cur) + 0.5 * 10 AS d_cur
  FROM counts GROUP BY event_type
)
SELECT c.event_type,
       round(sum(((c.n_cur + 0.5) / t.d_cur - (c.n_ref + 0.5) / t.d_ref)
                 * ln(((c.n_cur + 0.5) / t.d_cur) / ((c.n_ref + 0.5) / t.d_ref))), 6)
         AS psi
FROM counts c JOIN tot t ON c.event_type = t.event_type
GROUP BY c.event_type
ORDER BY c.event_type
"""


@register("events_psi_drift", oracle=PSI_DRIFT_ORACLE)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the month, per event type — the standard production drift monitor
    (PSI < 0.1 stable, > 0.25 drifted). Binning is ALL-INTEGER (value
    cents mapped to 10 equal-width bins over the reference min/max via
    integer multiply-divide), so bin membership is bit-identical on any
    engine — no float boundary whose last ulp flips a row's bin.
    Laplace +0.5 smoothing keeps empty bins finite. Scale shape: one
    pass to bin (bounds broadcast), one (type, bin) aggregate —
    10×|types| rows — then driver-free scalar math on that tiny
    frame."""
    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    cents = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v_c"),
        (F.col("ts") >= cutoff).alias("is_cur"),
    )
    bounds = cents.filter(~F.col("is_cur")).agg(
        F.min("v_c").alias("lo"), F.max("v_c").alias("hi")
    )
    binned = cents.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "is_cur",
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.expr("(v_c - lo) * 10 div (hi - lo + 1)"),
            ),
        ).alias("bin"),
    )
    counts = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(~F.col("is_cur"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("is_cur"), 1).otherwise(0)).alias("n_cur"),
    )
    tot = counts.groupBy("event_type").agg(
        (F.sum("n_ref") + 0.5 * 10).alias("d_ref"),
        (F.sum("n_cur") + 0.5 * 10).alias("d_cur"),
    )
    p_cur = (F.col("n_cur") + 0.5) / F.col("d_cur")
    p_ref = (F.col("n_ref") + 0.5) / F.col("d_ref")
    return (
        counts.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(F.round(F.sum((p_cur - p_ref) * F.log(p_cur / p_ref)), 6).alias("psi"))
        .orderBy("event_type")
    )


MARKOV_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
), pairs AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
  FROM ordered WHERE next_type IS NOT NULL
  GROUP BY 1, 2
), tot AS (
  SELECT from_type, sum(n) AS n_from FROM pairs GROUP BY from_type
)
SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n,
       round(CAST(p.n AS DOUBLE) / t.n_from, 6) AS p_transition
FROM pairs p JOIN tot t ON p.from_type = t.from_type
ORDER BY p.from_type, p.to_type
"""


@register("events_markov_transitions", oracle=MARKOV_ORACLE)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (view→click→purchase...): one lead() window per user,
    one (from, to) aggregate, row-normalized against broadcast
    marginals — the user-journey model behind path analysis and
    next-action prediction. The user_id partitioning is the only
    fact-sized shuffle; the matrix itself is |types|² rows."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pairs = ordered.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = pairs.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (
        pairs.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") / F.col("n_from"), 6).alias("p_transition"),
        )
        .orderBy("from_type", "to_type")
    )


TWAP_ORACLE = """
WITH stepped AS (
  SELECT event_type, value, ts,
         lead(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS next_ts
  FROM events
), spans AS (
  SELECT event_type, value,
         CAST(epoch_us(next_ts) - epoch_us(ts) AS BIGINT) AS dur_us
  FROM stepped WHERE next_ts IS NOT NULL
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_spans,
       round(sum(value * dur_us) / sum(dur_us), 6) AS twap,
       round(avg(value), 6) AS plain_avg
FROM spans
GROUP BY event_type ORDER BY event_type
"""


@register("events_time_weighted_avg", oracle=TWAP_ORACLE)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP shape): each observation holds until
    the next one of its type, weights are the exact microsecond spans
    (integer arithmetic on epoch micros — no float durations), and the
    weighted mean is compared against the naive mean, the difference
    being exactly the sampling-bias correction TWAP exists for. One
    lead() window keyed by type, one aggregate."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    us = (F.unix_micros(F.col("next_ts")) - F.unix_micros(F.col("ts"))).alias("dur_us")
    spans = (
        e.select("event_type", "value", "ts", F.lead("ts").over(w).alias("next_ts"))
        .filter(F.col("next_ts").isNotNull())
        .select("event_type", "value", us)
    )
    return (
        spans.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.round(F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 6).alias("twap"),
            F.round(F.avg("value"), 6).alias("plain_avg"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Native session_window operator (the built-in Spark session operator)
# ---------------------------------------------------------------------------

SESSION_NATIVE_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN date_diff('second',
                             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                             ts) > 1800
               OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
), sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM ordered
), agg AS (
  SELECT user_id, sid, count(*) AS n_events,
         date_diff('second', min(ts), max(ts)) AS dur_s
  FROM sess GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(max(n_events) AS BIGINT) AS max_session_events,
       CAST(max(dur_s) AS BIGINT) AS max_session_secs
FROM agg GROUP BY user_id ORDER BY user_id
"""


@register("events_session_window_native", oracle=SESSION_NATIVE_ORACLE)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through Spark's NATIVE ``session_window``
    operator (one groupBy — the engine merges events within the 30-min
    gap into dynamic windows internally) instead of the lag-gap +
    running-sum two-window plan of events_sessionize; both must agree,
    so the oracle replays the gap-merge definition in SQL. Exercises
    the built-in operator the streaming path uses, in batch, value-
    certified.

    Scale shape: one shuffle on the session key (user_id); the dynamic
    window merge happens inside the aggregation — no self-join, no
    second window pass.
    """
    e = load_table(spark, sf_dir, "events")
    sess = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))
            ).alias("dur_s"),
        )
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.max("dur_s").alias("max_session_secs"),
        )
        .orderBy("user_id")
    )
