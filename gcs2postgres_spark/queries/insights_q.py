"""Round-5b insights tier: calendar-aligned autocorrelation and
click↔purchase cross-correlation, exact revenue Gini and nation-level
HHI concentration (two-phase rank / exact integer ratios), per-user
Shannon entropy and Fano-factor burstiness, sequential path mining
(event trigrams), a deterministic A/B conversion z-test, Zipf's-law
fit, OOV rate, character-class profiles, the quality-gate funnel,
mergeable binned quantiles, bounded weighted SSSP, trigram novelty,
embedding centroid drift, click→purchase time-to-convert, CBO-style
join-cardinality prediction, header-vs-detail order reconciliation,
daily order-value bands, supplier OTIF, day-of-week×hour heatmaps,
brand discount elasticity, and jackknife standard errors.

Reference parity: none of these exist in the 523-LoC Go reference
(src/db/db.go delegates analytics to the warehouse); they extend the
beyond-reference analytics tier with the statistics a
training-data / product-analytics pipeline runs daily.

House determinism rules: money in integer cents (exact int64 /
decimal(38) until one final division), floats rounded on BOTH engines,
every ORDER BY totally ordered by a unique key, no engine-specific
hash functions (the A/B split is ``user_id % 2``, not a hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gcs2postgres_spark.catalog import load_table
from gcs2postgres_spark.functions.exact import ratio_6dp
from gcs2postgres_spark.operators.caching import maybe_persist, widen_doc_scan
from gcs2postgres_spark.operators.prefix import driver_prefix_sums
from gcs2postgres_spark.queries.registry import register


# ---------------------------------------------------------------------------
# Calendar-aligned autocorrelation of the daily event-count series
# ---------------------------------------------------------------------------

AUTOCORR_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS cnt
  FROM events GROUP BY 1
), lags AS (
  SELECT CAST(unnest(range(1, 8)) AS INT) AS lag
), pairs AS (
  SELECT l.lag, a.cnt AS c0, b.cnt AS c1
  FROM daily a CROSS JOIN lags l
  JOIN daily b ON b.day = a.day + l.lag
)
SELECT lag,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(corr(c0, c1), 6) AS acf
FROM pairs GROUP BY lag ORDER BY lag
"""


@register("events_autocorr_lags", oracle=AUTOCORR_ORACLE)
def events_autocorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily event-count series,
    calendar-aligned (gaps are real gaps, not index shifts — a missing
    day contributes no pair at any lag, unlike a naive ``lead`` over
    the row sequence).

    Scale shape: the daily series is DATE-bounded (|days|, not
    |events|) — one groupBy reduces 100 TB of events to a few thousand
    rows, the 7-way lag explosion stays tiny, and the self-join on the
    shifted day is an equi-join Catalyst broadcasts. Pearson ``corr``
    matches DuckDB's sample correlation definition.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("cnt"))
    lagged = daily.withColumn(
        "lag", F.explode(F.array(*[F.lit(i) for i in range(1, 8)]))
    ).withColumn("match_day", F.date_add("day", F.col("lag")))
    b = daily.select(F.col("day").alias("match_day"), F.col("cnt").alias("c1"))
    pairs = lagged.join(F.broadcast(b), "match_day")
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("cnt", "c1"), 6).alias("acf"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Exact Gini coefficient of customer revenue (two-phase global rank)
# ---------------------------------------------------------------------------

GINI_ORACLE = """
WITH rev AS (
  SELECT o_custkey AS k,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS xc
  FROM orders GROUP BY 1
), rk AS (
  SELECT k, xc, row_number() OVER (ORDER BY xc, k) AS i FROM rev
)
SELECT CAST(count(*) AS BIGINT) AS n_customers,
       round(SUM(xc) / 100.0, 2) AS total_revenue,
       round(
         2.0 * CAST(SUM(CAST(i AS HUGEINT) * xc) AS DOUBLE)
           / (CAST(count(*) AS DOUBLE) * CAST(SUM(xc) AS DOUBLE))
         - (CAST(count(*) AS DOUBLE) + 1.0) / CAST(count(*) AS DOUBLE),
         9) AS gini
FROM rk
"""


@register("customer_revenue_gini", oracle=GINI_ORACLE)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of per-customer revenue via the rank
    formula G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over x sorted ascending.

    Determinism: revenue is exact integer cents; the rank order
    (xc asc, custkey asc) is total; Σ(i·x_i) is summed exactly —
    decimal(38,0) on Spark, HUGEINT in DuckDB (int64 would overflow
    near n≈1e8 × cents≈1e8) — and only the final division is floating
    point, identical on both engines, rounded to 9.

    Scale shape: the global rank is TWO-PHASE (the repo's standard
    pattern, cf. part_pareto_abc): range-partition on the total order,
    per-partition row_number in parallel, add back broadcast
    per-partition row-count offsets (a |shuffle-partitions|-sized
    frame). No single-task global window at any cardinality.
    """
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("xc")
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # Materialize before branching (pid must mean the same range in the
    # window branch and the totals branch — cf. part_pareto_abc).
    ranged = (
        rev.repartitionByRange(n_parts, F.asc("xc"), F.asc("k"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_in = Window.partitionBy("pid").orderBy(F.asc("xc"), F.asc("k"))
    ranged = ranged.withColumn("rn_in", F.row_number().over(w_in))
    # exclusive prefix counts folded driver-side (operators/prefix.py:
    # one row per partition, config-bounded) — replaces the 32-row
    # global window + broadcast join
    pref, _ = driver_prefix_sums(ranged.withColumn("one", F.lit(1)), ["one"])
    ranked = ranged.withColumn("i", (F.col("rn_in") + pref["one"]).cast("long"))
    s_ix = F.sum(F.col("i").cast("decimal(38,0)") * F.col("xc")).cast("double")
    n = F.count(F.lit(1)).cast("double")
    t = F.sum("xc")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(t / 100.0, 2).alias("total_revenue"),
        F.round(
            F.lit(2.0) * s_ix / (n * t.cast("double")) - (n + 1.0) / n, 9
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Per-user Shannon entropy of the event-type mix
# ---------------------------------------------------------------------------

ENTROPY_ORACLE = """
WITH cnts AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT user_id, SUM(c) AS n FROM cnts GROUP BY 1
)
SELECT c.user_id,
       CAST(t.n AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_types,
       round(-SUM((c.c / CAST(t.n AS DOUBLE)) * ln(c.c / CAST(t.n AS DOUBLE))), 6)
         AS entropy
FROM cnts c JOIN tot t USING (user_id)
GROUP BY c.user_id, t.n
ORDER BY c.user_id
"""


@register("events_user_entropy", oracle=ENTROPY_ORACLE)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each user's event-type distribution —
    the behavioural-diversity feature a segmentation / bot-detection
    pipeline computes per account.

    Scale shape: two key-partitioned aggregations, no windows, no
    skew risk beyond the user key itself (a pathological single user
    is |event_types|-bounded after the first groupBy). ``ln`` is IEEE
    libm on both engines; the ≤|types| term sum is rounded to 6.
    """
    e = load_table(spark, sf_dir, "events")
    cnts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("user_id")
    withp = cnts.withColumn("n", F.sum("c").over(w)).withColumn(
        "p", F.col("c") / F.col("n").cast("double")
    )
    return (
        withp.groupBy("user_id", "n")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.round(-F.sum(F.col("p") * F.log("p")), 6).alias("entropy"),
        )
        .select(
            "user_id",
            F.col("n").alias("n_events"),
            "n_types",
            "entropy",
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Sequential path mining: top event-type trigrams per user journey
# ---------------------------------------------------------------------------

TRIGRAM_PATH_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type, 1) OVER w AS e1,
         lead(event_type, 2) OVER w AS e2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || e1 || '>' || e2 AS path,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM seq WHERE e2 IS NOT NULL
GROUP BY 1 ORDER BY n_occurrences DESC, path LIMIT 20
"""


@register("events_path_trigrams", oracle=TRIGRAM_PATH_ORACLE)
def events_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 three-step event paths (trigrams over each user's
    time-ordered journey) with occurrence and distinct-user counts —
    the classic navigation-path / funnel-discovery mining query.

    Scale shape: the window is user-partitioned (parallel across
    users), the trigram groupBy is a key-partitioned count with
    map-side partials, and the top-20 is a TakeOrdered, not a global
    sort. Order within a user is total (ts, event_id).
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
    ).where(F.col("e2").isNotNull())
    return (
        seq.groupBy(
            F.concat_ws(">", "event_type", "e1", "e2").alias("path")
        )
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_occurrences"), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Deterministic A/B split with a pooled two-proportion z-score
# ---------------------------------------------------------------------------

AB_TEST_ORACLE = """
WITH users AS (
  SELECT user_id,
         CAST(user_id % 2 AS INT) AS variant,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1
), agg AS (
  SELECT
    SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n0,
    SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n1,
    SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS c0,
    SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS c1
  FROM users
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
       CAST(c0 AS BIGINT) AS conv0, CAST(c1 AS BIGINT) AS conv1,
       round(c0 / CAST(n0 AS DOUBLE), 6) AS rate0,
       round(c1 / CAST(n1 AS DOUBLE), 6) AS rate1,
       round(
         (c0 / CAST(n0 AS DOUBLE) - c1 / CAST(n1 AS DOUBLE))
         / sqrt(((c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                * (1.0 - (c0 + c1) / CAST(n0 + n1 AS DOUBLE))
                * (1.0 / n0 + 1.0 / n1)),
         6) AS z_score
FROM agg
"""


@register("ab_test_conversion", oracle=AB_TEST_ORACLE)
def ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion pooled z-test over a deterministic 50/50 user
    split (``user_id % 2`` — parity, NOT an engine hash, so both
    engines and any rerun assign identical variants). Conversion =
    the user ever fired a ``purchase`` event.

    Scale shape: one user-keyed aggregation (map-side partial max),
    then a scalar fold — the z-statistic itself is computed over a
    4-number frame. The guard against p̂∈{0,1} (zero denominator) is
    out of scope: the driver data always has both outcomes.
    """
    e = load_table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    ).withColumn("variant", (F.col("user_id") % 2).cast("int"))
    n0 = F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
    n1 = F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
    c0 = F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
    c1 = F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
    agg = users.agg(
        n0.alias("n0"), n1.alias("n1"), c0.alias("c0"), c1.alias("c1")
    )
    p0 = F.col("c0") / F.col("n0").cast("double")
    p1 = F.col("c1") / F.col("n1").cast("double")
    pp = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1")).cast("double")
    se = F.sqrt(pp * (1.0 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    return agg.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("n1").cast("long").alias("n1"),
        F.col("c0").cast("long").alias("conv0"),
        F.col("c1").cast("long").alias("conv1"),
        F.round(p0, 6).alias("rate0"),
        F.round(p1, 6).alias("rate1"),
        F.round((p0 - p1) / se, 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Zipf's-law fit: log-log regression of term frequency on rank
# ---------------------------------------------------------------------------

ZIPF_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), tf AS (
  SELECT tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY 1
), rk AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
  FROM tf
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       round(regr_slope(ln(CAST(cnt AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
         AS zipf_slope,
       round(regr_intercept(ln(CAST(cnt AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
         AS zipf_intercept
FROM rk WHERE rank <= 1000
"""


@register("corpus_zipf_slope", oracle=ZIPF_ORACLE)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-1000 vocabulary: OLS slope and
    intercept of ln(frequency) on ln(rank) — the corpus-health
    diagnostic a tokenizer/data-mix pipeline tracks per crawl snapshot
    (natural text sits near slope −1; a deviating slope flags
    boilerplate or spam floods).

    Scale shape: tokenize → one key-partitioned count collapses 100 TB
    of text to a VOCAB-sized frame; the rank window runs over that
    bounded frame (documented-bounded, the same contract as the BPE /
    TF-IDF tier); ``regr_slope`` / ``regr_intercept`` are single-pass
    JVM aggregates with exact DuckDB twins.
    """
    # tokenize runs on the scan width — widen the compact corpus scan
    # first (guide §2.5, same guard as the rest of the corpus tier)
    d = widen_doc_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    tf = (
        d.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
        )
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # vocab-bounded global window (|vocab| rows, not |tokens|)
    rk = tf.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("tok")))
    ).where(F.col("rank") <= 1000)
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("cnt").cast("double"))
    return rk.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(ly, lx), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(ly, lx), 6).alias("zipf_intercept"),
    )


# ---------------------------------------------------------------------------
# Out-of-vocabulary rate per language against the corpus top-1000 vocab
# ---------------------------------------------------------------------------

OOV_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), clean AS (
  SELECT doc_id, lang, tok FROM toks WHERE tok <> ''
), vocab AS (
  SELECT tok FROM (
    SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS r
    FROM clean GROUP BY tok
  ) WHERE r <= 1000
), per_doc AS (
  SELECT c.doc_id, c.lang,
         count(*) AS n_toks,
         SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM clean c LEFT JOIN vocab v ON c.tok = v.tok
  GROUP BY 1, 2
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(AVG(n_oov / CAST(n_toks AS DOUBLE)), 6) AS avg_oov_rate
FROM per_doc GROUP BY lang ORDER BY lang
"""


@register("corpus_oov_rate", oracle=OOV_ORACLE)
def corpus_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language out-of-vocabulary rate against the corpus's own
    top-1000 vocabulary — the coverage metric that decides whether a
    tokenizer's vocab needs retraining for a new data mix.

    Scale shape: the vocab is rank-bounded (1000 rows) so the
    token⋈vocab membership join is a BROADCAST left join — no shuffle
    of the exploded token stream by token; the per-doc aggregation
    shuffles on doc_id only (same key the explode preserved), and the
    per-lang rollup is |langs|-sized.
    """
    # widen the compact scan before the tokenize, and persist the token
    # stream: it feeds BOTH the vocab build and the per-doc OOV join —
    # unpersisted, each consumer re-runs the full explode (guide §2.4;
    # size-conditional per operators.caching)
    d = widen_doc_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    clean = maybe_persist(
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
        ).where(F.col("tok") != "")
    )
    vocab = (
        clean.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "r", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("tok")))
        )
        .where(F.col("r") <= 1000)
        .select("tok", F.lit(1).alias("hit"))
    )
    per_doc = (
        clean.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum(F.when(F.col("hit").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.avg(F.col("n_oov") / F.col("n_toks").cast("double")), 6
            ).alias("avg_oov_rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Character-class profile per source (cleanup diagnostics)
# ---------------------------------------------------------------------------

CHARCLASS_ORACLE = """
WITH per_doc AS (
  SELECT source,
         length(text) AS len,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
         length(regexp_replace(text, '[A-Za-z0-9 \\t\\n\\r]', '', 'g')) AS n_punct
  FROM documents WHERE length(text) > 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(AVG(n_digit / CAST(len AS DOUBLE)), 6) AS digit_ratio,
       round(AVG(n_upper / CAST(len AS DOUBLE)), 6) AS upper_ratio,
       round(AVG(n_punct / CAST(len AS DOUBLE)), 6) AS punct_ratio
FROM per_doc GROUP BY source ORDER BY source
"""


@register("text_charclass_profile", oracle=CHARCLASS_ORACLE)
def text_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class profile (digit / uppercase /
    punctuation density) — the cheap cleanup diagnostic that catches
    mojibake floods, code-dump sources, and SHOUTING spam before
    heavier quality models run.

    Scale shape: pure map-side regexp counting inside whole-stage
    codegen (counting by length-difference after class-stripping —
    no explode), then a |sources|-sized rollup. Character classes are
    ASCII-explicit so Java regex and RE2 agree.
    """
    # three per-doc regexp_replace passes — widen the compact scan so
    # they spread across cores (guide §2.5)
    d = widen_doc_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    ln = F.length("text")
    per_doc = d.where(ln > 0).select(
        "source",
        ln.alias("len"),
        F.length(F.regexp_replace("text", r"[^0-9]", "")).alias("n_digit"),
        F.length(F.regexp_replace("text", r"[^A-Z]", "")).alias("n_upper"),
        F.length(F.regexp_replace("text", "[A-Za-z0-9 \t\n\r]", "")).alias(
            "n_punct"
        ),
    )
    dbl = lambda c: F.col(c) / F.col("len").cast("double")  # noqa: E731
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(dbl("n_digit")), 6).alias("digit_ratio"),
            F.round(F.avg(dbl("n_upper")), 6).alias("upper_ratio"),
            F.round(F.avg(dbl("n_punct")), 6).alias("punct_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Mergeable binned-histogram quantiles (sketch-style, deterministic)
# ---------------------------------------------------------------------------

BINNED_Q_ORACLE = """
WITH rng AS (
  SELECT min(value) AS lo, max(value) AS hi FROM events
), binned AS (
  SELECT e.event_type,
         COALESCE(LEAST(CAST(floor((e.value - r.lo)
                  / NULLIF((r.hi - r.lo) / 256.0, 0)) AS INT), 255), 0) AS bin
  FROM events e CROSS JOIN rng r
), hist AS (
  SELECT event_type, bin, count(*) AS c FROM binned GROUP BY 1, 2
), cum AS (
  SELECT event_type, bin, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum_c,
         SUM(c) OVER (PARTITION BY event_type) AS total
  FROM hist
), q AS (
  SELECT event_type, total,
         min(CASE WHEN cum_c >= 0.5 * total THEN bin END) AS bin_p50,
         min(CASE WHEN cum_c >= 0.9 * total THEN bin END) AS bin_p90
  FROM cum GROUP BY event_type, total
)
SELECT q.event_type,
       CAST(q.total AS BIGINT) AS n_values,
       round(r.lo + (q.bin_p50 + 0.5) * ((r.hi - r.lo) / 256.0), 6) AS approx_p50,
       round(r.lo + (q.bin_p90 + 0.5) * ((r.hi - r.lo) / 256.0), 6) AS approx_p90
FROM q CROSS JOIN rng r ORDER BY q.event_type
"""


@register("agg_binned_quantiles", oracle=BINNED_Q_ORACLE)
def agg_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group quantiles from a 256-bin equal-width
    histogram — the mergeable-sketch pattern: per-partition histograms
    combine by addition (a plain groupBy count), so the operator
    needs two passes over the data and NO per-group sort at any
    scale; error is bounded by half a bin width.

    Determinism: bin edges derive from the global min/max (one scalar
    agg, broadcast); bin assignment is the same double arithmetic on
    both engines; quantile recovery picks the first bin whose
    cumulative count crosses the target (cumulative window over ≤256
    rows per group — bounded).
    """
    e = load_table(spark, sf_dir, "events")
    rng = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 256.0
    binned = e.crossJoin(F.broadcast(rng)).select(
        "event_type",
        "lo",
        "hi",
        # NULLIF-guarded width: an all-equal-values table (hi == lo)
        # must land in bin 0 on both engines, not diverge on inf/NaN
        # int-cast semantics
        F.coalesce(
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / F.nullif(width, F.lit(0.0))
                ).cast("int"),
                F.lit(255),
            ),
            F.lit(0),
        ).alias("bin"),
    )
    hist = binned.groupBy("event_type", "lo", "hi", "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_cum = Window.partitionBy("event_type").orderBy("bin")
    w_tot = Window.partitionBy("event_type")
    cum = hist.withColumn("cum_c", F.sum("c").over(w_cum)).withColumn(
        "total", F.sum("c").over(w_tot)
    )
    q = cum.groupBy("event_type", "lo", "hi", "total").agg(
        F.min(
            F.when(F.col("cum_c") >= 0.5 * F.col("total"), F.col("bin"))
        ).alias("bin_p50"),
        F.min(
            F.when(F.col("cum_c") >= 0.9 * F.col("total"), F.col("bin"))
        ).alias("bin_p90"),
    )
    return q.select(
        "event_type",
        F.col("total").cast("long").alias("n_values"),
        F.round(F.col("lo") + (F.col("bin_p50") + 0.5) * width, 6).alias(
            "approx_p50"
        ),
        F.round(F.col("lo") + (F.col("bin_p90") + 0.5) * width, 6).alias(
            "approx_p90"
        ),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Bounded weighted shortest paths (min-plus Bellman-Ford unroll)
# ---------------------------------------------------------------------------

SSSP_ORACLE = """
WITH pair AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS ca,
         's' || CAST(l_suppkey AS VARCHAR) AS sb,
         min(datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)))
           AS w
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
), e AS (
  SELECT ca AS a, sb AS b, w FROM pair
  UNION ALL SELECT sb, ca, w FROM pair
), d0 AS (
  SELECT DISTINCT ca AS node, CAST(0 AS BIGINT) AS dist FROM pair
  WHERE CAST(substr(ca, 2) AS BIGINT) % 100 = 0
), d1 AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d0
    UNION ALL SELECT e.b, d0.dist + e.w FROM d0 JOIN e ON e.a = d0.node
  ) GROUP BY node
), d2 AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d1
    UNION ALL SELECT e.b, d1.dist + e.w FROM d1 JOIN e ON e.a = d1.node
  ) GROUP BY node
), d3 AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d2
    UNION ALL SELECT e.b, d2.dist + e.w FROM d2 JOIN e ON e.a = d2.node
  ) GROUP BY node
)
SELECT substr(node, 1, 1) AS node_type,
       CAST(count(*) AS BIGINT) AS n_reachable,
       CAST(min(dist) AS BIGINT) AS min_dist,
       round(avg(dist), 6) AS avg_dist,
       CAST(max(dist) AS BIGINT) AS max_dist
FROM d3 GROUP BY 1 ORDER BY 1
"""


@register("graph_sssp_weighted", oracle=SSSP_ORACLE)
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (≤3 relaxation rounds) from seed
    customers (custkey % 100 = 0) over the undirected customer↔supplier
    purchase graph, edge weight = the pair's minimum order→ship lag in
    whole days (exact integers — no float distance drift). Distances
    summarized per node type. The min-plus rounds are a literal unroll
    of distributed Bellman-Ford (operators/graph.sssp_bounded); the
    oracle chains the identical relaxation as three CTEs.

    Scale shape: per round one key-partitioned join + one min-agg on
    the node key, localCheckpointed between rounds; nothing node-sized
    broadcast (the VERDICT r4 PageRank lesson, applied from birth).
    """
    from gcs2postgres_spark.operators.graph import sssp_bounded

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # node ids are internal (output groups by node TYPE only): longs
    # (cust 2k, supp 2k+1) keep the per-round checkpoints and joins
    # cheap; parity recovers the type
    # persist the weighted pair build: THREE consumers read it (the two
    # symmetrization arms of ``e`` and the seed scan), and each would
    # otherwise re-run the orders⋈lineitem join + min-agg from parquet
    # when sssp_bounded eagerly checkpoints its inputs (guide §2.4)
    pair = maybe_persist(
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            (F.col("o_custkey").cast("long") * 2).alias("ca"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("sb"),
        )
        .agg(
            F.min(
                F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            ).alias("w")
        )
    )
    e = pair.select(
        F.col("ca").alias("a"), F.col("sb").alias("b"), "w"
    ).unionByName(pair.select(F.col("sb").alias("a"), F.col("ca").alias("b"), "w"))
    seeds = (
        pair.where(F.col("ca") % 200 == 0)  # 2·custkey ≡ 0 (mod 200)
        .select(F.col("ca").alias("node"))
        .distinct()
    )
    dist = sssp_bounded(e, seeds, n_rounds=3)
    return (
        dist.groupBy(
            F.when(F.col("node") % 2 == 0, F.lit("c"))
            .otherwise(F.lit("s"))
            .alias("node_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_reachable"),
            F.min("dist").alias("min_dist"),
            F.round(F.avg("dist"), 6).alias("avg_dist"),
            F.max("dist").alias("max_dist"),
        )
        .orderBy("node_type")
    )


# ---------------------------------------------------------------------------
# Sequential quality-gate funnel over the document corpus
# ---------------------------------------------------------------------------

FILTER_FUNNEL_ORACLE = """
WITH feat AS (
  SELECT length(text) AS len,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
), f2 AS (
  SELECT len, len(toks) AS n_words, len(list_distinct(toks)) AS n_distinct
  FROM feat
), staged AS (
  SELECT CASE
    WHEN len < 200 THEN 1
    WHEN n_words < 45 THEN 2
    WHEN 100 * n_distinct < 33 * n_words THEN 3
    WHEN 100 * len > 565 * n_words THEN 4
    ELSE 0 END AS drop_stage
  FROM f2
), drops AS (
  SELECT drop_stage, count(*) AS c FROM staged GROUP BY 1
), spine AS (
  SELECT * FROM (VALUES (1, 'min_length'), (2, 'min_words'),
                        (3, 'lexical_diversity'), (4, 'word_length'))
    AS t(stage, rule)
), tot AS (
  SELECT SUM(c) AS total FROM drops
)
SELECT s.stage, s.rule,
       CAST(t.total - COALESCE(SUM(d2.c) FILTER (WHERE d2.drop_stage > 0
              AND d2.drop_stage < s.stage), 0) AS BIGINT) AS n_in,
       CAST(COALESCE(max(CASE WHEN d.drop_stage = s.stage THEN d.c END), 0)
              AS BIGINT) AS n_drop
FROM spine s
CROSS JOIN tot t
LEFT JOIN drops d ON d.drop_stage = s.stage
LEFT JOIN drops d2 ON d2.drop_stage > 0 AND d2.drop_stage < s.stage
GROUP BY s.stage, s.rule, t.total
ORDER BY s.stage
"""


@register("corpus_filter_funnel", oracle=FILTER_FUNNEL_ORACLE)
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential quality-gate funnel (the CCNet/Gopher-rules shape):
    each document is attributed to the FIRST gate it fails —
    min-length → min-words → lexical diversity (type-token ratio) →
    mean word length — and the funnel reports, per gate, how many
    documents reached it and how many it dropped. This is the triage
    view a training-data pipeline publishes per crawl so rule
    regressions are attributable.

    Determinism: every gate is an exact INTEGER comparison
    (100·distinct < 33·words, 100·chars > 565·words) — no float ratio
    can sit on a knife edge between engines.

    Scale shape: one map-side pass computes all per-doc features
    inside codegen (no explode — counts via size(filter(split)) /
    size(array_distinct)), the drop-stage histogram is a ≤5-row
    aggregate, and the funnel arithmetic runs on that bounded frame
    joined to a literal spine.
    """
    # widen before the per-doc tokenize+distinct (guide §2.5); persist
    # `drops` below — it is read by BOTH the total aggregate and the
    # spine join, and unpersisted each read re-runs the full tokenize
    d = widen_doc_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    ln = F.length("text")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    feat = d.select(
        ln.alias("len"),
        F.size(toks).alias("n_words"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    drop_stage = (
        F.when(F.col("len") < 200, 1)
        .when(F.col("n_words") < 45, 2)
        .when(100 * F.col("n_distinct") < 33 * F.col("n_words"), 3)
        .when(100 * F.col("len") > 565 * F.col("n_words"), 4)
        .otherwise(0)
    )
    drops = maybe_persist(
        feat.select(drop_stage.alias("drop_stage"))
        .groupBy("drop_stage")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rules = spark.createDataFrame(
        [
            (1, "min_length"),
            (2, "min_words"),
            (3, "lexical_diversity"),
            (4, "word_length"),
        ],
        "stage int, rule string",
    )
    total = drops.agg(F.sum("c").alias("total"))
    # cumulative drops BEFORE each stage, over the bounded stage frame
    joined = (
        rules.crossJoin(F.broadcast(total))
        .join(
            F.broadcast(drops).withColumnRenamed("drop_stage", "stage"),
            "stage",
            "left",
        )
        .withColumnRenamed("c", "n_drop_raw")
    )
    w_prior = (
        Window.orderBy("stage")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        joined.withColumn("n_drop", F.coalesce("n_drop_raw", F.lit(0)))
        .withColumn(
            "n_in",
            (F.col("total") - F.coalesce(F.sum("n_drop").over(w_prior), F.lit(0))).cast(
                "long"
            ),
        )
        .select("stage", "rule", "n_in", F.col("n_drop").cast("long").alias("n_drop"))
        .orderBy("stage")
    )


# ---------------------------------------------------------------------------
# Trigram novelty vs the corpus prefix (doc_id order)
# ---------------------------------------------------------------------------

NGRAM_NOVELTY_ORACLE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), g AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) >= 3 THEN
      list_distinct(list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' ')))
    ELSE [array_to_string(t, ' ')] END) AS ng
  FROM toks
), first_seen AS (
  SELECT ng, min(doc_id) AS first_doc FROM g GROUP BY 1
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_ngrams,
       CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
               / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM g JOIN first_seen f ON g.ng = f.ng
GROUP BY g.doc_id ORDER BY g.doc_id
"""


@register("corpus_ngram_novelty", oracle=NGRAM_NOVELTY_ORACLE)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty against the corpus prefix in
    ingestion (doc_id) order: the fraction of a doc's distinct
    3-grams whose FIRST corpus occurrence is that doc — the
    freshness/staleness signal an incremental crawl pipeline uses to
    decide whether a new batch still adds information (novelty → 0
    as a source exhausts).

    Scale shape: shingling is one Arrow-batched pandas pass,
    first-occurrence is ONE key-partitioned min-aggregation over the
    exploded n-gram stream, and the join back is on the same n-gram
    key — two shuffles total, both on n-gram, with map-side partials.
    No windows, no driver state; 100 TB of text reduces to the
    distinct-n-gram frame.
    """
    from gcs2postgres_spark.operators.dedup import shingle_docs

    d = load_table(spark, sf_dir, "documents")
    # Arrow-batched shingler, NOT the higher-order-function form:
    # string-heavy HOF lambdas run interpreted and measured 14x slower
    # than the oracle at sf1 (70.5 s -> see BASELINE round-5b tier);
    # the pandas shingler is the same one the MinHash pipeline uses.
    # persist the (doc, ngram) relation: it feeds BOTH the first-seen
    # aggregate and the join back — unpersisted, the Arrow shingler and
    # explode run twice (guide §2.4; size-conditional)
    g = maybe_persist(
        shingle_docs(d, "doc_id", "text", shingle_n=3).withColumnRenamed(
            "shingle", "ng"
        )
    )
    first = g.groupBy("ng").agg(F.min("doc_id").alias("first_doc"))
    return (
        g.join(first, "ng")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
            F.round(
                F.sum(
                    F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
                )
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Embedding centroid drift between two deterministic batches
# ---------------------------------------------------------------------------

CENTROID_DRIFT_ORACLE = """
WITH half AS (
  SELECT label, CAST(vec_id % 2 AS INT) AS batch, embedding AS vec
  FROM embeddings
), cent AS (
  SELECT label, batch, i AS pos, avg(vec[i]) AS m
  FROM half, unnest(generate_series(1, len(vec))) AS u(i)
  GROUP BY label, batch, i
), paired AS (
  SELECT a.label, a.pos, a.m AS m0, b.m AS m1
  FROM cent a JOIN cent b
    ON a.label = b.label AND a.pos = b.pos AND a.batch = 0 AND b.batch = 1
), counts AS (
  SELECT label,
         SUM(CASE WHEN batch = 0 THEN 1 ELSE 0 END) AS n0,
         SUM(CASE WHEN batch = 1 THEN 1 ELSE 0 END) AS n1
  FROM half GROUP BY label
)
SELECT p.label,
       CAST(c.n0 AS BIGINT) AS n_batch0,
       CAST(c.n1 AS BIGINT) AS n_batch1,
       round(sqrt(SUM((p.m0 - p.m1) * (p.m0 - p.m1))), 5) AS centroid_l2_drift
FROM paired p JOIN counts c ON p.label = c.label
GROUP BY p.label, c.n0, c.n1
ORDER BY p.label
"""


@register("embedding_centroid_drift", oracle=CENTROID_DRIFT_ORACLE)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2 drift between the centroids of two deterministic
    halves of the embedding table (vec_id parity = 'yesterday's batch
    vs today's') — the embedding-distribution drift monitor that
    catches encoder version skew or upstream feature rot before it
    poisons retrieval (cf. events_psi_drift for the scalar twin).

    Scale shape: posexplode to (label, batch, dim) then ONE
    key-partitioned avg — dimension count is a constant (the vector
    width), so the centroid frame is |labels|×|dims|×2, tiny at any
    corpus size; the batch0⋈batch1 pairing runs on that bounded frame.
    Floats are cast to double before averaging (DuckDB's unnested
    FLOAT[] aggregates in double), drift rounded to 5.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    half = emb.select(
        "label",
        (F.col("vec_id") % 2).cast("int").alias("batch"),
        F.posexplode("embedding").alias("pos0", "v"),
    ).select(
        "label", "batch", (F.col("pos0") + 1).alias("pos"), F.col("v").cast("double")
    )
    cent = half.groupBy("label", "batch", "pos").agg(F.avg("v").alias("m"))
    a = cent.where(F.col("batch") == 0).select(
        "label", "pos", F.col("m").alias("m0")
    )
    b = cent.where(F.col("batch") == 1).select(
        "label", "pos", F.col("m").alias("m1")
    )
    counts = emb.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0)).alias("n_batch0"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0)).alias("n_batch1"),
    )
    drift = (
        a.join(b, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.round(
                F.sqrt(F.sum((F.col("m0") - F.col("m1")) * (F.col("m0") - F.col("m1")))),
                5,
            ).alias("centroid_l2_drift")
        )
    )
    return (
        counts.join(drift, "label")
        .select(
            "label",
            F.col("n_batch0").cast("long").alias("n_batch0"),
            F.col("n_batch1").cast("long").alias("n_batch1"),
            "centroid_l2_drift",
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Funnel timing: click → purchase conversion-delay distribution
# ---------------------------------------------------------------------------

TIME_TO_CONVERT_ORACLE = """
WITH first_click AS (
  SELECT user_id, min(ts) AS t_click FROM events
  WHERE event_type = 'click' GROUP BY 1
), first_purchase AS (
  SELECT e.user_id, min(e.ts) AS t_buy
  FROM events e JOIN first_click f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= f.t_click
  GROUP BY 1
), delays AS (
  SELECT CAST(date_diff('second', f.t_click, p.t_buy) AS BIGINT) AS secs
  FROM first_click f JOIN first_purchase p ON f.user_id = p.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       CAST(min(secs) AS BIGINT) AS min_secs,
       round(quantile_cont(secs, 0.5), 6) AS p50_secs,
       round(quantile_cont(secs, 0.9), 6) AS p90_secs,
       CAST(max(secs) AS BIGINT) AS max_secs
FROM delays
"""


@register("events_time_to_convert", oracle=TIME_TO_CONVERT_ORACLE)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase conversion-delay distribution: per user, the
    first purchase AT OR AFTER the first click, delay in whole seconds,
    summarized as exact P50/P90 — the funnel-timing companion to
    events_funnel_3step (which counts conversions; this times them).

    Determinism: integer-second deltas; Spark ``percentile`` and
    DuckDB ``quantile_cont`` share the p·(n−1) interpolation
    definition, engine-identical on integers.

    Scale shape: two user-keyed min-aggregations (map-side partials)
    and one user-keyed join — no windows over the raw event stream;
    the final percentile folds a |converted-users|-sized frame of
    integers whose exact grouped percentile Spark computes
    distributed (ObjectHashAggregate).
    """
    e = load_table(spark, sf_dir, "events")
    first_click = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    first_purchase = (
        e.where(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .where(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    delays = first_click.join(first_purchase, "user_id").select(
        (
            F.col("t_buy").cast("long") - F.col("t_click").cast("long")
        ).alias("secs")
    )
    return delays.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("secs").alias("min_secs"),
        F.round(F.percentile("secs", 0.5), 6).alias("p50_secs"),
        F.round(F.percentile("secs", 0.9), 6).alias("p90_secs"),
        F.max("secs").alias("max_secs"),
    )


# ---------------------------------------------------------------------------
# Cross-correlation between two event-type daily series
# ---------------------------------------------------------------------------

XCORR_ORACLE = """
WITH clicks AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS c FROM events
  WHERE event_type = 'click' GROUP BY 1
), buys AS (
  SELECT CAST(ts AS DATE) AS day, count(*) AS c FROM events
  WHERE event_type = 'purchase' GROUP BY 1
), lags AS (
  SELECT CAST(unnest(range(-3, 4)) AS INT) AS lag
), pairs AS (
  SELECT l.lag, a.c AS c0, b.c AS c1
  FROM clicks a CROSS JOIN lags l
  JOIN buys b ON b.day = a.day + l.lag
)
SELECT lag,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(corr(c0, c1), 6) AS ccf
FROM pairs GROUP BY lag ORDER BY lag
"""


@register("events_xcorr_click_purchase", oracle=XCORR_ORACLE)
def events_xcorr_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation (lags −3..+3) between the daily click series
    and the daily purchase series — 'do purchases follow clicks, and
    by how many days?' — the lead-lag diagnostic behind attribution
    window choices (cf. events_autocorr_lags for the self-correlation
    twin).

    Scale shape: both series are DATE-bounded after one map-side-
    partial groupBy each; the shifted join broadcasts the purchase
    series. Calendar-aligned: a day missing from either series
    contributes no pair at any lag.
    """
    e = load_table(spark, sf_dir, "events")
    daily = lambda typ: (  # noqa: E731
        e.where(F.col("event_type") == typ)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    clicks = daily("click")
    buys = daily("purchase")
    lagged = clicks.withColumn(
        "lag", F.explode(F.array(*[F.lit(i) for i in range(-3, 4)]))
    ).withColumn("match_day", F.date_add("day", F.col("lag")))
    b = buys.select(F.col("day").alias("match_day"), F.col("c").alias("c1"))
    return (
        lagged.join(F.broadcast(b), "match_day")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("c", "c1"), 6).alias("ccf"),
        )
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# Burstiness: Fano factor of per-user daily activity
# ---------------------------------------------------------------------------

BURSTINESS_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS c
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT user_id,
         count(*) AS n,
         SUM(c) AS s1,
         SUM(CAST(c AS HUGEINT) * c) AS s2
  FROM daily GROUP BY 1 HAVING count(*) >= 5
)
SELECT user_id,
       CAST(n AS BIGINT) AS n_active_days,
       CAST((s1 * 1000000) // n AS BIGINT) / 1e6 AS mean_daily,
       CAST(((n * s2 - CAST(s1 AS HUGEINT) * s1) * 1000000)
            // (CAST(n - 1 AS HUGEINT) * s1) AS BIGINT) / 1e6 AS fano_factor
FROM stats ORDER BY user_id
"""


@register("events_user_burstiness", oracle=BURSTINESS_ORACLE)
def events_user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance/mean of daily event counts) per user —
    the burstiness feature separating steady organic users (≈1,
    Poisson) from batchy automation (≫1), a standard bot-detection
    input alongside events_user_entropy. Users with <5 active days are
    excluded (a variance over 2-3 points is noise).

    Scale shape: two key-partitioned aggregations (user×day, then
    user), both with map-side partials — no windows. ``var_samp``
    matches DuckDB's sample-variance definition.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # Exact integer arithmetic (the RFM lesson, which this query
    # repeated at sf0.1: round(var/mu, 6) of integer counts sits on a
    # rational grid with real half-ulp edges): fano = var_samp/mean =
    # (n·Σx² − (Σx)²)/((n−1)·Σx) — all integers until one exact FLOOR
    # division at 6 dp on both engines.
    stats = (
        daily.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c").cast("decimal(19,0)") * F.col("c")).alias("s2"),
        )
        .where(F.col("n") >= 5)
    )
    return stats.select(
        "user_id",
        F.col("n").cast("long").alias("n_active_days"),
        ratio_6dp(F.col("s1"), F.col("n")).alias("mean_daily"),
        ratio_6dp(
            F.col("n").cast("decimal(38,0)") * F.col("s2")
            - F.col("s1").cast("decimal(19,0)")
            * F.col("s1").cast("decimal(19,0)"),
            (F.col("n") - 1).cast("decimal(38,0)") * F.col("s1"),
        ).alias("fano_factor"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# Order-totals reconciliation audit (header vs lines)
# ---------------------------------------------------------------------------

ORDER_RECON_ORACLE = """
WITH line_sums AS (
  SELECT l_orderkey,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS lines_c,
         count(*) AS n_lines
  FROM lineitem GROUP BY 1
), recon AS (
  SELECT o.o_orderkey,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS header_c,
         COALESCE(l.lines_c, 0) AS lines_c,
         COALESCE(l.n_lines, 0) AS n_lines
  FROM orders o LEFT JOIN line_sums l ON o.o_orderkey = l.l_orderkey
), classed AS (
  SELECT CASE
    WHEN n_lines = 0 THEN 'no_lines'
    WHEN header_c = lines_c THEN 'exact'
    WHEN abs(header_c - lines_c) * 100 <= header_c THEN 'within_1pct'
    ELSE 'mismatch' END AS recon_class,
    abs(header_c - lines_c) AS abs_diff_c
  FROM recon
)
SELECT recon_class,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(SUM(abs_diff_c) / 100.0, 2) AS total_abs_diff
FROM classed GROUP BY 1 ORDER BY 1
"""


@register("dq_order_totals_recon", oracle=ORDER_RECON_ORACLE)
def dq_order_totals_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation: does each order's header total
    match the sum of its line extended prices? Orders are classed
    exact / within-1% / mismatch / no-lines with the aggregate money
    gap per class — the classic ledger-integrity audit every ETL
    pipeline runs after load (the reference's load-then-verify posture,
    src/db/db.go:149-180, expressed as a query).

    Determinism: all money exact integer cents; the 1% band is the
    exact-rational test |diff|·100 ≤ header — no float division.

    Scale shape: one key-partitioned sum over lineitem (map-side
    partials), one key-partitioned LEFT join on the order key, then a
    4-row class rollup.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    line_sums = li.groupBy("l_orderkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("lines_c"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    recon = (
        o.select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("header_c"),
        )
        .join(line_sums, F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .select(
            "header_c",
            F.coalesce("lines_c", F.lit(0)).alias("lines_c"),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        )
    )
    cls = (
        F.when(F.col("n_lines") == 0, "no_lines")
        .when(F.col("header_c") == F.col("lines_c"), "exact")
        .when(
            F.abs(F.col("header_c") - F.col("lines_c")) * 100 <= F.col("header_c"),
            "within_1pct",
        )
        .otherwise("mismatch")
    )
    return (
        recon.select(
            cls.alias("recon_class"),
            F.abs(F.col("header_c") - F.col("lines_c")).alias("abs_diff_c"),
        )
        .groupBy("recon_class")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("abs_diff_c") / 100.0, 2).alias("total_abs_diff"),
        )
        .orderBy("recon_class")
    )


# ---------------------------------------------------------------------------
# Daily revenue percentile bands (P10/P50/P90 of order values per day)
# ---------------------------------------------------------------------------

REV_BANDS_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT day,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(quantile_cont(cents, 0.10) / 100.0, 6) AS p10_value,
       round(quantile_cont(cents, 0.50) / 100.0, 6) AS p50_value,
       round(quantile_cont(cents, 0.90) / 100.0, 6) AS p90_value
FROM daily GROUP BY day ORDER BY day
"""


@register("orders_daily_value_bands", oracle=REV_BANDS_ORACLE)
def orders_daily_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/P50/P90 order-value bands per day — the control-chart feed
    for monitoring order-mix shifts (a p50 drift with stable p90 means
    the long tail didn't move; both drifting means repricing).

    Determinism: percentiles over exact integer CENTS (the float
    dollars would interpolate off-grid); Spark ``percentile`` ==
    DuckDB ``quantile_cont`` (p·(n−1) interpolation) on integers.

    Scale shape: exact grouped percentiles are a single
    ObjectHashAggregate keyed by day — partitions parallel across
    days, no global window; 100 TB of orders still yields
    |days|-bounded output.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.select(
        F.to_date("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        daily.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.percentile("cents", 0.10) / 100.0, 6).alias("p10_value"),
            F.round(F.percentile("cents", 0.50) / 100.0, 6).alias("p50_value"),
            F.round(F.percentile("cents", 0.90) / 100.0, 6).alias("p90_value"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Join-cardinality profile: CBO-style size prediction from key histograms
# ---------------------------------------------------------------------------

JOIN_CARD_ORACLE = """
WITH ca AS (
  SELECT user_id, count(*) AS c FROM events WHERE event_type = 'click' GROUP BY 1
), cb AS (
  SELECT user_id, count(*) AS c FROM events WHERE event_type = 'purchase' GROUP BY 1
), contrib AS (
  SELECT ca.user_id, CAST(ca.c AS BIGINT) * cb.c AS rows_out
  FROM ca JOIN cb ON ca.user_id = cb.user_id
), tot AS (
  SELECT count(*) AS n_keys_both, SUM(rows_out) AS predicted_rows FROM contrib
), act AS (
  SELECT count(*) AS actual_rows
  FROM events a JOIN events b
    ON a.user_id = b.user_id
   AND a.event_type = 'click' AND b.event_type = 'purchase'
), top1 AS (
  SELECT user_id AS top_key, rows_out AS top_rows FROM contrib
  ORDER BY rows_out DESC, user_id LIMIT 1
)
SELECT CAST(t.n_keys_both AS BIGINT) AS n_keys_both,
       CAST(t.predicted_rows AS BIGINT) AS predicted_rows,
       CAST(a.actual_rows AS BIGINT) AS actual_rows,
       p.top_key,
       round(p.top_rows / CAST(t.predicted_rows AS DOUBLE), 6) AS top_key_share
FROM tot t CROSS JOIN act a CROSS JOIN top1 p
"""


@register("profile_join_cardinality", oracle=JOIN_CARD_ORACLE)
def profile_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CBO-style join-size prediction from per-key count histograms:
    |A ⋈_k B| = Σ_k cA(k)·cB(k), here for the clicks⋈purchases
    self-join on user_id, with the top contributing key's share — the
    pre-flight check that tells you a shuffle join will explode
    BEFORE you run it (and which key to salt). The query also executes
    the real join at test scale and emits both numbers; their exact
    equality certifies the estimator (at 100 TB you run only the
    histogram side — two cheap aggregations instead of the join).

    Scale shape: the histograms are key-partitioned counts with
    map-side partials; their join is |distinct keys|-sized; the
    top-1 pick is a TakeOrdered, not a sort.
    """
    e = load_table(spark, sf_dir, "events")
    ca = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c_a"))
    )
    cb = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c_b"))
    )
    contrib = ca.join(cb, "user_id").select(
        "user_id", (F.col("c_a").cast("long") * F.col("c_b")).alias("rows_out")
    )
    tot = contrib.agg(
        F.count(F.lit(1)).alias("n_keys_both"),
        F.sum("rows_out").alias("predicted_rows"),
    )
    act = (
        e.where(F.col("event_type") == "click")
        .select("user_id")
        .join(
            e.where(F.col("event_type") == "purchase").select("user_id"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("actual_rows"))
    )
    top1 = contrib.orderBy(F.desc("rows_out"), "user_id").limit(1).select(
        F.col("user_id").alias("top_key"), F.col("rows_out").alias("top_rows")
    )
    return (
        tot.crossJoin(F.broadcast(act))
        .crossJoin(F.broadcast(top1))
        .select(
            "n_keys_both",
            "predicted_rows",
            "actual_rows",
            "top_key",
            F.round(
                F.col("top_rows") / F.col("predicted_rows").cast("double"), 6
            ).alias("top_key_share"),
        )
    )


# ---------------------------------------------------------------------------
# Supplier revenue concentration per nation (Herfindahl-Hirschman index)
# ---------------------------------------------------------------------------

HHI_ORACLE = """
WITH srev AS (
  SELECT s.s_nationkey, l.l_suppkey,
         SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS a
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
), nat AS (
  SELECT s_nationkey,
         count(*) AS n_suppliers,
         SUM(a) AS t,
         SUM(CAST(a AS HUGEINT) * a) AS sum_sq
  FROM srev GROUP BY 1
)
SELECT n.n_name AS nation,
       CAST(a.n_suppliers AS BIGINT) AS n_suppliers,
       round(a.t / 100.0, 2) AS total_revenue,
       CAST((a.sum_sq * 1000000) // (CAST(a.t AS HUGEINT) * a.t) AS BIGINT) / 1e6
         AS hhi
FROM nat a JOIN nation n ON a.s_nationkey = n.n_nationkey
ORDER BY nation
"""


@register("nation_supplier_hhi", oracle=HHI_ORACLE)
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation: HHI = Σ share² = Σa²/T² — the market-concentration /
    single-point-of-failure metric a supply-chain risk report leads
    with (1/n = perfectly even, 1.0 = monopoly supplier).

    Determinism: the round-5b house pattern for ratios of integers —
    revenue in exact cents, Σa² exact (decimal(19)² → decimal(38) /
    HUGEINT), and the final ratio via exact integer FLOOR division at
    6 dp; no float knife edge is possible (cf. the RFM fix).

    Scale shape: two key-partitioned aggregations (supplier, then
    nation) with map-side partials; the supplier⋈nation dim join
    broadcasts; no windows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    srev = (
        li.join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("a")
        )
    )
    nat = srev.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("a").alias("t"),
        F.sum(F.col("a").cast("decimal(19,0)") * F.col("a").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("sum_sq"),
    )
    return (
        nat.join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            "n_suppliers",
            F.round(F.col("t") / 100.0, 2).alias("total_revenue"),
            ratio_6dp(
                F.col("sum_sq"),
                F.col("t").cast("decimal(19,0)")
                * F.col("t").cast("decimal(19,0)"),
            ).alias("hhi"),
        )
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# Supplier OTIF (on-time delivery share, exact rational percentage)
# ---------------------------------------------------------------------------

OTIF_ORACLE = """
WITH lines AS (
  SELECT l_suppkey,
         CASE WHEN datediff('day', CAST(o_orderdate AS DATE),
                            CAST(l_shipdate AS DATE)) BETWEEN 0 AND 60
              THEN 1 ELSE 0 END AS on_time
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT l_suppkey,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(SUM(on_time) AS BIGINT) AS n_on_time,
       CAST((SUM(on_time) * 1000000) // count(*) AS BIGINT) / 1e6 AS otif_rate
FROM lines GROUP BY 1 ORDER BY l_suppkey
"""


@register("supplier_otif_rate", oracle=OTIF_ORACLE)
def supplier_otif_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-time delivery share per supplier: shipped within 0-60 days
    of the order date — the OTIF vendor scorecard, the thresholded
    companion to supplier_ship_latency_pcts (which reports the full
    distribution). The synthetic dates are not causally ordered, so
    negative lags count as NOT on time (real pipelines flag them as
    data errors). Rate via exact integer floor division at 6 dp (the
    round-5b house pattern — no float knife edge possible).

    Scale shape: one key-partitioned fact join (lineitem's single
    shuffle), a map-side CASE, one |suppliers|-keyed count/sum with
    partials.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lag = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    on_time = F.when((lag >= 0) & (lag <= 60), 1).otherwise(0)
    return (
        li.join(o.select("o_orderkey", "o_orderdate"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_suppkey", on_time.alias("on_time"))
        .groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("on_time").alias("n_on_time"),
        )
        .select(
            "l_suppkey",
            "n_lines",
            "n_on_time",
            ratio_6dp(F.col("n_on_time"), F.col("n_lines")).alias("otif_rate"),
        )
        .orderBy("l_suppkey")
    )


# ---------------------------------------------------------------------------
# Activity heatmap: day-of-week × hour event matrix
# ---------------------------------------------------------------------------

DOW_HOUR_ORACLE = """
SELECT CAST(dayofweek(ts) AS INT) AS dow,
       CAST(hour(ts) AS INT) AS hr,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2 ORDER BY dow, hr
"""


@register("events_dow_hour_heatmap", oracle=DOW_HOUR_ORACLE)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap (events + distinct
    users per cell) — the standard traffic-shape view behind capacity
    planning and anomaly baselines. DuckDB ``dayofweek`` is 0=Sunday;
    Spark ``dayofweek`` is 1=Sunday, so the Spark side subtracts 1 to
    match — pinned by the value compare, not by convention.

    Scale shape: one 168-cell keyed aggregation; the distinct-user
    count is the only shuffle-heavy part (partial distinct per cell).
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("dow", "hr")
    )


# ---------------------------------------------------------------------------
# Discount→quantity elasticity per brand (grouped OLS slope)
# ---------------------------------------------------------------------------

ELASTICITY_ORACLE = """
WITH d AS (
  SELECT p.p_brand,
         l.l_discount AS x,
         l.l_quantity AS y
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
)
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(regr_slope(y, x), 6) AS qty_per_discount,
       round(regr_r2(y, x), 6) AS r2
FROM d GROUP BY 1 ORDER BY p_brand
"""


@register("brand_discount_elasticity", oracle=ELASTICITY_ORACLE)
def brand_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand OLS slope of quantity on discount (with R²) — 'does
    discounting move volume for this brand?' — the pricing-analytics
    staple, computed with the single-pass regression aggregates
    (`regr_slope`/`regr_r2`, identical Welford-style definitions in
    Spark and DuckDB).

    Scale shape: the part dim broadcasts into the fact scan; one
    |brands|-keyed aggregation with map-side partials; no windows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    d = li.join(
        F.broadcast(p.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    return (
        d.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.regr_slope(F.col("l_quantity"), F.col("l_discount")), 6).alias(
                "qty_per_discount"
            ),
            F.round(F.regr_r2(F.col("l_quantity"), F.col("l_discount")), 6).alias(
                "r2"
            ),
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Jackknife standard error over deterministic hash buckets
# ---------------------------------------------------------------------------

JACKKNIFE_ORACLE = """
WITH b AS (
  SELECT CAST(event_id % 20 AS INT) AS bucket,
         count(*) AS n, SUM(value) AS s
  FROM events GROUP BY 1
), tot AS (
  SELECT SUM(n) AS n_tot, SUM(s) AS s_tot, count(*) AS k FROM b
), loo AS (
  SELECT b.bucket,
         (t.s_tot - b.s) / (t.n_tot - b.n) AS mean_wo
  FROM b CROSS JOIN tot t
), jk AS (
  SELECT avg(mean_wo) AS jk_mean, count(*) AS k FROM loo
)
SELECT CAST(t.n_tot AS BIGINT) AS n_values,
       round(t.s_tot / t.n_tot, 6) AS mean_value,
       round(sqrt((jk.k - 1.0) / jk.k
                  * SUM((l.mean_wo - jk.jk_mean) * (l.mean_wo - jk.jk_mean))),
             6) AS jackknife_se
FROM loo l CROSS JOIN tot t CROSS JOIN jk
GROUP BY t.n_tot, t.s_tot, jk.k
"""


@register("agg_jackknife_se", oracle=JACKKNIFE_ORACLE)
def agg_jackknife_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife standard error of the mean over 20
    DETERMINISTIC buckets (event_id % 20) — error bars for a
    distributed aggregate with zero randomness (reruns and engines
    agree bit-for-bit on the bucketing), the honest way to put a ±
    on a metric without bootstrap RNG.

    Scale shape: ONE keyed partial aggregation (bucket → n, Σ); every
    leave-one-out mean is then algebra over the 20-row frame — the
    jackknife costs one aggregation pass regardless of data size,
    the textbook mergeable-statistics trick.
    """
    e = load_table(spark, sf_dir, "events")
    b = e.groupBy((F.col("event_id") % 20).cast("int").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("s")
    )
    tot = b.agg(
        F.sum("n").alias("n_tot"), F.sum("s").alias("s_tot"), F.count(F.lit(1)).alias("k")
    )
    loo = b.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_tot",
        "s_tot",
        "k",
        ((F.col("s_tot") - F.col("s")) / (F.col("n_tot") - F.col("n"))).alias(
            "mean_wo"
        ),
    )
    jk = loo.groupBy("n_tot", "s_tot", "k").agg(
        F.avg("mean_wo").alias("jk_mean")
    )
    return (
        loo.join(F.broadcast(jk), ["n_tot", "s_tot", "k"])
        .groupBy("n_tot", "s_tot", "k")
        .agg(
            F.round(
                F.sqrt(
                    (F.col("k") - 1.0)
                    / F.col("k")
                    * F.sum(
                        (F.col("mean_wo") - F.col("jk_mean"))
                        * (F.col("mean_wo") - F.col("jk_mean"))
                    )
                ),
                6,
            ).alias("jackknife_se")
        )
        .select(
            F.col("n_tot").cast("long").alias("n_values"),
            F.round(F.col("s_tot") / F.col("n_tot"), 6).alias("mean_value"),
            "jackknife_se",
        )
    )


# ---------------------------------------------------------------------------
# Inter-arrival gap statistics per user (behavioural timing feature)
# ---------------------------------------------------------------------------

INTER_ARRIVAL_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), gaps AS (
  SELECT user_id,
         CAST(date_diff('second', prev_ts, ts) AS BIGINT) AS gap_s
  FROM ordered WHERE prev_ts IS NOT NULL
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_s) AS BIGINT) AS min_gap_s,
       round(quantile_cont(gap_s, 0.5), 6) AS p50_gap_s,
       round(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s
FROM gaps GROUP BY user_id ORDER BY user_id
"""


@register("events_inter_arrival_stats", oracle=INTER_ARRIVAL_ORACLE)
def events_inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution per user (exact P50/P90 of
    consecutive-event spacing in whole seconds) — the timing texture
    behind sessionization gap choices and the burstiness feature
    (events_user_burstiness counts days; this measures the seconds
    between touches).

    Determinism: integer-second gaps (timestamps truncate identically
    on both engines), total order (ts, event_id) inside each user.

    Scale shape: one user-partitioned lag window + one user-keyed
    exact-percentile aggregation — both parallel across users, no
    global ordering anywhere.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        e.select("user_id", "ts", "event_id")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .where(F.col("prev_ts").isNotNull())
        .select(
            "user_id",
            (F.col("ts").cast("long") - F.col("prev_ts").cast("long")).alias(
                "gap_s"
            ),
        )
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_s").alias("min_gap_s"),
            F.round(F.percentile("gap_s", 0.5), 6).alias("p50_gap_s"),
            F.round(F.percentile("gap_s", 0.9), 6).alias("p90_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Daily active users with a 7-day trailing moving average
# ---------------------------------------------------------------------------

DAU_MA7_ORACLE = """
WITH dau AS (
  SELECT CAST(ts AS DATE) AS day, count(DISTINCT user_id) AS dau
  FROM events GROUP BY 1
)
SELECT day,
       CAST(dau AS BIGINT) AS dau,
       CAST(count(*) OVER w AS INT) AS n_days_in_window,
       round(avg(dau) OVER w, 6) AS dau_ma7
FROM dau
WINDOW w AS (ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
ORDER BY day
"""


@register("events_dau_ma7", oracle=DAU_MA7_ORACLE)
def events_dau_ma7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users with a calendar-correct 7-day trailing moving
    average (RANGE frame over days, so gaps shrink the window rather
    than silently stretching it — the classic ROWS-frame bug this
    query's n_days_in_window column makes visible).

    Scale shape: the DAU reduction (distinct users per day) is the only
    big shuffle; the moving average runs over the DATE-bounded daily
    frame — an unpartitioned window over |days| rows, bounded by the
    calendar, the same documented-bounded contract as the vocab-rank
    windows.
    """
    e = load_table(spark, sf_dir, "events")
    dau = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    # date-bounded frame (|days| rows): RANGE over epoch-days
    w = (
        Window.orderBy(F.unix_date("day"))
        .rangeBetween(-6, 0)
    )
    return (
        dau.withColumn("n_days_in_window", F.count(F.lit(1)).over(w).cast("int"))
        .withColumn("dau_ma7", F.round(F.avg("dau").over(w), 6))
        .select("day", F.col("dau").cast("long").alias("dau"), "n_days_in_window", "dau_ma7")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Monthly GMV with year-over-year growth
# ---------------------------------------------------------------------------

GMV_YOY_ORACLE = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS gmv_c,
         count(*) AS n_orders
  FROM orders GROUP BY 1
), with_prior AS (
  SELECT m.month, m.gmv_c, m.n_orders, p.gmv_c AS prior_c
  FROM monthly m
  LEFT JOIN monthly p ON p.month = m.month - INTERVAL 12 MONTH
)
SELECT month,
       round(gmv_c / 100.0, 2) AS gmv,
       CAST(n_orders AS BIGINT) AS n_orders,
       round(CASE WHEN prior_c IS NULL THEN NULL
                  ELSE (gmv_c - prior_c) / CAST(prior_c AS DOUBLE) END, 6)
         AS yoy_growth
FROM with_prior ORDER BY month
"""


@register("orders_gmv_yoy", oracle=GMV_YOY_ORACLE)
def orders_gmv_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly GMV with year-over-year growth — the headline finance
    chart. YoY via a calendar SELF-JOIN on month−12 (not lag(12):
    twelve ROWS back is only twelve MONTHS back when no month is
    missing — the same calendar-alignment discipline as
    events_autocorr_lags). GMV in exact integer cents; growth is one
    final division rounded to 6.

    Scale shape: one month-keyed aggregation collapses all orders to a
    |months|-sized frame; the YoY join and ordering run on that
    calendar-bounded frame.
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("gmv_c"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    prior = monthly.select(
        F.add_months(F.col("month"), 12).alias("month"),
        F.col("gmv_c").alias("prior_c"),
    )
    return (
        monthly.join(F.broadcast(prior), "month", "left")
        .select(
            "month",
            F.round(F.col("gmv_c") / 100.0, 2).alias("gmv"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.round(
                (F.col("gmv_c") - F.col("prior_c"))
                / F.col("prior_c").cast("double"),
                6,
            ).alias("yoy_growth"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence (brand × size class)
# ---------------------------------------------------------------------------

CHI2_ORACLE = """
WITH classed AS (
  SELECT p_brand AS container,
         CASE WHEN p_size <= 10 THEN 'small'
              WHEN p_size <= 30 THEN 'medium'
              ELSE 'large' END AS size_class
  FROM part
), cells AS (
  SELECT container, size_class, count(*) AS o FROM classed GROUP BY 1, 2
), margins AS (
  SELECT c.container, c.size_class, c.o,
         SUM(c.o) OVER (PARTITION BY c.container) AS row_tot,
         SUM(c.o) OVER (PARTITION BY c.size_class) AS col_tot,
         SUM(c.o) OVER () AS n
  FROM cells c
), stats AS (
  SELECT SUM(POW(o - row_tot * col_tot / CAST(n AS DOUBLE), 2)
             / (row_tot * col_tot / CAST(n AS DOUBLE))) AS chi2,
         max(n) AS n,
         count(DISTINCT container) AS r,
         count(DISTINCT size_class) AS c
  FROM margins
)
SELECT CAST(n AS BIGINT) AS n_parts,
       CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       round(chi2, 6) AS chi2,
       round(sqrt(chi2 / (n * LEAST(r - 1, c - 1))), 6) AS cramers_v
FROM stats
"""


@register("dq_chi2_independence", oracle=CHI2_ORACLE)
def dq_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between part brand and size
    class (with Cramér's V effect size) — completes the repo's
    statistical-test family (two-proportion z, jackknife SE, Benford,
    PSI): 'is brand correlated with size, or can the catalog model
    them independently?'.

    Determinism: observed counts are integers; expected counts are the
    same rational row·col/n evaluated in double on both engines; χ²
    and V rounded to 6.

    Scale shape: one cell-keyed count (map-side partials) collapses
    the table to |brands|×|classes| cells; margins via windows
    over that bounded frame. (The column keeps the generic name
    ``container`` in the output so the query works unchanged on a
    catalog that does carry packaging columns.)
    """
    p = load_table(spark, sf_dir, "part")
    size_class = (
        F.when(F.col("p_size") <= 10, "small")
        .when(F.col("p_size") <= 30, "medium")
        .otherwise("large")
    )
    cells = p.select(
        F.col("p_brand").alias("container"), size_class.alias("size_class")
    ).groupBy("container", "size_class").agg(F.count(F.lit(1)).alias("o"))
    w_row = Window.partitionBy("container")
    w_col = Window.partitionBy("size_class")
    w_all = Window.partitionBy()
    m = (
        cells.withColumn("row_tot", F.sum("o").over(w_row))
        .withColumn("col_tot", F.sum("o").over(w_col))
        .withColumn("n", F.sum("o").over(w_all))
    )
    expected = F.col("row_tot") * F.col("col_tot") / F.col("n").cast("double")
    stats = m.agg(
        F.sum(F.pow(F.col("o") - expected, 2) / expected).alias("chi2"),
        F.max("n").alias("n"),
        F.countDistinct("container").alias("r"),
        F.countDistinct("size_class").alias("c"),
    )
    return stats.select(
        F.col("n").cast("long").alias("n_parts"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("long").alias("dof"),
        F.round("chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Exact two-sample Kolmogorov-Smirnov test (click vs purchase values)
# ---------------------------------------------------------------------------

KS_ORACLE = """
WITH vals AS (
  SELECT value,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY value
), cum AS (
  SELECT SUM(c1) OVER (ORDER BY value) AS a1,
         SUM(c2) OVER (ORDER BY value) AS a2
  FROM vals
), tot AS (
  SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM vals
)
SELECT CAST(t.n1 AS BIGINT) AS n1,
       CAST(t.n2 AS BIGINT) AS n2,
       round(MAX(abs(c.a1 / CAST(t.n1 AS DOUBLE) - c.a2 / CAST(t.n2 AS DOUBLE))), 6)
         AS ks_d,
       round(1.358 * sqrt((t.n1 + t.n2) / (CAST(t.n1 AS DOUBLE) * t.n2)), 6)
         AS crit_05,
       CAST(MAX(abs(c.a1 / CAST(t.n1 AS DOUBLE) - c.a2 / CAST(t.n2 AS DOUBLE)))
            > 1.358 * sqrt((t.n1 + t.n2) / (CAST(t.n1 AS DOUBLE) * t.n2))
            AS BOOLEAN) AS reject_05
FROM cum c CROSS JOIN tot t
GROUP BY t.n1, t.n2
"""


@register("events_ks_two_sample", oracle=KS_ORACLE)
def events_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov test between the click and
    purchase value distributions: D = max|ECDF₁−ECDF₂| evaluated at
    every distinct value (tie-correct — both cumulative counts step
    together at a shared value), with the α=0.05 asymptotic critical
    value. Completes the stat-test family (z, χ², jackknife, KS).

    Scale shape: the distinct-value reduction is one keyed count; the
    global cumulative counts are TWO-PHASE (fifth use of the repo's
    primitive — range-partition by value, per-partition running sums,
    broadcast per-partition offsets), so no single-task window at any
    cardinality; D folds with one max.
    """
    e = load_table(spark, sf_dir, "events")
    vals = (
        e.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "c2"
            ),
        )
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        vals.repartitionByRange(n_parts, F.asc("value"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_in = (
        Window.partitionBy("pid")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranged = ranged.withColumn("a1_in", F.sum("c1").over(w_in)).withColumn(
        "a2_in", F.sum("c2").over(w_in)
    )
    # exclusive prefix counts per sample folded driver-side
    # (operators/prefix.py) — replaces the 32-row global window +
    # broadcast join; n1/n2 stay a 1-row broadcast (used as output cols)
    pref, _ = driver_prefix_sums(ranged, ["c1", "c2"])
    n = vals.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    cum = (
        ranged.crossJoin(F.broadcast(n))
        .select(
            (
                (F.col("a1_in") + pref["c1"]) / F.col("n1").cast("double")
                - (F.col("a2_in") + pref["c2"]) / F.col("n2").cast("double")
            ).alias("diff"),
            "n1",
            "n2",
        )
    )
    crit = 1.358 * F.sqrt(
        (F.col("n1") + F.col("n2")) / (F.col("n1").cast("double") * F.col("n2"))
    )
    return (
        cum.groupBy("n1", "n2")
        .agg(F.max(F.abs(F.col("diff"))).alias("d"))
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.round("d", 6).alias("ks_d"),
            F.round(crit, 6).alias("crit_05"),
            (F.col("d") > crit).alias("reject_05"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (rank-sum) test with midrank tie correction
# ---------------------------------------------------------------------------

MWU_ORACLE = """
WITH vals AS (
  SELECT value,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c2
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY value
), cum AS (
  SELECT c1, c2, c1 + c2 AS t,
         SUM(c1 + c2) OVER (ORDER BY value) - (c1 + c2) AS before_t
  FROM vals
), r1 AS (
  -- midrank of a tie group of size t starting after before_t rows is
  -- before_t + (t+1)/2; sample-1 contributes c1 such midranks.
  -- 2*R1 stays in exact integer arithmetic (t+1 may be odd).
  SELECT SUM(CAST(c1 AS HUGEINT) * (2 * before_t + t + 1)) AS two_r1,
         SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_term
  FROM cum
), tot AS (
  SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM vals
)
SELECT CAST(t.n1 AS BIGINT) AS n1,
       CAST(t.n2 AS BIGINT) AS n2,
       round(CAST(r.two_r1 AS DOUBLE) / 2
             - t.n1 * (t.n1 + 1) / 2.0, 6) AS u1,
       round((CAST(r.two_r1 AS DOUBLE) / 2 - t.n1 * (t.n1 + 1) / 2.0
              - t.n1 * CAST(t.n2 AS DOUBLE) / 2)
             / sqrt(t.n1 * CAST(t.n2 AS DOUBLE) / 12.0
                    * ((t.n1 + t.n2 + 1)
                       - CAST(r.tie_term AS DOUBLE)
                         / ((t.n1 + t.n2) * CAST(t.n1 + t.n2 - 1 AS DOUBLE)))),
             6) AS z_score
FROM r1 r CROSS JOIN tot t
"""


@register("events_mann_whitney_u", oracle=MWU_ORACLE)
def events_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (click vs purchase values) with
    MIDRANK tie correction and the tie-adjusted normal approximation —
    the non-parametric sibling of ab_test_conversion's z-test; sixth
    use of the two-phase primitive... except no per-row rank is ever
    materialized: grouping by distinct value first makes every tie
    group one row, and R1 = Σ c1·(before + (t+1)/2) follows from the
    cumulative group sizes alone — 2·R1 stays exact-integer
    (decimal/HUGEINT) until the final z division.

    Scale shape: one distinct-value reduction, one value-ordered
    cumulative sum over that reduced frame (date/value-bounded; the
    window here is the bounded |distinct values| frame — swap in the
    two-phase cumsum exactly as events_ks_two_sample does if values
    are near-unique), two scalar folds.
    """
    e = load_table(spark, sf_dir, "events")
    vals = (
        e.where(F.col("event_type").isin("click", "purchase"))
        .groupBy("value")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "c2"
            ),
        )
    )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        vals.withColumn("t", F.col("c1") + F.col("c2"))
        .repartitionByRange(n_parts, F.asc("value"))
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_in = (
        Window.partitionBy("pid")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranged = ranged.withColumn("cum_in", F.sum("t").over(w_in))
    # exclusive prefix tie-group totals folded driver-side
    # (operators/prefix.py) — replaces the 32-row global window +
    # broadcast join
    pref, _ = driver_prefix_sums(ranged, ["t"])
    cum = ranged.withColumn(
        "before_t", F.col("cum_in") + pref["t"] - F.col("t")
    )
    folds = cum.agg(
        F.sum(
            F.col("c1").cast("decimal(38,0)")
            * (2 * F.col("before_t") + F.col("t") + 1)
        ).alias("two_r1"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_term"),
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    r1 = F.col("two_r1").cast("double") / 2
    u1 = r1 - F.col("n1") * (F.col("n1") + 1) / 2.0
    nn = F.col("n1") + F.col("n2")
    var = (
        n1d
        * n2d
        / 12.0
        * (
            (nn + 1)
            - F.col("tie_term").cast("double") / (nn * (nn - 1).cast("double"))
        )
    )
    return folds.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(u1, 6).alias("u1"),
        F.round((u1 - n1d * n2d / 2) / F.sqrt(var), 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# KL divergence of each source's unigram mix vs the corpus
# ---------------------------------------------------------------------------

KL_ORACLE = """
WITH toks AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), src_cnt AS (
  SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2
), src_tot AS (
  SELECT source, SUM(c) AS n FROM src_cnt GROUP BY 1
), corp_cnt AS (
  SELECT tok, SUM(c) AS cc FROM src_cnt GROUP BY 1
), corp_tot AS (
  SELECT SUM(cc) AS nn, count(*) AS v FROM corp_cnt
), kl AS (
  SELECT s.source,
         SUM((s.c / CAST(t.n AS DOUBLE))
             * ln((s.c / CAST(t.n AS DOUBLE))
                  / ((g.cc + 1) / CAST(ct.nn + ct.v AS DOUBLE)))) AS kl_nats
  FROM src_cnt s
  JOIN src_tot t USING (source)
  JOIN corp_cnt g USING (tok)
  CROSS JOIN corp_tot ct
  GROUP BY s.source
)
SELECT source, round(kl_nats, 6) AS kl_nats FROM kl ORDER BY source
"""


@register("corpus_kl_divergence", oracle=KL_ORACLE)
def corpus_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence D(source ‖ corpus) of each source's unigram
    distribution against the (Laplace-smoothed) corpus distribution —
    the data-mix drift diagnostic that flags a crawl source whose
    language shifted (cf. events_psi_drift for the scalar twin;
    smoothing only the REFERENCE side keeps D finite and is the
    standard contamination-monitor form).

    Scale shape: token stream collapses to (source, token) counts with
    map-side partials; the corpus marginal is a second token-keyed
    reduction of the FIRST aggregation's output (never re-reading the
    raw stream); the divergence join runs on vocab-sized frames.
    """
    # widen the compact scan before the tokenize; persist the (source,
    # token) counts — src_cnt feeds THREE consumers (src_tot, corp_cnt,
    # the divergence join), and unpersisted each re-runs the tokenize +
    # count shuffle, which is what the docstring's "never re-reading
    # the raw stream" claim requires at execution level (guide §2.4)
    d = widen_doc_scan(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("tok"),
    )
    src_cnt = maybe_persist(
        toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    )
    src_tot = src_cnt.groupBy("source").agg(F.sum("c").alias("n"))
    corp_cnt = src_cnt.groupBy("tok").agg(F.sum("c").alias("cc"))
    corp_tot = corp_cnt.agg(
        F.sum("cc").alias("nn"), F.count(F.lit(1)).alias("v")
    )
    p = F.col("c") / F.col("n").cast("double")
    q = (F.col("cc") + 1) / (F.col("nn") + F.col("v")).cast("double")
    return (
        src_cnt.join(F.broadcast(src_tot), "source")
        .join(corp_cnt, "tok")
        .crossJoin(F.broadcast(corp_tot))
        .groupBy("source")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl_nats"))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the co-purchase graph
# ---------------------------------------------------------------------------

ASSORT_ORACLE = """
WITH e AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS u,
                  's' || CAST(l_suppkey AS VARCHAR) AS v
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), und AS (
  SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e
), deg AS (
  SELECT a AS node, count(*) AS d FROM und GROUP BY 1
)
SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
       round(corr(da.d, db.d), 6) AS assortativity
FROM und
JOIN deg da ON und.a = da.node
JOIN deg db ON und.b = db.node
"""


@register("graph_assortativity", oracle=ASSORT_ORACLE)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer↔supplier purchase graph —
    Pearson correlation of endpoint degrees over the (symmetrized)
    edge list: negative = hubs attach to leaves (the typical bipartite
    commerce shape), positive = rich-club. One number that summarizes
    whether degree-based partitioning will face hub-hub hotspots.

    Scale shape: degrees are one key-partitioned count; each edge
    joins its two endpoint degrees on the node key (two shuffles of
    the edge list); ``corr`` folds with partials. Nothing node-sized
    is broadcast.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # counts-only output → node identity is internal; longs (cust 2k,
    # supp 2k+1) shuffle/join cheaper than "c{key}"/"s{key}" strings
    # persist the distinct edge list: the plan has FIVE consumers of it
    # (two symmetrization arms in the degree build, two in the
    # endpoint-degree join, the n_edges scalar) and without the cache
    # each re-runs the orders⋈lineitem join + distinct from parquet —
    # the r17-captured plan held 28 parquet scans / 0 reused exchanges
    # for what is one logical edge build (guide §2.4). ``deg`` is
    # node-sized and joined twice, so it is persisted too.
    e = maybe_persist(
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            (F.col("o_custkey").cast("long") * 2).alias("u"),
            (F.col("l_suppkey").cast("long") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    und = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = maybe_persist(
        und.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    joined = (
        und.join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
    )
    return joined.crossJoin(F.broadcast(n_edges)).groupBy("n_edges").agg(
        F.round(F.corr("da", "db"), 6).alias("assortativity")
    ).select(F.col("n_edges").cast("long").alias("n_edges"), "assortativity")


# ---------------------------------------------------------------------------
# Welch's t-test: weekday vs weekend event values
# ---------------------------------------------------------------------------

WELCH_ORACLE = """
WITH tagged AS (
  SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 'weekend' ELSE 'weekday' END
           AS grp,
         value
  FROM events
), stats AS (
  SELECT
    SUM(CASE WHEN grp = 'weekday' THEN 1 ELSE 0 END) AS n1,
    SUM(CASE WHEN grp = 'weekend' THEN 1 ELSE 0 END) AS n2,
    avg(CASE WHEN grp = 'weekday' THEN value END) AS m1,
    avg(CASE WHEN grp = 'weekend' THEN value END) AS m2,
    var_samp(CASE WHEN grp = 'weekday' THEN value END) AS v1,
    var_samp(CASE WHEN grp = 'weekend' THEN value END) AS v2
  FROM tagged
)
SELECT CAST(n1 AS BIGINT) AS n_weekday,
       CAST(n2 AS BIGINT) AS n_weekend,
       round(m1 - m2, 6) AS mean_diff,
       round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat,
       round(POW(v1 / n1 + v2 / n2, 2)
             / (POW(v1 / n1, 2) / (n1 - 1) + POW(v2 / n2, 2) / (n2 - 1)),
             6) AS welch_df
FROM stats
"""


@register("events_welch_ttest", oracle=WELCH_ORACLE)
def events_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between weekday and weekend
    event values, with the Welch-Satterthwaite degrees of freedom —
    the variance-honest sibling of the pooled z-test
    (ab_test_conversion pools because proportions share one variance;
    continuous metrics with different weekday/weekend spreads must
    not).

    Scale shape: one conditional-aggregate pass (six scalars folded
    with map-side partials) — no second scan, no windows.
    ``var_samp``/``avg`` over the identical conditional columns on
    both engines.
    """
    e = load_table(spark, sf_dir, "events")
    is_we = (F.dayofweek("ts") - 1).isin(0, 6)
    wd = F.when(~is_we, F.col("value"))
    we = F.when(is_we, F.col("value"))
    stats = e.agg(
        F.count(wd).alias("n1"),
        F.count(we).alias("n2"),
        F.avg(wd).alias("m1"),
        F.avg(we).alias("m2"),
        F.var_samp(wd).alias("v1"),
        F.var_samp(we).alias("v2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    return stats.select(
        F.col("n1").cast("long").alias("n_weekday"),
        F.col("n2").cast("long").alias("n_weekend"),
        F.round(F.col("m1") - F.col("m2"), 6).alias("mean_diff"),
        F.round((F.col("m1") - F.col("m2")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
                + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
            ),
            6,
        ).alias("welch_df"),
    )


# ---------------------------------------------------------------------------
# Supplier lead-time trend (is delivery speeding up or slowing down?)
# ---------------------------------------------------------------------------

LEADTIME_TREND_ORACLE = """
WITH lat AS (
  SELECT l_suppkey,
         CAST(date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
              AS DOUBLE) AS x,
         CAST(date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) AS DOUBLE) AS y
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT l_suppkey,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(regr_slope(y, x) * 365.0, 6) AS latency_days_per_year,
       round(regr_r2(y, x), 6) AS r2
FROM lat GROUP BY l_suppkey ORDER BY l_suppkey
"""


@register("supplier_leadtime_trend", oracle=LEADTIME_TREND_ORACLE)
def supplier_leadtime_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier lead-time TREND: OLS slope of ship latency on order
    date (re-based to a fixed epoch, scaled to days-per-year) — the
    'is this vendor improving or degrading' scorecard column that OTIF
    snapshots can't show. Single-pass grouped regression aggregates,
    identical Welford forms on both engines.

    Scale shape: one fact join (lineitem's single shuffle) + one
    |suppliers|-keyed regression aggregate with map-side partials.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lat = li.join(
        o.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "l_suppkey",
        F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("double")
        .alias("y"),
    )
    return (
        lat.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.regr_slope(F.col("y"), F.col("x")) * 365.0, 6).alias(
                "latency_days_per_year"
            ),
            F.round(F.regr_r2(F.col("y"), F.col("x")), 6).alias("r2"),
        )
        .orderBy("l_suppkey")
    )
