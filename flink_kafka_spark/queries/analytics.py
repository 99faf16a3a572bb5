"""Analytic window-function family (beyond the reference: its only
window function is ROW_NUMBER — SURVEY.md §2.8). Running totals,
moving averages, lag deltas, and exact interpolated percentiles, each
one shuffle on its partition key."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..tables import load
from . import Query


def customer_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order sequence analytics: cumulative spend, 3-order
    moving average, gap since previous order — the lag/rows-between
    surface. Deterministic: exact decimal money, total order within
    each customer by (date, orderkey)."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("long").alias("orderdate_s"),
        F.expr("CAST(o_totalprice AS DECIMAL(12,2))").alias("price"),
    )
    w = Window.partitionBy("o_custkey").orderBy("orderdate_s", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "orderdate_s",
        # DOUBLE (not DECIMAL) in the output projection: the decimal
        # window sum is exact, and both engines render the same double —
        # Spark Decimal objects vs DuckDB float64 hash differently.
        F.expr("CAST(sum(price) OVER (PARTITION BY o_custkey ORDER BY orderdate_s, o_orderkey "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)")
        .alias("cum_spend"),
        F.expr(
            "floor(CAST(sum(price) OVER (PARTITION BY o_custkey ORDER BY orderdate_s, o_orderkey "
            "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) "
            "/ count(*) OVER (PARTITION BY o_custkey ORDER BY orderdate_s, o_orderkey "
            "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 10000 + 0.5) / 10000"
        ).alias("ma3"),
        (F.col("orderdate_s") - F.lag("orderdate_s").over(w)).alias("gap_s"),
    )


CUSTOMER_RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_s,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w_cum AS DOUBLE) AS cum_spend,
       floor(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER w_ma AS DOUBLE)
             / count(*) OVER w_ma * 10000 + 0.5) / 10000 AS ma3,
       CAST(floor(epoch(o_orderdate)) AS BIGINT)
         - lag(CAST(floor(epoch(o_orderdate)) AS BIGINT)) OVER w_seq AS gap_s
FROM orders
WINDOW
  w_seq AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
  w_cum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
  w_ma  AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of l_quantity per return flag
    (quantities are integral, so the linear interpolation is the same
    pair of doubles on both engines)."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("p50"),
        F.expr("percentile(l_quantity, 0.9)").alias("p90"),
        F.expr("percentile(l_quantity, 0.99)").alias("p99"),
    )


QUANTITY_PCTL_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.5) AS p50,
       quantile_cont(l_quantity, 0.9) AS p90,
       quantile_cont(l_quantity, 0.99) AS p99
FROM lineitem
GROUP BY l_returnflag
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix over `events`: users cohorted by
    first-active epoch week, per (cohort_week, weeks_since) the count
    of still-active users and the retained fraction of the cohort —
    the standard product-analytics triangle. Weeks are epoch-week
    integers (floor(epoch_s / 604800)) so cohorting is pure integer
    math on both engines.

    Scale shape: one (user, week) distinct, one user-partitioned
    window for the per-user min week (the cohort label), one
    (cohort, weeks_since) count — three shuffles over narrow frames
    that only ever carry (user_id, week) pairs; the retained-fraction
    denominator is the cohort's own weeks_since=0 row, read from a
    window over the tiny counts frame instead of a join back."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_seconds("ts") / 604800).cast("long").alias("week"),
    )
    active = ev.distinct()
    labeled = active.withColumn(
        "cohort_week", F.min("week").over(Window.partitionBy("user_id"))
    )
    counts = labeled.groupBy(
        "cohort_week", (F.col("week") - F.col("cohort_week")).alias("weeks_since")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    size = F.max(F.when(F.col("weeks_since") == 0, F.col("n_active"))).over(
        Window.partitionBy("cohort_week")
    )
    # floor-based round-half-up: k/cohort_size can land exactly on a
    # decimal half-point, where engines' round() diverge
    return counts.withColumn("cohort_size", size).select(
        "cohort_week",
        "weeks_since",
        "n_active",
        # CAST, not * 1.0: a Spark `1.0` literal is DECIMAL(2,1) and
        # drags the whole expression (and floor()) into Decimal, which
        # pandas renders as object and the driver hash rejects
        F.expr(
            "floor(CAST(n_active AS DOUBLE) / cohort_size * 1000000 + 0.5) / 1000000"
        ).alias("retention_frac"),
    )


RETENTION_COHORTS_ORACLE = """
WITH active AS (
  SELECT DISTINCT user_id,
         CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 604800.0) AS BIGINT) AS week
  FROM events
),
labeled AS (
  SELECT user_id, week, min(week) OVER (PARTITION BY user_id) AS cohort_week
  FROM active
),
counts AS (
  SELECT cohort_week, week - cohort_week AS weeks_since, count(*) AS n_active
  FROM labeled GROUP BY 1, 2
)
SELECT cohort_week, weeks_since, n_active,
       floor(n_active * 1.0
             / max(CASE WHEN weeks_since = 0 THEN n_active END)
                 OVER (PARTITION BY cohort_week)
             * 1000000 + 0.5) / 1000000 AS retention_frac
FROM counts
"""


QUERIES = [
    Query("customer_running_totals", customer_running_totals, CUSTOMER_RUNNING_ORACLE,
          "analytic windows (beyond ref)"),
    Query("quantity_percentiles", quantity_percentiles, QUANTITY_PCTL_ORACLE,
          "exact percentiles (beyond ref)"),
    Query("retention_cohorts", retention_cohorts, RETENTION_COHORTS_ORACLE,
          "retention cohort matrix (beyond ref)"),
]


PCTL_ACCURACY = 1000  # approx_percentile rank error <= N/accuracy


def quantity_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for percentiles: ``approx_percentile`` (t-digest-like
    sketch, mergeable partials — no per-group full sort, the only plan
    that survives 100 TB groups). Element results depend on sketch
    internals → rows-only driver check; the rank-error bound is pinned
    by `quantity_percentiles_approx_check`."""
    l = load(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.expr(f"approx_percentile(l_quantity, 0.5, {PCTL_ACCURACY})").alias("p50"),
        F.expr(f"approx_percentile(l_quantity, 0.9, {PCTL_ACCURACY})").alias("p90"),
        F.expr(f"approx_percentile(l_quantity, 0.99, {PCTL_ACCURACY})").alias("p99"),
    )


def quantity_percentiles_approx_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property oracle: every approx percentile must sit within the
    documented rank error (±N/accuracy, +2 rows small-group slack) of
    its target rank. A broken sketch/merge fails the driver hash."""
    l = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    approx = quantity_percentiles_approx(spark, sf_dir)
    joined = l.join(F.broadcast(approx), "l_returnflag")
    per_flag = joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((F.col("l_quantity") <= F.col(c)).cast("bigint")).alias(f"le_{c}")
            for c in ("p50", "p90", "p99")
        ],
        *[
            F.sum((F.col("l_quantity") < F.col(c)).cast("bigint")).alias(f"lt_{c}")
            for c in ("p50", "p90", "p99")
        ],
    )
    eps = 2.0 / PCTL_ACCURACY
    viol = None
    for c, p in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
        bad = (
            (F.col(f"le_{c}") < (p - eps) * F.col("n") - 2)
            | (F.col(f"lt_{c}") > (p + eps) * F.col("n") + 2)
        ).cast("bigint")
        viol = bad if viol is None else viol + bad
    return per_flag.agg(F.coalesce(F.sum(viol), F.lit(0)).cast("bigint").alias("violations"))


PCTL_APPROX_CHECK_ORACLE = "SELECT CAST(0 AS BIGINT) AS violations"

QUERIES.append(
    Query("quantity_percentiles_approx", quantity_percentiles_approx, None,
          "approx percentiles (scale path)")
)
QUERIES.append(
    Query("quantity_percentiles_approx_check", quantity_percentiles_approx_check,
          PCTL_APPROX_CHECK_ORACLE, "approx percentile rank-error property oracle")
)


# --- Markov transition matrix over per-user event sequences ---
#
# The reference's CEP operators (LoginFailWithCep.java, OrderTimeout*)
# match FIXED event sequences; the transition matrix is the analytic
# complement — the empirical P(next | prev) over every user's ordered
# stream. One shuffle on user_id for the lag, one on the (prev, next)
# pair for the count; the probability denominator is a window over the
# tiny counts frame, not a join back. Identical ANSI text runs on both
# engines (the sessionize pattern).

EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type,
       count(*) AS n,
       -- floor-based half-up rounding: engines' round() diverge on
       -- exact decimal half-points (see retention_cohorts)
       floor(CAST(count(*) AS DOUBLE)
             / CAST(sum(count(*)) OVER (PARTITION BY prev_type) AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS prob
FROM seq
WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
"""


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition counts and conditional
    probabilities (empirical Markov chain over the event stream)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(EVENT_TRANSITIONS_SQL)


EVENT_TRANSITIONS_ORACLE = EVENT_TRANSITIONS_SQL


# --- z-score anomaly flags on windowed counts ---
#
# The streaming-analytics use the reference serves (hot items, channel
# stats) feeds exactly this batch question: which hourly buckets are
# anomalous vs their key's own history? Mean/stddev are per-key windows
# over the ALREADY-AGGREGATED hourly frame (one row per key x hour), so
# the second pass costs nothing at scale; the raw-event pass is one
# (key, hour) count shuffle.

TRAFFIC_ANOMALIES_SQL = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(unix_seconds(ts) / 3600) AS BIGINT) * 3600 AS hour_s,
         count(*) AS cnt
  FROM events
  GROUP BY 1, 2
),
stats AS (
  SELECT *,
         avg(CAST(cnt AS DOUBLE)) OVER (PARTITION BY event_type) AS mu,
         stddev_pop(CAST(cnt AS DOUBLE)) OVER (PARTITION BY event_type) AS sigma
  FROM hourly
)
SELECT event_type, hour_s, cnt,
       floor((CAST(cnt AS DOUBLE) - mu)
             / CASE WHEN sigma = 0 THEN NULL ELSE sigma END
             * 10000 + 0.5) / 10000 AS z,
       CASE WHEN sigma > 0 AND CAST(cnt AS DOUBLE) - mu > 3 * sigma
            THEN 1 ELSE 0 END AS anomaly
FROM stats
"""


def traffic_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-event-type counts flagged against their own
    mean + 3 sigma (population stddev; z rounded half-up to 4 dp)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(TRAFFIC_ANOMALIES_SQL)


TRAFFIC_ANOMALIES_ORACLE = TRAFFIC_ANOMALIES_SQL.replace("unix_seconds(ts)", "epoch(ts)")


QUERIES.append(
    Query("event_transitions", event_transitions, EVENT_TRANSITIONS_ORACLE,
          "empirical Markov transitions (beyond ref)")
)
QUERIES.append(
    Query("traffic_anomalies", traffic_anomalies, TRAFFIC_ANOMALIES_ORACLE,
          "windowed z-score anomaly flags (beyond ref)")
)


# --- PSI distribution drift between stream halves ---
#
# The monitoring question behind every windowed aggregate the
# reference computes: has the VALUE DISTRIBUTION of a key shifted
# between two periods (deploys, data-source switches, bot floods) —
# not just its count, which traffic_anomalies already covers?
# Population Stability Index per event_type between the first and
# second half of the stream's time range: 10 equal-width value
# buckets over the GLOBAL [min, max] (shared edges — per-half edges
# would hide drift), add-one smoothing so empty buckets contribute a
# finite penalty, psi = Σ (p_i − q_i)·ln(p_i/q_i). The usual alarm
# thresholds: <0.1 stable, 0.1-0.25 moderate, >0.25 shifted.
#
# Scale design (100 TB): the bounds are a 1-row aggregate broadcast
# back onto the scan (two passes over a narrow 3-col projection); the
# half/bucket assignment is a JVM expression, so the only corpus-sized
# shuffle is the map-side-combined (type, half, bucket) count —
# ≤ |types|·20 rows out. The 10-bucket grid is built per type from a
# sequence() literal and left-joined by broadcast, so zero-count
# buckets still enter the sum; counts stay integer-exact until the
# final per-row float transform (the classifier_score convention).
# The half split compares 2·epoch ≤ tmin+tmax — pure integer, no
# division, no boundary FP.


def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import bucket_expr, psi_from_counts

    events = load(spark, sf_dir, "events")
    bounds = events.agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.min(F.unix_timestamp("ts")).alias("tmin"),
        F.max(F.unix_timestamp("ts")).alias("tmax"),
    )
    binned = (
        events.select("event_type", F.unix_timestamp("ts").alias("te"), "value")
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.when(2 * F.col("te") <= F.col("tmin") + F.col("tmax"), 0)
            .otherwise(1)
            .alias("half"),
            bucket_expr("value", 10),
        )
    )
    # conditional aggregation, NOT a count-per-half + two filtered
    # joins: half-filters would push below the aggregate and fork the
    # plan into two full corpus scans, while one (type, bucket) groupBy
    # carries both halves out in a single shuffle — and the grid branch
    # then reads the SAME exchange (plan-identical child → Spark's
    # ReuseExchange), so the corpus is scanned exactly twice total
    # (bounds pass + count pass)
    counts = binned.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
    )
    grid = (
        counts.select("event_type")
        .distinct()
        .select("event_type", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bucket"))
    )
    pivot = grid.join(F.broadcast(counts), ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.coalesce("c0", F.lit(0)).alias("c0"),
        F.coalesce("c1", F.lit(0)).alias("c1"),
    )
    return psi_from_counts(pivot, "event_type", 10)


VALUE_DRIFT_PSI_ORACLE = """
WITH bounds AS (
  SELECT min(value) AS vmin, max(value) AS vmax,
         CAST(floor(epoch(min(ts))) AS BIGINT) AS tmin,
         CAST(floor(epoch(max(ts))) AS BIGINT) AS tmax
  FROM events
),
binned AS (
  SELECT event_type,
         CASE WHEN 2 * CAST(floor(epoch(ts)) AS BIGINT) <= tmin + tmax
              THEN 0 ELSE 1 END AS half,
         CASE WHEN vmax = vmin THEN 0
              ELSE CAST(least(floor((value - vmin) / ((vmax - vmin) / 10.0)), 9) AS INTEGER)
         END AS bucket
  FROM events CROSS JOIN bounds
),
counts AS (
  SELECT event_type, half, bucket, count(*) AS c FROM binned GROUP BY 1, 2, 3
),
grid AS (
  SELECT t.event_type, g.bucket
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT unnest(generate_series(0, 9)) AS bucket) g
),
filled AS (
  SELECT g.event_type, g.bucket,
         COALESCE(c0.c, 0) AS c0, COALESCE(c1.c, 0) AS c1
  FROM grid g
  LEFT JOIN counts c0 ON c0.event_type = g.event_type
                     AND c0.bucket = g.bucket AND c0.half = 0
  LEFT JOIN counts c1 ON c1.event_type = g.event_type
                     AND c1.bucket = g.bucket AND c1.half = 1
),
smoothed AS (
  SELECT event_type, c0, c1,
         sum(c0) OVER (PARTITION BY event_type) AS n0,
         sum(c1) OVER (PARTITION BY event_type) AS n1
  FROM filled
)
SELECT event_type,
       CAST(max(n0) AS BIGINT) AS n_first,
       CAST(max(n1) AS BIGINT) AS n_second,
       floor(sum(((c0 + 1.0) / (n0 + 10.0) - (c1 + 1.0) / (n1 + 10.0))
                 * ln(((c0 + 1.0) / (n0 + 10.0)) / ((c1 + 1.0) / (n1 + 10.0))))
             * 1000000 + 0.5) / 1000000 AS psi
FROM smoothed
GROUP BY event_type
"""

QUERIES.append(
    Query("value_drift_psi", value_drift_psi, VALUE_DRIFT_PSI_ORACLE,
          "PSI distribution drift between stream halves (beyond ref)")
)


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppression-based k-anonymity (k=10) over customer metadata:
    (c_nationkey, c_mktsegment) is the quasi-identifier pair — the
    release-gate audit for per-record metadata."""
    from ..operators.sampling import k_anonymity

    return k_anonymity(
        load(spark, sf_dir, "customer"),
        "c_custkey",
        ["c_nationkey", "c_mktsegment"],
        k=10,
    )


K_ANONYMITY_ORACLE = """
SELECT c_custkey,
       c_nationkey,
       c_mktsegment,
       CAST(count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) AS BIGINT)
         AS class_size,
       CASE WHEN count(*) OVER (PARTITION BY c_nationkey, c_mktsegment) >= 10
            THEN 1 ELSE 0 END AS keep
FROM customer
"""

QUERIES.append(
    Query("k_anonymity_audit", k_anonymity_audit, K_ANONYMITY_ORACLE,
          "suppression k-anonymity release gate (beyond ref)")
)


# --- SCD2 validity intervals from an event stream ---
#
# The warehousing view of the reference's keyed state: instead of "the
# latest value per key" (what a stateful operator holds), the FULL
# history as type-2 slowly-changing-dimension rows — one row per
# maximal run of an unchanged value, with [valid_from, valid_to)
# bounds. Built from ordered events with two same-key windows (change
# flags -> run ids via running sum, then the next run's start as this
# run's end), so the single shuffle is the user key; identical ANSI
# text runs on both engines (the sessionize pattern).

SCD2_HISTORY_SQL = """
WITH seq AS (
  SELECT user_id, event_type, ts,
         CAST(floor(unix_seconds(ts)) AS BIGINT) AS ts_s,
         event_id,
         lag(event_type) OVER w AS prev_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
runs AS (
  -- same (ts, event_id) total order as seq's lag window: ordering the
  -- accumulation by second-truncated ts_s could disagree with the
  -- change flags inside one second and mis-segment runs; ts_s survives
  -- only as the output epoch column
  SELECT user_id, event_type, ts_s,
         sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM seq
),
spans AS (
  SELECT user_id, run_id,
         min(event_type) AS event_type,
         min(ts_s) AS valid_from_s,
         count(*) AS n_events
  FROM runs GROUP BY user_id, run_id
)
SELECT user_id, event_type, valid_from_s,
       lead(valid_from_s) OVER (PARTITION BY user_id ORDER BY run_id ASC)
         AS valid_to_s,
       CAST(n_events AS BIGINT) AS n_events
FROM spans
"""


def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history of each user's event_type: one row per maximal
    unchanged run with [valid_from, valid_to) epoch-second bounds
    (valid_to null on the open current run)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(SCD2_HISTORY_SQL)


SCD2_HISTORY_ORACLE = SCD2_HISTORY_SQL.replace("unix_seconds(ts)", "epoch(ts)")

QUERIES.append(
    Query("scd2_history", scd2_history, SCD2_HISTORY_ORACLE,
          "SCD2 validity intervals from keyed events (beyond ref)")
)


# --- last-touch attribution ---
#
# The question downstream of click_blacklist/funnel: which click gets
# credit for each purchase? Last-touch = the user's most recent click
# strictly before the purchase — a conditional last_value IGNORE NULLS
# over the user's ordered stream, i.e. the as-of join collapsed into
# one window because both sides live in the same table. One user-key
# shuffle; never-attributed purchases (no prior click) keep NULL.
# Engine dialect note: Spark spells it `last_value(x) IGNORE NULLS`,
# DuckDB `last_value(x IGNORE NULLS)` — the oracle is a mechanical
# rewrite of the same text.

PURCHASE_ATTRIBUTION_SQL = """
WITH seq AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(unix_seconds(ts)) AS BIGINT) AS ts_s,
         last_value(CASE WHEN event_type = 'click' THEN event_id END) IGNORE NULLS
           OVER w AS attributed_click_id,
         last_value(CASE WHEN event_type = 'click'
                         THEN CAST(floor(unix_seconds(ts)) AS BIGINT) END) IGNORE NULLS
           OVER w AS attributed_click_ts_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id AS purchase_event_id, user_id,
       ts_s AS purchase_ts_s,
       attributed_click_id,
       ts_s - attributed_click_ts_s AS gap_s
FROM seq WHERE event_type = 'purchase'
"""


def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's
    most recent strictly-preceding click (NULL when none)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(PURCHASE_ATTRIBUTION_SQL)


PURCHASE_ATTRIBUTION_ORACLE = (
    PURCHASE_ATTRIBUTION_SQL.replace("unix_seconds(ts)", "epoch(ts)")
    .replace("END) IGNORE NULLS", "END IGNORE NULLS)")
)

QUERIES.append(
    Query("purchase_attribution", purchase_attribution, PURCHASE_ATTRIBUTION_ORACLE,
          "last-touch conversion attribution (beyond ref)")
)


# --- RFM segmentation (cut-point bucketing, not global ntile) ---
#
# The textbook formulation is ntile(4) over the full customer set —
# a SINGLE-PARTITION global sort, exactly the anti-pattern the plan
# tests reject at 100 TB. The scale-correct plan computes the three
# quartile cut points as a 1-row exact-percentile aggregate (broadcast
# back) and buckets by comparison: quartile assignment becomes a pure
# function of the customer's own values, ties land deterministically
# on the same side in both engines, and the corpus never converges on
# one task. Quartile 1 = best (most recent / most frequent / highest
# spend).

RFM_SQL = """
WITH agg AS (
  SELECT o_custkey,
         max(CAST(floor(unix_seconds(o_orderdate)) AS BIGINT)) AS last_order_s,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
),
cuts AS (
  SELECT percentile(last_order_s, 0.25) AS r25, percentile(last_order_s, 0.5) AS r50,
         percentile(last_order_s, 0.75) AS r75,
         percentile(frequency, 0.25) AS f25, percentile(frequency, 0.5) AS f50,
         percentile(frequency, 0.75) AS f75,
         percentile(monetary, 0.25) AS m25, percentile(monetary, 0.5) AS m50,
         percentile(monetary, 0.75) AS m75
  FROM agg
)
SELECT o_custkey, last_order_s, frequency, monetary,
       CASE WHEN last_order_s >= r75 THEN 1 WHEN last_order_s >= r50 THEN 2
            WHEN last_order_s >= r25 THEN 3 ELSE 4 END AS r_quartile,
       CASE WHEN frequency >= f75 THEN 1 WHEN frequency >= f50 THEN 2
            WHEN frequency >= f25 THEN 3 ELSE 4 END AS f_quartile,
       CASE WHEN monetary >= m75 THEN 1 WHEN monetary >= m50 THEN 2
            WHEN monetary >= m25 THEN 3 ELSE 4 END AS m_quartile
FROM agg CROSS JOIN cuts
"""


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency/frequency/monetary quartile segmentation per customer
    (quartile 1 = best), bucketed against exact percentile cut points
    instead of a global ntile sort."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(RFM_SQL)


RFM_ORACLE = RFM_SQL.replace("unix_seconds(o_orderdate)", "epoch(o_orderdate)").replace(
    "percentile(", "quantile_cont("
)

QUERIES.append(
    Query("rfm_segments", rfm_segments, RFM_ORACLE,
          "RFM quartile segmentation, cut-point bucketing (beyond ref)")
)


# --- market-basket co-occurrence with lift ---
#
# word_pmi's relational cousin: part pairs co-ordered in the same
# order, with support counts and lift = P(a,b)/(P(a)P(b)). The pair
# join is a self-join on l_orderkey — fan-out bounded by items per
# order (TPC-H ≤ 7), never corpus²; item totals and the order count
# are broadcast-sized. Counts stay integer-exact; lift is the one
# terminal float (floor-half-up 4 dp).

BASKET_LIFT_SQL = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_ord AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM lineitem),
item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item FROM baskets GROUP BY 1),
pair AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, n_both,
       floor(CAST(n_both AS DOUBLE) * n_orders
             / (ia.n_item * ib.n_item) * 10000 + 0.5) / 10000 AS lift
FROM pair
JOIN item ia ON ia.l_partkey = part_a
JOIN item ib ON ib.l_partkey = part_b
CROSS JOIN n_ord
WHERE n_both >= 3
"""


def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part-pair co-occurrence with lift over orders (support >= 3)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(BASKET_LIFT_SQL)


QUERIES.append(
    Query("basket_lift", basket_lift, BASKET_LIFT_SQL,
          "market-basket pair lift (beyond ref)")
)


def orders_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DataFrame PIVOT surface (reference has none): monthly order
    counts pivoted to one column per order status. The status domain
    is passed EXPLICITLY — with an inferred domain Spark runs an extra
    distinct job and the output schema depends on the data, both
    wrong at scale; with explicit values the pivot compiles to the
    same single-shuffle conditional aggregation the oracle spells
    out."""
    o = load(spark, sf_dir, "orders")
    out = (
        o.withColumn("month", F.date_format("o_orderdate", "yyyy-MM"))
        .groupBy("month")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "month",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(f"n_{c}") for c in ("F", "O", "P")],
    )


ORDERS_PIVOT_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_F,
       CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_O,
       CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_P
FROM orders
GROUP BY 1
"""

QUERIES.append(
    Query("orders_status_pivot", orders_status_pivot, ORDERS_PIVOT_ORACLE,
          "PIVOT surface: monthly counts by status (beyond ref)")
)


def orders_status_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNPIVOT surface, as a closure property: melt the pivoted
    monthly-status matrix back to long form — the result must equal a
    plain (month, status) GROUP BY, which is exactly what the oracle
    computes, so the driver hash pins pivot ∘ unpivot == identity
    (zero-filled cells are dropped on melt: a (month, status) pair
    with no orders never existed in long form)."""
    wide = orders_status_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            "month",
            ["n_F", "n_O", "n_P"],
            "status_col",
            "n_orders",
        )
        .filter(F.col("n_orders") > 0)
        .select(
            "month",
            F.substring("status_col", 3, 1).alias("o_orderstatus"),
            F.col("n_orders").cast("long").alias("n_orders"),
        )
    )


ORDERS_UNPIVOT_ORACLE = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
GROUP BY 1, 2
"""

QUERIES.append(
    Query("orders_status_unpivot", orders_status_unpivot, ORDERS_UNPIVOT_ORACLE,
          "UNPIVOT surface: pivot-melt closure (beyond ref)")
)


# --- regular-grid resample + forward-fill ---
#
# The batch form of the gap question every windowed streaming
# aggregate leaves open (the reference's window operators emit nothing
# for empty windows — SURVEY.md §2.6): densify the stream onto a
# 5-minute grid per event_type, 0-fill the counts, carry the last
# observed bucket mean forward, and report the gap distance. Scale
# notes in operators/timeseries.py: the raw stream is scanned exactly
# once (the grid-capped aggregate is persisted and re-read); the dense
# grid is generated executor-side and everything after the
# (key, bucket) aggregate is grid-sized.

GAPFILL_STEP_S = 300


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import resample_ffill

    events = load(spark, sf_dir, "events")
    return resample_ffill(events, "event_type", "ts", "value", GAPFILL_STEP_S)


EVENTS_GAPFILL_ORACLE = f"""
WITH obs AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / {GAPFILL_STEP_S}) AS BIGINT) * {GAPFILL_STEP_S} AS bucket_s,
         count(*) AS cnt,
         count(value) AS vcnt,
         sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS val_e4
  FROM events GROUP BY 1, 2
),
rng AS (SELECT min(bucket_s) AS mn, max(bucket_s) AS mx FROM obs),
grid AS (
  SELECT k.key, t.bucket_s
  FROM (SELECT DISTINCT key FROM obs) k, rng,
       LATERAL (SELECT unnest(generate_series(rng.mn, rng.mx, {GAPFILL_STEP_S})) AS bucket_s) t
),
full_grid AS (
  SELECT g.key, g.bucket_s, o.cnt,
         floor(o.val_e4 / o.vcnt + 0.5) AS avg_e4
  FROM grid g LEFT JOIN obs o ON o.key = g.key AND o.bucket_s = g.bucket_s
)
SELECT key AS event_type, bucket_s,
       CAST(COALESCE(cnt, 0) AS BIGINT) AS cnt,
       avg_e4 / 10000.0 AS bucket_avg,
       last_value(avg_e4 IGNORE NULLS)
         OVER (PARTITION BY key ORDER BY bucket_s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 10000.0
         AS filled_avg,
       CAST((bucket_s - max(CASE WHEN cnt IS NOT NULL THEN bucket_s END)
                          OVER (PARTITION BY key ORDER BY bucket_s
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            / {GAPFILL_STEP_S} AS BIGINT) AS gap_buckets
FROM full_grid
"""

QUERIES.append(
    Query("events_gapfill", events_gapfill, EVENTS_GAPFILL_ORACLE,
          "ext: grid resample + forward-fill (empty-window densification)")
)


# --- RANGE-interval moving aggregates over sparse daily revenue ---
#
# The one window-frame shape the repo's window surface hadn't
# demonstrated: a VALUE-range frame (RANGE BETWEEN 6 PRECEDING) over
# integer day numbers, which — unlike the ROWS frames in
# customer_running_totals — is gap-correct on sparse keys: a priority
# with no orders for a week contributes nothing to the trailing sum,
# no matter how the rows pack. Money stays integer cents through the
# frame sum (partition-order-proof); the raw scan is one (priority,
# day) partial-agg shuffle and every window runs on the day-level
# frame (|priorities| x |days|, corpus-independent).

ORDERS_MOVING_SQL = """
WITH daily AS (
  SELECT o_orderpriority AS priority,
         CAST(floor(unix_seconds(o_orderdate) / 86400) AS BIGINT) AS day_num,
         count(*) AS n_orders,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
  FROM orders GROUP BY 1, 2
)
SELECT priority,
       day_num * 86400 AS day_s,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(rev_c AS DOUBLE) / 100 AS day_revenue,
       CAST(sum(rev_c) OVER w7 AS DOUBLE) / 100 AS rev_7d,
       CAST(sum(n_orders) OVER w7 AS BIGINT) AS orders_7d,
       CAST(count(*) OVER w7 AS BIGINT) AS days_present_7d
FROM daily
WINDOW w7 AS (PARTITION BY priority ORDER BY day_num
              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def orders_moving_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(ORDERS_MOVING_SQL)


ORDERS_MOVING_ORACLE = ORDERS_MOVING_SQL.replace(
    "unix_seconds(o_orderdate)", "epoch(o_orderdate)"
)

QUERIES.append(
    Query("orders_moving_revenue", orders_moving_revenue, ORDERS_MOVING_ORACLE,
          "ext: RANGE-interval moving aggregate (gap-correct trailing 7d)")
)


# --- linear-interpolation resample (the ffill twin) ---

def events_gapfill_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import resample_interp

    events = load(spark, sf_dir, "events")
    return resample_interp(events, "event_type", "ts", "value", GAPFILL_STEP_S)


EVENTS_GAPFILL_INTERP_ORACLE = f"""
WITH obs AS (
  SELECT event_type AS key,
         CAST(floor(epoch(ts) / {GAPFILL_STEP_S}) AS BIGINT) * {GAPFILL_STEP_S} AS bucket_s,
         count(*) AS cnt,
         count(value) AS vcnt,
         sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS val_e4
  FROM events GROUP BY 1, 2
),
rng AS (SELECT min(bucket_s) AS mn, max(bucket_s) AS mx FROM obs),
grid AS (
  SELECT k.key, t.bucket_s
  FROM (SELECT DISTINCT key FROM obs) k, rng,
       LATERAL (SELECT unnest(generate_series(rng.mn, rng.mx, {GAPFILL_STEP_S})) AS bucket_s) t
),
full_grid AS (
  SELECT g.key, g.bucket_s, o.cnt,
         floor(o.val_e4 / o.vcnt + 0.5) AS avg_e4
  FROM grid g LEFT JOIN obs o ON o.key = g.key AND o.bucket_s = g.bucket_s
),
nb AS (
  SELECT *,
         last_value(avg_e4 IGNORE NULLS) OVER wback AS prev_v,
         first_value(avg_e4 IGNORE NULLS) OVER wfwd AS next_v,
         max(CASE WHEN avg_e4 IS NOT NULL THEN bucket_s END) OVER wback AS prev_b,
         min(CASE WHEN avg_e4 IS NOT NULL THEN bucket_s END) OVER wfwd AS next_b
  FROM full_grid
  WINDOW wback AS (PARTITION BY key ORDER BY bucket_s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wfwd AS (PARTITION BY key ORDER BY bucket_s
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT key AS event_type, bucket_s,
       CAST(COALESCE(cnt, 0) AS BIGINT) AS cnt,
       CASE WHEN avg_e4 IS NOT NULL THEN avg_e4
            ELSE floor(prev_v + (next_v - prev_v)
                       * ((bucket_s - prev_b) / (next_b - prev_b)) + 0.5)
       END / 10000.0 AS interp_avg
FROM nb
"""

QUERIES.append(
    Query("events_gapfill_interp", events_gapfill_interp, EVENTS_GAPFILL_INTERP_ORACLE,
          "ext: grid resample + linear interpolation (ffill twin)")
)


# --- KMV distinct sketch with set algebra over event-type cohorts ---
#
# Distinct user-days per event type, estimated with a K-Minimum-Values
# sketch (operators/sketches.py:kmv_minima), plus UNION and
# INTERSECTION cardinality estimates for every type pair — the set
# algebra HLL can't do (HLL unions but can't intersect without
# inclusion-exclusion error blowup; KMV decides membership of a
# union-sketch value in either constituent from the constituent's own
# sketch). The md5-prefix hash order and the integer-division
# estimator make every estimate bit-identical in DuckDB, so this is a
# FULL value oracle over sketch output. Exact columns are the labeled
# check-scale baseline (the distinct/self-join the sketch replaces at
# 100 TB).

from ..operators.sketches import CMS_SPACE as KMV_SPACE  # 2^32 hash space

KMV_K = 128
KMV_USER_DAY = (
    "concat(cast(user_id as string), ':', "
    "cast(unix_seconds(ts) div 86400 as string))"
)


def kmv_set_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..caching import track
    from ..operators.sketches import kmv_est_expr, kmv_estimate, kmv_minima

    ev = track(
        load(spark, sf_dir, "events")
        .select(F.col("event_type").alias("t"), F.expr(KMV_USER_DAY).alias("ud"))
        .distinct()
        .persist()
    )
    kept = track(kmv_minima(ev, "t", "ud", KMV_K).persist())
    est_set = kmv_estimate(kept, KMV_K).select(F.col("s").alias("t"), "est")
    # persist the |types|-row exact aggregate (r19): it feeds the pair
    # enumeration (whose two sides each appear in the union-sketch
    # branch AND under the final assembly) plus the ea/eb broadcast
    # builds — unpersisted, every one of those ~5 plan occurrences
    # re-scanned the corpus-sized ev cache and re-ran the groupBy
    # (profiled: four extra ~1 s cache-read aggregation stages at
    # sf0.1) for a frame that is |event types| rows at any scale
    exact_set = track(
        ev.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("exact")).persist()
    )

    types = exact_set.select("t")
    pairs = (
        types.select(F.col("t").alias("t1"))
        .join(types.select(F.col("t").alias("t2")), F.col("t1") < F.col("t2"))
    )

    # union sketch per pair: k smallest of the two kept sets' union
    k1 = kept.select(F.col("s").alias("t1"), F.col("h"))
    k2 = kept.select(F.col("s").alias("t2"), F.col("h"))
    u_all = (
        pairs.join(F.broadcast(k1), "t1")
        .select("t1", "t2", "h")
        .unionByName(pairs.join(F.broadcast(k2), "t2").select("t1", "t2", "h"))
        .distinct()
    )
    w = Window.partitionBy("t1", "t2").orderBy("h")
    u = u_all.select(
        "t1", "t2", "h", F.row_number().over(w).alias("rn")
    ).where(F.col("rn") <= KMV_K)

    # membership of each union-sketch value in either constituent is
    # decidable from the constituent's kept set alone (v <= union h_k
    # <= each set's h_k)
    in_a = kept.select(F.col("s").alias("t1"), F.col("h"), F.lit(1).alias("ia"))
    in_b = kept.select(F.col("s").alias("t2"), F.col("h"), F.lit(1).alias("ib"))
    u_flag = (
        u.join(F.broadcast(in_a), ["t1", "h"], "left")
        .join(F.broadcast(in_b), ["t2", "h"], "left")
    )
    pair_est = u_flag.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).alias("n_u"),
        F.max("h").alias("h_max"),
        F.sum(
            F.when(F.col("ia").isNotNull() & F.col("ib").isNotNull(), 1).otherwise(0)
        ).alias("c_both"),
    ).select(
        "t1",
        "t2",
        # the shared estimator (operators/sketches.kmv_est_expr) so the
        # per-set and per-pair-union paths cannot drift; the DuckDB
        # oracle keeps its own copy BY DESIGN (independent replication)
        kmv_est_expr("n_u", "h_max", KMV_K).alias("est_union"),
        "n_u",
        "c_both",
    )

    exact_inter = (
        ev.select(F.col("t").alias("t1"), "ud")
        .join(ev.select(F.col("t").alias("t2"), "ud"), "ud")
        .where(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("long").alias("xi"))
    )

    ea = exact_set.select(F.col("t").alias("t1"), F.col("exact").alias("exact_a"))
    eb = exact_set.select(F.col("t").alias("t2"), F.col("exact").alias("exact_b"))
    sa = est_set.select(F.col("t").alias("t1"), F.col("est").alias("est_a"))
    sb = est_set.select(F.col("t").alias("t2"), F.col("est").alias("est_b"))
    return (
        pairs.join(F.broadcast(ea), "t1")
        .join(F.broadcast(eb), "t2")
        .join(F.broadcast(sa), "t1")
        .join(F.broadcast(sb), "t2")
        .join(F.broadcast(pair_est), ["t1", "t2"])
        .join(F.broadcast(exact_inter), ["t1", "t2"], "left")
        .select(
            "t1",
            "t2",
            "exact_a",
            "exact_b",
            F.coalesce(F.col("xi"), F.lit(0)).cast("long").alias("exact_inter"),
            (F.col("exact_a") + F.col("exact_b") - F.coalesce(F.col("xi"), F.lit(0)))
            .cast("long")
            .alias("exact_union"),
            "est_a",
            "est_b",
            F.expr("cast(c_both * est_union div n_u as bigint)").alias("est_inter"),
            "est_union",
        )
    )


KMV_SET_CARDINALITY_ORACLE = f"""
WITH ev AS (
  SELECT DISTINCT event_type AS t,
         CAST(user_id AS VARCHAR) || ':' ||
         CAST((CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS VARCHAR) AS ud
  FROM events
),
hashed AS (
  SELECT DISTINCT t, ('0x' || substr(md5(ud), 1, 8))::BIGINT AS h FROM ev
),
kept AS (
  SELECT t, h FROM (
    SELECT t, h, ROW_NUMBER() OVER (PARTITION BY t ORDER BY h) AS rn FROM hashed
  ) WHERE rn <= {KMV_K}
),
per_set AS (SELECT t, count(*) AS n_kept, max(h) AS h_max FROM kept GROUP BY 1),
est_set AS (
  SELECT t, CAST(CASE WHEN n_kept < {KMV_K} THEN n_kept
                 ELSE ({KMV_K - 1} * {KMV_SPACE}) // h_max END AS BIGINT) AS est
  FROM per_set
),
exact_set AS (SELECT t, CAST(count(*) AS BIGINT) AS exact FROM ev GROUP BY 1),
pairs AS (
  SELECT a.t AS t1, b.t AS t2 FROM exact_set a, exact_set b WHERE a.t < b.t
),
u_all AS (
  SELECT DISTINCT t1, t2, h FROM (
    SELECT p.t1, p.t2, k.h FROM pairs p JOIN kept k ON k.t = p.t1
    UNION ALL
    SELECT p.t1, p.t2, k.h FROM pairs p JOIN kept k ON k.t = p.t2
  )
),
u AS (
  SELECT t1, t2, h FROM (
    SELECT t1, t2, h, ROW_NUMBER() OVER (PARTITION BY t1, t2 ORDER BY h) AS rn
    FROM u_all
  ) WHERE rn <= {KMV_K}
),
pair_est AS (
  SELECT u.t1, u.t2, count(*) AS n_u, max(u.h) AS h_max,
         sum(CASE WHEN ia.h IS NOT NULL AND ib.h IS NOT NULL
                  THEN 1 ELSE 0 END) AS c_both
  FROM u
  LEFT JOIN kept ia ON ia.t = u.t1 AND ia.h = u.h
  LEFT JOIN kept ib ON ib.t = u.t2 AND ib.h = u.h
  GROUP BY 1, 2
),
pair_u AS (
  SELECT t1, t2, n_u, c_both,
         CAST(CASE WHEN n_u < {KMV_K} THEN n_u
              ELSE ({KMV_K - 1} * {KMV_SPACE}) // h_max END AS BIGINT) AS est_union
  FROM pair_est
),
exact_inter AS (
  SELECT a.t AS t1, b.t AS t2, CAST(count(*) AS BIGINT) AS xi
  FROM ev a JOIN ev b ON a.ud = b.ud AND a.t < b.t
  GROUP BY 1, 2
)
SELECT p.t1, p.t2,
       ea.exact AS exact_a, eb.exact AS exact_b,
       CAST(COALESCE(xi.xi, 0) AS BIGINT) AS exact_inter,
       CAST(ea.exact + eb.exact - COALESCE(xi.xi, 0) AS BIGINT) AS exact_union,
       sa.est AS est_a, sb.est AS est_b,
       CAST(pu.c_both * pu.est_union // pu.n_u AS BIGINT) AS est_inter,
       pu.est_union AS est_union
FROM pairs p
JOIN exact_set ea ON ea.t = p.t1
JOIN exact_set eb ON eb.t = p.t2
JOIN est_set sa ON sa.t = p.t1
JOIN est_set sb ON sb.t = p.t2
JOIN pair_u pu ON pu.t1 = p.t1 AND pu.t2 = p.t2
LEFT JOIN exact_inter xi ON xi.t1 = p.t1 AND xi.t2 = p.t2
"""

QUERIES.append(
    Query(
        "kmv_set_cardinality",
        kmv_set_cardinality,
        KMV_SET_CARDINALITY_ORACLE,
        "ext: KMV distinct sketch with union/intersection estimates",
    )
)


# --- winsorization: per-type percentile clipping of event values ---
#
# The value-cleaning gate a training pipeline runs before aggregating
# arbitrary metrics: clip each event_type's values to its own
# [p1, p99]. Cross-engine exact by the repo's money-math discipline:
# values enter as e4 BIGINTs (floor-half-up), percentiles interpolate
# over integer-valued doubles (identical pairs on both engines — the
# quantity_percentiles precedent), bounds round back to e4 BIGINTs,
# and every clip/sum is integer arithmetic until the terminal mean.

def events_value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SCALE CONTRACT: `percentile()` is EXACT and
    # buffers one counter per distinct value per group in the agg
    # buffer. That is safe here BY CONSTRUCTION, not by luck: the
    # buffered domain is the e4-quantized value — bounded by the
    # value-range width x 1e4 (this table: value in [0, ~560] -> at
    # most ~5.6M counters per group worst case, ~18k observed), and
    # INDEPENDENT of row count, so a hot event_type at 100x the rows
    # grows counts, not the buffer. The operator's contract is
    # therefore: exact percentiles are appropriate while the
    # quantized-domain width stays executor-memory-sized; for
    # unbounded/high-precision domains switch the pct frame to
    # `approx_percentile(v_e4, array(0.01, 0.99), acc)` — the
    # registered `quantity_percentiles_approx_check` row driver-pins
    # that exact-vs-approx substitution's rank-error bound (on the
    # lineitem quantity domain), so the escape hatch's correctness
    # discipline is already established, not hypothetical.
    #
    # ev feeds two consumers (the percentile agg and the clip join) and
    # is DELIBERATELY not persisted: the frame is corpus-sized, and
    # re-reading a 2-column pruned+pushed parquet scan is cheaper at
    # scale than caching the whole projection (unlike
    # kmv_set_cardinality's ev, which is distinct-reduced BEFORE its
    # consumers and therefore small enough to pin).
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").alias("v_e4"),
        )
    )
    pct = ev.groupBy("event_type").agg(
        F.expr("CAST(floor(percentile(v_e4, 0.01) + 0.5) AS BIGINT)").alias("lo_e4"),
        F.expr("CAST(floor(percentile(v_e4, 0.99) + 0.5) AS BIGINT)").alias("hi_e4"),
    )
    clipped = ev.join(F.broadcast(pct), "event_type").select(
        "event_type",
        "lo_e4",
        "hi_e4",
        F.expr("least(greatest(v_e4, lo_e4), hi_e4)").alias("c_e4"),
        (F.col("v_e4") < F.col("lo_e4")).cast("int").alias("is_lo"),
        (F.col("v_e4") > F.col("hi_e4")).cast("int").alias("is_hi"),
    )
    return clipped.groupBy("event_type", "lo_e4", "hi_e4").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("is_lo").cast("long").alias("n_clip_low"),
        F.sum("is_hi").cast("long").alias("n_clip_high"),
        # integer e4 mean, floor-half-up, back to units in the terminal
        # projection — single division on exact integers, no sum-order.
        # CAST the divisor: a Spark `10000.0` literal is DECIMAL and
        # drags the result into Decimal -> pandas object (r9 lesson)
        F.expr(
            "floor(CAST(sum(c_e4) AS DOUBLE) / count(*) + 0.5)"
            " / CAST(10000 AS DOUBLE)"
        ).alias("mean_clipped"),
    )


EVENTS_VALUE_WINSORIZE_ORACLE = """
WITH ev AS (
  SELECT event_type, CAST(floor(value * 10000 + 0.5) AS BIGINT) AS v_e4
  FROM events WHERE value IS NOT NULL
),
pct AS (
  SELECT event_type,
         CAST(floor(quantile_cont(v_e4, 0.01) + 0.5) AS BIGINT) AS lo_e4,
         CAST(floor(quantile_cont(v_e4, 0.99) + 0.5) AS BIGINT) AS hi_e4
  FROM ev GROUP BY 1
),
clipped AS (
  SELECT ev.event_type, lo_e4, hi_e4,
         least(greatest(v_e4, lo_e4), hi_e4) AS c_e4,
         CASE WHEN v_e4 < lo_e4 THEN 1 ELSE 0 END AS is_lo,
         CASE WHEN v_e4 > hi_e4 THEN 1 ELSE 0 END AS is_hi
  FROM ev JOIN pct USING (event_type)
)
SELECT event_type, lo_e4, hi_e4,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(is_lo) AS BIGINT) AS n_clip_low,
       CAST(sum(is_hi) AS BIGINT) AS n_clip_high,
       floor(CAST(sum(c_e4) AS DOUBLE) / count(*) + 0.5) / 10000.0 AS mean_clipped
FROM clipped GROUP BY 1, 2, 3
"""

QUERIES.append(
    Query(
        "events_value_winsorize",
        events_value_winsorize,
        EVENTS_VALUE_WINSORIZE_ORACLE,
        "ext: per-group percentile winsorization (integer e4 clip)",
    )
)


# --- KLL quantile rollup: per-type quantiles from per-day sketch cells ---
#
# Per (event_type, day) native KLL sketches rolled up to per-type
# p50/p95/p99 (operators/sketches.py:kll_quantile_rollup) — the
# quantile twin of the HLL rollup: a 100 TB pipeline materializes the
# per-day sketch bytes once and answers any set-level quantile
# question without re-reading data. ROWS-ONLY registration (the r12
# ledger's restraint note): the estimates are Datasketches-internal
# (DuckDB has no KLL), so driver verification is row-count/schema
# while the VALUE surface is pinned by pytest — exact order statistics
# below k, split-invariance, and the Karnin-Lang-Liberty rank-error
# band on a planted distribution (tests/test_textops_props.py), the
# same class as uv_hll_rollup.

def kll_quantile_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kll_quantile_rollup

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_seconds(ts) div 86400").alias("day"),
        F.col("value").alias("v"),
    )
    out = kll_quantile_rollup(ev, "event_type", "day", "v", (0.5, 0.95, 0.99))
    return out.select(
        F.col("s").alias("event_type"), "n_subs", "n_vals", "q_50", "q_95", "q_99"
    )


QUERIES.append(
    Query(
        "kll_quantile_rollup",
        kll_quantile_rollup_q,
        None,
        "ext: native KLL per-day sketch cells rolled up to per-type quantiles",
    )
)


# --- one-pass data-quality expectation audit (extension) -------------
#
# Deequ-style declarative ingest contract over lineitem: every metric
# compiles into ONE aggregation scan (the stack pivot runs on the
# 1-row result), so adding a check never adds a pass over 100 TB. The
# only shuffle beyond the global agg's 1-row-per-task combine is the
# exact-distinct expand behind uniqueness (swap approx_uniqueness in
# at scale when the key audit may be approximate). Reference parity:
# none (the reference validates per-query with inline filters, e.g.
# HotItems.java:60); this is the training-pipeline ingest gate.

def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dq import (
        accepted_values,
        completeness,
        max_value,
        min_value,
        run_expectations,
        uniqueness,
    )

    li = load(spark, sf_dir, "lineitem")
    checks = [
        completeness("l_shipdate"),
        completeness("l_quantity"),
        uniqueness(
            F.col("l_orderkey") * 8 + F.col("l_linenumber"),
            "l_orderkey*8+l_linenumber",
        ),
        min_value("l_quantity", 1.0),
        max_value("l_quantity", 50.0),
        accepted_values("l_returnflag", ("A", "N", "R")),
        accepted_values("l_linestatus", ("F", "O")),
        min_value("l_extendedprice", 0.01),
        min_value("l_discount", 0.0),
        max_value("l_discount", 0.1),
        max_value("l_tax", 0.08),
    ]
    return run_expectations(li, checks).orderBy("check_name")


DQ_EXPECTATIONS_ORACLE = """
WITH m AS (
  SELECT
    round(CAST(count(l_shipdate) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS m_comp_ship,
    round(CAST(count(l_quantity) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS m_comp_qty,
    round(CAST(count(DISTINCT l_orderkey * 8 + l_linenumber) AS DOUBLE)
          / CAST(count(*) AS DOUBLE), 6) AS m_uniq,
    round(CAST(min(l_quantity) AS DOUBLE), 6) AS m_min_qty,
    round(CAST(max(l_quantity) AS DOUBLE), 6) AS m_max_qty,
    round(CAST(count(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 END) AS DOUBLE)
          / CAST(count(l_returnflag) AS DOUBLE), 6) AS m_acc_rf,
    round(CAST(count(CASE WHEN l_linestatus IN ('F','O') THEN 1 END) AS DOUBLE)
          / CAST(count(l_linestatus) AS DOUBLE), 6) AS m_acc_ls,
    round(CAST(min(l_extendedprice) AS DOUBLE), 6) AS m_min_price,
    round(CAST(min(l_discount) AS DOUBLE), 6) AS m_min_disc,
    round(CAST(max(l_discount) AS DOUBLE), 6) AS m_max_disc,
    round(CAST(max(l_tax) AS DOUBLE), 6) AS m_max_tax
  FROM lineitem
), checks(check_name, metric, lo, hi) AS (
  SELECT 'completeness:l_shipdate', m_comp_ship, 1.0, 1.0 FROM m
  UNION ALL SELECT 'completeness:l_quantity', m_comp_qty, 1.0, 1.0 FROM m
  UNION ALL SELECT 'uniqueness:l_orderkey*8+l_linenumber', m_uniq, 1.0, 1.0 FROM m
  UNION ALL SELECT 'min:l_quantity', m_min_qty, 1.0, NULL FROM m
  UNION ALL SELECT 'max:l_quantity', m_max_qty, NULL, 50.0 FROM m
  UNION ALL SELECT 'accepted:l_returnflag', m_acc_rf, 1.0, 1.0 FROM m
  UNION ALL SELECT 'accepted:l_linestatus', m_acc_ls, 1.0, 1.0 FROM m
  UNION ALL SELECT 'min:l_extendedprice', m_min_price, 0.01, NULL FROM m
  UNION ALL SELECT 'min:l_discount', m_min_disc, 0.0, NULL FROM m
  UNION ALL SELECT 'max:l_discount', m_max_disc, NULL, 0.1 FROM m
  UNION ALL SELECT 'max:l_tax', m_max_tax, NULL, 0.08 FROM m
)
SELECT check_name,
       CAST(metric AS DOUBLE) AS metric,
       CAST(lo AS DOUBLE) AS lo,
       CAST(hi AS DOUBLE) AS hi,
       CASE WHEN metric IS NULL THEN 0
            ELSE CAST(((lo IS NULL OR metric >= lo)
                       AND (hi IS NULL OR metric <= hi)) AS INT) END AS passed
FROM checks
ORDER BY check_name
"""

QUERIES.append(
    Query(
        "dq_expectations",
        dq_expectations,
        DQ_EXPECTATIONS_ORACLE,
        "ext: one-pass Deequ-style data-quality expectation audit",
    )
)


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity (l=3) over the same quasi-identifier pair
    as k_anonymity_audit, with the account-balance band (1000-wide
    floor buckets) as the sensitive attribute — the companion release
    gate: a (nation, segment) class of ≥ 10 customers still leaks if
    they all sit in one balance band."""
    from ..operators.sampling import l_diversity

    c = load(spark, sf_dir, "customer").withColumn(
        "balance_band", F.floor(F.col("c_acctbal") / 1000.0).cast("long")
    )
    return l_diversity(
        c, "c_custkey", ["c_nationkey", "c_mktsegment"], "balance_band", l=3
    )


L_DIVERSITY_ORACLE = """
WITH c AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS balance_band
  FROM customer
), ranked AS (
  SELECT c_custkey, c_nationkey, c_mktsegment, balance_band,
         CAST(count(*) OVER wq AS BIGINT) AS class_size,
         dense_rank() OVER wo AS dr
  FROM c
  WINDOW wq AS (PARTITION BY c_nationkey, c_mktsegment),
         wo AS (PARTITION BY c_nationkey, c_mktsegment ORDER BY balance_band)
)
SELECT c_custkey, c_nationkey, c_mktsegment, balance_band, class_size,
       CAST(max(dr) OVER wq AS BIGINT) AS l_count,
       CASE WHEN max(dr) OVER wq >= 3 THEN 1 ELSE 0 END AS keep
FROM ranked
WINDOW wq AS (PARTITION BY c_nationkey, c_mktsegment)
"""

QUERIES.append(
    Query("l_diversity_audit", l_diversity_audit, L_DIVERSITY_ORACLE,
          "ext: distinct l-diversity release gate (k-anonymity companion)")
)


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness (t=0.2, the ICDE 2007 paper's example threshold)
    over the same quasi-identifier pair and sensitive balance band as
    the k-anonymity / l-diversity audits — the privacy triad's third
    gate: a (nation, segment) class that is 10-anonymous and 3-diverse
    still leaks if its balance-band DISTRIBUTION sits far from the
    corpus's (all three distinct bands being the lowest three). Emits
    per class the integer-exact total-variation and ordered-EMD
    distances plus the keep verdict."""
    from ..operators.sampling import t_closeness

    c = load(spark, sf_dir, "customer").withColumn(
        "balance_band", F.floor(F.col("c_acctbal") / 1000.0).cast("long")
    )
    return t_closeness(
        c, ["c_nationkey", "c_mktsegment"], "balance_band", t=0.2
    )


T_CLOSENESS_ORACLE = """
WITH c AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS v
  FROM customer
), cells AS (
  SELECT c_nationkey, c_mktsegment, v, CAST(count(*) AS BIGINT) AS cnt
  FROM c GROUP BY 1, 2, 3
), vals AS (
  SELECT v, CAST(sum(cnt) AS BIGINT) AS gv FROM cells GROUP BY v
), gtot AS (
  SELECT CAST(sum(gv) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS m
  FROM vals
), classes AS (
  SELECT c_nationkey, c_mktsegment, CAST(sum(cnt) AS BIGINT) AS class_size
  FROM cells GROUP BY 1, 2
), grid AS (
  SELECT cl.c_nationkey, cl.c_mktsegment, cl.class_size, g.n, g.m,
         va.v, va.gv, COALESCE(ce.cnt, 0) AS cnt
  FROM classes cl
  CROSS JOIN vals va
  CROSS JOIN gtot g
  LEFT JOIN cells ce
    ON ce.c_nationkey IS NOT DISTINCT FROM cl.c_nationkey
   AND ce.c_mktsegment IS NOT DISTINCT FROM cl.c_mktsegment
   AND ce.v IS NOT DISTINCT FROM va.v
), diffs AS (
  SELECT *, cnt * n - gv * class_size AS diff FROM grid
), cums AS (
  SELECT *,
         sum(diff) OVER (
           PARTITION BY c_nationkey, c_mktsegment
           ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM diffs
), agg AS (
  SELECT c_nationkey, c_mktsegment, class_size, n, m,
         CAST(sum(abs(diff)) AS BIGINT) AS tvd_num,
         CAST(sum(abs(cum)) AS BIGINT) AS emd_num
  FROM cums GROUP BY 1, 2, 3, 4, 5
)
SELECT c_nationkey, c_mktsegment, class_size,
       round(tvd_num / (2.0 * class_size * n), 6) AS t_tvd,
       round(emd_num / (greatest(m - 1, 1) * 1.0 * class_size * n), 6)
         AS t_emd,
       CASE WHEN round(
              emd_num / (greatest(m - 1, 1) * 1.0 * class_size * n), 6
            ) <= 0.2 THEN 1 ELSE 0 END AS keep
FROM agg
"""

QUERIES.append(
    Query("t_closeness_audit", t_closeness_audit, T_CLOSENESS_ORACLE,
          "ext: t-closeness release gate (privacy triad completion)")
)


# --- Z-order layout audit (extension) ---------------------------------
#
# The data-layout family: Morton-interleave (o_custkey, order epoch-day)
# and report per-zkey-range-bucket bounds — the parquet footer min/max
# a repartitionByRange(zkey) write would produce, i.e. what range
# predicates on EITHER dimension could skip. All-BIGINT pipeline:
# scaling is integer division against broadcast 1-row bounds,
# interleave is shift/mask — no rounding convention anywhere.

_Z_BITS = 16
_Z_BUCKETS = 64


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.layout import zorder_locality

    o = load(spark, sf_dir, "orders").select(
        "o_custkey", F.expr("unix_seconds(o_orderdate) div 86400").alias("order_day")
    )
    return zorder_locality(
        o, ["o_custkey", "order_day"], bits=_Z_BITS, n_buckets=_Z_BUCKETS
    ).orderBy("bucket")


def _z_oracle() -> str:
    top = (1 << _Z_BITS) - 1
    scaled = {
        c: (
            f"CAST((CAST({c} AS BIGINT) - min_{c}) * {top}"
            f" // greatest(max_{c} - min_{c}, 1) AS BIGINT)"
        )
        for c in ("o_custkey", "order_day")
    }
    terms = " + ".join(
        f"((({scaled[c]} >> {b}) & 1) << {b * 2 + ci})"
        for b in range(_Z_BITS)
        for ci, c in enumerate(("o_custkey", "order_day"))
    )
    width = max((1 << (_Z_BITS * 2)) // _Z_BUCKETS, 1)
    return f"""
WITH o AS (
  SELECT o_custkey,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) // 86400 AS order_day
  FROM orders
), b AS (
  SELECT min(o_custkey) AS min_o_custkey, max(o_custkey) AS max_o_custkey,
         min(order_day) AS min_order_day, max(order_day) AS max_order_day
  FROM o
), keyed AS (
  SELECT o_custkey, order_day, CAST({terms} AS BIGINT) AS zkey FROM o, b
)
SELECT CAST(zkey // {width} AS BIGINT) AS bucket,
       count(*) AS n_rows,
       CAST(min(o_custkey) AS BIGINT) AS min_o_custkey,
       CAST(max(o_custkey) AS BIGINT) AS max_o_custkey,
       CAST(min(order_day) AS BIGINT) AS min_order_day,
       CAST(max(order_day) AS BIGINT) AS max_order_day
FROM keyed GROUP BY 1 ORDER BY bucket
"""


ZORDER_LAYOUT_ORACLE = _z_oracle()

QUERIES.append(
    Query(
        "zorder_layout",
        zorder_layout,
        ZORDER_LAYOUT_ORACLE,
        "ext: Morton z-order layout audit (multi-dim data-skipping bounds)",
    )
)


# --- release-gate funnel compose (extension) --------------------------
#
# The round-13/14 families composed END-TO-END, one oracle pinning the
# interactions (the training_mix_snapshot principle): exact dedup
# first, then the FULL privacy triad computed over the SURVIVORS —
# k-anonymity, l-diversity, t-closeness, in that order (each gate
# strictly tightens the last) — a class size counted over raw rows
# instead of canonical ones, or the gates reordered, fails the hash
# even when each stage is individually correct. One corpus scan: the
# md5 groupBy carries forward each content-class's canonical metadata
# via min_by, the (class, band) cell agg reduces it once more, and
# everything after — class sizes, distinct-band counts, the
# t-closeness distance machinery — runs on the persisted cell frame
# (|lang x source x band| rows). l_class needs no count_distinct
# expand: the cell frame's per-class row count IS the distinct-band
# count.

_RG_K = 10          # k-anonymity class floor
_RG_L = 3           # distinct length-bands per class floor
_RG_T = 0.2         # t-closeness ordered-EMD ceiling
_RG_BAND = 100      # n_chars band width (the sensitive attribute)


def release_gate_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-stage release funnel (r18 adds the LEAK GATE the r17
    verdict called the missing fifth wall): raw → exact dedup →
    k-anonymity → l-diversity → t-closeness → winnow decontamination.
    The final stage counts the docs of every class that passed the
    privacy gates whose dedup-group TEXT shares no winnowing
    fingerprint with the eval/benchmark split (every-97th-doc, the
    winnow_decontaminate rows' convention) — benchmark members
    themselves self-match and fall out, so what survives is the
    releasable corpus under the SIGMOD'03 w+k-1 verbatim-run
    guarantee. Contamination is a property of the lowercased text, so
    it is decided once per dedup group (all members share fps), and
    the contamination frame is leak-sized — it broadcasts back onto
    the group frame, never reshuffling the corpus."""
    from ..caching import track
    from ..operators.sampling import t_closeness
    from ..operators.text import winnow_fingerprints
    from .textops import DECON_MOD

    d = load(spark, sf_dir, "documents")
    # leak gate input: ids sharing >=1 winnow fp with the eval split
    # (train side = the WHOLE corpus: eval members self-match, which
    # is exactly the "the benchmark itself is in the crawl" leak).
    # This is winnow_decontaminate's defining equality join minus its
    # per-pair evidence rollups (the funnel discards them), and —
    # because the eval split is a SUBSET of the same corpus — both
    # sides derive from ONE persisted fingerprint pass instead of the
    # general operator's two (r18 perf: ~4.9 s -> one fingerprint
    # scan; semantics pinned unchanged by the oracle and the
    # planted-leak pytest)
    fps = track(
        winnow_fingerprints(d).select("doc_id", "fp_hash").persist()
    )
    eval_fps = (
        fps.filter(F.pmod(F.col("doc_id"), F.lit(DECON_MOD)) == 0)
        .select("fp_hash")
        .distinct()
    )
    contam_ids = fps.join(eval_fps, "fp_hash", "left_semi").select(
        F.col("doc_id").alias("_cid")
    ).distinct()
    # group-level gate on the REPRESENTATIVE id: every dup member
    # shares the group's lowercased text, so the min-id member is
    # contaminated iff any member is — no third corpus scan. No
    # broadcast hint: contamination is leak-sized by ASSUMPTION, not
    # construction (a widely-mirrored benchmark can flag a large
    # corpus fraction), so AQE decides from the measured size instead
    # of a forced driver collect that could OOM (r18 review finding)
    canon = (
        d.groupBy(F.md5(F.lower("text")).alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("_rep"),
            F.min_by(
                F.struct(
                    "lang",
                    "source",
                    F.expr(f"CAST(n_chars div {_RG_BAND} AS BIGINT)").alias("band"),
                ),
                F.col("doc_id"),
            ).alias("meta"),
        )
        .join(contam_ids, F.col("_rep") == F.col("_cid"), "left")
        .select(
            "n_dups",
            "meta.lang",
            "meta.source",
            "meta.band",
            F.col("_cid").isNull().cast("long").alias("clean"),
        )
    )
    # (class, band) cells: the one frame every later stage reads
    cells = track(
        canon.groupBy("lang", "source", "band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cell"),
            F.sum("n_dups").cast("long").alias("n_raw_cell"),
            F.sum("clean").cast("long").alias("n_clean_cell"),
        )
        .persist()
    )
    # l_class counts NON-NULL band cells only (count(col) skips NULLs
    # — the count_distinct semantics the pre-cell-frame version had: a
    # NULL band must not count as one more distinct band toward _RG_L)
    classes = cells.groupBy("lang", "source").agg(
        F.sum("n_cell").alias("n_class"),
        F.count(F.col("band")).alias("l_class"),
        F.sum("n_raw_cell").alias("n_raw_class"),
        F.sum("n_clean_cell").alias("n_clean_class"),
    )
    # weighted t-closeness over the SAME cell frame (weight_col skips
    # the operator's own corpus shuffle — the cells are already built);
    # the join back is NULL-SAFE so a NULL-lang/source class keeps its
    # verdict instead of silently dropping out of EVERY funnel stage
    tkeep = t_closeness(
        cells, ["lang", "source"], "band", t=_RG_T, weight_col="n_cell"
    ).select(
        F.col("lang").alias("_tlang"),
        F.col("source").alias("_tsource"),
        F.col("keep").alias("keep_t"),
    )
    gated = classes.join(
        F.broadcast(tkeep),
        classes["lang"].eqNullSafe(tkeep["_tlang"])
        & classes["source"].eqNullSafe(tkeep["_tsource"]),
    ).drop("_tlang", "_tsource")
    funnel = gated.agg(
        F.sum("n_raw_class").alias("_raw"),
        F.sum("n_class").alias("_dedup"),
        F.sum(F.when(F.col("n_class") >= _RG_K, F.col("n_class"))).alias("_kanon"),
        F.sum(
            F.when(
                (F.col("n_class") >= _RG_K) & (F.col("l_class") >= _RG_L),
                F.col("n_class"),
            )
        ).alias("_ldiv"),
        F.sum(
            F.when(
                (F.col("n_class") >= _RG_K)
                & (F.col("l_class") >= _RG_L)
                & (F.col("keep_t") == 1),
                F.col("n_class"),
            )
        ).alias("_tclose"),
        F.sum(
            F.when(
                (F.col("n_class") >= _RG_K)
                & (F.col("l_class") >= _RG_L)
                & (F.col("keep_t") == 1),
                F.col("n_clean_class"),
            )
        ).alias("_decon"),
    )
    return funnel.select(
        F.expr(
            "stack(6, 'raw', CAST(coalesce(_raw, 0) AS BIGINT),"
            " 'dedup_exact', CAST(coalesce(_dedup, 0) AS BIGINT),"
            " 'k_anonymous', CAST(coalesce(_kanon, 0) AS BIGINT),"
            " 'l_diverse', CAST(coalesce(_ldiv, 0) AS BIGINT),"
            " 't_close', CAST(coalesce(_tclose, 0) AS BIGINT),"
            " 'decontaminated', CAST(coalesce(_decon, 0) AS BIGINT))"
            " AS (stage, n_docs)"
        )
    ).orderBy("stage")


from .textops import (  # noqa: E402  (shared winnow CTE encoding)
    _WINNOW_FPS_HASH_CTE,
    _WINNOW_HS_CTES,
    DECON_MOD as _RG_DECON_MOD,
)

RELEASE_GATE_ORACLE = f"""
WITH {_WINNOW_HS_CTES},
{_WINNOW_FPS_HASH_CTE},
contam AS (
  SELECT DISTINCT doc_id FROM fps
  WHERE fp_hash IN (SELECT fp_hash FROM fps WHERE doc_id % {_RG_DECON_MOD} = 0)
), canon AS (
  SELECT count(*) AS n_dups,
         arg_min(lang, doc_id) AS lang,
         arg_min(source, doc_id) AS source,
         arg_min(CAST(n_chars // {_RG_BAND} AS BIGINT), doc_id) AS band,
         CASE WHEN min(doc_id) IN (SELECT doc_id FROM contam)
              THEN 0 ELSE 1 END AS clean
  FROM documents GROUP BY md5(lower(text))
), cells AS (
  SELECT lang, source, band,
         CAST(count(*) AS BIGINT) AS n_cell,
         CAST(sum(n_dups) AS BIGINT) AS n_raw_cell,
         CAST(sum(clean) AS BIGINT) AS n_clean_cell
  FROM canon GROUP BY 1, 2, 3
), classes AS (
  SELECT lang, source, CAST(sum(n_cell) AS BIGINT) AS n_class,
         CAST(count(band) AS BIGINT) AS l_class,
         CAST(sum(n_raw_cell) AS BIGINT) AS n_raw_class,
         CAST(sum(n_clean_cell) AS BIGINT) AS n_clean_class
  FROM cells GROUP BY 1, 2
), vals AS (
  SELECT band, CAST(sum(n_cell) AS BIGINT) AS gv FROM cells GROUP BY band
), gtot AS (
  SELECT CAST(sum(gv) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS m
  FROM vals
), grid AS (
  SELECT cl.lang, cl.source, cl.n_class, g.n, g.m, va.band, va.gv,
         COALESCE(ce.n_cell, 0) AS cnt
  FROM classes cl
  CROSS JOIN vals va
  CROSS JOIN gtot g
  LEFT JOIN cells ce
    ON ce.lang IS NOT DISTINCT FROM cl.lang
   AND ce.source IS NOT DISTINCT FROM cl.source
   AND ce.band IS NOT DISTINCT FROM va.band
), cums AS (
  SELECT *,
         cnt * n - gv * n_class AS diff,
         sum(cnt * n - gv * n_class) OVER (
           PARTITION BY lang, source
           ORDER BY band
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum
  FROM grid
), tqual AS (
  SELECT lang, source,
         CASE WHEN round(
                CAST(sum(abs(cum)) AS BIGINT)
                / (greatest(max(m) - 1, 1) * 1.0 * max(n_class) * max(n)),
                6
              ) <= {_RG_T} THEN 1 ELSE 0 END AS keep_t
  FROM cums GROUP BY 1, 2
), gated AS (
  SELECT c.*, t.keep_t
  FROM classes c
  JOIN tqual t ON c.lang IS NOT DISTINCT FROM t.lang
              AND c.source IS NOT DISTINCT FROM t.source
), funnel AS (
  SELECT CAST(sum(n_raw_class) AS BIGINT) AS raw,
         CAST(sum(n_class) AS BIGINT) AS dedup_exact,
         CAST(coalesce(sum(CASE WHEN n_class >= {_RG_K} THEN n_class END), 0) AS BIGINT) AS k_anonymous,
         CAST(coalesce(sum(CASE WHEN n_class >= {_RG_K} AND l_class >= {_RG_L}
                                THEN n_class END), 0) AS BIGINT) AS l_diverse,
         CAST(coalesce(sum(CASE WHEN n_class >= {_RG_K} AND l_class >= {_RG_L}
                                AND keep_t = 1
                                THEN n_class END), 0) AS BIGINT) AS t_close,
         CAST(coalesce(sum(CASE WHEN n_class >= {_RG_K} AND l_class >= {_RG_L}
                                AND keep_t = 1
                                THEN n_clean_class END), 0) AS BIGINT) AS decontaminated
  FROM gated
)
SELECT 'raw' AS stage, raw AS n_docs FROM funnel
UNION ALL SELECT 'dedup_exact', dedup_exact FROM funnel
UNION ALL SELECT 'k_anonymous', k_anonymous FROM funnel
UNION ALL SELECT 'l_diverse', l_diverse FROM funnel
UNION ALL SELECT 't_close', t_close FROM funnel
UNION ALL SELECT 'decontaminated', decontaminated FROM funnel
ORDER BY stage
"""

QUERIES.append(
    Query(
        "release_gate_snapshot",
        release_gate_snapshot,
        RELEASE_GATE_ORACLE,
        "ext: dedup -> k-anon -> l-div -> t-close -> leak-gate release funnel",
    )
)


# --- seasonal (hour-of-week) anomaly detection (extension) ------------
#
# traffic_anomalies flags hours against a type's GLOBAL mean, so every
# rush hour looks anomalous; this variant scores each (type, day,
# hour) cell against the SAME weekday+hour cells of the OTHER weeks
# (leave-one-out), which is the baseline that survives seasonality.
# Determinism: the moment sums S=Σx, Q=Σx² are exact integer window
# sums over integer counts (order-free), leave-one-out subtracts the
# cell's own exact contribution, and the z expression is ONE fixed
# formula over those integers — identical IEEE evaluation in DuckDB —
# before the terminal round(6). Weekday from pure integer epoch math
# ((epoch_day + 4) % 7; 1970-01-01 was a Thursday) so no date-function
# dialect drift enters.
#
# Scale shape (100 TB): the only corpus-sized shuffle is the
# map-side-combined (type, day, hour) count; the seasonal window runs
# on that ≤ |types|·days·24 frame. z needs >= 3 other weeks (ko >= 2
# for a sample std); younger cells emit NULL z / flag 0. Operating
# ceiling: the exact moment math squares cell counts in BIGINT, so a
# single (type, day, hour) cell above ~1.5e9 events overflows s_o² —
# at that density, pre-aggregate on a finer time grain (or scale
# counts down by a constant) before scoring.

SEASONAL_Z = 3.0


def seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.expr("unix_seconds(ts) div 86400").alias("day"),
            F.expr("(unix_seconds(ts) div 3600) % 24").alias("hour"),
        )
        .groupBy("event_type", "day", "hour")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("dow", F.expr("(day + 4) % 7"))
    )
    w = Window.partitionBy("event_type", "dow", "hour")
    stats = cells.select(
        "event_type",
        "day",
        "hour",
        "cnt",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("s_o"),
        (F.sum(F.col("cnt") * F.col("cnt")).over(w) - F.col("cnt") * F.col("cnt")).alias("q_o"),
        (F.count(F.lit(1)).over(w) - 1).alias("k_o"),
    )
    z = F.expr(
        "CASE WHEN k_o >= 2 AND (q_o * k_o - s_o * s_o) > 0 THEN "
        "round((CAST(cnt AS DOUBLE) * k_o - s_o)"
        " / (k_o * sqrt(CAST(q_o * k_o - s_o * s_o AS DOUBLE)"
        "               / (k_o * (k_o - 1)))), 6) END"
    )
    return stats.select(
        "event_type",
        "day",
        "hour",
        "cnt",
        F.col("k_o").cast("long").alias("baseline_n"),
        z.alias("z"),
        # zero-variance baseline with a deviating cell is the MOST
        # anomalous case (infinite z, which the formula leaves NULL):
        # flag it explicitly; an agreeing cell over a constant
        # baseline is the least anomalous and stays 0
        F.expr(
            f"CASE WHEN k_o >= 2 AND (q_o * k_o - s_o * s_o) <= 0"
            f" THEN CAST(cnt * k_o != s_o AS INT) END"
        ).alias("_flat_dev"),
    ).select(
        "event_type",
        "day",
        "hour",
        "cnt",
        "baseline_n",
        "z",
        F.when(F.col("z").isNotNull(), (F.abs("z") > SEASONAL_Z).cast("int"))
        .otherwise(F.coalesce(F.col("_flat_dev"), F.lit(0)))
        .alias("is_anomaly"),
    )


SEASONAL_ANOMALIES_ORACLE = f"""
WITH cells AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS hour,
         count(*) AS cnt
  FROM events GROUP BY 1, 2, 3
), stats AS (
  SELECT event_type, day, hour, cnt,
         sum(cnt) OVER w - cnt AS s_o,
         sum(cnt * cnt) OVER w - cnt * cnt AS q_o,
         count(*) OVER w - 1 AS k_o
  FROM (SELECT *, (day + 4) % 7 AS dow FROM cells)
  WINDOW w AS (PARTITION BY event_type, dow, hour)
), scored AS (
  SELECT event_type, day, hour, cnt, k_o, s_o, q_o,
         CAST(k_o AS BIGINT) AS baseline_n,
         CASE WHEN k_o >= 2 AND (q_o * k_o - s_o * s_o) > 0 THEN
           round((CAST(cnt AS DOUBLE) * k_o - s_o)
                 / (k_o * sqrt(CAST(q_o * k_o - s_o * s_o AS DOUBLE)
                               / (k_o * (k_o - 1)))), 6) END AS z
  FROM stats
)
SELECT event_type, day, hour, cnt, baseline_n, z,
       CASE WHEN z IS NOT NULL THEN CAST(abs(z) > {SEASONAL_Z} AS INT)
            WHEN k_o >= 2 AND (q_o * k_o - s_o * s_o) <= 0
                 THEN CAST(cnt * k_o != s_o AS INT)
            ELSE 0 END AS is_anomaly
FROM scored
"""

QUERIES.append(
    Query(
        "seasonal_anomalies",
        seasonal_anomalies,
        SEASONAL_ANOMALIES_ORACLE,
        "ext: leave-one-out hour-of-week seasonal anomaly z-scores",
    )
)
