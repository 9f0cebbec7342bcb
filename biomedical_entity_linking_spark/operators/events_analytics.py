"""Event-stream analytics: sessionization, ordered-funnel conversion,
retention cohorts — the batch query family every clickstream warehouse
runs, expressed as pure Catalyst windows/aggregates over the ``events``
table.

These extend the engine's W-family (``event_gaps``: lag-window
inter-arrival) into the three canonical composites:

* ``event_sessions`` — gap-threshold sessionization: a session breaks
  where the inter-event gap exceeds 30 minutes; session ids are the
  running sum of break flags over the per-user time order (no state,
  one window);
* ``funnel_conversion`` — STRICT-ORDER funnel (view → click →
  purchase): a click counts only after the user's first view, a
  purchase only after that first qualifying click. Stage timestamps
  are nested conditional mins over per-user windows — no self-joins,
  no explode;
* ``retention_cohorts`` — cohort week × activity-week-offset user
  counts. Weeks are ``epoch_us div (7·86400·10^6)`` — integer epoch
  arithmetic, NOT calendar functions, so both engines bucket
  identically with no timezone/DST divergence.

Cross-engine exactness: every comparison and bucket is integer
microseconds (``unix_micros``, the ``event_gaps`` discipline); the one
double (``total_value``) is rounded to 6dp on both sides, the same
normalization the driver compare applies. Scale shape: each query is
ONE hash shuffle on user_id feeding windows + a map-side-combinable
aggregate; the cohort matrix output is bounded by weeks², not rows.

Reference analog: none in the reference (batch biomedical corpus);
this family exists because a web-events engine without
sessions/funnels/cohorts is not a replacement for one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SESSION_GAP_US = 30 * 60 * 1_000_000
WEEK_US = 7 * 86_400 * 1_000_000


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.withColumn(
        "us", F.unix_micros(F.col("ts").cast("timestamp"))
    )


def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → one row per (user_id, session): gap-threshold sessions.

    Columns: user_id, session_idx, n_events, start_us, end_us, dur_us,
    total_value (6dp).
    """
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    flagged = ev.withColumn(
        "brk",
        F.when(gap.isNull() | (gap > SESSION_GAP_US), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = flagged.withColumn("session_idx", F.sum("brk").over(run))
    return (
        sessions.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.min("us").alias("start_us"),
            F.max("us").alias("end_us"),
            (F.max("us") - F.min("us")).alias("dur_us"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
        .orderBy("user_id", "session_idx")
    )


EVENT_SESSIONS_SQL = f"""
WITH ev AS (
  SELECT *, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
),
flagged AS (
  SELECT user_id, event_id, us, value,
         CASE WHEN us - lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
sess AS (
  SELECT user_id, us, value,
         sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       min(us) AS start_us, max(us) AS end_us,
       max(us) - min(us) AS dur_us,
       round(sum(value), 6) AS total_value
FROM sess GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → one summary row of strict-order funnel counts + ppm.

    view → click (after first view) → purchase (after that click).
    """
    ev = _ev(spark, sf_dir)
    u = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "v_us",
            F.min(
                F.when(F.col("event_type") == "view", F.col("us"))
            ).over(u),
        )
        .withColumn(
            "c_us",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("us") > F.col("v_us")),
                    F.col("us"),
                )
            ).over(u),
        )
        .withColumn(
            "p_us",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("us") > F.col("c_us")),
                    F.col("us"),
                )
            ).over(u),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("v_us").alias("v"),
        F.max("c_us").alias("c"),
        F.max("p_us").alias("p"),
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("v").alias("n_viewed"),
        F.count("c").alias("n_clicked_after_view"),
        F.count("p").alias("n_purchased_after_click"),
        F.expr("count(c) * 1000000 div count(v)").alias(
            "view_to_click_ppm"
        ),
        F.expr("count(p) * 1000000 div count(c)").alias(
            "click_to_purchase_ppm"
        ),
    )


FUNNEL_CONVERSION_SQL = """
WITH ev AS (
  SELECT *, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
),
staged AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN us END)
           OVER (PARTITION BY user_id) AS v_us,
         us, event_type
  FROM ev
),
staged2 AS (
  SELECT user_id, v_us,
         min(CASE WHEN event_type = 'click' AND us > v_us THEN us END)
           OVER (PARTITION BY user_id) AS c_us,
         us, event_type
  FROM staged
),
staged3 AS (
  SELECT user_id, v_us, c_us,
         min(CASE WHEN event_type = 'purchase' AND us > c_us THEN us END)
           OVER (PARTITION BY user_id) AS p_us
  FROM staged2
),
per_user AS (
  SELECT user_id, max(v_us) AS v, max(c_us) AS c, max(p_us) AS p
  FROM staged3 GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(count(v) AS BIGINT) AS n_viewed,
       CAST(count(c) AS BIGINT) AS n_clicked_after_view,
       CAST(count(p) AS BIGINT) AS n_purchased_after_click,
       count(c) * 1000000 // count(v) AS view_to_click_ppm,
       count(p) * 1000000 // count(c) AS click_to_purchase_ppm
FROM per_user
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → (cohort_week, week_offset, n_users): classic retention
    triangle. cohort_week = integer epoch week of the user's first
    event; week_offset = activity week − cohort week."""
    ev = _ev(spark, sf_dir)
    u = Window.partitionBy("user_id")
    coh = ev.withColumn(
        "cohort_week", F.expr(f"min(us div {WEEK_US})").over(u)
    ).withColumn("week_offset", F.expr(f"us div {WEEK_US}") - F.col("cohort_week"))
    return (
        coh.select("user_id", "cohort_week", "week_offset")
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


RETENTION_COHORTS_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
),
coh AS (
  SELECT DISTINCT user_id,
         min(us // {WEEK_US}) OVER (PARTITION BY user_id) AS cohort_week,
         us // {WEEK_US}
           - min(us // {WEEK_US}) OVER (PARTITION BY user_id) AS week_offset
  FROM ev
)
SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_users
FROM coh GROUP BY cohort_week, week_offset
ORDER BY cohort_week, week_offset
"""
