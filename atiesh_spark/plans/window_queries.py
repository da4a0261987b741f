"""Event-time windowing queries (additive over the reference, §2.7).

The reference has no event time at all (its only timers are processing
time). These are the event-time capabilities a Spark-native engine adds:
sliding windows and session windows, batch-checkable against SQL
(sessionization = the classic gaps-and-islands rewrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from atiesh_spark.plans.registry import register
from atiesh_spark.sources.tables import load_table


@register(
    "q36_window_sliding",
    oracle="""
    WITH placed AS (
        SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start, event_type FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' AS w_start,
               event_type FROM events
    )
    SELECT w_start, event_type, count(*) AS cnt
    FROM placed GROUP BY w_start, event_type
    """,
    doc="Sliding window (10 min width, 5 min slide): every event lands in "
    "two windows; the oracle places each event into both window starts "
    "explicitly.",
)
def q36_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("w_start"), "event_type", "cnt")
    )


@register(
    "q50_session_funnel",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts, event_type, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL '30 minutes'
                    THEN 0 ELSE 1 END AS new_session
        FROM events
    ),
    islands AS (
        SELECT user_id, ts, event_type, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    ),
    sessions AS (
        SELECT user_id, session_id,
               min(ts) AS session_start,
               count(*) AS n_events,
               count(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
               round(sum(value), 2) AS session_value
        FROM islands GROUP BY user_id, session_id
    ),
    ranked AS (
        SELECT user_id, n_events, n_purchases, session_value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY session_value DESC, n_events DESC,
                                           session_start) AS rn
        FROM sessions
    )
    SELECT n.n_name, count(*) AS n_users,
           round(sum(r.session_value), 2) AS top_session_value,
           CAST(sum(r.n_purchases) AS BIGINT) AS purchases
    FROM ranked r JOIN nation n ON r.user_id % 25 = n.n_nationkey
    WHERE r.rn = 1
    GROUP BY n.n_name
    """,
    doc="Composite flagship: sessionize (session_window) -> per-session "
    "funnel aggregates -> top session per user (window rank) -> broadcast "
    "dim enrichment -> final rollup. Exercises stateful windowing, "
    "ranking, broadcast join, and two hash aggs in ONE plan; shuffles "
    "only on user_id and the 25-row group key.",
)
def q50_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    nation = load_table(spark, sf_dir, "nation")
    sessions = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .withColumn("session_start", F.col("w.start"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("session_value").desc(), F.col("n_events").desc(), F.col("session_start")
    )
    top = sessions.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        top.join(F.broadcast(nation), top.user_id % 25 == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.sum("session_value"), 2).alias("top_session_value"),
            F.sum("n_purchases").alias("purchases"),
        )
    )


@register(
    "q37_session_window",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL '30 minutes'
                    THEN 0 ELSE 1 END AS new_session
        FROM events
    ),
    islands AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM islands GROUP BY user_id, session_id
    """,
    doc="Session windows (30 min inactivity gap) per user — "
    "F.session_window in Spark; the oracle is the gaps-and-islands "
    "rewrite. One shuffle on user_id.",
)
def q37_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


@register(
    "q72_retention_cohorts",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id,
               (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS week
        FROM events
    ),
    c AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id)
    SELECT c.cohort_week, uw.week - c.cohort_week AS weeks_since,
           count(DISTINCT uw.user_id) AS n_users
    FROM uw JOIN c USING (user_id)
    GROUP BY c.cohort_week, uw.week - c.cohort_week
    """,
    doc="Cohort retention matrix over events: users bucketed by first-"
    "active week (epoch-day // 7 — timezone-free field arithmetic, q61's "
    "convention), counted in each subsequent week they return. The "
    "classic product-analytics rollup. Plan: one distinct shuffle on "
    "(user, week); the min-week aggregate and the join both reuse the "
    "user_id partitioning, then one final aggregate.",
)
def q72_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) / 7
    )
    uw = events.select("user_id", week.alias("week")).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "q76_rolling_value",
    oracle="""
    SELECT event_id, user_id, value,
           round(avg(value) OVER w, 4) AS rolling_avg,
           round(sum(value) OVER w, 4) AS rolling_sum,
           count(*) OVER w AS rolling_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW)
    """,
    doc="Trailing 10-minute rolling stats per user (operators/timeseries.py "
    "rolling_aggregate): value-based RANGE frames on epoch micros — ties "
    "share a frame, so results are deterministic under unstable sort "
    "order. One shuffle; avg/sum/count share a single Window operator. "
    "The moving-average layer of a metrics pipeline.",
)
def q76_rolling_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.timeseries import rolling_aggregate

    events = load_table(spark, sf_dir, "events")
    return rolling_aggregate(
        events.select("event_id", "user_id", "ts", "value"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        window_seconds=600,
    ).select("event_id", "user_id", "value", "rolling_avg", "rolling_sum", "rolling_n")


@register(
    "q77_winsorize",
    oracle="""
    WITH b AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events GROUP BY event_type
    )
    SELECT event_id, event_type, value,
           round(least(hi, greatest(lo, value)), 4) AS clipped
    FROM events JOIN b USING (event_type)
    """,
    doc="Percentile winsorization per event_type (operators/profile.py "
    "winsorize, p05/p95): exact interpolated percentiles from one "
    "groupBy, bounds broadcast back onto the rows (stratum-sized dim, "
    "no second data shuffle), codegen least/greatest clip. The "
    "outlier-taming step before loss-sensitive aggregate reporting.",
)
def q77_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from atiesh_spark.operators.profile import winsorize

    events = load_table(spark, sf_dir, "events")
    return winsorize(
        events.select("event_id", "event_type", "value"),
        value_col="value",
        group_col="event_type",
        p_low=0.05,
        p_high=0.95,
    ).select("event_id", "event_type", "value", "clipped")
