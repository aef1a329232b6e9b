"""Event-log analytics: semi-structured extraction, funnels, retention cohorts, session load and trend forecasting over the events table.

Split out of plans/queries.py (round 4) to keep per-file size reviewable;
registration still flows through the shared ``@query`` decorator, and
``__spark_entry__.GRADED_50`` owns the driver grading window, so module
boundaries are layout only — zero behavior change (pinned by
tests/test_graded_window.py and the full oracle-parity suite).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.plans.queries import SESSION_GAP_SEC, query, r6
from bigdata_invoice_stream_analysis_spark.sources.tables import load_table

# Q: event-log analytics (semi-structured extraction, funnel, cohort
# retention, interval load) — the product-analytics surface over the
# events stream table.
# ---------------------------------------------------------------------------

@query(
    "event_props_stats",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS n_with_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
         AS sum_k,
       ROUND(CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
             / COUNT(CAST(json_extract_string(props, '$.k') AS INT)), 6)
         AS avg_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
FROM events GROUP BY 1
""",
)
def q_event_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON property extraction + profiling: pull a
    typed field out of the free-form `props` JSON column and aggregate
    it per event type. get_json_object evaluates JVM-side inside
    whole-stage codegen (no Python), and because extraction happens in
    the map stage, the shuffle carries 5 partial-agg rows per
    partition — never the JSON strings. At 100 TB the win is exactly
    that: parse once, aggregate integers. The average divides the two
    exact integer sums after aggregation (ulp-stable)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(k).alias("n_with_k"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        .select(
            "event_type",
            "n_events",
            "n_with_k",
            "sum_k",
            r6(F.col("sum_k").cast("double") / F.col("n_with_k")).alias("avg_k"),
            "min_k",
            "max_k",
        )
    )


@query(
    "signup_funnel",
    oracle="""
WITH s AS (
  SELECT user_id, MIN(ts) AS t_signup
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND e.ts > s.t_signup GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1
)
SELECT 1 AS stage_no, 'signup' AS stage, CAST((SELECT COUNT(*) FROM s) AS BIGINT) AS n_users
UNION ALL
SELECT 2, 'click_after_signup', CAST((SELECT COUNT(*) FROM c) AS BIGINT)
UNION ALL
SELECT 3, 'purchase_after_click', CAST((SELECT COUNT(*) FROM p) AS BIGINT)
""",
)
def q_signup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → first later click → first
    later purchase). Each stage's anchor time depends on the previous
    stage, so the computation is three window passes over the SAME
    user_id partitioning — Catalyst plans one exchange and chains the
    window operators without re-shuffling. The final counts collapse
    via a single per-user distinct then one global conditional
    aggregate (3 output rows); no self-joins of the event table, which
    is what the naive oracle formulation does and what you cannot
    afford at 100 TB."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    t_signup = F.min(
        F.when(F.col("event_type") == "signup", F.col("ts"))
    ).over(w)
    step1 = ev.select("user_id", "ts", "event_type", t_signup.alias("t_signup"))
    t_click = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t_signup")),
            F.col("ts"),
        )
    ).over(w)
    step2 = step1.select("*", t_click.alias("t_click"))
    t_purchase = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")),
            F.col("ts"),
        )
    ).over(w)
    step3 = step2.select("*", t_purchase.alias("t_purchase"))
    per_user = step3.groupBy("user_id").agg(
        F.max("t_signup").alias("t_signup"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    counts = per_user.agg(
        F.count("t_signup").alias("n1"),
        F.count("t_click").alias("n2"),
        F.count("t_purchase").alias("n3"),
    )
    return counts.select(
        F.expr(
            "stack(3, 1, 'signup', n1, 2, 'click_after_signup', n2, "
            "3, 'purchase_after_click', n3) AS (stage_no, stage, n_users)"
        )
    )


@query(
    "weekly_retention",
    oracle="""
WITH fe AS (
  SELECT user_id,
         CAST(FLOOR(date_diff('day', DATE '1970-01-05',
                              MIN(CAST(ts AS DATE))) / 7.0) AS BIGINT)
           AS cohort_week
  FROM events GROUP BY 1
),
act AS (
  SELECT DISTINCT e.user_id, fe.cohort_week,
         CAST(FLOOR(date_diff('day', DATE '1970-01-05',
                              CAST(e.ts AS DATE)) / 7.0) AS BIGINT)
           AS event_week
  FROM events e JOIN fe ON e.user_id = fe.user_id
)
SELECT cohort_week,
       CAST(event_week - cohort_week AS BIGINT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_active_users
FROM act GROUP BY 1, 2
""",
)
def q_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week,
    counted as active per subsequent week offset. The cohort
    assignment is a window min over user_id — the activity dedup
    (user, week) REUSES that same partitioning, so the whole query is
    one shuffle on user_id plus the final small matrix agg. Week
    indexing is integer day-arithmetic against a fixed Monday epoch
    (no date_trunc semantics drift between engines)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    anchor = F.lit("1970-01-05").cast("date")
    week = F.floor(F.datediff(F.col("ts").cast("date"), anchor) / 7)
    w = Window.partitionBy("user_id")
    act = (
        ev.select("user_id", week.alias("event_week"))
        .select(
            "user_id",
            "event_week",
            F.min("event_week").over(w).alias("cohort_week"),
        )
        .distinct()
    )
    return act.groupBy("cohort_week", (F.col("event_week") - F.col("cohort_week")).alias("week_offset")).agg(
        F.count(F.lit(1)).alias("n_active_users")
    )


@query(
    "session_hourly_load",
    oracle=f"""
WITH brk AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('second', lag(ts) OVER w, ts) > {SESSION_GAP_SEC}
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_no,
         ts
  FROM brk
),
spans AS (
  SELECT user_id, session_no, MIN(ts) AS st, MAX(ts) AS en
  FROM sess GROUP BY 1, 2
),
hours AS (
  SELECT user_id,
         unnest(generate_series(date_trunc('hour', st),
                                date_trunc('hour', en),
                                INTERVAL 1 HOUR)) AS hour_ts
  FROM spans
)
SELECT strftime(hour_ts, '%Y-%m-%d %H:00') AS hour_label,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM hours GROUP BY 1
""",
)
def q_session_hourly_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval → hourly load: how many sessions (and distinct users)
    were active in each clock hour. The interval/point range-join is
    re-expressed as an EXPLODE of each session into its covered hours
    (F.sequence + explode) followed by a plain hash aggregate — the
    scalable idiom when interval lengths are bounded (gap-bounded
    sessions), because it replaces an unbounded range join with
    linear fan-out on the equi-key. Sessionization itself reuses the
    user_sessions single-shuffle window plan."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("long")
    gap = secs - F.lag(secs).over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_SEC), 1).otherwise(0)
    sess = ev.select(
        "user_id",
        "ts",
        F.sum(is_new)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_no"),
    )
    spans = sess.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("st"), F.max("ts").alias("en")
    )
    hours = spans.select(
        "user_id",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("st")),
                F.date_trunc("hour", F.col("en")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour_ts"),
    )
    return hours.groupBy(
        F.date_format("hour_ts", "yyyy-MM-dd HH:00").alias("hour_label")
    ).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count_distinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
@query(
    "forecast_revenue_change",
    oracle="""
SELECT ROUND(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                 * CAST(ROUND(l_discount * 100) AS BIGINT)) / 10000.0, 6)
         AS potential_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE EXTRACT(year FROM l_shipdate) = 1997
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue impact of dropping a discount band —
    the purest predicate-pushdown query (no join, no group key, three
    range predicates that all reach the parquet scan for row-group
    min/max skipping, then ONE global integer sum). At 100 TB this is
    the query that proves the scan layer: with shipdate-partitioned
    or sorted data the year predicate prunes ~6/7 of all files before
    a byte is read. Discount equality on the e-2 grid is exact
    (integer cents of discount)."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.where(
            (F.year("l_shipdate") == 1997)
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            r6(F.sum(cents * disc_c) / 10000.0).alias("potential_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
