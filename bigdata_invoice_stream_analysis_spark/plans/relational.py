"""Window-function, as-of, set-operation, pivot/cube and skew-lever relational queries (SURVEY.md §2.7/§2.9/§2.12).

Split out of plans/queries.py (round 4) to keep per-file size reviewable;
registration still flows through the shared ``@query`` decorator, and
``__spark_entry__.GRADED_50`` owns the driver grading window, so module
boundaries are layout only — zero behavior change (pinned by
tests/test_graded_window.py and the full oracle-parity suite).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.plans.queries import query, r6
from bigdata_invoice_stream_analysis_spark.sources.tables import load_table

# Q: window-function + as-of surface (§2.9 was empty in the reference;
# these complete the SQL-window shapes: rank-per-group, time-RANGE
# frame, and the point-in-time as-of join a feature pipeline needs).
# ---------------------------------------------------------------------------

@query(
    "top_parts_per_nation",
    oracle="""
WITH rev AS (
  SELECT n.n_name AS nation_name, l.l_partkey AS part_key,
         SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS rev_e4,
         COUNT(*) AS n_lines
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
rk AS (
  SELECT nation_name, part_key, rev_e4, n_lines,
         row_number() OVER (PARTITION BY nation_name
                            ORDER BY rev_e4 DESC, part_key) AS part_rank
  FROM rev
)
SELECT nation_name, CAST(part_key AS BIGINT) AS part_key,
       ROUND(rev_e4 / 10000.0, 6) AS revenue,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(part_rank AS BIGINT) AS part_rank
FROM rk WHERE part_rank <= 3
""",
)
def q_top_parts_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by discounted revenue per supplier nation — the
    rank-per-group window shape (row_number over a partitioned sort).
    Physical plan: fact-side agg shuffle on (nation, part) with both
    dims broadcast, then a second shuffle on nation for the window;
    the rank filter cuts each partition to 3 rows before any further
    movement. Ties broken by part_key so the result is deterministic.
    Money math in exact integer 1e-4 dollars (see q_pricing_summary)."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.col("l_partkey").alias("part_key"),
        )
        .agg(
            F.sum(cents * (100 - disc)).alias("rev_e4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    w = Window.partitionBy("nation_name").orderBy(
        F.desc("rev_e4"), F.asc("part_key")
    )
    return (
        rev.withColumn("part_rank", F.row_number().over(w))
        .filter(F.col("part_rank") <= 3)
        .select(
            "nation_name",
            "part_key",
            r6(F.col("rev_e4") / 10000.0).alias("revenue"),
            "n_lines",
            F.col("part_rank").cast("long").alias("part_rank"),
        )
    )


@query(
    "rolling_user_value",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
         CAST(ROUND(value * 100) AS BIGINT) AS vc
  FROM events
)
SELECT event_id, user_id, ts_us,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       ROUND(CAST(SUM(vc) OVER w AS BIGINT) / 100.0, 6) AS value_sum_1h,
       ROUND(CAST(SUM(vc) OVER w AS BIGINT)
             / (100.0 * COUNT(*) OVER w), 6) AS value_avg_1h
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
)
def q_rolling_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-1-hour count/sum/mean of the user's event
    values — the time-RANGE window frame (feature engineering's
    'activity in the last hour'). One shuffle on user_id; the frame is
    evaluated by a running two-pointer pass per partition, never
    materializing per-row frames. Values aggregate in integer cents
    over exact microsecond epochs (ts DIV 1000 truncation matches
    DuckDB's ns→us read), so both engines see identical frames and
    identical sums."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    n = F.count(F.lit(1)).over(w)
    s = F.sum("vc").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        n.alias("n_1h"),
        r6(s / 100.0).alias("value_sum_1h"),
        r6(s / (100.0 * n)).alias("value_avg_1h"),
    )


@query(
    "time_since_error",
    oracle="""
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events
),
err AS (
  SELECT event_id AS last_error_id, user_id, ts_us AS r_us
  FROM e WHERE event_type = 'error'
),
cand AS (
  SELECT e.event_id, e.user_id, e.ts_us, err.last_error_id, err.r_us,
         row_number() OVER (PARTITION BY e.event_id
                            ORDER BY err.r_us DESC, err.last_error_id DESC) AS rn
  FROM e JOIN err ON err.user_id = e.user_id AND err.r_us < e.ts_us
)
SELECT event_id, user_id, ts_us, last_error_id,
       ROUND((ts_us - r_us) / 1000000.0, 6) AS sec_since_error
FROM cand WHERE rn = 1
""",
)
def q_time_since_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's most recent strictly
    earlier error event ('time since last failure'). The oracle is the
    quadratic per-key inequality join + rank; the Spark plan is
    operators/joins.asof_join — union + running last(ignorenulls) over
    one key shuffle, linear in events-per-user. Events with no prior
    error are dropped (inner as-of)."""
    from bigdata_invoice_stream_analysis_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_type",
    )
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id"),
        F.col("ts_us"),
        F.col("event_id").alias("last_error_id"),
        F.col("ts_us").alias("r_us"),
    )
    joined = asof_join(
        ev.drop("event_type"),
        err,
        on="user_id",
        left_ts="ts_us",
        right_ts="ts_us",
        right_cols=["last_error_id", "r_us"],
        strict=True,
        tiebreak="last_error_id",
    )
    return joined.filter(F.col("last_error_id").isNotNull()).select(
        "event_id",
        "user_id",
        "ts_us",
        "last_error_id",
        r6((F.col("ts_us") - F.col("r_us")) / 1_000_000.0).alias("sec_since_error"),
    )


# ---------------------------------------------------------------------------
# Q: remaining relational shapes — semi join (EXISTS), INTERSECT,
# CUBE, and scalar-subquery comparison. §2.7/2.8 were empty in the
# reference; with these, every classic SQL shape is first-class and
# oracle-gated.
# ---------------------------------------------------------------------------

@query(
    "segment_active_customers",
    oracle="""
SELECT c.c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
GROUP BY 1
""",
)
def q_segment_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / left-semi join: customers with at least one big order,
    counted per market segment. The semi join carries only the key and
    stops probing a customer at its first match — no fact-side payload
    ever shuffles, and the output can't exceed the customer table.
    Complements segment_order_gap (the anti twin)."""
    c = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 200000
    ).select("o_custkey")
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "repeat_customers",
    oracle="""
SELECT o_custkey AS cust_key FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
""",
)
def q_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT-distinct: customers holding both a finished ('F') and
    an open ('O') order. Catalyst plans set-intersect as a distinct +
    left-semi join on the key — one shuffle each side, no payload.
    Completes the set-op surface next to unordered_parts (EXCEPT) and
    the corpus-augmentation UNIONs."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("cust_key")
    )
    op = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("cust_key")
    )
    return f.intersect(op)


@query(
    "order_status_cube",
    oracle="""
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0, 6)
         AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def q_order_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping-set combinations
    in a single Expand + one aggregation pass — the same plan shape as
    order_priority_rollup but with the full lattice (×4 row expansion
    pre-shuffle, partial aggregation keeps the exchange small). Neither
    column is ever null in the data, so COALESCE('ALL') marks the
    subtotal rows identically in both engines. Money sums in exact
    integer cents, divided after (FP-determinism convention)."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.select("o_orderstatus", "o_orderpriority", cents.alias("cents"))
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("cents").alias("sc"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            r6(F.col("sc") / 100.0).alias("total_price"),
        )
    )


@query(
    "orders_above_avg",
    oracle="""
WITH t AS (
  SELECT SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s,
         COUNT(*) AS n
  FROM orders
)
SELECT o.o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o, t
WHERE CAST(ROUND(o.o_totalprice * 100) AS BIGINT) * t.n > t.s
GROUP BY 1
""",
)
def q_orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery comparison: orders priced above the global mean,
    counted per priority. The 1-row global aggregate broadcasts and the
    predicate is cross-multiplied (cents*n > sum) so the comparison is
    exact integer arithmetic — no float mean, no engine divergence on
    the boundary. Two passes over orders (one agg, one filter+agg),
    both with only the needed columns scanned."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    t = o.agg(
        F.sum(cents).alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        o.select(F.col("o_orderpriority"), cents.alias("cents"))
        .join(F.broadcast(t))
        .filter(F.col("cents") * F.col("n") > F.col("s"))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# Q: distinct-aggregates, pivot, histogram, SQL front-end — §2.12
# listed distinct-aggregates among the reference's explicit absences;
# these make them (and the remaining reshaping shapes) first-class.
# ---------------------------------------------------------------------------

@query(
    "priority_distinct_reach",
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS n_days,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY 1
""",
)
def q_priority_distinct_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one pass: per priority, distinct
    customers AND distinct order days next to a plain count. Catalyst
    plans multi-distinct as a single Expand (one row replica per
    distinct clause) + two-level aggregation — one logical pass over
    orders, not one job per distinct. At extreme cardinality each
    distinct clause becomes a dedicated HLL/sketch; this is the exact
    form."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count_distinct(F.col("o_custkey")).alias("n_customers"),
        F.count_distinct(F.col("o_orderdate").cast("date")).alias("n_days"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "status_priority_pivot",
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
FROM orders GROUP BY 1
""",
)
def q_status_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts reshaped to one column per status. The pivot
    values are declared explicitly ('F','O','P'), which keeps this a
    single aggregation pass — omitting them would cost an extra
    distinct-scan job to discover the columns, and a skew/typo in the
    data would silently change the output schema (schema stability
    matters more than convenience at scale)."""
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return p.select(
        "priority",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    )


@query(
    "order_value_histogram",
    oracle="""
SELECT CAST(FLOOR(o_totalprice / 50000) * 50000 AS BIGINT) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0, 6)
         AS bucket_value
FROM orders GROUP BY 1
""",
)
def q_order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram (50k-wide buckets) — the
    distribution-profiling pass a data-quality pipeline runs per
    numeric column. Bucketing is a map-side floor-division, so the
    shuffle carries one row per bucket per partition (partial agg),
    regardless of input size. Complements price_percentiles (exact
    quantiles) with the full-shape view."""
    o = load_table(spark, sf_dir, "orders")
    bucket = (F.floor(F.col("o_totalprice") / 50000) * 50000).cast("long")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.groupBy(bucket.alias("bucket_lo"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("sc"),
        )
        .select("bucket_lo", "n_orders", r6(F.col("sc") / 100.0).alias("bucket_value"))
    )


@query(
    "region_revenue_sql",
    oracle="""
SELECT r.r_name AS region_name,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
             / 10000.0, 6) AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1
""",
)
def q_region_revenue_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL FRONT-END path: this query is authored as a Spark SQL
    string over registered views (sources.tables.register_views), not
    the DataFrame API — proving a reference user can bring plain SQL
    and get the identical Catalyst plan (both front-ends converge on
    the same logical plan; the dims broadcast all the same). Same
    integer-cents revenue convention as the DataFrame queries."""
    from bigdata_invoice_stream_analysis_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql("""
        SELECT r.r_name AS region_name,
               COUNT(*) AS n_lines,
               -- CAST to DOUBLE: a bare 10000.0 literal is DECIMAL in
               -- Spark SQL and would make revenue a Decimal column.
               ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                         * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
                     / CAST(10000 AS DOUBLE), 6) AS revenue
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """)


@query(
    "user_value_trend",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CAST(ROUND(value * 100) AS BIGINT) AS yc
  FROM events
),
shifted AS (
  SELECT user_id,
         (ts_us - MIN(ts_us) OVER (PARTITION BY user_id)) // 60000000 AS xm,
         yc
  FROM e
),
s AS (
  SELECT user_id, COUNT(*) AS n, SUM(xm) AS sx, SUM(yc) AS sy,
         SUM(xm * yc) AS sxy, SUM(xm * xm) AS sx2
  FROM shifted GROUP BY 1
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (n * sx2 - sx * sx), 6) AS slope_cents_per_min
FROM s WHERE n * sx2 - sx * sx != 0
""",
)
def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend (least-squares slope) of event value over
    time — the 'is this metric drifting' aggregate. The regression
    decomposes into FOUR plain integer sums (n, Σx, Σy, Σxy, Σx²), so
    one hash aggregation computes an exact closed-form slope: no UDF,
    no per-group pandas fit, no float summation-order divergence.
    x is shifted per user (minutes since the user's first event, via a
    window MIN) — slope is shift-invariant and the shift keeps every
    sum well inside int64 at any realistic group size. The window and
    the aggregation share one user_id shuffle (Catalyst reuses the
    partitioning). Degenerate single-instant users are dropped
    (denominator 0)."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("yc"),
    )
    w = Window.partitionBy("user_id")
    shifted = e.select(
        "user_id",
        F.expr("(ts_us - MIN(ts_us) OVER (PARTITION BY user_id)) DIV 60000000").alias("xm"),
        "yc",
    )
    s = shifted.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xm").alias("sx"),
        F.sum("yc").alias("sy"),
        F.sum(F.col("xm") * F.col("yc")).alias("sxy"),
        F.sum(F.col("xm") * F.col("xm")).alias("sx2"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    return s.filter(den != 0).select(
        "user_id",
        F.col("n").alias("n_events"),
        r6(num.cast("double") / den).alias("slope_cents_per_min"),
    )


@query(
    "customer_balance_quartiles",
    oracle="""
WITH q AS (
  SELECT c_mktsegment, c_acctbal,
         ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
  FROM customer
)
SELECT CAST(quartile AS BIGINT) AS quartile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
       ROUND(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) / 100.0, 6)
         AS total_balance
FROM q GROUP BY 1
""",
)
def q_customer_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile bucketing: customers split into account-balance quartiles,
    then profiled per bucket. The global ORDER BY under ntile is the
    one genuinely serial shape in SQL (a single total order); the sort
    key is (acctbal, custkey) so ties can't make bucket membership
    engine-dependent. At 100 TB the exact-ntile plan range-partitions
    the sort; the cheap alternative is approx-percentile boundaries +
    a map-side bucket join, which avoids the total order entirely."""
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.orderBy(F.asc("c_acctbal"), F.asc("c_custkey"))
    q = c.select(
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        F.ntile(4).over(w).alias("quartile"),
    )
    return q.groupBy(F.col("quartile").cast("long").alias("quartile")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.count_distinct("c_mktsegment").alias("n_segments"),
        r6(F.sum("bal_c") / 100.0).alias("total_balance"),
    )


@query(
    "orders_profile",
    oracle="""
SELECT 'o_custkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(o_custkey) AS BIGINT) AS n_filled,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
       CAST(MIN(o_custkey) AS VARCHAR) AS min_val,
       CAST(MAX(o_custkey) AS VARCHAR) AS max_val
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
       COUNT(DISTINCT o_orderstatus),
       CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*), COUNT(o_orderpriority),
       COUNT(DISTINCT o_orderpriority),
       CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
FROM orders
""",
)
def q_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profiling (the completeness/cardinality audit
    a pipeline runs on every ingested table): one row per profiled
    column with fill, distinct, and min/max. All columns profile in a
    SINGLE aggregation pass — the per-column stats are parallel
    aggregate expressions, unpivoted afterwards with a stack() — not
    one scan per column (the oracle's UNION ALL form is the naive
    3-scan equivalent DuckDB can afford at test SF)."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__filled"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__filled, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS "
            "(col_name, n_filled, n_distinct, min_val, max_val)"
        ),
        "n_rows",
    ).select("col_name", "n_rows", "n_filled", "n_distinct", "min_val", "max_val")


@query(
    "balance_quartiles_bucketed",
    oracle="""
WITH b AS (
  SELECT CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c, c_mktsegment
  FROM customer
),
hist AS (SELECT bal_c, COUNT(*) AS cnt FROM b GROUP BY 1),
cum AS (
  SELECT bal_c,
         SUM(cnt) OVER (ORDER BY bal_c
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM hist
),
n AS (SELECT COUNT(*) AS n FROM b),
bounds AS (
  SELECT
    MIN(CASE WHEN cum * 4 >= 1 * (SELECT n FROM n) THEN bal_c END) AS b1,
    MIN(CASE WHEN cum * 4 >= 2 * (SELECT n FROM n) THEN bal_c END) AS b2,
    MIN(CASE WHEN cum * 4 >= 3 * (SELECT n FROM n) THEN bal_c END) AS b3
  FROM cum
),
q AS (
  SELECT b.bal_c, b.c_mktsegment,
         CASE WHEN bal_c <= b1 THEN 1
              WHEN bal_c <= b2 THEN 2
              WHEN bal_c <= b3 THEN 3
              ELSE 4 END AS quartile
  FROM b, bounds
)
SELECT CAST(quartile AS BIGINT) AS quartile,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS n_segments,
       ROUND(SUM(bal_c) / 100.0, 6) AS total_balance
FROM q GROUP BY 1
""",
)
def q_balance_quartiles_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NO-GLOBAL-SORT scale path for customer_balance_quartiles
    (whose exact-ntile plan needs one total order). Value-bucketed
    quartiles in three domain-bounded steps:

      1. histogram: groupBy the integer-cents balance — cardinality is
         bounded by the VALUE DOMAIN (~1.1M distinct cents for TPC-H
         acctbal), not the row count, so this shuffle stays constant as
         data scales 100×;
      2. boundaries: a running-count window over the (small) histogram
         finds the smallest balance whose cumulative count reaches
         k·N/4 (integer comparison cum·4 ≥ k·N — no float quantile);
      3. assignment: the 3 boundary values broadcast back and every row
         picks its quartile map-side.

    Semantics differ from ntile only on boundary TIES: equal balances
    always land in the same quartile here (value-deterministic), while
    ntile splits them by row position. Deviation documented; for a
    data pipeline the value-deterministic form is usually the one you
    want (reproducible under repartitioning)."""
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer")
    bal = c.select(
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        "c_mktsegment",
    )
    hist = bal.groupBy("bal_c").agg(F.count(F.lit(1)).alias("cnt"))
    # Running count over the histogram: ordered by balance value. The
    # single-partition window is over DISTINCT balances (domain-bounded,
    # ≤ ~1.1M rows at any SF) — not over the customer table.
    wc = Window.orderBy("bal_c").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(wc))
    tot = bal.agg(F.count(F.lit(1)).alias("n"))
    bounds = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.min(F.when(F.col("cum") * 4 >= F.col("n"), F.col("bal_c"))).alias("b1"),
            F.min(F.when(F.col("cum") * 4 >= 2 * F.col("n"), F.col("bal_c"))).alias("b2"),
            F.min(F.when(F.col("cum") * 4 >= 3 * F.col("n"), F.col("bal_c"))).alias("b3"),
        )
    )
    q = bal.crossJoin(F.broadcast(bounds)).withColumn(
        "quartile",
        F.when(F.col("bal_c") <= F.col("b1"), 1)
        .when(F.col("bal_c") <= F.col("b2"), 2)
        .when(F.col("bal_c") <= F.col("b3"), 3)
        .otherwise(4)
        .cast("long"),
    )
    return q.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.count_distinct("c_mktsegment").alias("n_segments"),
        r6(F.sum("bal_c") / 100.0).alias("total_balance"),
    )


@query(
    "salted_event_totals",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(MIN(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS min_cents,
       CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
FROM events GROUP BY 1
""",
)
def q_salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-resistant aggregation path (operators/skew.salted_agg),
    driver-gated: per-event-type totals computed as a TWO-PHASE salted
    groupBy — phase 1 aggregates (key, salt) so a pathologically hot key
    spreads across n_salt reducers, phase 2 merges the tiny partials.
    event_type has brutal natural skew (a handful of types over millions
    of rows), making it exactly the shape salting exists for. The oracle
    is the plain GROUP BY: salting must be RESULT-INVISIBLE for
    algebraic aggregates, and this gate proves it stays so every round."""
    from bigdata_invoice_stream_analysis_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    return salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n_events": ("count", F.lit(1)),
            "total_cents": ("sum", F.col("cents")),
            "min_cents": ("min", F.col("cents")),
            "max_cents": ("max", F.col("cents")),
        },
    )


# ---------------------------------------------------------------------------
# Q: remaining SQL-surface shapes — explicit GROUPING SETS, rank-family
# window functions, and INTERSECT/EXCEPT set operations.
# ---------------------------------------------------------------------------

@query(
    "status_priority_grouping_sets",
    oracle="""
SELECT o_orderstatus AS status, o_orderpriority AS priority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
         AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0, 6)
         AS total_value
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority))
""",
)
def q_status_priority_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form that cube/rollup
    specialize): per-status, per-priority, and per-pair totals in ONE
    aggregation pass — Catalyst plans a single Expand (one replica per
    set) + hash agg, not three scans. grouping_id disambiguates the
    NULLs a grouping-set output necessarily contains (a real NULL key
    vs 'this column not in this set') — shipping gid alongside is the
    contract that makes the output machine-consumable."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], ["o_orderstatus", "o_orderpriority"]],
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            r6(F.sum(cents) / 100.0).alias("total_value"),
        )
        .select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
            "gid",
            "n_orders",
            "total_value",
        )
    )


@query(
    "supplier_balance_standing",
    oracle="""
SELECT s_suppkey AS supp_key, n_name AS nation_name,
       ROUND(percent_rank() OVER w, 6) AS pct_rank,
       ROUND(cume_dist() OVER w, 6) AS cume,
       CAST(ntile(4) OVER w AS INT) AS quartile
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WINDOW w AS (PARTITION BY n_name ORDER BY s_acctbal, s_suppkey)
""",
)
def q_supplier_balance_standing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family window coverage: percent_rank, cume_dist, and ntile
    over one shared per-nation ordering — Catalyst evaluates all three
    in a single Window operator (one shuffle on nation, one sort).
    Ties broken by supp_key so every engine computes identical ranks.
    Per-nation partitioning bounds each sort; there is no global
    order anywhere in the plan."""
    from pyspark.sql.window import Window

    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy("s_acctbal", "s_suppkey")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("s_suppkey").alias("supp_key"),
            F.col("n_name").alias("nation_name"),
            r6(F.percent_rank().over(w)).alias("pct_rank"),
            r6(F.cume_dist().over(w)).alias("cume"),
            F.ntile(4).over(w).alias("quartile"),
        )
    )


@query(
    "segment_overlap_customers",
    oracle="""
SELECT 'both_years' AS cohort, CAST(COUNT(*) AS BIGINT) AS n_customers FROM (
  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
  INTERSECT
  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
)
UNION ALL
SELECT 'only_1996', CAST(COUNT(*) AS BIGINT) FROM (
  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
  EXCEPT
  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
)
""",
)
def q_segment_overlap_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set-operation coverage: customers ordering in
    both 1996 and 1997 vs only 1996. Spark plans both as aggregated
    semi/anti joins on the key (set semantics = distinct first), so the
    physical shape is the same one-shuffle join the EXISTS form would
    produce — the set-op syntax is free. Year predicates push to the
    orders scan on both branches."""
    o = load_table(spark, sf_dir, "orders")
    y96 = o.where(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = o.where(F.year("o_orderdate") == 1997).select("o_custkey")
    both = y96.intersect(y97).agg(F.count(F.lit(1)).alias("n_customers")).select(
        F.lit("both_years").alias("cohort"), "n_customers"
    )
    only96 = y96.subtract(y97).agg(
        F.count(F.lit(1)).alias("n_customers")
    ).select(F.lit("only_1996").alias("cohort"), "n_customers")
    return both.unionByName(only96)


@query(
    "rolling_active_users",
    oracle="""
WITH au AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
cover AS (
  SELECT DISTINCT user_id, day + CAST(s.i AS INT) AS cover_day
  FROM au, UNNEST(generate_series(0, 6)) AS s(i)
),
days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
SELECT d.day,
       CAST(COUNT(*) AS BIGINT) AS active_7d
FROM days d JOIN cover c ON c.cover_day = d.day
GROUP BY 1
""",
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling DISTINCT user count — the WAU/DAU-style metric
    that a naive window cannot express (count_distinct is not a
    window function) and a self-join-per-day cannot afford. Scalable
    form: dedup to (user, active_day), fan each activity out to the
    <= 7 rolling days it supports (bounded explode — the same idiom as
    session_hourly_load), dedup (user, cover_day), count per day. Two
    hash-agg shuffles, both on bounded keys; restricted to days that
    actually occur so the output matches the observable metric."""
    ev = load_table(spark, sf_dir, "events")
    au = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    cover = (
        au.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
            "day",
        )
        .select("user_id", F.date_add(F.col("day"), F.col("i")).alias("cover_day"))
        .distinct()
    )
    days = ev.select(F.col("ts").cast("date").alias("day")).distinct()
    return (
        days.join(cover, days.day == cover.cover_day)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("active_7d"))
    )


@query(
    "priority_peak_day",
    oracle="""
WITH daily AS (
  SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
         COUNT(*) AS n
  FROM orders GROUP BY 1, 2
)
SELECT priority,
       arg_max(day, n * 100000 + CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT))
         AS peak_day,
       CAST(MAX(n) AS BIGINT) AS peak_orders
FROM daily GROUP BY 1
""",
)
def q_priority_peak_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / arg_max coverage: per priority, the day with the most
    orders. Ties resolved INSIDE the aggregate by a composite ordering
    key (count, then later day) — deterministic without a window sort;
    the pre-aggregation to daily counts keeps the arg_max input at
    |days|×|priorities| rows. The two-level shape means the expensive
    shuffle is the daily rollup; the arg_max pass is map-side small."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    # Composite BIGINT ordering key (count dominant, epoch-day breaks
    # ties): epoch days stay < 1e5 for any realistic date, so the
    # packing is collision-free. DuckDB's arg_max takes scalar keys
    # only, hence the packed form on both sides.
    key = F.col("n") * 100000 + F.datediff(
        F.col("day"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    return daily.groupBy("priority").agg(
        F.max_by(F.col("day"), key).alias("peak_day"),
        F.max("n").alias("peak_orders"),
    )


@query(
    "customer_order_gap_stats",
    oracle="""
WITH seq AS (
  SELECT o_custkey,
         date_diff('day', o_orderdate,
                   lead(o_orderdate) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey))
           AS gap_days
  FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
       ROUND(CAST(SUM(gap_days) AS DOUBLE) / COUNT(*), 6) AS mean_gap_days,
       CAST(MIN(gap_days) AS BIGINT) AS min_gap,
       CAST(MAX(gap_days) AS BIGINT) AS max_gap
FROM seq WHERE gap_days IS NOT NULL
""",
)
def q_customer_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead() coverage + inter-arrival profile: the gap in days between
    consecutive orders of the same customer, aggregated corpus-wide.
    One window shuffle on custkey (deterministic sibling order via
    orderkey tie-break), then a global single-row aggregate of exact
    integer day gaps — the mean divides two exact integers once."""
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(
        F.lead(F.col("o_orderdate")).over(w), F.col("o_orderdate")
    ).cast("long")
    seq = o.select(gap.alias("gap_days")).where(F.col("gap_days").isNotNull())
    return seq.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        r6(F.sum("gap_days").cast("double") / F.count(F.lit(1))).alias(
            "mean_gap_days"
        ),
        F.min("gap_days").alias("min_gap"),
        F.max("gap_days").alias("max_gap"),
    )
