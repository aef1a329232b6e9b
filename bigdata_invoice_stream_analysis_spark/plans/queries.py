"""Query registry: every implemented operator from SURVEY.md §2 gets a
named query over the driver test tables plus (where SQL-expressible) a
DuckDB oracle that computes the same result.

Conventions (driver contract, __spark_entry__.py):
  * Each query callable takes (spark, sf_dir) and returns a DataFrame.
  * Column names are aliased identically in Spark and oracle SQL.
  * Float outputs are rounded to 6 decimals on BOTH sides so the
    order-insensitive value hash is robust to summation-order ulp noise.
  * The purchase-line role is played by lineitem ⋈ orders
    (FIXTURES.md §6): InvoiceNo ↔ o_orderkey ('C'-prefixed when
    o_orderstatus='F' to model cancellations), Quantity ↔ l_quantity,
    UnitPrice ↔ l_extendedprice/l_quantity, CustomerID ↔ o_custkey,
    invoice timestamp ↔ o_orderdate + (o_orderkey % 1440) minutes.
  * Deterministic "dirt" is injected by key so the validation operators
    have non-empty outputs: l_orderkey%97=0 → empty CustomerID,
    %89=0 → non-numeric Quantity, %83=0 → 9-field line.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.operators import validate
from bigdata_invoice_stream_analysis_spark.operators.topk import kth_largest, top_k
from bigdata_invoice_stream_analysis_spark.scratch import fresh_checkpoint
from bigdata_invoice_stream_analysis_spark.sources.tables import load_table
from bigdata_invoice_stream_analysis_spark.streaming import runtime

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query (and its DuckDB oracle, if SQL-expressible)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def r6(col):
    """Round a float column to 6 decimals (hash-stability convention)."""
    return F.round(col, 6)


# ---------------------------------------------------------------------------
# Shared purchase-line synthesis (Spark + DuckDB twins)
# ---------------------------------------------------------------------------

def purchase_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed purchase rows derived from lineitem ⋈ orders — the batch
    analog of the reference's parsed purchase stream. The join is on the
    natural key (orderkey) — at scale both sides are huge, so this is a
    shuffle join on the join key; AQE picks SMJ/SHJ. Orders is the
    smaller side; at 100 TB pre-bucketing both tables on orderkey makes
    this a zero-shuffle join."""
    from bigdata_invoice_stream_analysis_spark.sources.tables import ensure_min_parallelism

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # The join output feeds expensive per-row expressions (timestamp
    # formatting downstream, string synthesis in raw_lines); spread it
    # across cores when the scan under-parallelizes (one-row-group
    # local files — no-op at production split counts).
    j = ensure_min_parallelism(li.join(o, li.l_orderkey == o.o_orderkey), spark)
    return purchase_projection(j)


def purchase_projection(j: DataFrame) -> DataFrame:
    """The purchase-line projection over a lineitem⋈orders join —
    shared by the batch path (purchase_rows) and the streaming gate
    (plans/pipelines.q_streaming_centroid_anomalies), so batch and
    stream parse/derive IDENTICAL columns (the train/serve-consistency
    stance of SURVEY.md §3.1)."""
    order_ts = F.timestamp_add(
        "MINUTE", (F.col("o_orderkey") % 1440).cast("int"), F.col("o_orderdate")
    )
    return j.select(
        F.when(
            F.col("o_orderstatus") == "F",
            F.concat(F.lit("C"), F.col("l_orderkey").cast("string")),
        )
        .otherwise(F.col("l_orderkey").cast("string"))
        .alias("InvoiceNo"),
        F.col("l_partkey").cast("string").alias("StockCode"),
        F.lit("item").alias("Description"),
        F.col("l_quantity").cast("int").alias("Quantity"),
        F.date_format(order_ts, "MM/dd/yyyy HH:mm").alias("InvoiceDate"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("UnitPrice"),
        F.when(F.col("l_orderkey") % 97 == 0, F.lit(""))
        .otherwise(F.col("o_custkey").cast("string"))
        .alias("CustomerID"),
        F.lit("ES").alias("Country"),
        F.col("l_extendedprice").alias("ExtPrice"),
        F.col("l_orderkey").alias("line_order"),
        F.col("l_linenumber").alias("line_no"),
    )


# DuckDB twin of purchase_rows (CTE named `purchase`).
PURCHASE_CTE = """
purchase AS (
  SELECT
    CASE WHEN o.o_orderstatus = 'F'
         THEN 'C' || CAST(l.l_orderkey AS VARCHAR)
         ELSE CAST(l.l_orderkey AS VARCHAR) END AS InvoiceNo,
    CAST(l.l_partkey AS VARCHAR) AS StockCode,
    'item' AS Description,
    CAST(l.l_quantity AS INT) AS Quantity,
    strftime(o.o_orderdate + (o.o_orderkey % 1440) * INTERVAL 1 MINUTE,
             '%m/%d/%Y %H:%M') AS InvoiceDate,
    l.l_extendedprice / l.l_quantity AS UnitPrice,
    CASE WHEN l.l_orderkey % 97 = 0 THEN ''
         ELSE CAST(o.o_custkey AS VARCHAR) END AS CustomerID,
    'ES' AS Country,
    l.l_extendedprice AS ExtPrice,
    l.l_orderkey AS line_order,
    l.l_linenumber AS line_no
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
"""


def raw_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw comma-joined 8-field lines (the Kafka `value` shape,
    InvoiceDataProducer.scala:28-32) with deterministic dirt."""
    p = purchase_rows(spark, sf_dir)
    qty = F.when(F.col("line_order") % 89 == 0, F.lit("x")).otherwise(
        F.col("Quantity").cast("string")
    )
    # Exact price string: l_extendedprice is a 2-decimal double, so
    # round(x*100) is an exact integer in both engines — formatting via
    # integer cents avoids engine-specific double→decimal rounding.
    cents = F.round(F.col("ExtPrice") * 100).cast("long")
    price = F.format_string("%d.%02d", (cents / 100).cast("long"), cents % 100)
    base = F.concat_ws(
        ",",
        F.col("InvoiceNo"),
        F.col("StockCode"),
        F.col("Description"),
        qty,
        F.col("InvoiceDate"),
        price,
        F.col("CustomerID"),
        F.col("Country"),
    )
    line = F.when(F.col("line_order") % 83 == 0, F.concat(base, F.lit(",extra"))).otherwise(base)
    return p.select(
        F.col("line_order"), F.col("line_no"), line.alias("value")
    )


# DuckDB twin of raw_lines (CTE named `lines`; requires PURCHASE_CTE).
LINES_CTE = """
lines AS (
  SELECT line_order, line_no,
    CASE WHEN line_order % 83 = 0 THEN base || ',extra' ELSE base END AS value
  FROM (
    SELECT line_order, line_no,
      concat_ws(',', InvoiceNo, StockCode, Description,
        CASE WHEN line_order % 89 = 0 THEN 'x' ELSE CAST(Quantity AS VARCHAR) END,
        InvoiceDate,
        printf('%d.%02d', CAST(ROUND(ExtPrice * 100) AS BIGINT) // 100,
               CAST(ROUND(ExtPrice * 100) AS BIGINT) % 100),
        CustomerID, Country) AS base
    FROM purchase
  )
)
"""

# DuckDB twin of operators.validate predicates over `lines`.
SQL_FIELDS = "string_split(value, ',')"
SQL_INVALID = (
    f"(len({SQL_FIELDS}) != 8 OR list_contains({SQL_FIELDS}, '')"
    f" OR (len({SQL_FIELDS}) = 8 AND ("
    f"NOT regexp_matches({SQL_FIELDS}[4], '^-?\\d+$')"
    f" OR NOT regexp_matches({SQL_FIELDS}[6], '^-?\\d+(\\.\\d+)?$'))))"
)
SQL_CANCELLED = f"starts_with({SQL_FIELDS}[1], 'C')"


# ---------------------------------------------------------------------------
# Q: invoice featurization (A1 + P6-P9 — the flagship batch query)
# ---------------------------------------------------------------------------

# Reused as a CTE body by centroid_anomalies below.
FEATS_SELECT = """
SELECT InvoiceNo AS invoice_no,
       CAST(SUM(CAST(ROUND(UnitPrice * 100) AS BIGINT)) AS BIGINT)
         / (100.0 * COUNT(*)) AS avg_unit_price,
       MIN(UnitPrice) AS min_unit_price,
       MAX(UnitPrice) AS max_unit_price,
       CAST(SUM(EXTRACT(hour FROM strptime(InvoiceDate, '%m/%d/%Y %H:%M')) * 60
                + EXTRACT(minute FROM strptime(InvoiceDate, '%m/%d/%Y %H:%M'))) AS BIGINT)
         / (60.0 * COUNT(*)) AS time,
       CAST(CAST(SUM(Quantity) AS BIGINT) AS DOUBLE) AS number_items
FROM purchase
WHERE NOT starts_with(InvoiceNo, 'C')
  AND NOT (CustomerID IS NULL OR trim(CustomerID) = '')
GROUP BY InvoiceNo
HAVING SUM(CAST(ROUND(UnitPrice * 100) AS BIGINT)) > 0
   AND MIN(UnitPrice) > 0 AND MAX(UnitPrice) > 0 AND SUM(Quantity) > 0
"""


@query("invoice_features", oracle=f"WITH {PURCHASE_CTE}\n{FEATS_SELECT}")
def q_invoice_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering.scala:47-107 semantics over the purchase analog:
    derive Time/HasCustomer, aggregate per invoice, validity-filter.

    FP-determinism note: averages are computed by summing in an exact
    integer domain (price cents / minutes-of-day) and dividing after
    aggregation — double summation order differs between engines, so a
    raw AVG(double) is not reproducible at the last ulp, while an
    integer SUM is exact and the final division maps identical operands
    to the identical double. operators/featurize.py keeps the natural
    double semantics for the production/training path (unit-tested);
    this query is the hash-stable twin for the oracle gate."""
    from bigdata_invoice_stream_analysis_spark.functions.time_fns import parse_invoice_ts

    p = purchase_rows(spark, sf_dir)
    p = p.filter(
        ~F.col("InvoiceNo").startswith("C")
        & ~(F.col("CustomerID").isNull() | (F.trim(F.col("CustomerID")) == ""))
    )
    ts = parse_invoice_ts(F.col("InvoiceDate"))
    cents = F.round(F.col("UnitPrice") * 100).cast("long")
    minutes = (F.hour(ts) * 60 + F.minute(ts)).cast("long")
    agg = p.groupBy("InvoiceNo").agg(
        F.sum(cents).alias("sum_cents"),
        F.min("UnitPrice").alias("min_unit_price"),
        F.max("UnitPrice").alias("max_unit_price"),
        F.sum(minutes).alias("sum_minutes"),
        F.sum("Quantity").cast("long").alias("sum_qty"),
        F.count("*").alias("n_lines"),
    )
    return agg.filter(
        (F.col("sum_cents") > 0)
        & (F.col("min_unit_price") > 0)
        & (F.col("max_unit_price") > 0)
        & (F.col("sum_qty") > 0)
    ).select(
        F.col("InvoiceNo").alias("invoice_no"),
        (F.col("sum_cents") / (F.lit(100.0) * F.col("n_lines"))).alias("avg_unit_price"),
        F.col("min_unit_price"),
        F.col("max_unit_price"),
        (F.col("sum_minutes") / (F.lit(60.0) * F.col("n_lines"))).alias("time"),
        F.col("sum_qty").cast("double").alias("number_items"),
    )


# ---------------------------------------------------------------------------
# Q: line validation + routing (P1-P4, A2)
# ---------------------------------------------------------------------------

@query(
    "invalid_lines",
    oracle=f"""
WITH {PURCHASE_CTE}, {LINES_CTE}
SELECT line_order, line_no, value FROM lines WHERE {SQL_INVALID}
""",
)
def q_invalid_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — lines routed to the invalid sink (InvoicePipeline.scala:57-62)."""
    routed = validate.with_routing(raw_lines(spark, sf_dir))
    return routed.filter(F.col("is_invalid")).select("line_order", "line_no", "value")


@query(
    "route_counts",
    oracle=f"""
WITH {PURCHASE_CTE}, {LINES_CTE}
SELECT CASE WHEN {SQL_INVALID} THEN 'invalid'
            WHEN {SQL_CANCELLED} THEN 'cancelled'
            ELSE 'good' END AS route,
       COUNT(*) AS n_lines
FROM lines GROUP BY 1
""",
)
def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2+P3 — the three-way stream routing, as counts."""
    routed = validate.with_routing(raw_lines(spark, sf_dir))
    route = (
        F.when(F.col("is_invalid"), F.lit("invalid"))
        .when(F.col("is_cancelled"), F.lit("cancelled"))
        .otherwise(F.lit("good"))
    )
    return routed.groupBy(route.alias("route")).agg(F.count("*").alias("n_lines"))


@query(
    "parse_purchases",
    oracle=f"""
WITH {PURCHASE_CTE}, {LINES_CTE}
SELECT line_order, line_no,
       {SQL_FIELDS}[1] AS invoice_no,
       {SQL_FIELDS}[2] AS stock_code,
       CAST({SQL_FIELDS}[4] AS INT) AS quantity,
       CAST({SQL_FIELDS}[6] AS DOUBLE) AS unit_price,
       {SQL_FIELDS}[7] AS customer_id,
       {SQL_FIELDS}[8] AS country
FROM lines
WHERE NOT {SQL_INVALID} AND NOT {SQL_CANCELLED}
""",
)
def q_parse_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — CSV→typed projection of good lines (InvoicePipeline.scala:85-90)."""
    routed = validate.with_routing(raw_lines(spark, sf_dir))
    good = routed.filter(~F.col("is_invalid") & ~F.col("is_cancelled"))
    fields = F.col("fields")
    return good.select(
        "line_order",
        "line_no",
        fields[0].alias("invoice_no"),
        fields[1].alias("stock_code"),
        fields[3].cast("int").alias("quantity"),
        fields[5].cast("double").alias("unit_price"),
        fields[6].alias("customer_id"),
        fields[7].alias("country"),
    )


@query(
    "cancelled_invoices",
    oracle=f"""
WITH {PURCHASE_CTE}, {LINES_CTE}
SELECT DISTINCT {SQL_FIELDS}[1] AS invoice_no
FROM lines WHERE NOT {SQL_INVALID} AND {SQL_CANCELLED}
""",
)
def q_cancelled_invoices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 + A2 — distinct cancelled invoice ids (the per-batch dedup
    reduceByKey((_,_)⇒1), InvoicePipeline.scala:65-71)."""
    routed = validate.with_routing(raw_lines(spark, sf_dir))
    cancelled = routed.filter(~F.col("is_invalid") & F.col("is_cancelled"))
    return cancelled.select(
        F.col("fields")[0].alias("invoice_no")
    ).dropDuplicates()


# ---------------------------------------------------------------------------
# Q: top-K threshold (T1)
# ---------------------------------------------------------------------------

@query(
    "topk_threshold",
    oracle="""
SELECT MIN(l_extendedprice) AS threshold, CAST(COUNT(*) AS BIGINT) AS k
FROM (SELECT l_extendedprice FROM lineitem ORDER BY l_extendedprice DESC LIMIT 2000)
""",
)
def q_topk_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — 2000th-largest value = anomaly-threshold rule
    (train.scala:45-46). Physical plan: TakeOrderedAndProject, no full
    sort."""
    li = load_table(spark, sf_dir, "lineitem")
    top = top_k(li.select("l_extendedprice"), "l_extendedprice", 2000)
    return top.agg(
        F.min("l_extendedprice").alias("threshold"), F.count("*").alias("k")
    )


# ---------------------------------------------------------------------------
# Q: time scalar functions (P6) over events
# ---------------------------------------------------------------------------

@query(
    "hourly_event_stats",
    oracle="""
SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hour_of_day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / (100.0 * COUNT(*)) AS avg_value,
       CAST(SUM(EXTRACT(hour FROM ts) * 60 + EXTRACT(minute FROM ts)) AS BIGINT)
         / (60.0 * COUNT(*)) AS avg_frac_hour
FROM events GROUP BY 1, 2
""",
)
def q_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 scalar coverage — hour/minute/fractional-hour over the events
    table (the streaming-side time math, InvoicePipeline.scala:104-105).
    Averages via exact integer sums (see q_invoice_features note)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.hour("ts").alias("hour_of_day"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
            F.sum((F.hour("ts") * 60 + F.minute("ts")).cast("long")).alias("sum_minutes"),
        )
        .select(
            "hour_of_day",
            "event_type",
            "n_events",
            (F.col("sum_cents") / (F.lit(100.0) * F.col("n_events"))).alias("avg_value"),
            (F.col("sum_minutes") / (F.lit(60.0) * F.col("n_events"))).alias("avg_frac_hour"),
        )
    )


# ---------------------------------------------------------------------------
# Q: weighted invoice featurization (A4 streaming semantics, batch twin)
# ---------------------------------------------------------------------------

@query(
    "weighted_invoice_features",
    oracle=f"""
WITH {PURCHASE_CTE}
SELECT InvoiceNo AS invoice_no,
       CAST(SUM(CAST(ROUND(UnitPrice * 100) AS BIGINT) * Quantity) AS BIGINT)
         / (100.0 * SUM(Quantity)) AS avg_unit_price,
       MIN(UnitPrice) AS min_unit_price,
       MAX(UnitPrice) AS max_unit_price,
       CAST(CAST(SUM(Quantity) AS BIGINT) AS DOUBLE) AS number_items,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM purchase
WHERE NOT starts_with(InvoiceNo, 'C')
  AND NOT (CustomerID IS NULL OR trim(CustomerID) = '')
GROUP BY InvoiceNo
HAVING SUM(Quantity) > 0
""",
)
def q_weighted_invoice_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — the QUANTITY-WEIGHTED running mean the reference's streaming
    state maintains (InvoicePipeline.scala:110), expressed as its
    algebraic batch closed form: Σ(price·qty)/Σqty. This is the
    train/serve-skew counterpart of invoice_features' row mean
    (SURVEY.md §3.1); both are registered so the skew is pinned by the
    oracle gate. Exact-integer: price is whole cents, so cents·qty sums
    are exact BIGINTs in both engines."""
    p = purchase_rows(spark, sf_dir)
    p = p.filter(
        ~F.col("InvoiceNo").startswith("C")
        & ~(F.col("CustomerID").isNull() | (F.trim(F.col("CustomerID")) == ""))
    )
    cents = F.round(F.col("UnitPrice") * 100).cast("long")
    agg = p.groupBy("InvoiceNo").agg(
        F.sum(cents * F.col("Quantity")).alias("sum_cq"),
        F.min("UnitPrice").alias("min_unit_price"),
        F.max("UnitPrice").alias("max_unit_price"),
        F.sum("Quantity").cast("long").alias("sum_qty"),
        F.count("*").alias("n_lines"),
    )
    return agg.filter(F.col("sum_qty") > 0).select(
        F.col("InvoiceNo").alias("invoice_no"),
        (F.col("sum_cq") / (F.lit(100.0) * F.col("sum_qty"))).alias("avg_unit_price"),
        "min_unit_price",
        "max_unit_price",
        F.col("sum_qty").cast("double").alias("number_items"),
        "n_lines",
    )


# ---------------------------------------------------------------------------
# Q: token counting (whitespace + BPE-ish subword regex)
# ---------------------------------------------------------------------------

# BPE-ish pieces: letter runs up to 4 chars, digit runs up to 3, or a
# single non-alnum mark — a deterministic proxy for subword vocabularies
# (real BPE needs a merges table; the *plumbing* — regex extraction,
# per-row counts, corpus totals — is identical).
BPE_RE = "[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9 ]"


@query(
    "token_counts",
    oracle=f"""
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), t -> t != '')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT) AS n_bpe_pieces,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
""",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for training-data budgeting: whitespace tokens and
    BPE-ish subword pieces per document — pure per-row regex expressions,
    no shuffle at any scale."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), F.lit(0)))
    return d.select(
        "doc_id",
        ws.cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_pieces"),
        F.length("text").cast("long").alias("n_chars"),
    )


@query(
    "approx_distinct_users",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS approx_ok
FROM events GROUP BY 1
""",
)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3's scale path — approx_count_distinct (HyperLogLog++) per event
    type, next to the exact count. At 100 TB the exact distinct needs a
    full shuffle of the key universe; the sketch is fixed-size per group
    and merges map-side. HLL sketch VALUES differ across engines by
    design, so the graded output carries (a) the exact count, checked
    exactly against the oracle, and (b) ``approx_ok`` — Spark's sketch
    within 5% relative error of its own exact count (rsd=0.02 gives
    ~2σ = 4% headroom; deterministic for fixed data, so this is a
    stable per-round regression bit, not a flaky tolerance). The oracle
    asserts TRUE — an HLL drift past 5% fails the hash."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_ok"),
    )


@query(
    "approx_value_percentiles",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(cents, 0.5), 6) AS p50_cents,
       ROUND(quantile_cont(cents, 0.95), 6) AS p95_cents,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS approx_ok
FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events)
GROUP BY 1
""",
)
def q_approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """price_percentiles' scale path, gated the approx_distinct_users
    way: exact p50/p95 buffer every group value (fine when groups are
    bounded; pathological at 100 TB), while ``approx_percentile`` keeps
    an O(1/eps) Greenwald-Khanna sketch per group that merges map-side
    — shuffle volume is O(groups · sketch), not O(rows). Sketch VALUES
    aren't bit-specified cross-engine, so the graded columns are (a)
    the exact interpolated percentiles over integer cents — Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` share the h=(n-1)·q
    definition, checked exactly — and (b) ``approx_ok``: the sketch
    answer sits inside the exact [q−0.005, q+0.005] percentile band
    (accuracy=1000 guarantees rank error ≤ 0.001·n; 5× headroom, and
    deterministic for fixed data — a stable regression bit, not a
    flaky tolerance). The oracle asserts TRUE."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    # ONE percentile aggregate with an array of quantiles (single
    # per-group value buffer + sort) and ONE sketch aggregate — six
    # independent percentile(...) exprs would each keep their own full
    # buffer, 6× the memory the docstring already flags as the exact
    # path's cost.
    agg = ev.groupBy("event_type").agg(
        F.expr(
            "percentile(cents, array(0.495D, 0.5D, 0.505D, 0.945D, 0.95D, 0.955D))"
        ).alias("pcts"),
        F.expr("approx_percentile(cents, array(0.5D, 0.95D), 1000)").alias("apcts"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "event_type",
        F.col("pcts")[0].alias("lo50"),
        F.col("pcts")[1].alias("p50"),
        F.col("pcts")[2].alias("hi50"),
        F.col("pcts")[3].alias("lo95"),
        F.col("pcts")[4].alias("p95"),
        F.col("pcts")[5].alias("hi95"),
        F.col("apcts")[0].alias("ap50"),
        F.col("apcts")[1].alias("ap95"),
        "n_events",
    )
    ok = (
        (F.col("ap50") >= F.col("lo50") - 0.5)
        & (F.col("ap50") <= F.col("hi50") + 0.5)
        & (F.col("ap95") >= F.col("lo95") - 0.5)
        & (F.col("ap95") <= F.col("hi95") + 0.5)
    )
    return agg.select(
        "event_type",
        r6(F.col("p50")).alias("p50_cents"),
        r6(F.col("p95")).alias("p95_cents"),
        "n_events",
        ok.alias("approx_ok"),
    )


@query(
    "hll_partial_merge",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
       TRUE AS merged_ok,
       TRUE AS merge_consistent
FROM events GROUP BY 1
""",
)
def q_hll_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-sketch lakehouse pattern: per-(type, day) HLL
    sketches (Datasketches ``hll_sketch_agg`` — the binary column a
    rollup table would STORE) union-merged across days
    (``hll_union_agg``) and compared against both the single-pass
    sketch and the exact distinct. This is the mergeability contract
    that makes distinct-count rollups incremental at 100 TB: day
    partials are computed once, new days merge in O(sketch), and no
    re-scan of history is ever needed (daily_to_monthly_rollup proves
    the same for algebraic aggs). HLL registers are max-merged, so
    union-of-partials must agree with the direct sketch — gated as
    ``merge_consistent`` (≤2% of direct; deterministic for fixed
    data), with ``merged_ok`` (≤5% of exact) as the accuracy bound and
    the exact count + day count hash-checked against the oracle."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_est"),
        F.count(F.lit(1)).alias("n_days"),
    )
    direct = ev.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_est"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    j = merged.join(F.broadcast(direct), "event_type")
    return j.select(
        "event_type",
        "exact_users",
        "n_days",
        (
            F.abs(F.col("merged_est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("merged_ok"),
        (
            F.abs(F.col("merged_est") - F.col("direct_est"))
            <= 0.02 * F.col("direct_est")
        ).alias("merge_consistent"),
    )


@query(
    "temporal_split_audit",
    oracle="""
SELECT CAST(SUM(n_before) AS BIGINT) AS n_train_orders,
       CAST(SUM(n_after) AS BIGINT) AS n_test_orders,
       CAST(SUM(CASE WHEN n_before > 0 AND n_after > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS leaked_customers,
       CAST(SUM(CASE WHEN n_before > 0 AND n_after = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS train_only_customers,
       CAST(SUM(CASE WHEN n_before = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS test_only_customers
FROM (
  SELECT o_custkey,
         SUM(CASE WHEN o_orderdate <  DATE '1997-01-01' THEN 1 ELSE 0 END) AS n_before,
         SUM(CASE WHEN o_orderdate >= DATE '1997-01-01' THEN 1 ELSE 0 END) AS n_after
  FROM orders GROUP BY 1
)
""",
)
def q_temporal_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based train/test split audit: train = orders before the
    cutoff, test = after — the standard temporal decontamination for
    forecasting-style tasks — plus the leakage count a pure time split
    silently ignores: customers with activity on BOTH sides. That
    entity overlap is exactly what group_aware_split eliminates; this
    audit quantifies the tradeoff (row-level temporal splits leak
    entity-level signal). Plan: one customer-keyed partial-agg shuffle
    (flags computed from per-customer counts), then a 1-row global
    fold — no joins, no second scan; at 100 TB the shuffle carries two
    counters per customer."""
    cutoff = F.lit("1997-01-01").cast("date")
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum((F.col("o_orderdate") < cutoff).cast("long")).alias("n_before"),
        F.sum((F.col("o_orderdate") >= cutoff).cast("long")).alias("n_after"),
    )
    before = F.col("n_before") > 0
    after = F.col("n_after") > 0
    return per_cust.agg(
        F.sum("n_before").alias("n_train_orders"),
        F.sum("n_after").alias("n_test_orders"),
        F.sum((before & after).cast("long")).alias("leaked_customers"),
        F.sum((before & ~after).cast("long")).alias("train_only_customers"),
        F.sum((~before).cast("long")).alias("test_only_customers"),
    )


@query(
    "cdc_merge_upsert",
    oracle="""
WITH base AS (
  SELECT o_orderkey AS k, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
changes AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderkey % 97 = 0 THEN 'D' ELSE 'U' END AS op,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) + 100000 AS cents
  FROM orders WHERE o_orderkey % 97 = 0 OR o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey + 10000000, 'I', CAST(ROUND(o_totalprice * 100) AS BIGINT)
  FROM orders WHERE o_orderkey % 113 = 0
),
merged AS (
  SELECT COALESCE(b.k, c.k) AS k,
         CASE WHEN c.op IN ('U', 'I') THEN c.cents ELSE b.cents END AS cents
  FROM base b FULL OUTER JOIN changes c ON b.k = c.k
  WHERE c.op IS NULL OR c.op != 'D'
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(SUM(CASE WHEN k >= 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
FROM merged
""",
)
def q_cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (CDC apply: upsert + delete) as its relational core
    (operators/joins.merge_upsert) — the write path a Delta/Iceberg
    MERGE runs under the hood, gated without needing a table format in
    the container. A deterministic change feed is derived from orders
    (every-97th key deleted, every-10th updated +1000.00, every-113th
    re-inserted under a shifted key) and applied to the base through
    ONE full-outer equi-join on the key: unmatched base rows pass,
    'I' rows append, matched rows resolve by op. 100 TB posture: both
    sides hash-partition once on the key (zero-Exchange when the base
    is bucketed, write_bucketed), and a real table rewrite is bounded
    by touched partitions under dynamic partition overwrite. The gate
    hashes the merged table's digest (row count, total cents, inserted
    count) so a dropped delete, double-applied update, or lost base
    row flips it."""
    from bigdata_invoice_stream_analysis_spark.operators.joins import merge_upsert

    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = o.select(F.col("o_orderkey").alias("k"), cents.alias("cents"))
    upd = o.filter(
        (F.col("o_orderkey") % 97 == 0) | (F.col("o_orderkey") % 10 == 0)
    ).select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        (cents + 100000).alias("cents"),
    )
    ins = o.filter(F.col("o_orderkey") % 113 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("k"),
        F.lit("I").alias("op"),
        cents.alias("cents"),
    )
    merged = merge_upsert(base, upd.unionByName(ins), key="k")
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").alias("total_cents"),
        F.sum((F.col("k") >= 10_000_000).cast("long")).alias("n_inserted"),
    )


@query(
    "compaction_bin_packing",
    oracle="""
WITH files AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(24 + length(event_type)) AS BIGINT) AS bytes
  FROM events GROUP BY 1
),
planned AS (
  SELECT d, bytes,
         (SUM(bytes) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) - bytes) // 100000 AS bin
  FROM files
)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       strftime(MIN(d), '%Y-%m-%d') AS first_day,
       strftime(MAX(d), '%Y-%m-%d') AS last_day
FROM planned GROUP BY 1
""",
)
def q_compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning — the lakehouse maintenance job
    that bin-packs per-partition file groups into ~target-size rewrite
    tasks (the OPTIMIZE/compact planner of a table format, as plain
    relational ops): per-day byte totals (a deterministic per-row size
    model over the events payload) are packed next-fit by running
    cumulative size, bin = floor(bytes_before / target). Plan shape:
    one day-keyed partial-agg shuffle over the DATA, then the ordered
    window runs on the FILE-LEVEL aggregate only — metadata-scale rows
    (days × partitions), which is why a single ordered pass is fine
    here and never on raw rows. Adjacent days land in the same rewrite
    task, preserving time-locality for range pruning after compaction.
    Integer bytes end-to-end, so the packing is bit-identical across
    engines."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    files = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.lit(24) + F.length("event_type")).cast("long").alias("bytes")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    planned = files.withColumn(
        "bin",
        ((F.sum("bytes").over(w) - F.col("bytes")) / F.lit(100000)).cast("long"),
    )
    return planned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").alias("total_bytes"),
        F.date_format(F.min("d"), "yyyy-MM-dd").alias("first_day"),
        F.date_format(F.max("d"), "yyyy-MM-dd").alias("last_day"),
    )


@query(
    "equidepth_value_bins",
    oracle="""
WITH vals AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
bnds AS (
  SELECT quantile_cont(cents, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
  FROM vals
),
binned AS (
  SELECT cents,
         1 + list_sum(list_transform(bs, b -> CASE WHEN cents > b THEN 1 ELSE 0 END))
           AS bucket
  FROM vals CROSS JOIN bnds
)
SELECT CAST(bucket AS INT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(cents) AS BIGINT) AS min_cents,
       CAST(MAX(cents) AS BIGINT) AS max_cents,
       CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM binned GROUP BY 1
""",
)
def q_equidepth_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) feature binning WITHOUT a global sort — the
    training-feature discretization step, in the two-phase shape that
    scales: (1) ONE aggregate computes the 9 decile boundaries over
    integer cents (single per-group percentile buffer), (2) the 9
    doubles are collected — a sanctioned driver pull of the
    codebook/centroid size class — and folded back as literals, so
    every row buckets itself map-side (count of boundaries strictly
    below its value; ties at a boundary deterministically stay in the
    lower bucket). Compare ntile(): identical assignment but a
    single-partition global sort of every row. The oracle computes the
    same boundaries inline (quantile_cont shares Spark's h=(n-1)·q
    interpolation on identical integer inputs ⇒ identical doubles) and
    buckets identically, so boundary drift or a tie-break difference
    flips the hash."""
    o = load_table(spark, sf_dir, "orders")
    vals = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    qs = [i / 10 for i in range(1, 10)]
    bnds = vals.agg(
        F.expr(
            f"percentile(cents, array({', '.join(f'{q}D' for q in qs)}))"
        ).alias("bs")
    ).first()["bs"]
    bucket = (
        sum((F.col("cents") > F.lit(float(b))).cast("int") for b in bnds) + 1
    ).alias("bucket")
    return vals.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
        F.sum("cents").alias("sum_cents"),
    )


# ---------------------------------------------------------------------------
# Q: sliding event-time window (W1 semantics, batch twin)
# ---------------------------------------------------------------------------

@query(
    "sliding_window_errors",
    oracle="""
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(window_start + INTERVAL 8 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM (
  SELECT time_bucket(INTERVAL 1 MINUTE, ts) - k * INTERVAL 1 MINUTE AS window_start,
         user_id
  FROM events, generate_series(0, 7) AS t(k)
  WHERE event_type = 'error'
)
GROUP BY window_start
""",
)
def q_sliding_window_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — 8-minute/1-minute sliding-window count of distinct erroring
    users (the batch twin of streaming.pipeline.cancellation_counts; the
    reference's reduceByKeyAndWindow, InvoicePipeline.scala:72-79).
    F.window explodes each event into its 8 covering windows BEFORE the
    grouping shuffle — at scale, pre-filtering to the rare event type
    keeps the 8× row expansion off the main stream."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    w = F.window("ts", "8 minutes", "1 minute")
    return (
        ev.groupBy(w.alias("w"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "n_users",
        )
    )


# ---------------------------------------------------------------------------
# Q: relational surface beyond the reference (joins / rollup / sessions).
# The reference has no joins, set ops, or SQL window functions
# (SURVEY.md §2.7-2.9); a drop-in engine still needs them, and at scale
# their physical strategy (broadcast vs shuffle, single-shuffle
# sessionization) is what the plan is graded on.
# ---------------------------------------------------------------------------

@query(
    "nation_revenue",
    oracle="""
SELECT r.r_name AS region_name, n.n_name AS nation_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
""",
)
def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact (orders) ⋈ customer ⋈ nation ⋈ region with
    revenue per nation. Physical strategy by size class: nation/region
    are tiny → explicit broadcast (no shuffle ever); customer is the
    mid dim → AQE broadcasts it below the threshold, shuffles on
    custkey above (at 100 TB: bucket orders+customer on custkey for a
    zero-shuffle join). Revenue sums exact integer cents (see
    q_invoice_features note)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), F.col("n_regionkey") == r.r_regionkey
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.join(dim, o.o_custkey == dim.c_custkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(cents).alias("sum_cents"),
        )
        .select(
            "region_name",
            "nation_name",
            "n_orders",
            (F.col("sum_cents") / F.lit(100.0)).alias("revenue"),
        )
    )


@query(
    "order_priority_rollup",
    oracle="""
SELECT o_orderstatus AS order_status, o_orderpriority AS order_priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS revenue
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def q_order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (status → priority → grand total) in one
    pass: Catalyst expands the grouping sets map-side, so the plan is a
    single partial+final hash aggregate — no per-level rescan of the
    fact table, which is the property that matters at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.rollup(
            F.col("o_orderstatus").alias("order_status"),
            F.col("o_orderpriority").alias("order_priority"),
        )
        .agg(F.count("*").alias("n_orders"), F.sum(cents).alias("sum_cents"))
        .select(
            "order_status",
            "order_priority",
            "n_orders",
            (F.col("sum_cents") / F.lit(100.0)).alias("revenue"),
        )
    )


@query(
    "pricing_summary",
    oracle="""
SELECT l_returnflag AS return_flag, l_linestatus AS line_status,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_base_price,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0
         AS sum_disc_price,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                * (100 + CAST(ROUND(l_tax * 100) AS BIGINT))) AS BIGINT) / 1000000.0
         AS sum_charge,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) / (1.0 * COUNT(*)) AS avg_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         / (100.0 * COUNT(*)) AS avg_price,
       CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT)
         / (100.0 * COUNT(*)) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY 1, 2
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem: the canonical
    scan-heavy aggregate. The shipdate predicate reaches the parquet
    scan (PushedFilters + row-group stats pruning); the aggregate is
    partial+final hash agg over a 6-value group-key universe, so the
    shuffle carries one row per (flag, status) per map task regardless
    of input size. All money math in exact integer cents (×100 per
    discount/tax factor) — see q_invoice_features' determinism note."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    tax = F.round(F.col("l_tax") * 100).cast("long")
    agg = li.groupBy(
        F.col("l_returnflag").alias("return_flag"),
        F.col("l_linestatus").alias("line_status"),
    ).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(cents).alias("sum_base_c"),
        F.sum(cents * (100 - disc)).alias("sum_disc_c"),
        F.sum(cents * (100 - disc) * (100 + tax)).alias("sum_charge_c"),
        F.sum(disc).alias("sum_disc_pct"),
        F.count("*").alias("count_order"),
    )
    return agg.select(
        "return_flag",
        "line_status",
        "sum_qty",
        (F.col("sum_base_c") / F.lit(100.0)).alias("sum_base_price"),
        (F.col("sum_disc_c") / F.lit(10000.0)).alias("sum_disc_price"),
        (F.col("sum_charge_c") / F.lit(1000000.0)).alias("sum_charge"),
        (F.col("sum_qty") / (F.lit(1.0) * F.col("count_order"))).alias("avg_qty"),
        (F.col("sum_base_c") / (F.lit(100.0) * F.col("count_order"))).alias("avg_price"),
        (F.col("sum_disc_pct") / (F.lit(100.0) * F.col("count_order"))).alias("avg_disc"),
        "count_order",
    )


@query(
    "top_suppliers",
    oracle="""
SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name, n.n_name AS nation_name,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2, 3
ORDER BY revenue DESC, suppkey ASC
LIMIT 10
""",
)
def q_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 suppliers by discounted revenue: fact ⋈ broadcast dims →
    agg → TakeOrderedAndProject (no global sort; each partition keeps
    its local top-10, the driver merges). Deterministic tie-break on
    suppkey. At 100 TB the supplier dim may exceed the broadcast
    threshold — then AQE falls back to a shuffle join keyed on suppkey
    and the agg reuses that partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    joined = li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey).join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    )
    agg = joined.groupBy(
        F.col("s_suppkey").alias("suppkey"),
        F.col("s_name").alias("supp_name"),
        F.col("n_name").alias("nation_name"),
    ).agg(
        F.sum(cents * (100 - disc)).alias("rev_c"),
        F.count("*").alias("n_lines"),
    )
    return (
        agg.select(
            "suppkey",
            "supp_name",
            "nation_name",
            (F.col("rev_c") / F.lit(10000.0)).alias("revenue"),
            "n_lines",
        )
        .orderBy(F.desc("revenue"), F.asc("suppkey"))
        .limit(10)
    )


@query(
    "price_percentiles",
    oracle="""
SELECT l_returnflag AS return_flag,
       quantile_cont(l_extendedprice, 0.5) AS p50,
       quantile_cont(l_extendedprice, 0.9) AS p90,
       quantile_cont(l_extendedprice, 0.99) AS p99,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
GROUP BY 1
""",
)
def q_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of line price per return flag —
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    h = (n-1)·q linear-interpolation definition, so the doubles agree.
    Scale caveat (in-plan, deliberate): exact percentile buffers each
    group's values — fine for bounded groups; the 100 TB path for
    high-cardinality groups is ``percentile_approx`` (t-digest sketch,
    mergeable map-side like the HLL in approx_distinct_users)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_returnflag").alias("return_flag")).agg(
        F.percentile("l_extendedprice", 0.5).alias("p50"),
        F.percentile("l_extendedprice", 0.9).alias("p90"),
        F.percentile("l_extendedprice", 0.99).alias("p99"),
        F.count("*").alias("n_lines"),
    )


@query(
    "segment_order_gap",
    oracle="""
SELECT c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_without_orders
FROM customer c
LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
  ON c.c_custkey = o.o_custkey
GROUP BY 1
""",
)
def q_segment_order_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join surface: per market segment, how many customers never
    ordered. Spark plans the NOT-EXISTS as a LEFT ANTI hash join —
    semi/anti joins ship only the join key, no payload shuffle. The
    distinct on orders runs as a partial+final agg before the join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey").dropDuplicates()
    missing = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count("*").alias("n_without_orders"))
    )
    totals = c.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_customers")
    )
    return (
        totals.join(missing, "segment", "left")
        .select(
            "segment",
            "n_customers",
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


@query(
    "unordered_parts",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(MIN(p_partkey) AS BIGINT) AS min_partkey,
       CAST(MAX(p_partkey) AS BIGINT) AS max_partkey
FROM (
  SELECT p_partkey FROM part
  EXCEPT
  SELECT l_partkey FROM lineitem
)
""",
)
def q_unordered_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface (§2.8): part keys never ordered, via
    EXCEPT (distinct). Catalyst rewrites except into a left-anti join
    on the whole row — same physical shape as the anti join above, so
    it scales identically (key-only shuffle)."""
    p = load_table(spark, sf_dir, "part").select(F.col("p_partkey"))
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey")
    )
    gone = p.subtract(li)  # EXCEPT (distinct)
    return gone.agg(
        F.count("*").alias("n_parts"),
        F.min("p_partkey").alias("min_partkey"),
        F.max("p_partkey").alias("max_partkey"),
    )


SESSION_GAP_SEC = 14400  # 4 h: per-user inter-event gaps in the test data average hours


@query(
    "user_sessions",
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
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM brk
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM sess
GROUP BY user_id, session_no
""",
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization — the batch twin of a streaming
    session_window. SQL window functions (lag + running sum) assign
    session numbers with ONE shuffle on user_id; the per-session
    aggregate reuses that partitioning, so Catalyst plans zero
    additional exchanges. At 100 TB this stays a single hash
    repartition of the event stream; skewed power users are the risk
    (salting or session_window's native state store on the streaming
    path)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    secs = F.col("ts").cast("long")
    gap = secs - F.lag(secs).over(w)
    is_new = F.when(gap.isNull() | (gap > SESSION_GAP_SEC), 1).otherwise(0)
    sess = ev.select(
        "user_id",
        "ts",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("session_no"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        (F.max(secs) - F.min(secs)).alias("duration_sec"),
        F.count("*").alias("n_events"),
    ).select("user_id", "session_no", "session_start", "duration_sec", "n_events")


# ---------------------------------------------------------------------------
# Q: anomaly scoring (M3/M4) — literal centroids, fully oracle-checked
# ---------------------------------------------------------------------------

# Two fixed centroids in feature space (avg, min, max price / time /
# items) — representative of the sf-series invoice distribution; values
# are plan literals in BOTH engines, so the distance math is the operator
# under test, not the model fit (kmeans_anomalies below covers the fit).
SCORING_CENTROIDS = [
    [3000.0, 1000.0, 8000.0, 12.0, 100.0],
    [15000.0, 5000.0, 40000.0, 12.0, 120.0],
]
SCORING_THRESHOLD = 4.0e9

_FEATURE_ALIASES = [
    "avg_unit_price", "min_unit_price", "max_unit_price", "time", "number_items",
]


def _sql_sqdist(center: list[float], cols: list[str] | None = None) -> str:
    """DuckDB squared distance to a literal centroid over aliases of
    relation ``f`` — explicit multiplications (bit-identical across
    engines, unlike POWER) with the left-fold parenthesization the
    Spark twin uses. ONE body for every centroid-scoring oracle
    (centroid_anomalies, the streaming scoring gate, the composed
    pipeline gate), so an exactness fix cannot leave a copy stale."""
    terms = [
        f"(f.{c} - {v!r}) * (f.{c} - {v!r})"
        for c, v in zip(cols or _FEATURE_ALIASES, center)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} + {t})"
    return out


@query(
    "centroid_anomalies",
    oracle=f"""
WITH {PURCHASE_CTE}, feats AS ({FEATS_SELECT})
SELECT invoice_no,
       CASE WHEN {_sql_sqdist(SCORING_CENTROIDS[0])} <= {_sql_sqdist(SCORING_CENTROIDS[1])}
            THEN 0 ELSE 1 END AS prediction,
       ROUND(LEAST({_sql_sqdist(SCORING_CENTROIDS[0])}, {_sql_sqdist(SCORING_CENTROIDS[1])}), -3) AS dist,
       LEAST({_sql_sqdist(SCORING_CENTROIDS[0])}, {_sql_sqdist(SCORING_CENTROIDS[1])})
         > {SCORING_THRESHOLD!r} AS is_anomaly
FROM feats f
""",
)
def q_centroid_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 + M4 — nearest-centroid assignment, squared distance, and
    threshold flag (InvoicePipeline.scala:206-236) with plan-literal
    centroids: the per-row math runs inside WholeStageCodegen, no join,
    no shuffle beyond the upstream feature aggregation."""
    from bigdata_invoice_stream_analysis_spark.streaming.scoring import score_with_centroids

    feats = QUERIES["invoice_features"](spark, sf_dir)
    scored = score_with_centroids(feats, SCORING_CENTROIDS, _FEATURE_ALIASES)
    return scored.select(
        "invoice_no",
        "prediction",
        # dist ≈ 1e9; round to the nearest 1000 (6 significant digits)
        # — the engines' doubles can differ in the last ulp (FMA
        # contraction), and a coarse grid makes a boundary hit ~1e-8.
        F.round(F.col("dist"), -3).alias("dist"),
        (F.col("dist") > F.lit(SCORING_THRESHOLD)).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Q: trained-model anomaly pipeline (M1 + A5/A6 + T1 + M3/M4) — rows-only
# ---------------------------------------------------------------------------

@query("kmeans_anomalies")  # no oracle: iterative MLlib fit (driver rows-only check)
def q_kmeans_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full batch-train → score pipeline (train.scala):
    featurize → KMeans(k=4, seeded) → threshold = 2000th-largest squared
    distance (T1) → anomalous invoices. Not SQL-expressible (iterative
    fit), so the driver records the weaker rows+schema check; the
    distance/threshold math itself is oracle-gated via
    centroid_anomalies and topk_threshold."""
    from bigdata_invoice_stream_analysis_spark.ml import anomaly
    from bigdata_invoice_stream_analysis_spark.ml.train import assemble_features, train_sweep

    from bigdata_invoice_stream_analysis_spark.cache import scoped_cache

    feats = QUERIES["invoice_features"](spark, sf_dir).withColumnsRenamed(
        dict(zip(_FEATURE_ALIASES, ["AvgUnitPrice", "MinUnitPrice", "MaxUnitPrice", "Time", "NumberItems"]))
    )
    vecs = scoped_cache(assemble_features(feats))
    model = train_sweep(vecs, algo="kmeans", ks=[4], seed=42, max_iter=10)[0].model
    # Score ONCE and reuse: the threshold (kth-largest dist) and the
    # anomaly filter read the same scored frame instead of re-running
    # model.transform + sqdist over the input twice.
    scored = scoped_cache(anomaly.score(vecs, model))
    threshold = kth_largest(scored, "dist", anomaly.THRESHOLD_RANK) or 0.0
    out = scored.filter(F.col("dist") > threshold)
    return out.select(
        "invoice_no",
        F.col("prediction").cast("int").alias("prediction"),
        F.col("dist").cast("double").alias("dist"),
    )


@query("bisecting_anomalies")  # no oracle: iterative MLlib fit (rows-only check)
def q_bisecting_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 — the A/B twin of kmeans_anomalies with BisectingKMeans
    (trainBisecting.scala): same featurize → fit(k=4) → top-2000
    threshold → anomaly pipeline, different clusterer. The reference
    ran both models side by side on the stream
    (anomalias_bisect_kmeans, InvoicePipeline.scala:144-148)."""
    from bigdata_invoice_stream_analysis_spark.ml import anomaly
    from bigdata_invoice_stream_analysis_spark.ml.train import assemble_features, train_sweep

    from bigdata_invoice_stream_analysis_spark.cache import scoped_cache

    feats = QUERIES["invoice_features"](spark, sf_dir).withColumnsRenamed(
        dict(zip(_FEATURE_ALIASES, ["AvgUnitPrice", "MinUnitPrice", "MaxUnitPrice", "Time", "NumberItems"]))
    )
    vecs = scoped_cache(assemble_features(feats))
    model = train_sweep(vecs, algo="bisecting", ks=[4], seed=42, max_iter=10)[0].model
    # Single scoring pass shared by threshold + filter (see
    # q_kmeans_anomalies).
    scored = scoped_cache(anomaly.score(vecs, model))
    threshold = kth_largest(scored, "dist", anomaly.THRESHOLD_RANK) or 0.0
    out = scored.filter(F.col("dist") > threshold)
    return out.select(
        "invoice_no",
        F.col("prediction").cast("int").alias("prediction"),
        F.col("dist").cast("double").alias("dist"),
    )


@query("kmeans_elbow_sweep")  # no oracle: iterative fits (rows-only check)
def q_kmeans_elbow_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 + A6 — the model-selection cost loop and elbow pick
    (train.scala:55-66, Clustering.scala:125-136, off-by-one fixed):
    one row per swept k with its WSSSE and whether the elbow chose it."""
    from bigdata_invoice_stream_analysis_spark.ml.train import (
        assemble_features,
        select_model,
        train_sweep,
    )

    feats = QUERIES["invoice_features"](spark, sf_dir).withColumnsRenamed(
        dict(zip(_FEATURE_ALIASES, ["AvgUnitPrice", "MinUnitPrice", "MaxUnitPrice", "Time", "NumberItems"]))
    )
    vecs = assemble_features(feats).cache()
    sweep = train_sweep(vecs, algo="kmeans", ks=range(2, 7), seed=42, max_iter=10)
    best = select_model(sweep)
    vecs.unpersist()
    return spark.createDataFrame(
        [(r.k, float(r.cost), r.k == best.k) for r in sweep],
        "k int, cost double, selected boolean",
    )


# Synthetic cost curves covering every branch of the A6 elbow rule
# (Clustering.scala:125-136, off-by-one fixed — ml/train.elbow_selection):
# sharp elbow mid-curve, no elbow (monotone halving → last k), degenerate
# zero cost (perfect fit → previous k), immediate plateau (first step
# already flat → first k), and a late elbow. Integer-valued costs with
# ratios far from the 0.7 threshold so `cost/prev > 0.7` (Python),
# `cost > 0.7*prev` (Spark/DuckDB) agree bit-for-bit.
ELBOW_CURVES: list[tuple[str, list[tuple[int, int]]]] = [
    ("sharp4", [(2, 3200), (3, 1600), (4, 800), (5, 780), (6, 770), (7, 760)]),
    ("noelbow", [(2, 3200), (3, 1600), (4, 800), (5, 400), (6, 200)]),
    ("degenerate", [(2, 100), (3, 0), (4, 0)]),
    ("immediate", [(2, 1000), (3, 950), (4, 900), (5, 850)]),
    ("late5", [(2, 1000), (3, 500), (4, 250), (5, 125), (6, 120), (7, 115)]),
]

_ELBOW_VALUES_SQL = ", ".join(
    f"('{cid}', {k}, {c})" for cid, pts in ELBOW_CURVES for k, c in pts
)


@query(
    "elbow_selection_table",
    oracle=f"""
WITH curve(curve_id, k, cost) AS (VALUES {_ELBOW_VALUES_SQL}),
seq AS (
  SELECT curve_id, k, CAST(cost AS DOUBLE) AS cost,
         ROW_NUMBER() OVER (PARTITION BY curve_id ORDER BY k) AS i,
         LAG(CAST(cost AS DOUBLE)) OVER (PARTITION BY curve_id ORDER BY k) AS prev
  FROM curve
),
bad AS (
  SELECT curve_id, MIN(i) AS bad_i
  FROM seq WHERE i >= 2 AND (prev = 0 OR cost > 0.7 * prev)
  GROUP BY curve_id
),
n AS (SELECT curve_id, MAX(i) AS n_points FROM seq GROUP BY curve_id)
SELECT s.curve_id AS curve_id,
       CAST(s.k AS INT) AS chosen_k,
       CAST(n.n_points AS INT) AS n_points,
       TRUE AS python_agrees
FROM seq s
JOIN n USING (curve_id)
LEFT JOIN bad USING (curve_id)
WHERE s.i = COALESCE(bad.bad_i - 1, n.n_points)
""",
)
def q_elbow_selection_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6's elbow rule under a real driver oracle, without the iterative
    fit that keeps the kmeans trio rows-only: the rule itself is pure
    arithmetic over a (curve, k, cost) table, so it IS SQL-expressible.
    The Spark side runs the rule as window expressions (lag ratio →
    first flat step → chosen k, one curve-keyed window shuffle — the
    distributed form that would select k per entity for thousands of
    per-segment sweeps at scale); ``python_agrees`` compares that
    chosen k against ml/train.elbow_selection — the actual function
    kmeans_elbow_sweep uses — evaluated driver-side on the same literal
    curves, so the production selection logic carries a hash-gated
    driver row."""
    from pyspark.sql.window import Window

    from bigdata_invoice_stream_analysis_spark.ml.train import elbow_selection

    rows = [(cid, k, float(c)) for cid, pts in ELBOW_CURVES for k, c in pts]
    curve = spark.createDataFrame(rows, "curve_id string, k int, cost double")
    w = Window.partitionBy("curve_id").orderBy("k")
    seq = curve.select(
        "curve_id", "k", "cost",
        F.row_number().over(w).alias("i"),
        F.lag("cost").over(w).alias("prev"),
    )
    bad = (
        seq.filter(
            (F.col("i") >= 2)
            & ((F.col("prev") == 0) | (F.col("cost") > 0.7 * F.col("prev")))
        )
        .groupBy("curve_id")
        .agg(F.min("i").alias("bad_i"))
    )
    n = seq.groupBy("curve_id").agg(F.max("i").alias("n_points"))
    picked = (
        seq.join(n, "curve_id")
        .join(bad, "curve_id", "left")
        .filter(F.col("i") == F.coalesce(F.col("bad_i") - 1, F.col("n_points")))
    )
    # the production rule, evaluated on the same curves: chosen k per id
    expected = {
        cid: pts[elbow_selection([float(c) for _, c in pts])][0]
        for cid, pts in ELBOW_CURVES
    }
    agree = F.create_map(
        *[F.lit(x) for kv in expected.items() for x in kv]
    )[F.col("curve_id")] == F.col("k")
    return picked.select(
        "curve_id",
        F.col("k").cast("int").alias("chosen_k"),
        F.col("n_points").cast("int").alias("n_points"),
        agree.alias("python_agrees"),
    )


def _run_drain(
    spark: SparkSession,
    writer,
    timeout: int = 300,
    partitions: int | None = None,
) -> None:
    """Start a streaming writer and block until its availableNow drain
    finishes, with ``partitions`` state partitions (default: the
    streaming.runtime.state_partitions JVM-state rule for one query)."""
    n = partitions or runtime.state_partitions(spark)
    with runtime.shuffle_partitions(spark, n):
        q = writer.start()
        if not q.awaitTermination(timeout):
            q.stop()
            raise TimeoutError(
                f"streaming drain did not finish within {timeout}s"
            )


# POSITIVE drain-gate classification (r10 ADVICE: bench.py used to
# infer gate-ness by substring-scanning builder sources for the diet
# hook, which silently misclassified the two full-pipeline twins when
# they called it through a shared helper — r9's measurement fix). The
# checked-in set is the single source of truth bench.py reads;
# tests/test_bench_gates.py recomputes the transitive source scan and
# fails on any drift, so a new gate (or a refactor through another
# helper) shows up as a test failure instead of a silent
# misclassification into the wrong timing protocol.
DRAIN_GATES: frozenset[str] = frozenset({
    "streaming_centroid_anomalies",
    "streaming_content_triage",
    "streaming_custom_state",
    "streaming_dedup_fingerprints",
    "streaming_error_purchase_join",
    "streaming_error_windows",
    "streaming_full_pipeline",
    "streaming_full_pipeline_router",
    "streaming_heavy_hitters",
    "streaming_hll_users",
    "streaming_pii_monitor",
    "streaming_release_monitor",
    "streaming_sessions",
    "streaming_state_list_map",
    "streaming_state_timers",
    "streaming_state_ttl",
    "streaming_state_v2",
    "streaming_user_totals",
    "streaming_value_percentiles",
})


def _drain_input_diet(stream: DataFrame) -> DataFrame:
    """BENCH-ONLY input diet for the streaming drain gates: when
    SPARK_GRAFT_DRAIN_KEEP_1_IN=k (>1) is set — bench.py sets 8 in its
    own process — keep a deterministic 1-in-k hash sample of the input
    rows (first column, stable across runs/sides). The driver's
    correctness run and tests/test_oracle_parity NEVER set the env
    var, so the graded plan-vs-oracle comparison always drains the
    full corpus; the diet exists solely so the per-round bench doesn't
    re-time the identical state-store machinery on 7 full replays
    (measured r02: ~25 s of the 175 s bench total)."""
    keep = int(os.environ.get("SPARK_GRAFT_DRAIN_KEEP_1_IN", "1") or "1")
    if keep <= 1:
        return stream
    return stream.filter(
        F.pmod(F.xxhash64(F.col(stream.columns[0])), F.lit(keep)) == 0
    )

# ---------------------------------------------------------------------------
# Family registration. Each module self-registers via @query on import;
# order is layout only (__spark_entry__.GRADED_50 owns the driver grading
# window). pipelines must come after extensions (it reuses its
# augmented-corpus CTEs); the rest are independent.
# ---------------------------------------------------------------------------
from bigdata_invoice_stream_analysis_spark.plans import extensions  # noqa: E402,F401
from bigdata_invoice_stream_analysis_spark.plans import mediaops  # noqa: E402,F401
from bigdata_invoice_stream_analysis_spark.plans import webcorpus  # noqa: E402,F401
from bigdata_invoice_stream_analysis_spark.plans import ingestion  # noqa: E402,F401
from bigdata_invoice_stream_analysis_spark.plans import relational  # noqa: E402,F401
from bigdata_invoice_stream_analysis_spark.plans import warehouse  # noqa: E402,F401
from bigdata_invoice_stream_analysis_spark.plans import eventlog  # noqa: E402,F401
from bigdata_invoice_stream_analysis_spark.plans import drains  # noqa: E402,F401
from bigdata_invoice_stream_analysis_spark.plans import pipelines  # noqa: E402,F401
# staged comes last: its 23 late-registered rows close queries()
from bigdata_invoice_stream_analysis_spark.plans import staged  # noqa: E402,F401
