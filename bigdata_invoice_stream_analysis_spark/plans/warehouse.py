"""Classic warehouse reporting shapes (TPC-H Q2-Q22 adapted to the driver star schema) plus lakehouse table-maintenance gates (SCD2, z-order, skew/outlier profiles).

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

# Q: classic warehouse reporting shapes (TPC-H Q3/Q8/Q10/Q14/Q19 adapted
# to the driver star schema) — the multi-join + selective-predicate
# surface a reference user runs daily. All money math in exact integer
# 1e-4 dollars (see q_pricing_summary) for hash stability.
# ---------------------------------------------------------------------------

@query(
    "shipping_priority",
    oracle="""
SELECT CAST(l.l_orderkey AS BIGINT) AS order_key,
       ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
             / 10000.0, 6) AS revenue,
       o.o_orderdate AS order_date,
       o.o_orderpriority AS priority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY 1, 3, 4
ORDER BY SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) DESC,
         order_key
LIMIT 10
""",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-revenue top-10 for one market segment.
    Plan shape that matters at 100 TB: the segment filter cuts customer
    ~5× BEFORE the join and broadcasts (dim-side reduction first); the
    date predicates push into both parquet scans (min/max row-group
    skipping on o_orderdate / l_shipdate); the top-10 runs as
    TakeOrderedAndProject after partial aggregation — no global sort of
    the aggregate ever materializes. Ties broken by order key."""
    cutoff = F.lit("1998-01-01").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    rev_e4 = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("order_key"),
            F.col("o_orderdate").alias("order_date"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(rev_e4.alias("rev_e4"))
        .orderBy(F.col("rev_e4").desc(), F.col("order_key"))
        .limit(10)
        .select(
            "order_key",
            r6(F.col("rev_e4") / 10000.0).alias("revenue"),
            "order_date",
            "priority",
        )
    )


@query(
    "promo_revenue_share",
    oracle="""
SELECT CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS ship_year,
       ROUND(SUM(CASE WHEN p.p_type = 'PROMO'
                      THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                           * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))
                      ELSE 0 END) / 10000.0, 6) AS promo_revenue,
       ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
             / 10000.0, 6) AS total_revenue,
       ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                                   * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))
                              ELSE 0 END)
             / SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))), 6)
         AS promo_pct
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1
""",
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape per ship-year: promotional revenue share via
    conditional aggregation. One broadcast join (part is the small dim)
    and one hash agg on the 7-value year key — the promo/total split is
    two parallel aggregate expressions over the same pass, NOT two
    scans. The percentage divides the two exact integer sums once per
    output row (7 rows), so float noise cannot accumulate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    line_e4 = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    promo_e4 = F.when(F.col("p_type") == "PROMO", line_e4).otherwise(F.lit(0))
    agg = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(promo_e4).alias("promo_e4"),
            F.sum(line_e4).alias("total_e4"),
        )
    )
    return agg.select(
        "ship_year",
        r6(F.col("promo_e4") / 10000.0).alias("promo_revenue"),
        r6(F.col("total_e4") / 10000.0).alias("total_revenue"),
        r6(F.lit(100.0) * F.col("promo_e4") / F.col("total_e4")).alias("promo_pct"),
    )


@query(
    "returned_items",
    oracle="""
SELECT CAST(c.c_custkey AS BIGINT) AS cust_key,
       c.c_name AS cust_name,
       n.n_name AS nation_name,
       ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
             / 10000.0, 6) AS returned_revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
             * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) DESC,
         cust_key
LIMIT 20
""",
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-merchandise
    revenue. The returnflag filter pushes to the lineitem scan
    (dictionary-encoded column → cheap row-group skip), the fact-fact
    join shuffles on orderkey, and customer/nation broadcast. Aggregate
    keyed on custkey (+functionally-dependent name/nation carried in
    the key) then TakeOrderedAndProject(20) — the full customer ranking
    never sorts globally. Ties broken by cust_key."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    rev_e4 = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("cust_key"),
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(rev_e4.alias("rev_e4"), F.count(F.lit(1)).alias("n_lines"))
        .orderBy(F.col("rev_e4").desc(), F.col("cust_key"))
        .limit(20)
        .select(
            "cust_key",
            "cust_name",
            "nation_name",
            r6(F.col("rev_e4") / 10000.0).alias("returned_revenue"),
            "n_lines",
        )
    )


@query(
    "nation_market_share",
    oracle="""
SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS order_year,
       ROUND(SUM(CASE WHEN ns.n_name = 'NATION_3'
                      THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                           * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))
                      ELSE 0 END) / 10000.0, 6) AS nation_revenue,
       ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
             / 10000.0, 6) AS total_revenue,
       ROUND(CAST(SUM(CASE WHEN ns.n_name = 'NATION_3'
                           THEN CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                                * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))
                           ELSE 0 END) AS DOUBLE)
             / SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))), 6)
         AS mkt_share
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
JOIN region r ON nc.n_regionkey = r.r_regionkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
WHERE r.r_name = 'EUROPE'
GROUP BY 1
""",
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3 suppliers' share of the EUROPE customer
    market per order year. Six-way join where every dim side
    (customer, nation×2 roles, region, supplier) broadcasts — the only
    shuffle in the whole plan is the lineitem⋈orders fact join plus the
    7-key year agg. The region filter prunes the customer-side nation
    broadcast BEFORE it ships. The share is a conditional/total pair of
    exact integer sums divided once per output row (same discipline as
    promo_revenue_share)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nc = load_table(spark, sf_dir, "nation").alias("nc")
    ns = load_table(spark, sf_dir, "nation").alias("ns")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    s = load_table(spark, sf_dir, "supplier")
    line_e4 = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    nation_e4 = F.when(F.col("ns.n_name") == "NATION_3", line_e4).otherwise(F.lit(0))
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc.n_nationkey"))
        .join(F.broadcast(r), F.col("nc.n_regionkey") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns.n_nationkey"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(F.sum(nation_e4).alias("nation_e4"), F.sum(line_e4).alias("total_e4"))
    )
    return agg.select(
        "order_year",
        r6(F.col("nation_e4") / 10000.0).alias("nation_revenue"),
        r6(F.col("total_e4") / 10000.0).alias("total_revenue"),
        r6(F.col("nation_e4").cast("double") / F.col("total_e4")).alias("mkt_share"),
    )


@query(
    "brand_band_revenue",
    oracle="""
SELECT CAST(CASE WHEN p.p_brand = 'Brand#1' THEN 1
                 WHEN p.p_brand = 'Brand#2' THEN 2
                 ELSE 3 END AS INT) AS band,
       ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
             / 10000.0, 6) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10 AND 40)
   OR (p.p_brand = 'Brand#9' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20 AND 50)
GROUP BY 1
""",
)
def q_brand_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of brand/size/quantity
    band predicates. The disjunction mixes dim-side (brand, size) and
    fact-side (quantity) conditions; Catalyst splits what it can —
    the derivable dim-only disjunction (brand ∈ {1,2,9}) prunes the
    broadcast build side, and the quantity bounds
    (l_quantity BETWEEN 1 AND 50, the union of the bands) push to the
    fact scan, leaving the exact OR as a post-join filter. Grouped by
    matched band so the result exposes per-band contribution."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    band_pred = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30)
           & F.col("l_quantity").between(10, 40))
        | ((F.col("p_brand") == "Brand#9") & F.col("p_size").between(20, 50)
           & F.col("l_quantity").between(20, 50))
    )
    line_e4 = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    band = (
        F.when(F.col("p_brand") == "Brand#1", 1)
        .when(F.col("p_brand") == "Brand#2", 2)
        .otherwise(3)
        .cast("int")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(band_pred)
        .groupBy(band.alias("band"))
        .agg(
            r6(F.sum(line_e4) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q: second batch of classic warehouse shapes (TPC-H Q2/Q4/Q5/Q7/Q9/Q13/
# Q16/Q17/Q18/Q21/Q22 adapted to the driver star schema — no partsupp /
# commitdate columns exist, so each query keeps the SHAPE that matters
# at scale: correlated mins, EXISTS rewrites, same-key co-location,
# aggregate-rewritten anti-joins). Money stays in exact integer cents /
# 1e-4 dollars (q_pricing_summary convention).
# ---------------------------------------------------------------------------

@query(
    "min_cost_supplier",
    oracle="""
WITH unit AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(ROUND(l_extendedprice * 100 / l_quantity) AS BIGINT))
           AS unit_cents
  FROM lineitem GROUP BY 1, 2
),
best AS (
  SELECT l_partkey AS part_key,
         MIN({'uc': unit_cents, 'sk': l_suppkey}) AS b
  FROM unit GROUP BY 1
)
SELECT p.p_partkey AS part_key, p.p_name AS part_name,
       s.s_name AS supplier_name,
       ROUND(b.uc / 100.0, 6) AS min_unit_price
FROM best
JOIN part p ON p.p_partkey = best.part_key
JOIN supplier s ON s.s_suppkey = b.sk
WHERE p.p_size <= 10
""",
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the cheapest supplier for every small part — the
    correlated-min-subquery pattern, rewritten as two ALGEBRAIC
    aggregations instead of a rank window or re-join against a min
    subquery: (part,supp) → min unit price, then part → struct-min of
    (price, suppkey), which partial-aggregates map-side so exactly one
    row per part crosses each shuffle and ties break to the lowest
    suppkey inside the aggregate. The size predicate prunes the part
    dim BEFORE its broadcast join. Unit price = extendedprice/quantity
    in rounded cents (IEEE division is correctly rounded, so both
    engines compute identical integers)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_size") <= 10)
    s = load_table(spark, sf_dir, "supplier")
    unit_cents = F.round(
        F.col("l_extendedprice") * 100 / F.col("l_quantity")
    ).cast("long")
    unit = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(unit_cents).alias("unit_cents")
    )
    best = unit.groupBy(F.col("l_partkey").alias("part_key")).agg(
        F.min(
            F.struct(F.col("unit_cents"), F.col("l_suppkey").alias("supp"))
        ).alias("b")
    )
    return (
        best.join(F.broadcast(p), F.col("part_key") == p.p_partkey)
        .join(F.broadcast(s), F.col("b.supp") == s.s_suppkey)
        .select(
            "part_key",
            F.col("p_name").alias("part_name"),
            F.col("s_name").alias("supplier_name"),
            r6(F.col("b.unit_cents") / 100.0).alias("min_unit_price"),
        )
    )


@query(
    "priority_return_orders",
    oracle="""
SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE EXTRACT(year FROM o.o_orderdate) = 1997
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
GROUP BY 1
""",
)
def q_priority_return_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders (one year) having at least one returned
    line, counted per priority. The EXISTS runs as a LEFT-SEMI join on
    orderkey — the returnflag filter shrinks the probe side before the
    shuffle and the semi join carries NO lineitem payload, only the
    key. At 100 TB both sides bucket on orderkey for a zero-shuffle
    semi join; the year predicate prunes the orders scan."""
    o = load_table(spark, sf_dir, "orders").where(F.year("o_orderdate") == 1997)
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "local_supplier_volume",
    oracle="""
SELECT n.n_name AS nation_name,
       ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
             / 10000.0, 6) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
               AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY 1
""",
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue where the customer and the line's
    supplier sit in the SAME nation, per nation of one region. The
    same-nation constraint is the interesting bit: it is enforced as an
    extra equi-condition on the supplier broadcast join (suppkey AND
    nationkey), not a post-filter, so ineligible rows never survive the
    join. Join order: lineitem ⋈ orders shuffles on orderkey (the two
    big tables — bucket candidates), everything else broadcasts."""
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    cn = c.join(F.broadcast(nr), c.c_nationkey == nr.n_nationkey)
    rev_e4 = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (F.col("c_nationkey") == s.s_nationkey),
        )
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            r6(rev_e4 / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "nation_trade_flows",
    oracle="""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS ship_year,
       ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)))
             / 10000.0, 6) AS volume
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
WHERE sn.n_nationkey != cn.n_nationkey
  AND sn.n_nationkey < 4 AND cn.n_nationkey < 4
GROUP BY 1, 2, 3
""",
)
def q_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border trade volume between nation pairs
    by ship year. Both nation lookups broadcast (a nation dim joined
    TWICE under different roles — the aliased-dimension pattern); the
    nation-subset predicates apply to the broadcast sides so the big
    fact rows for out-of-scope nations drop at the join, and the
    cross-border inequality compares the two joined keys directly.
    One hash agg on the (supp, cust, year) composite."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_nationkey") < 4)
    cn = n.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    rev_e4 = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
        .where(F.col("snk") != F.col("cnk"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("ship_year"),
        )
        .agg(r6(rev_e4 / 10000.0).alias("volume"))
    )


@query(
    "product_type_profit",
    oracle="""
SELECT n.n_name AS nation_name,
       CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS order_year,
       ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))
                 - CAST(ROUND(p.p_retailprice * 100) AS BIGINT)
                   * CAST(ROUND(l.l_quantity) AS BIGINT) * 20)
             / 10000.0, 6) AS profit
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
""",
)
def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on one product family per supplier nation
    and order year. The schema has no partsupp.ps_supplycost, so cost
    is proxied as 20% of retail price × quantity — the SHAPE (fact ⋈
    2 big-ish dims ⋈ 2 tiny dims, LIKE predicate pruning the part dim
    before its broadcast, revenue-minus-cost inside one aggregate
    expression) is what carries. All terms are integer 1e-4 dollars:
    retail cents × integral quantity × 20 == e4-scale cost."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    amount_e4 = F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
        - F.round(F.col("p_retailprice") * 100).cast("long")
        * F.round(F.col("l_quantity")).cast("long")
        * 20
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("int").alias("order_year"),
        )
        .agg(r6(amount_e4 / 10000.0).alias("profit"))
    )


@query(
    "customer_urgent_order_counts",
    oracle="""
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT'
  GROUP BY 1
)
SELECT CAST(n_orders AS BIGINT) AS n_orders,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM per_cust GROUP BY 1
""",
)
def q_customer_urgent_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of customers by how many
    urgent orders they placed — INCLUDING the zero bucket, which is
    what forces the outer join (an inner join would silently drop
    customers with no urgent orders). Plan: filter orders to the
    priority class first (predicate pushdown), LEFT join customer →
    orders on custkey, count the non-null side, then a second tiny agg
    over the counts. count(o_orderkey) counts only matched rows —
    the outer-join-aware aggregate."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "part_supplier_variety",
    oracle="""
SELECT p.p_brand AS brand, CAST(p.p_size AS INT) AS part_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_type != 'PROMO' AND p.p_size <= 15
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
""",
)
def q_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers serve each
    (brand, size) part family, excluding a supplier denylist (negative
    account balance stands in for the 'customer complaints' predicate).
    The NOT IN runs as a broadcast LEFT-ANTI join — the denylist is a
    filtered dim, never a collected list — and the distinct count
    shuffles (brand, size, suppkey) partials, not raw lines."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_type") != "PROMO") & (F.col("p_size") <= 15)
    )
    bad = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_size").cast("int").alias("part_size"),
        )
        .agg(F.count_distinct("l_suppkey").alias("n_suppliers"))
    )


@query(
    "small_qty_revenue",
    oracle="""
WITH pa AS (
  SELECT l_partkey,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qsum,
         CAST(COUNT(*) AS BIGINT) AS qcnt
  FROM lineitem GROUP BY 1
)
SELECT ROUND(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0, 6)
         AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#1'
JOIN pa ON pa.l_partkey = l.l_partkey
WHERE CAST(ROUND(l.l_quantity) AS BIGINT) * 5 * pa.qcnt < pa.qsum
""",
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked in small-quantity orders of one
    brand — the correlated per-part average, computed as ONE grouped
    aggregate over lineitem joined back to the fact. The classic trap
    is comparing against a floating avg; here the predicate
    qty < 0.2·avg(qty) is cross-multiplied into exact integers
    (5·qty·count < sum), so both engines agree on every boundary row.
    The per-part aggregate is itself brand-prunable at scale by
    semi-joining the filtered part dim first; at test SF the plain
    grouped agg is cheaper than two passes."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1")
    qty = F.round(F.col("l_quantity")).cast("long")
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        F.sum(qty).alias("qsum"), F.count(F.lit(1)).alias("qcnt")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pa, li.l_partkey == F.col("pa_partkey"))
        .where(qty * 5 * F.col("qcnt") < F.col("qsum"))
        .agg(
            r6(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                / 100.0
                / 7.0
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "large_volume_customers",
    oracle="""
WITH big AS (
  SELECT l_orderkey, SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > 300
)
SELECT c.c_name AS customer_name, CAST(o.o_custkey AS BIGINT) AS cust_key,
       CAST(o.o_orderkey AS BIGINT) AS order_key, o.o_orderdate AS order_date,
       ROUND(CAST(ROUND(o.o_totalprice * 100) AS BIGINT) / 100.0, 6)
         AS total_price,
       CAST(big.total_qty AS BIGINT) AS total_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, order_key
LIMIT 20
""",
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind the very largest orders (total
    quantity > 300). The HAVING subquery is a pre-aggregation on the
    FACT's own join key, so the orders join happens against the tiny
    qualifying set (push the reduction below the join, never join raw
    lineitem to orders first). Top-20 runs as TakeOrderedAndProject;
    ties break on order key."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select(
            F.col("c_name").alias("customer_name"),
            F.col("o_custkey").alias("cust_key"),
            F.col("o_orderkey").alias("order_key"),
            F.col("o_orderdate").alias("order_date"),
            r6(F.round(F.col("o_totalprice") * 100).cast("long") / 100.0).alias(
                "total_price"
            ),
            "total_qty",
        )
    )


@query(
    "sole_fault_supplier",
    oracle="""
WITH per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supps,
         COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
           AS n_r_supps,
         MAX(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS fault_supp
  FROM lineitem GROUP BY 1
)
SELECT s.s_name AS supplier_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM per_order po
JOIN supplier s ON s.s_suppkey = po.fault_supp
WHERE po.n_supps > 1 AND po.n_r_supps = 1
GROUP BY 1
ORDER BY n_orders DESC, supplier_name
LIMIT 10
""",
)
def q_sole_fault_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: in multi-supplier orders, the supplier who was
    the ONLY one with returned lines — Q21's EXISTS/NOT-EXISTS double
    correlation rewritten as a single grouped aggregate per order
    (distinct suppliers, distinct at-fault suppliers, and — because the
    at-fault supplier is unique exactly when n_r_supps=1 — a MAX that
    recovers their key in the same pass). One shuffle on orderkey
    replaces two correlated self-joins of the biggest table; this
    rewrite is THE scale move for multi-EXISTS correlation."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    r_supp = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
    per_order = li.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count_distinct(r_supp).alias("n_r_supps"),
        F.max(r_supp).alias("fault_supp"),
    )
    return (
        per_order.where((F.col("n_supps") > 1) & (F.col("n_r_supps") == 1))
        .join(F.broadcast(s), F.col("fault_supp") == s.s_suppkey)
        .groupBy(F.col("s_name").alias("supplier_name"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "supplier_name")
        .limit(10)
    )


@query(
    "idle_rich_customers",
    oracle="""
WITH stats AS (
  SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS bal_sum,
         COUNT(*) AS bal_cnt
  FROM customer WHERE c_acctbal > 0
),
recent AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
)
SELECT n.n_name AS nation_name,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(SUM(CAST(ROUND(c.c_acctbal * 100) AS BIGINT)) / 100.0, 6)
         AS total_balance
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
CROSS JOIN stats
WHERE CAST(ROUND(c.c_acctbal * 100) AS BIGINT) * stats.bal_cnt > stats.bal_sum
  AND c.c_custkey NOT IN (SELECT o_custkey FROM recent)
GROUP BY 1
""",
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders, profiled per nation. Three scale moves: the global average
    is a 1-row aggregate broadcast back (never a driver collect); the
    above-average predicate is cross-multiplied into exact integer
    cents (bal·count > sum — no float avg on the comparison boundary);
    and the 'no recent orders' NOT IN is a LEFT-ANTI join against the
    date-pruned, pre-distinct custkey projection of orders."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    stats = c.where(F.col("c_acctbal") > 0).agg(
        F.sum(cents).alias("bal_sum"), F.count(F.lit(1)).alias("bal_cnt")
    )
    recent = o.where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey").distinct()
    return (
        c.join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(stats))
        .where(cents * F.col("bal_cnt") > F.col("bal_sum"))
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            r6(F.sum(cents) / 100.0).alias("total_balance"),
        )
    )


@query(
    "scd2_user_segments",
    oracle="""
WITH seg AS (
  SELECT user_id, ts, event_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) % 4 AS segment
  FROM events
),
chg AS (
  SELECT user_id, ts, event_id, segment,
         CASE WHEN segment IS DISTINCT FROM
                   lag(segment) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
              THEN 1 ELSE 0 END AS is_change
  FROM seg
),
ver AS (
  SELECT user_id, ts, segment,
         SUM(is_change) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS version
  FROM chg
),
iv AS (
  SELECT user_id, version, segment,
         MIN(ts) AS valid_from, COUNT(*) AS n_events
  FROM ver GROUP BY 1, 2, 3
)
SELECT user_id, CAST(version AS BIGINT) AS version,
       CAST(segment AS BIGINT) AS segment,
       valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
         AS valid_to,
       CAST(n_events AS BIGINT) AS n_events
FROM iv
""",
)
def q_scd2_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build from an event stream:
    each user's JSON `props.k % 4` plays a segment attribute; every
    run of equal consecutive segments becomes one versioned validity
    interval [valid_from, valid_to) — the change-data-capture →
    dimension-table derivation every warehouse runs. Three window
    passes ALL partitioned by user_id (change detection via lag,
    version numbering via running sum, interval close via lead), so
    Catalyst plans a single user-keyed exchange; the grouped interval
    agg reuses it. The open interval's valid_to is NULL. Change
    comparison is null-safe (IS DISTINCT FROM ↔ eqNullSafe negation)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    seg = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.get_json_object("props", "$.k").cast("long") % 4).alias("segment"),
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = seg.withColumn(
        "is_change",
        F.when(
            F.col("segment").eqNullSafe(F.lag("segment").over(wo)), 0
        ).otherwise(1),
    )
    ver = chg.withColumn(
        "version",
        F.sum("is_change").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    iv = ver.groupBy("user_id", "version", "segment").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return iv.select(
        "user_id",
        F.col("version").cast("long").alias("version"),
        F.col("segment").cast("long").alias("segment"),
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.col("n_events").cast("long").alias("n_events"),
    )

@query(
    "copurchase_triangles",
    oracle="""
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 30
),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
wedges AS (
  SELECT e1.u AS u, e1.v AS v, e2.v AS w
  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
),
tri AS (
  SELECT w.u, w.v, w.w FROM wedges w
  WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.u = w.u AND e3.v = w.w)
)
SELECT
  CAST((SELECT COUNT(DISTINCT k) FROM (
          SELECT u AS k FROM edges UNION ALL SELECT v FROM edges) ks) AS BIGINT)
    AS n_nodes,
  CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
  CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles
""",
)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting on the part co-purchase graph
    (parts bought together in one order, bulk lines only). The classic
    graph-analytics kernel done relationally: (1) per-order pair
    generation is a self-equi-join on orderkey — fanout bounded by
    lines-per-order (<=7 in TPC-H), so edge generation is linear in
    lineitem; (2) edges are ORIENTED low-id -> high-id, so each
    triangle is built exactly once (no /6 correction, no symmetric
    blowup); (3) wedges come from one edge-edge equi-join on the
    middle vertex and close via a LEFT-SEMI join against the edge
    list. At 100x the scale move is degree orientation (point edges
    from low-degree to high-degree vertex) which bounds wedge count by
    arboricity instead of max degree; id orientation keeps the oracle
    exactly mirrorable. Wedge volume is sum(deg^2) — the quantity-gate
    keeps the graph sparse the same way a min-support gate would in
    production."""
    li = load_table(spark, sf_dir, "lineitem")
    op = (
        li.where(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    edges = edges.localCheckpoint(eager=True)  # reused 3x; never re-derive
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u")).select(
        F.col("e1.u").alias("wu"),
        F.col("e1.v").alias("wv"),
        F.col("e2.v").alias("ww"),
    )
    e3 = edges.alias("e3")
    tri = wedges.join(
        e3,
        (F.col("wu") == F.col("e3.u")) & (F.col("ww") == F.col("e3.v")),
        "left_semi",
    )
    nodes = (
        edges.select(F.col("u").alias("k"))
        .unionAll(edges.select(F.col("v").alias("k")))
        .agg(F.count_distinct("k").alias("n_nodes"))
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    return nodes.join(F.broadcast(n_edges)).join(F.broadcast(n_tri))


@query(
    "order_total_outliers",
    oracle="""
WITH base AS (
  SELECT o_orderpriority,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
med AS (
  SELECT o_orderpriority, quantile_cont(cents, 0.5) AS med
  FROM base GROUP BY 1
),
dev AS (
  SELECT b.o_orderpriority, b.cents, m.med,
         ABS(b.cents - m.med) AS adev
  FROM base b JOIN med m USING (o_orderpriority)
),
mad AS (
  SELECT o_orderpriority, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY 1
)
SELECT d.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(MIN(d.med) / 100.0, 6) AS median_price,
       ROUND(MIN(m.mad) / 100.0, 6) AS mad_price,
       CAST(COUNT(CASE WHEN d.adev > 5 * m.mad THEN 1 END) AS BIGINT)
         AS n_outliers
FROM dev d JOIN mad m USING (o_orderpriority)
GROUP BY 1
""",
)
def q_order_total_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per order priority: median + MAD
    (median absolute deviation), flagging orders with |x - med| >
    5*MAD. MAD is the robust dispersion estimator production anomaly
    monitors use when variance is poisoned by the very outliers being
    hunted. Shape: two exact-percentile group aggregates over a
    5-value group key, each result broadcast back onto the fact —
    never a driver collect. Prices aggregate in exact integer cents;
    the medians are the only doubles, and interpolation (.5 boundary)
    is exactly representable, so the 5*MAD comparison is bit-identical
    across engines. Exact `percentile` buffers one group's values in
    memory — fine at ANY total volume here because cardinality is 5
    fixed groups x distinct cents; for unbounded group cardinality the
    engine's approx_percentile path (balance_quartiles_bucketed) is
    the 100 TB variant."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = o.select("o_orderpriority", cents.alias("cents"))
    med = base.groupBy("o_orderpriority").agg(
        F.expr("percentile(cents, 0.5)").alias("med")
    )
    dev = base.join(F.broadcast(med), "o_orderpriority").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med"))
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            r6(F.min("med") / 100.0).alias("median_price"),
            r6(F.min("mad") / 100.0).alias("mad_price"),
            F.count(F.when(F.col("adev") > 5 * F.col("mad"), 1)).alias(
                "n_outliers"
            ),
        )
    )


@query(
    "skew_key_profile",
    oracle="""
WITH cnt AS (
  SELECT user_id, COUNT(*) AS n_events
  FROM events GROUP BY 1
),
tot AS (SELECT SUM(n_events) AS total FROM cnt),
top AS (
  SELECT user_id, n_events FROM cnt
  ORDER BY n_events DESC, user_id LIMIT 20
)
SELECT t.user_id,
       CAST(t.n_events AS BIGINT) AS n_events,
       ROUND(CAST(t.n_events AS DOUBLE) / tot.total, 6) AS share,
       ROUND(CAST(SUM(t.n_events) OVER (ORDER BY t.n_events DESC, t.user_id
                                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / tot.total, 6) AS cum_share
FROM top t CROSS JOIN tot
""",
)
def q_skew_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter / skew diagnosis: the top-20 keys by event count
    with their share and cumulative share of total traffic — the
    profile you run BEFORE choosing a partitioning or salting strategy
    (operators/skew.py consumes exactly this signal). Plan discipline:
    the per-key count is one hash-agg shuffle; top-20 is
    TakeOrderedAndProject (never a global sort); the total is a 1-row
    aggregate broadcast back; the cumulative window runs over ONLY the
    20 surviving rows, so the un-partitioned window frame — normally a
    scale smell — is bounded by the literal k, not the data."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    tot = cnt.agg(F.sum("n_events").alias("total"))
    top = cnt.orderBy(F.col("n_events").desc(), "user_id").limit(20)
    w = Window.orderBy(F.col("n_events").desc(), "user_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.join(F.broadcast(tot))
        .select(
            "user_id",
            "n_events",
            r6(F.col("n_events") / F.col("total")).alias("share"),
            r6(F.sum("n_events").over(w) / F.col("total")).alias("cum_share"),
        )
    )

@query(
    "fuzzy_name_matches",
    oracle="""
WITH variants AS (
  SELECT c_custkey, c_name,
         CASE WHEN i = 0 THEN c_name
              ELSE concat(substr(c_name, 1, i - 1), substr(c_name, i + 1))
         END AS variant
  FROM customer, unnest(range(0, length(c_name) + 1)) AS t(i)
),
cand AS (
  SELECT DISTINCT a.c_custkey AS custkey_a, a.c_name AS name_a,
                  b.c_custkey AS custkey_b, b.c_name AS name_b
  FROM variants a JOIN variants b
    ON a.variant = b.variant AND a.c_custkey < b.c_custkey
)
SELECT custkey_a, custkey_b,
       CAST(levenshtein(name_a, name_b) AS INT) AS edit_dist
FROM cand
WHERE levenshtein(name_a, name_b) <= 1
""",
)
def q_fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage under edit distance <= 1 via the
    deletion-neighborhood (FastSS / SymSpell) join — THE sub-quadratic
    shape for edit-distance blocking: every name emits its L+1
    one-deletion variants (plus itself), candidates are pairs sharing
    ANY variant (an equi-join on a 17-char key — no hot keys by
    construction, since a shared variant pins all but one character),
    and the exact `levenshtein` verify runs only on candidates. This
    replaces the O(N^2) all-pairs edit-distance scan with
    O(N * L) index rows + output-bounded candidates — the same
    generate/bucket/verify discipline as the MinHash and sign-LSH
    dedup paths (operators/dedup.py), applied to string keys. The
    verify is NOT redundant: two names sharing a variant via
    different deletion positions can sit at distance 2."""
    from bigdata_invoice_stream_analysis_spark.sources.tables import (
        ensure_min_parallelism,
    )

    c = ensure_min_parallelism(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_name"), spark
    )
    variants = c.select(
        "c_custkey",
        "c_name",
        F.explode(
            F.expr(
                "transform(sequence(0, length(c_name)), i -> "
                "if(i = 0, c_name, "
                "concat(substring(c_name, 1, i - 1), substring(c_name, i + 1))))"
            )
        ).alias("variant"),
    )
    a = variants.alias("a")
    b = variants.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.variant") == F.col("b.variant"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("custkey_a"),
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_custkey").alias("custkey_b"),
            F.col("b.c_name").alias("name_b"),
        )
        .distinct()
    )
    dist = F.levenshtein("name_a", "name_b")
    return cand.where(dist <= 1).select(
        "custkey_a", "custkey_b", dist.cast("int").alias("edit_dist")
    )


@query(
    "zorder_layout_profile",
    oracle="""
WITH pts AS (
  SELECT o_custkey AS x,
         date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS y
  FROM orders
),
zv AS (
  SELECT x, y,
         list_sum(list_transform(range(0, 16), i ->
           (((x >> i) & 1)::BIGINT << (2 * i))
           + (((y >> i) & 1)::BIGINT << (2 * i + 1)))) AS z
  FROM pts
)
SELECT CAST(z >> 18 AS BIGINT) AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(x) AS BIGINT) AS min_cust, CAST(MAX(x) AS BIGINT) AS max_cust,
       CAST(MIN(y) AS BIGINT) AS min_day, CAST(MAX(y) AS BIGINT) AS max_day
FROM zv
GROUP BY 1
""",
)
def q_zorder_layout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) data-layout key over (custkey, order day) plus
    a per-bucket locality profile — the space-filling-curve clustering
    trick behind multi-dimensional data skipping (Delta OPTIMIZE
    ZORDER, Hudi/Iceberg clustering): sorting by interleaved bits
    keeps BOTH dimensions locally dense inside each file, so min/max
    column stats prune scans on either predicate. The bit interleave
    is a pure per-row fold over a 16-element literal sequence (one
    codegen expression, zero shuffle); the profile agg shows each
    z-bucket spans a narrow custkey range AND a narrow date range
    simultaneously — the property that makes stats-based pruning
    work. At 100 TB this key feeds repartitionByRange + sortWithinPartitions
    before the parquet write; here the gate pins the key math."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_custkey").cast("long").alias("x"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        ).cast("long").alias("y"),
    )
    zv = pts.withColumn(
        "z",
        F.expr(
            "aggregate(sequence(0, 15), 0L, (acc, i) -> acc"
            " + ((shiftright(x, i) & 1) * shiftleft(1L, 2 * i))"
            " + ((shiftright(y, i) & 1) * shiftleft(1L, 2 * i + 1)))"
        ),
    )
    return (
        zv.groupBy(F.shiftright("z", 18).cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("x").alias("min_cust"),
            F.max("x").alias("max_cust"),
            F.min("y").alias("min_day"),
            F.max("y").alias("max_day"),
        )
    )
