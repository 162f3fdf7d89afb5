"""TPC-H-shaped analytical queries: the q family.

The driver testdata is a TPC-H subset (no ``partsupp``, no
commit/receipt dates, no comment/phone/shipmode columns); queries that
need those are adapted to the same *plan shape* over available columns,
noted per entry. Each entry exercises a distinct optimizer pattern:
EXISTS -> semi-join (q4), single-pass scan-agg (q6), multi-way joins
with two dimension copies (q7), conditional-aggregate market share
(q8), left-outer + double aggregation (q13), scalar-subquery gates
(q11/q15/q17/q22), disjunctive join predicates (q19), double-aggregate
IN gates (q18/q20), argmin-per-group (q2) and window-based existence
logic (q21). q1 has a DECIMAL money twin (``q1_pricing_summary_decimal``).

Cross-engine determinism follows ``catalog.py``'s rules: money
aggregates through DECIMAL(28,6), computed integers as BIGINT, every
top-k with a total order on a unique key.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from finporter_spark.queries.catalog import (
    DAVG,
    DSUM,
    _t,
    davg,
    dsum,
    query,
)


# =====================================================================
# Aggregation — A1 flagship (TPC-H Q1 shape)
# =====================================================================

@query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {DSUM('l_quantity')} AS sum_qty,
           {DSUM('l_extendedprice')} AS sum_base_price,
           {DSUM('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {DSUM('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {DAVG('l_quantity')} AS avg_qty,
           {DAVG('l_extendedprice')} AS avg_price,
           {DAVG('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        dsum(disc).alias("sum_disc_price"),
        dsum(charge).alias("sum_charge"),
        davg(F.col("l_quantity")).alias("avg_qty"),
        davg(F.col("l_extendedprice")).alias("avg_price"),
        davg(F.col("l_discount")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "q1_pricing_summary_decimal",
    """
    WITH l AS (
      SELECT CAST(l_quantity AS DECIMAL(12,2)) AS qty,
             CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
               AS disc_price,
             CAST(l_extendedprice AS DECIMAL(12,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
               * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))
               AS charge,
             l_returnflag, l_linestatus
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    )
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(qty) AS DOUBLE) AS sum_qty,
           CAST(SUM(price) AS DOUBLE) AS sum_base_price,
           CAST(SUM(disc_price) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(charge) AS DOUBLE) AS sum_charge,
           CAST(SUM(qty) / COUNT(*) AS DOUBLE) AS avg_qty,
           CAST(SUM(price) / COUNT(*) AS DOUBLE) AS avg_price,
           COUNT(*) AS count_order
    FROM l GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary_decimal(spark, sf_dir):
    """q1's decimal-money twin (the dsum/davg ``money=True`` route,
    SURVEY §1.2): every money expression stays DECIMAL end-to-end —
    inputs typed to their true scales (price 2 dp, discount/tax 2 dp)
    so products stay exact and IN-RANGE on both engines
    ((12,2)×(5,2)→(18,4), ×(5,2)→(24,6) — never past precision 38,
    where Spark would round and DuckDB would refuse), sums are exact
    decimal adds (order-independent — no float summation-order terms),
    and only the OUTPUT boundary casts to double for the 9 dp hash.
    tests/test_catalog.py asserts the twin agrees with the double-route
    q1 at 1e-9 and that the money=True helpers yield DecimalType."""
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    one = F.lit(1).cast("decimal(3,2)")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc_price = price * (one - F.col("l_discount").cast("decimal(4,2)"))
    charge = disc_price * (one + F.col("l_tax").cast("decimal(4,2)"))
    n = F.count("*")
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(price).cast("double").alias("sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        F.sum(charge).cast("double").alias("sum_charge"),
        (F.sum(qty) / n).cast("double").alias("avg_qty"),
        (F.sum(price) / n).cast("double").alias("avg_price"),
        n.alias("count_order"),
    )


# =====================================================================
# Q — additional flagship query shapes (multi-join, SQL-API path)
# =====================================================================

@query(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape through the spark.sql path: the engine's SQL parser
    IS Spark SQL (SURVEY §7 non-goals) — register the entity views and
    hand Catalyst the same text a user would write."""
    for t in ("customer", "orders", "lineitem"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
        """
    )


@query(
    "q5_local_supplier_volume",
    f"""
    SELECT n_name, {DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: 6-table join — Catalyst reorders, broadcasts the
    dimension chain (nation/region/supplier at this SF), and the fact
    table shuffles at most twice (customer and order keys)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev.cast("decimal(28,6)")).cast("double").alias("revenue"))
    )


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# =====================================================================
# q2 — min-cost supplier per part (argmin join-back; TPC-H Q2 shape).
# The reference shape picks, per part, the supplier minimizing a cost
# metric inside a region. Without partsupp the unit price observed on
# lineitem plays ps_supplycost's role.
# =====================================================================

@query(
    "q2_min_cost_supplier",
    """
    WITH priced AS (
      SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, n.n_name,
             l.l_extendedprice / l.l_quantity AS unit_cost,
             row_number() OVER (
               PARTITION BY p.p_partkey
               ORDER BY l.l_extendedprice / l.l_quantity,
                        s.s_suppkey, l.l_orderkey, l.l_linenumber
             ) AS rn
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'EUROPE' AND p.p_type = 'LARGE' AND p.p_size <= 15
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, n_name, unit_cost
    FROM priced WHERE rn = 1
    ORDER BY unit_cost, p_partkey LIMIT 100
    """,
)
def q2_min_cost_supplier(spark, sf_dir):
    """Q2 shape: argmin-per-group via a partitioned row_number (never a
    global window — partition key is p_partkey, so the window
    parallelizes across parts), dimension chain broadcast."""
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") <= 15)
    )
    unit = (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    w = Window.partitionBy("p_partkey").orderBy(
        "unit_cost", "s_suppkey", "l_orderkey", "l_linenumber"
    )
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name", "n_name",
            unit, "l_orderkey", "l_linenumber",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name", "n_name",
            "unit_cost",
        )
        .orderBy("unit_cost", "p_partkey")
        .limit(100)
    )


# =====================================================================
# q4 — order priority checking (EXISTS -> left-semi join). The original
# tests l_commitdate < l_receiptdate; the adapted existence predicate is
# "some line shipped more than 30 days after the order date".
# =====================================================================

@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """Q4 shape: correlated EXISTS expressed as a left-semi join — one
    shuffle on the order key, no row duplication before the aggregate
    (the semi join emits each order at most once by construction)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-07-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1996-10-01 00:00:00"))
    )
    l = _t(spark, sf_dir, "lineitem")
    cond = (l.l_orderkey == o.o_orderkey) & (
        l.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")
    )
    return (
        o.join(l, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


# =====================================================================
# q6 — forecasting revenue change: the canonical single-pass scan-agg.
# =====================================================================

@query(
    "q6_revenue_change",
    f"""
    SELECT {DSUM('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def q6_revenue_change(spark, sf_dir):
    """Q6 shape: every predicate pushes to the parquet scan; the whole
    query is one map-side partial sum + a 1-row final — the plan that
    proves filter pushdown works (verified in PLANS.md)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue")
    )


# =====================================================================
# q7 — volume shipping between two nations (two aliases of the same
# dimension joined on different keys).
# =====================================================================

@query(
    "q7_volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
           {DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_regionkey = 1 AND n2.n_regionkey = 2)
        OR (n1.n_regionkey = 2 AND n2.n_regionkey = 1))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n1.n_name, n2.n_name, EXTRACT(YEAR FROM l.l_shipdate)
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """Q7 shape: the nation dimension participates twice under different
    aliases; both copies broadcast, so the disjunctive pair filter is
    evaluated map-side before the fact shuffles. The pair predicate is
    on the nations' REGIONS (AMERICA<->ASIA trade lanes) rather than
    two named nations so the result is non-degenerate at every SF (the
    sf0.001 cut has only 10 suppliers across 25 nations)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
    )
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_name").alias("supp_nation"),
        F.col("n_regionkey").alias("n1_rkey"),
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_name").alias("cust_nation"),
        F.col("n_regionkey").alias("n2_rkey"),
    )
    pair = ((F.col("n1_rkey") == 1) & (F.col("n2_rkey") == 2)) | (
        (F.col("n1_rkey") == 2) & (F.col("n2_rkey") == 1)
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(dsum(rev).alias("revenue"))
    )


# =====================================================================
# q8 — national market share (conditional aggregate over a 7-table
# join; the share denominator and numerator come from one pass).
# =====================================================================

@query(
    "q8_market_share",
    f"""
    SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           {DSUM("CASE WHEN n2.n_name = 'NATION_3' "
                 "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
           / {DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS mkt_share
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
    JOIN region r ON n1.n_regionkey = r.r_regionkey
    JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY EXTRACT(YEAR FROM o.o_orderdate)
    """,
)
def q8_market_share(spark, sf_dir):
    """Q8 shape: numerator (one nation's volume) and denominator (all
    volume) computed in the SAME grouped pass as two conditional
    decimal sums — no second scan, no self-join."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1998-01-01 00:00:00"))
    )
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg((dsum(nation_vol) / dsum(vol)).alias("mkt_share"))
    )


# =====================================================================
# q9 — product type profit (LIKE-filtered part, supplier-nation rollup
# by year; profit adapted to discounted revenue — no ps_supplycost).
# =====================================================================

@query(
    "q9_product_profit",
    f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           {DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY n.n_name, EXTRACT(YEAR FROM o.o_orderdate)
    """,
)
def q9_product_profit(spark, sf_dir):
    """Q9 shape: a LIKE predicate prunes the part dimension before it
    broadcasts; the orders join carries only the year column forward."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(dsum(rev).alias("profit"))
    )


# =====================================================================
# q10 — returned item reporting (top-20 customers by refund exposure).
# =====================================================================

@query(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name,
           {DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """Q10 shape: grouped top-k — TakeOrderedAndProject after the
    aggregate (never a global sort of all groups), c_custkey breaks
    revenue ties for a total order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1996-04-01 00:00:00"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(rev).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# =====================================================================
# q11 — important parts (HAVING against a scalar subquery; adapted
# part value = discounted revenue observed on lineitem).
# =====================================================================

@query(
    "q11_important_parts",
    f"""
    WITH pv AS (
      SELECT l_partkey,
             {DSUM('l_extendedprice * (1 - l_discount)')} AS part_value
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, part_value FROM pv
    WHERE part_value > 0.0008 * (SELECT {DSUM('l_extendedprice * (1 - l_discount)')}
                                 FROM lineitem)
    """,
)
def q11_important_parts(spark, sf_dir):
    """Q11 shape: a scalar aggregate gates a grouped aggregate. The
    total is a 1-row broadcast crossJoin (never a collect, never a
    global window); both sums are decimal-routed so the 0.001*total
    threshold compares identically on both engines."""
    l = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pv = l.groupBy("l_partkey").agg(dsum(rev).alias("part_value"))
    total = l.agg(dsum(rev).alias("_total"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > 0.0008 * F.col("_total"))
        .select("l_partkey", "part_value")
    )


# =====================================================================
# q12 — shipping priority classes (adapted: no l_shipmode column, so
# the return flag plays the mode and priority buckets are preserved).
# =====================================================================

@query(
    "q12_priority_classes",
    """
    SELECT l.l_returnflag,
           SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS high_line_count,
           SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
)
def q12_priority_classes(spark, sf_dir):
    """Q12 shape: join + conditional integer counts (exact BIGINT on
    both engines, no decimal routing needed)."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
    )
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# =====================================================================
# q13 — customer order-count distribution (left outer + double agg).
# =====================================================================

@query(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """Q13 shape: left outer join keeps order-less customers (their
    COUNT(o_orderkey) is 0, not NULL), then a second aggregation over
    the per-customer counts. Two shuffles total; the second one is on
    a tiny distinct-count domain."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


# =====================================================================
# q14 — promotion effect (conditional share of one month's revenue).
# =====================================================================

@query(
    "q14_promo_effect",
    f"""
    SELECT 100.0 * {DSUM("CASE WHEN p.p_type = 'PROMO' "
                         "THEN l.l_extendedprice * (1 - l.l_discount) "
                         "ELSE 0 END")}
           / {DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q14_promo_effect(spark, sf_dir):
    """Q14 shape: one broadcast join, one grouped-free (global) pass,
    two conditional decimal sums, exact division at the end."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-09-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1996-10-01 00:00:00"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg((100.0 * dsum(promo) / dsum(rev)).alias("promo_revenue"))
    )


# =====================================================================
# q15 — top supplier (scalar-max gate over a derived revenue table).
# =====================================================================

@query(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {DSUM('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """Q15 shape: the view is computed once and reused for both the max
    and the probe (Spark dedups the subplan; the max side is a 1-row
    broadcast — NOT a global window over all suppliers). Decimal-routed
    revenue makes the equality gate exact on both engines."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1996-04-01 00:00:00"))
    )
    rev = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_max_rev"))
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# =====================================================================
# q16 — supplier diversity per part class (distinct-count aggregate;
# the partsupp relationship is adapted to observed lineitem pairs).
# =====================================================================

@query(
    "q16_supplier_diversity",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_diversity(spark, sf_dir):
    """Q16 shape: COUNT(DISTINCT) over a join — Spark expands to a
    two-phase aggregate (distinct on (group, suppkey), then count),
    which partial-aggregates map-side before the one shuffle."""
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# =====================================================================
# q17 — small-quantity-order revenue (correlated avg per part).
# =====================================================================

@query(
    "q17_small_quantity",
    f"""
    WITH pq AS (
      SELECT l_partkey, {DSUM('l_quantity')} / COUNT(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {DSUM('l.l_extendedprice')} / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pq ON pq.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3' AND l.l_quantity < 0.2 * pq.avg_qty
    """,
)
def q17_small_quantity(spark, sf_dir):
    """Q17 shape: the correlated per-part average is decorrelated into
    a grouped aggregate joined back on the part key (one extra shuffle
    on l_partkey instead of a per-row subquery). Decimal-routed avg so
    the 0.2*avg threshold is bit-equal on both engines."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    pq = l.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        davg(F.col("l_quantity")).alias("avg_qty")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(pq, l.l_partkey == pq.pq_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((dsum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly"))
    )


# =====================================================================
# q18 — large-volume customers (HAVING-gated IN over an aggregate).
# =====================================================================

@query(
    "q18_large_volume",
    f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, {DSUM('l.l_quantity')} AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(28,6))) > 250
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
             o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
    """,
)
def q18_large_volume(spark, sf_dir):
    """Q18 shape: the IN-subquery is a left-semi join against a grouped
    HAVING (decimal sum so the >250 gate agrees across engines); the
    surviving ~1% of orders then re-aggregate with their customers."""
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,6)")).alias("_q"))
        .filter(F.col("_q") > 250)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == F.col("big_orderkey"), "left_semi"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# =====================================================================
# q19 — discounted revenue under disjunctive predicates.
# =====================================================================

@query(
    "q19_disjunctive_revenue",
    f"""
    SELECT {DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark, sf_dir):
    """Q19 shape: an OR-of-ANDs predicate straddling both join sides.
    The part side broadcasts, so the disjunction evaluates in the
    map-side hash probe; the common p_size<=15 / quantity<=30 bounds
    are implied per-branch and pushed to each scan by Catalyst."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    b = F.col("p_brand")
    cond = (
        ((b == "Brand#1") & sz.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#2") & sz.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#3") & sz.between(1, 15) & q.between(20, 30))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(dsum(rev).alias("revenue"))
    )


# =====================================================================
# q20 — concentrated suppliers of promoted parts (the partsupp
# availability gate adapted to observed shipment share: a supplier
# qualifies if, for some name-filtered part, it shipped more than 65%
# of that part's 1996 volume).
# =====================================================================

@query(
    "q20_promo_suppliers",
    f"""
    WITH sp AS (
      SELECT l_suppkey, l_partkey, {DSUM('l_quantity')} AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_suppkey, l_partkey
    ), pt AS (
      SELECT l_partkey, {DSUM('l_quantity')} AS total
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_partkey
    )
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
      SELECT sp.l_suppkey
      FROM sp
      JOIN pt ON sp.l_partkey = pt.l_partkey
      JOIN part p ON p.p_partkey = sp.l_partkey
      WHERE p.p_name LIKE 'red%' AND sp.qty > 0.65 * pt.total
    )
    """,
)
def q20_promo_suppliers(spark, sf_dir):
    """Q20 shape: a two-level aggregate feeds an IN-subquery gate —
    per-(supplier, part) volume against per-part totals (both decimal-
    routed so the 65% threshold is exact), name-filtered parts
    broadcast, and the qualifying supplier set applied as a left-semi
    join to the supplier dimension."""
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
    )
    sp = l.groupBy("l_suppkey", "l_partkey").agg(
        dsum(F.col("l_quantity")).alias("qty")
    )
    pt = l.groupBy(F.col("l_partkey").alias("pt_partkey")).agg(
        dsum(F.col("l_quantity")).alias("total")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    qualifying = (
        sp.join(pt, sp.l_partkey == pt.pt_partkey)
        .join(F.broadcast(p), sp.l_partkey == p.p_partkey)
        .filter(F.col("qty") > 0.65 * F.col("total"))
        .select("l_suppkey")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(qualifying, s.s_suppkey == qualifying.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
    )


# =====================================================================
# q21 — suppliers who kept orders waiting (existence logic over
# sibling lines, adapted to ship dates: the supplier whose lines
# shipped strictly latest in a multi-supplier finished order, more
# than 60 days after the order date).
# =====================================================================

@query(
    "q21_waiting_supplier",
    """
    WITH per_supp AS (
      SELECT l.l_orderkey, l.l_suppkey, o.o_orderdate,
             MAX(l.l_shipdate) AS supp_max
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY l.l_orderkey, l.l_suppkey, o.o_orderdate
    ), marked AS (
      SELECT *,
             MAX(supp_max) OVER (PARTITION BY l_orderkey) AS order_max,
             COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp
      FROM per_supp
    )
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
    FROM marked m JOIN supplier s ON m.l_suppkey = s.s_suppkey
    WHERE m.n_supp >= 2 AND m.supp_max = m.order_max
      AND m.order_max > m.o_orderdate + INTERVAL 60 DAY
      AND 1 = (SELECT COUNT(*) FROM per_supp p2
               WHERE p2.l_orderkey = m.l_orderkey
                 AND p2.supp_max = m.order_max)
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY numwait DESC, s_suppkey LIMIT 10
    """,
)
def q21_waiting_supplier(spark, sf_dir):
    """Q21 shape: EXISTS/NOT-EXISTS over sibling lineitems expressed as
    per-order windows (partitioned by l_orderkey — parallel across
    orders): a supplier 'kept the order waiting' iff it uniquely holds
    the latest ship date in an order with >=2 suppliers, past 60 days
    after the order date."""
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    per_supp = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("supp_max"))
    )
    w = Window.partitionBy("l_orderkey")
    marked = per_supp.select(
        "*",
        F.max("supp_max").over(w).alias("order_max"),
        F.count("*").over(w).alias("n_supp"),
    ).withColumn(
        "n_at_max",
        F.sum(
            F.when(F.col("supp_max") == F.col("order_max"), 1).otherwise(0)
        ).over(w),
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        marked.filter(
            (F.col("n_supp") >= 2)
            & (F.col("supp_max") == F.col("order_max"))
            & (F.col("n_at_max") == 1)
            & (
                F.col("order_max")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(10)
    )


# =====================================================================
# q22 — global sales opportunity (scalar-subquery gate + anti-join;
# country code adapted from the absent phone column to nationkey%10).
# =====================================================================

@query(
    "q22_sales_opportunity",
    f"""
    SELECT CAST(c.c_nationkey % 10 AS BIGINT) AS cntrycode,
           COUNT(*) AS numcust, {DSUM('c.c_acctbal')} AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT {DSUM('c_acctbal')} / COUNT(c_acctbal)
        FROM customer WHERE c_acctbal > 0
      )
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c.c_nationkey % 10
    """,
)
def q22_sales_opportunity(spark, sf_dir):
    """Q22 shape: scalar-average gate (1-row broadcast crossJoin) +
    NOT EXISTS as a left-anti join on the order key, then a small
    grouped rollup by country code. The anti-join is scoped to recent
    orders (every customer has SOME order in this testdata — 'inactive
    lately' is the analogue of the original's 'no orders at all')."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ts("2000-01-01 00:00:00")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        davg(F.col("c_acctbal")).alias("_avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 10).cast("bigint").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )
