"""Relational operators: the p (projection, expression), j (join),
o (ordering, set, merge and maintenance), z (physical layout: bucketing,
salting, z-order) and u (Python UDF surface) families.

The u entries generalize FINporter's importer plugin protocol
(``FINporter.swift:39-49``): scalar, grouped-map, arrow and UDTF shapes
over the same tables, each checked against a plain-SQL oracle.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Window, functions as F
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import DoubleType

from finporter_spark.operators.dedup import (
    apply_changelog,
    keep_latest,
    upsert_by_key,
)
from finporter_spark.operators.graph import connected_components_star
from finporter_spark.operators.joins import asof_join, count_exceeding
from finporter_spark.operators.prep import (
    sample_u,
    stratified_sample,
    three_way_split,
)
from finporter_spark.operators.scale import (
    bucketed_join_ready,
    compact_files,
    ensure_bucketed,
    global_order_ffill,
    global_rank,
    hex_order_index,
    salted_agg,
    salted_replicate_join,
    source_fingerprint,
    write_zordered,
)
from finporter_spark.queries.catalog import (
    DSUM,
    _TOKS,
    _t,
    dsum,
    query,
)
from finporter_spark.queries.staging import (
    io_dir as _io_dir,
    stage_once as _stage_once,
)
from finporter_spark.udf import flatten_map, grouped_transform


# =====================================================================
# P — projection / filter / scalar expressions
# =====================================================================

@query(
    "p1_projection",
    """
    SELECT l_orderkey AS okey, l_linenumber AS line,
           l_extendedprice * (1 - l_discount) AS disc_price, l_quantity
    FROM lineitem
    """,
)
def p1_projection(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("line"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("disc_price"),
        F.col("l_quantity"),
    )


@query(
    "p2_filter",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_discount
    FROM lineitem
    WHERE (l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A', 'R')
           AND NOT (l_discount > 0.05))
       OR (l_quantity > 45 AND l_linestatus = 'O')
    """,
)
def p2_filter(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    cond = (
        F.col("l_quantity").between(10, 20)
        & F.col("l_returnflag").isin("A", "R")
        & ~(F.col("l_discount") > 0.05)
    ) | ((F.col("l_quantity") > 45) & (F.col("l_linestatus") == "O"))
    return l.filter(cond).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_discount"
    )


@query(
    "p3_null_predicates",
    """
    SELECT o_orderkey,
           NULLIF(o_orderstatus, 'O') AS st,
           NULLIF(o_orderstatus, 'O') IS NULL AS is_open,
           NULLIF(o_orderstatus, 'O') IS NOT DISTINCT FROM 'F' AS nse_f,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS st_filled
    FROM orders
    """,
)
def p3_null_predicates(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    st = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        st.alias("st"),
        st.isNull().alias("is_open"),
        st.eqNullSafe(F.lit("F")).alias("nse_f"),
        F.coalesce(st, F.lit("OPEN")).alias("st_filled"),
    )


@query(
    "p4_string_funcs",
    """
    SELECT p_partkey,
           p_brand || '/' || p_type AS brand_type,
           upper(p_name) AS uname, lower(p_type) AS ltype,
           trim(p_name) AS tname, substring(p_name, 1, 5) AS pfx,
           CAST(length(p_name) AS BIGINT) AS nlen,
           replace(p_name, ' ', '_') AS under,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4
    FROM part
    """,
)
def p4_string_funcs(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
        F.upper("p_name").alias("uname"),
        F.lower("p_type").alias("ltype"),
        F.trim("p_name").alias("tname"),
        F.substring("p_name", 1, 5).alias("pfx"),
        F.length("p_name").cast("bigint").alias("nlen"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("under"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"),
    )


@query(
    "p5_regex",
    r"""
    SELECT p_partkey,
           regexp_extract(p_brand, 'Brand#(\d+)', 1) AS brand_num,
           regexp_matches(p_type, '^ECO') AS is_eco,
           regexp_replace(p_name, '[aeiou]', '*', 'g') AS starred
    FROM part
    """,
)
def p5_regex(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).alias("brand_num"),
        F.col("p_type").rlike("^ECO").alias("is_eco"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("starred"),
    )


@query(
    "p6_datetime",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since,
           strftime(o_orderdate, '%Y-%m-%d') AS iso_day
    FROM orders
    """,
)
def p6_datetime(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
    )


@query(
    "p7_math",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * l_quantity AS gross,
           abs(l_extendedprice - 1000.0) AS dist,
           CAST(floor(l_quantity) AS BIGINT) AS qfloor,
           CAST(ceil(l_discount * 10) AS BIGINT) AS dceil,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS dsign,
           sqrt(l_quantity) AS qroot
    FROM lineitem
    """,
)
def p7_math(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * F.col("l_quantity")).alias("gross"),
        F.abs(F.col("l_extendedprice") - 1000.0).alias("dist"),
        F.floor("l_quantity").cast("bigint").alias("qfloor"),
        F.ceil(F.col("l_discount") * 10).cast("bigint").alias("dceil"),
        F.signum(F.col("l_discount") - 0.05).cast("double").alias("dsign"),
        F.sqrt("l_quantity").alias("qroot"),
    )


@query(
    "p8_try_cast",
    r"""
    SELECT o_orderkey,
           TRY_CAST(regexp_extract(o_orderpriority, '^(\d+)', 1) AS BIGINT) AS prio_num,
           TRY_CAST(o_orderpriority AS DOUBLE) AS bad_double,
           TRY_CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS yr
    FROM orders
    """,
)
def p8_try_cast(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.regexp_extract("o_orderpriority", r"^(\d+)", 1)
        .try_cast("bigint")
        .alias("prio_num"),
        F.col("o_orderpriority").try_cast("double").alias("bad_double"),
        F.date_format("o_orderdate", "yyyy").try_cast("bigint").alias("yr"),
    )


@query(
    "p9_case_coalesce",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'big'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'small' END AS bucket,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status
    FROM orders
    """,
)
def p9_case_coalesce(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("bucket"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("PENDING")).alias(
            "status"
        ),
    )


@query(
    "p10_surrogate_id",
    """
    SELECT o_orderkey,
           'A' || strftime(o_orderdate, '%Y%m%d') ||
           (CASE WHEN length(CAST(rn AS VARCHAR)) > 5 THEN CAST(rn AS VARCHAR)
                 ELSE lpad(CAST(rn AS VARCHAR), 5, '0') END) AS txnID
    FROM (SELECT o_orderkey, o_orderdate,
                 row_number() OVER (PARTITION BY strftime(o_orderdate, '%Y%m')
                                    ORDER BY o_orderkey) AS rn
          FROM orders)
    """,
)
def p10_surrogate_id(spark, sf_dir):
    # Surrogate-ID numbering restarts per order month: the window is
    # PARTITIONED, so rows fan out across tasks instead of funnelling
    # through one unbounded global-sort task (the reference's analogue
    # is per-file numbering, TxnIDGenerator.swift:28-33 +
    # TransformHandler.swift:113 — see with_transaction_ids_per_file).
    # IDs remain unique because the yyyyMMdd segment embeds the month.
    o = _t(spark, sf_dir, "orders")
    rn = F.row_number().over(
        Window.partitionBy(F.date_format("o_orderdate", "yyyyMM")).orderBy(
            "o_orderkey"
        )
    )
    o = o.withColumn("rn", rn)
    rs = F.col("rn").cast("string")
    padded = F.when(F.length(rs) > 5, rs).otherwise(F.lpad(rs, 5, "0"))
    return o.select(
        "o_orderkey",
        F.concat(F.lit("A"), F.date_format("o_orderdate", "yyyyMMdd"), padded).alias(
            "txnID"
        ),
    )


@query(
    "p11_explode_array",
    """
    SELECT o_orderkey, unnest([o_orderkey, o_custkey, o_orderkey + o_custkey]) AS v
    FROM orders
    """,
)
def p11_explode_array(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.explode(
            F.array(
                F.col("o_orderkey"),
                F.col("o_custkey"),
                F.col("o_orderkey") + F.col("o_custkey"),
            )
        ).alias("v"),
    )


@query(
    "p12_json",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def p12_json(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("bigint").alias("k")
    )


# =====================================================================
# J — joins
# =====================================================================

@query(
    "j1_join_agg",
    f"""
    SELECT c_mktsegment, COUNT(*) AS n_orders, {DSUM('o_totalprice')} AS revenue
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def j1_join_agg(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )


@query(
    "j2_left_join",
    """
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def j2_left_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "j3_semi_join",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def j3_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "j3_anti_join",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def j3_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


@query(
    "j4_broadcast_dim",
    """
    SELECT r_name, COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name
    """,
)
def j4_broadcast_dim(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # dims broadcast explicitly: at 100 TB the fact side never shuffles here
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "j5_range_join",
    """
    SELECT s_suppkey, COUNT(*) AS n_richer
    FROM supplier JOIN customer ON c_acctbal > s_acctbal
    GROUP BY s_suppkey
    """,
)
def j5_range_join(spark, sf_dir):
    """J5 inequality join as a rank/CDF MERGE — zero row pairs
    materialized. History: the naive theta-join is a nested loop over
    |S|×|C| pairs (23 s at sf1); the round-1 banded decomposition
    (equi-join on 64 bands + residual filter) divided the quadratic by
    a constant and still measured 61.6× for 10× data at the sf1→sf10
    decade (DECADE_BENCH.json, round-7 verdict WEAK flag). The count
    ``n_richer(s) = |{c : c_acctbal > s_acctbal}|`` never needed pairs:
    it is |C| minus the rank of s_acctbal in the customer-balance
    distribution. :func:`finporter_spark.operators.joins.
    count_exceeding` computes exactly that — union-merge both sides,
    one window per balance band (running right-count in value-DESC
    order), plus a broadcast suffix ladder for the higher bands. Work
    is O(|S|+|C|) through one keyed shuffle; the only joins in the plan
    are broadcasts (asserted NLJ/SMJ-free in tests/test_plans.py).
    Suppliers no customer out-earns are absent (inner-join semantics),
    matching the oracle."""
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    c = _t(spark, sf_dir, "customer").select("c_acctbal")
    return (
        count_exceeding(s, ["s_suppkey"], "s_acctbal", c, "c_acctbal")
        .select("s_suppkey", F.col("n_greater").alias("n_richer"))
        .filter(F.col("n_richer") > 0)
    )


@query(
    "j6_asof_join",
    """
    SELECT event_id, user_id, ts, p_event_id, p_ts, p_value FROM (
      SELECT l.event_id, l.user_id, l.ts,
             r.event_id AS p_event_id, r.ts AS p_ts, r.value AS p_value,
             row_number() OVER (PARTITION BY l.event_id
                                ORDER BY r.ts DESC, r.event_id DESC) AS rn
      FROM events l
      LEFT JOIN events r
        ON r.user_id = l.user_id AND r.event_type = 'purchase' AND r.ts <= l.ts
    ) WHERE rn = 1
    """,
)
def j6_asof_join(spark, sf_dir):
    return _prior_purchase(spark, sf_dir)


def _prior_purchase(spark, sf_dir, tolerance=None):
    """Each event with its user's latest purchase at or before it (j6),
    no older than ``tolerance`` when given (j12)."""
    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_event_id"),
        F.col("value").alias("p_value"),
    )
    out = asof_join(
        e.select("event_id", "user_id", "ts"),
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="p_ts",
        right_cols=["p_event_id", "p_ts", "p_value"],
        tolerance=tolerance,
        tiebreakers=["p_event_id"],
        left_id=["event_id"],
    )
    return out.select("event_id", "user_id", "ts", "p_event_id", "p_ts", "p_value")


@query(
    "j6b_asof_forward",
    """
    SELECT event_id, user_id, ts, n_event_id, n_ts FROM (
      SELECT l.event_id, l.user_id, l.ts,
             r.event_id AS n_event_id, r.ts AS n_ts,
             row_number() OVER (PARTITION BY l.event_id
                                ORDER BY r.ts ASC, r.event_id DESC) AS rn
      FROM events l
      LEFT JOIN events r
        ON r.user_id = l.user_id AND r.event_type = 'error'
       AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 6 HOUR
    ) WHERE rn = 1
    """,
)
def j6b_asof_forward(spark, sf_dir):
    """J6 forward direction WITH a tolerance horizon: for each event,
    the user's FIRST error within the next 6 hours (time-to-failure /
    next-action attribution shape). The tolerance is the scale lever the
    backward entry doesn't exercise: it bounds the match fan-out BEFORE
    the rank filter, which is what keeps the intermediate finite on a
    dense right-hand timeline."""
    e = _t(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("n_ts"),
        F.col("event_id").alias("n_event_id"),
    )
    out = asof_join(
        e.select("event_id", "user_id", "ts"),
        errors,
        on=["user_id"],
        left_ts="ts",
        right_ts="n_ts",
        right_cols=["n_event_id", "n_ts"],
        tolerance=F.expr("INTERVAL 6 HOURS"),
        direction="forward",
        tiebreakers=["n_event_id"],
        left_id=["event_id"],
    )
    return out.select("event_id", "user_id", "ts", "n_event_id", "n_ts")


@query(
    "j6c_asof_highcard",
    """
    SELECT event_id, user_id, ts, v_event_id, v_ts FROM (
      SELECT l.event_id, l.user_id, l.ts,
             r.event_id AS v_event_id, r.ts AS v_ts,
             row_number() OVER (PARTITION BY l.event_id
                                ORDER BY r.ts ASC, r.event_id DESC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') l
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
        ON r.user_id = l.user_id
       AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
    ) WHERE rn = 1
    """,
)
def j6c_asof_highcard(spark, sf_dir):
    """J6 high-cardinality stress shape: purchase -> the same user's
    first view within the next hour (post-purchase attribution). Unlike
    j6/j6b (whose right sides are small filtered sets), BOTH sides here
    scale with the corpus and the key domain is every user — the shape
    where a wrong plan degenerates: an as-of expressed without the equi
    key would be a nested-loop over |L|x|R|, and without the tolerance
    the per-key fan-out is unbounded on dense timelines.
    tests/test_plans.py::test_j6c_asof_plan pins the contract: ONE
    equi-join on user_id (hash/sort-merge, never
    BroadcastNestedLoop/Cartesian) with the range bound as a join-time
    predicate, then ONE window — so work is shuffle(|L|+|R|) + bounded
    per-key scoring at any SF."""
    e = _t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("v_event_id"),
    )
    out = asof_join(
        e.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts"
        ),
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="v_ts",
        right_cols=["v_event_id", "v_ts"],
        tolerance=F.expr("INTERVAL 1 HOUR"),
        direction="forward",
        tiebreakers=["v_event_id"],
        left_id=["event_id"],
    )
    return out.select("event_id", "user_id", "ts", "v_event_id", "v_ts")


@query(
    "j7_cross_join",
    """
    SELECT r_name, os FROM region
    CROSS JOIN (SELECT DISTINCT o_orderstatus AS os FROM orders)
    """,
)
def j7_cross_join(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    st = _t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("os")
    ).distinct()
    return r.select("r_name").crossJoin(st)


# =====================================================================
# O — sort / limit / set ops
# =====================================================================

@query(
    "o1_sort_nulls",
    """
    SELECT o_orderkey, NULLIF(o_orderpriority, '5-LOW') AS pr
    FROM orders
    ORDER BY pr ASC NULLS LAST, o_orderkey
    """,
)
def o1_sort_nulls(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", F.nullif(F.col("o_orderpriority"), F.lit("5-LOW")).alias("pr")
    ).orderBy(F.asc_nulls_last("pr"), F.asc("o_orderkey"))


@query(
    "o2_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def o2_topk(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "o3_union",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION
    SELECT o_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def o3_union(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.unionByName(b).distinct()


@query(
    "o4_intersect",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def o4_intersect(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@query(
    "o4_except",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def o4_except(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.subtract(b)  # subtract == set EXCEPT (distinct) semantics


@query(
    "o5_dedup_latest",
    """
    SELECT user_id, event_id, ts, value FROM (
      SELECT user_id, event_id, ts, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def o5_dedup_latest(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    latest = keep_latest(
        e, keys=["user_id"], order_by=[F.col("ts").desc(), F.col("event_id").desc()]
    )
    return latest.select("user_id", "event_id", "ts", "value")


# =====================================================================
# U — UDF surface (Arrow-vectorized; generalizes the importer plugin
# protocol). Each oracle recomputes the same IEEE expression in SQL.
# =====================================================================

@query(
    "u1_pandas_scalar",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price
    FROM lineitem
    """,
)
def u1_pandas_scalar(spark, sf_dir):
    """U1: Arrow-batched scalar pandas UDF; per-row double arithmetic is
    bit-equal to the SQL oracle (same IEEE ops, same parquet bits)."""

    @pandas_udf("double")
    def disc_price(ep: pd.Series, disc: pd.Series) -> pd.Series:
        return ep * (1.0 - disc)

    return _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        disc_price("l_extendedprice", "l_discount").alias("disc_price"),
    )


@query(
    "u2_grouped_minmax",
    """
    SELECT l_orderkey, l_linenumber, l_returnflag,
           (l_quantity - min(l_quantity) OVER w)
             / (max(l_quantity) OVER w - min(l_quantity) OVER w) AS qnorm
    FROM lineitem
    WINDOW w AS (PARTITION BY l_returnflag)
    """,
)
def u2_grouped_minmax(spark, sf_dir):
    """U2: per-group pandas transform (applyInPandas). Min-max
    normalization uses only exact extrema + one per-row IEEE op, so it
    hash-matches the window-function oracle."""

    def minmax(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf["l_quantity"]
        lo, hi = q.min(), q.max()
        return pdf.assign(qnorm=(q - lo) / (hi - lo))[
            ["l_orderkey", "l_linenumber", "l_returnflag", "qnorm"]
        ]

    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    return grouped_transform(
        l,
        ["l_returnflag"],
        minmax,
        "l_orderkey bigint, l_linenumber bigint, l_returnflag string, "
        "qnorm double",
    )


@query(
    "u3_grouped_agg_median",
    """
    SELECT l_returnflag, l_linestatus, median(l_quantity) AS med_qty
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def u3_grouped_agg_median(spark, sf_dir):
    """U3: grouped-agg pandas UDAF. Median interpolates the two middle
    values with the same linear formula in pandas and DuckDB
    (quantile_cont 0.5), exact on these integer-valued doubles."""

    @pandas_udf("double")
    def med(v: pd.Series) -> float:
        return float(v.median())

    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(med("l_quantity").alias("med_qty"))
    )


@query(
    "u4_flatten_tokens",
    f"SELECT doc_id, unnest({_TOKS}) AS token FROM documents",
)
def u4_flatten_tokens(spark, sf_dir):
    """U4: UDTF-style 1-row -> n-rows flatten via mapInPandas. Python
    tokenization mirrors the engine's ``normalized_text`` + split (ASCII
    \\s classes made explicit so all three engines agree)."""
    ws = re.compile(r"\s+", re.ASCII)

    def toks(pdf: pd.DataFrame) -> pd.DataFrame:
        out_ids, out_toks = [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            for t in ws.sub(" ", text.lower()).strip().split(" "):
                out_ids.append(doc_id)
                out_toks.append(t)
        return pd.DataFrame({"doc_id": out_ids, "token": out_toks})

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return flatten_map(d, toks, "doc_id bigint, token string")


@query(
    "u5_udtf_bigrams",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)
    SELECT doc_id, CAST(i - 1 AS INT) AS pos,
           t[i] || ' ' || t[i + 1] AS bigram
    FROM (SELECT doc_id, t,
                 unnest(generate_series(1, len(t) - 1)) AS i
          FROM toks)
    """,
)
def u5_udtf_bigrams(spark, sf_dir):
    """U5: a real Python UDTF (Spark 4 table function) under a LATERAL
    join — the declarative form of 1-row -> n-rows expansion (u4 is the
    mapInPandas form). The UDTF yields (pos, bigram) per document; the
    lateral correlation carries doc_id through. Tokenization mirrors
    ``normalized_text`` with ASCII \\s so all three engines agree;
    single-token and empty documents yield no bigrams on both sides
    (generate_series(1, 0) is empty, as is the Python loop)."""
    @udtf(returnType="pos int, bigram string", useArrow=True)
    class Bigrams:
        def eval(self, text: str):
            ws = re.compile(r"\s+", re.ASCII)
            toks = ws.sub(" ", text.lower()).strip().split(" ")
            for i in range(len(toks) - 1):
                yield i, toks[i] + " " + toks[i + 1]

    spark.udtf.register("u5_bigrams", Bigrams)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("u5_documents")
    return spark.sql(
        """
        SELECT d.doc_id, f.pos, f.bigram
        FROM u5_documents d, LATERAL u5_bigrams(d.text) f
        """
    )


@query(
    "u6_arrow_udf",
    """
    SELECT c_custkey,
           round(c_acctbal * 1.07 + CAST(length(c_name) AS DOUBLE), 6)
             AS score
    FROM customer
    """,
)
def u6_arrow_udf(spark, sf_dir):
    """U6: Arrow-OPTIMIZED Python scalar UDF (``useArrow=True``) — the
    Spark 4 upgrade path for row-wise Python UDFs: same def-a-function
    ergonomics as the classic UDF, but batches cross the JVM↔Python
    boundary as Arrow instead of pickled rows (plans as ArrowEvalPython,
    never BatchEvalPython — the plan suite forbids the latter
    catalog-wide). u1 is the pandas_udf (Series-native) form; this is
    the scalar-native form that legacy UDF code migrates to first."""
    @F.udf(DoubleType(), useArrow=True)
    def score(bal: float, name: str) -> float:
        return round(bal * 1.07 + float(len(name)), 6)

    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", score(F.col("c_acctbal"), F.col("c_name")).alias("score")
    )


@query(
    "p17_url_extract",
    """
    SELECT doc_id,
           source || '.example.com' AS host,
           '/docs/' || CAST(doc_id AS VARCHAR) AS path,
           'lang=' || lang AS query
    FROM documents
    """,
)
def p17_url_extract(spark, sf_dir):
    """P17: URL parsing (``parse_url`` — host/path/query extraction),
    the precursor of every per-domain pipeline stage (o11's per-domain
    cap, domain-level PageRank, crawl dedup all key on HOST). The URL
    is synthesized from table columns, so the oracle predicts each
    extracted part independently — the check proves parse_url agrees
    with the ground-truth construction. Codegen JVM expression,
    map-only."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    return d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
    )


@query(
    "o6_upsert_merge",
    f"""
    WITH unioned AS (
      SELECT event_id, user_id, ts, value, 0 AS src FROM events
      UNION ALL
      SELECT event_id, user_id, ts, value * 2 AS value, 1 AS src
      FROM events WHERE event_id % 10 = 0
    )
    SELECT event_id, user_id, ts, value FROM (
      SELECT *, row_number() OVER (PARTITION BY event_id
                                   ORDER BY src DESC, ts DESC) AS rn
      FROM unioned
    ) WHERE rn = 1
    """,
)
def o6_upsert_merge(spark, sf_dir):
    """O6 upsert: a 10% update batch merged into events — update rows win
    on the key via source-priority ordering; union + one keyed shuffle,
    no join (operators/dedup.upsert_by_key)."""
    e = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value", F.lit(0).alias("src")
    )
    updates = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % 10 == 0)
        .select(
            "event_id",
            "user_id",
            "ts",
            (F.col("value") * 2).alias("value"),
            F.lit(1).alias("src"),
        )
    )
    merged = upsert_by_key(
        e,
        updates,
        keys=["event_id"],
        order_by=[F.col("src").desc(), F.col("ts").desc()],
    )
    return merged.select("event_id", "user_id", "ts", "value")


@query(
    "o9_scd2_history",
    """
    SELECT o_custkey AS custkey, o_orderkey AS change_id,
           o_orderstatus AS status, o_totalprice AS attr_value,
           o_orderdate AS valid_from,
           CAST(row_number() OVER w AS BIGINT) AS version,
           lead(o_orderdate) OVER w AS valid_to,
           lead(o_orderdate) OVER w IS NULL AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def o9_scd2_history(spark, sf_dir):
    """O9: type-2 slowly-changing-dimension build — the history-keeping
    sibling of o6's keep-latest upsert. The change log (orders, as
    per-customer state changes) becomes a versioned dimension: each row
    gets [valid_from, valid_to) from its own date and its successor's
    (lead), open-ended rows are current. One window sort per customer —
    exactly one shuffle on the dimension key, no join against existing
    state needed because lead() derives closure from the log itself."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("change_id"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("attr_value"),
        F.col("o_orderdate").alias("valid_from"),
        F.row_number().over(w).cast("bigint").alias("version"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.lead("o_orderdate").over(w).isNull().alias("is_current"),
    )


_O10_ORACLE = """
    WITH ch AS (
      SELECT CASE WHEN event_type = 'click' THEN user_id + 10000000
                  ELSE user_id END AS key,
             ts, event_id, value,
             CASE WHEN event_type = 'error' THEN 'D'
                  WHEN event_type = 'signup' THEN 'I'
                  ELSE 'U' END AS op
      FROM events
    ), latest AS (
      SELECT key, op, value FROM (
        SELECT key, op, value,
               row_number() OVER (PARTITION BY key
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM ch) WHERE rn = 1
    )
    SELECT COALESCE(c.c_custkey, l.key) AS custkey, c.c_name AS name,
           COALESCE(l.value, c.c_acctbal) AS balance,
           l.key IS NOT NULL AS changed
    FROM customer c
    FULL OUTER JOIN latest l ON c.c_custkey = l.key
    WHERE l.op IS NULL OR l.op <> 'D'
    """


@query("o10_cdc_apply", _O10_ORACLE)
def o10_cdc_apply(spark, sf_dir):
    """O10: CDC changelog apply — the three-verb merge (insert/update/
    delete) every lakehouse MERGE INTO performs, built from primitives:
    collapse the changelog to its newest op per key (one window pass —
    at 100 TB the changelog is far smaller than the base, so this is the
    cheap side), then FULL-outer-join the base and let the final op
    decide: D drops the row, I/U replace the payload, I/U on a key the
    base lacks is a true WHEN-NOT-MATCHED insert (click-event keys are
    shifted out of the customer domain here so the insert branch is
    hash-checked), untouched keys pass through. o6 is the upsert-only
    special case; o9 keeps the history this overwrites. Base-side work
    is one broadcast-or-shuffled join — the base table itself is never
    re-sorted (operators/dedup.apply_changelog; op-ordering semantics
    incl. delete-then-resurrect and insert-then-delete unit-tested)."""
    e = _t(spark, sf_dir, "events")
    ch = e.select(
        F.when(F.col("event_type") == "click", F.col("user_id") + 10000000)
        .otherwise(F.col("user_id"))
        .alias("key"),
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
    )
    c = _t(spark, sf_dir, "customer")
    return apply_changelog(
        c,
        ch,
        base_key="c_custkey",
        log_key="key",
        op_col="op",
        order_by=[F.col("ts").desc(), F.col("event_id").desc()],
        payload_cols=["value"],
    ).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.coalesce("value", "c_acctbal").alias("balance"),
        F.col("key").isNotNull().alias("changed"),
    )


@query(
    "o11_per_key_cap",
    """
    SELECT doc_id, source, CAST(rn AS INT) AS draw_rank FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rn
      FROM documents) WHERE rn <= 50
    """,
)
def o11_per_key_cap(spark, sf_dir):
    """O11: deterministic per-key cap — at most k documents per source,
    chosen by md5-hash order (a uniform draw that is identical across
    engines, runs, and retries; same portability argument as o7's
    sampler). The per-domain cap is a standard corpus-curation gate
    (bound any one domain's share of the training set); one window
    shuffle on the cap key, and at scale a pre-filter via an
    approximate per-key count keeps the exact window off the
    un-capped majority."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("int").alias("draw_rank"),
        )
        .filter(F.col("draw_rank") <= 50)
    )


@query(
    "p16_fuzzy_join",
    """
    SELECT a.p_partkey AS key_l, b.p_partkey AS key_r,
           a.p_brand AS brand, a.p_name AS name_l, b.p_name AS name_r,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
      AND levenshtein(a.p_name, b.p_name) <= 2
    """,
    baseline_of="p16b_er_clusters",
)
def p16_fuzzy_join(spark, sf_dir):
    """P16: blocked fuzzy join — SMALL-SF ORACLE BASELINE (catalog
    BASELINES tag): the row-pair OUTPUT is quadratic in per-value row
    counts (18× at the sf1→10 decade, 36 s at sf10), which no plan can
    avoid once row pairs are materialized. The scale-path contract is
    ``p16b_er_clusters`` (canonical min-id clusters over the
    vocabulary-sized name graph, decade-flat ~2.5 s) — this entry
    remains to validate p16b's candidate generation against an
    exhaustive pair listing at small SFs.

    Entity resolution scored on DISTINCT
    values: the expensive comparator runs once per distinct
    (brand, name_l, name_r) combination — never once per row pair. Three
    stages, all equi-joins (never a cross join):

    1. distinct (brand, name) pairs within the block, length-pruned
       (|len_a − len_b| > d ⇒ distance > d, integer compare) then scored
       with the THRESHOLDED levenshtein (banded DP, early exit at d+1 —
       returns −1 past the bound). Distinct-pair count is
       Σ(distinct_names_per_block²) — independent of row count;
    2. expand survivors back to rows: equi-join on (brand, name) each
       side — the small scored-pair table broadcasts, the row sides
       shuffle on the blocking key like any join;
    3. canonicalize with key_l < key_r.

    This is the standard high-duplication ER formulation: a 10× bigger
    corpus with the same value vocabulary re-scores NOTHING — measured
    sf0.1→sf1 went 29 s → ~2 s vs scoring per row pair, with the
    remaining cost pure output materialization (the match set itself
    grows quadratically with per-value row counts, which no engine can
    avoid)."""
    p = _t(spark, sf_dir, "part")
    names = p.select(
        F.col("p_brand").alias("brand"), F.col("p_name").alias("name_l")
    ).distinct()
    cand = (
        names.join(
            names.select("brand", F.col("name_l").alias("name_r")), "brand"
        )
        .filter(F.abs(F.length("name_l") - F.length("name_r")) <= 2)
        .withColumn("dist", F.levenshtein("name_l", "name_r", 2).cast("int"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 2))
    )
    # parallelize the row sides: the source is 1-2 parquet partitions at
    # test SFs, which would serialize the expansion onto a couple of
    # cores (width follows the session's core count, not a constant)
    a = p.repartition(
        # floor of 32 and a 2x over-partitioning factor: on a low-core
        # session a bare defaultParallelism leaves no headroom for
        # key-hash skew in the heavy expansion (stragglers idle the
        # other cores); 2x keeps the load balanced at any core count
        max(32, 2 * spark.sparkContext.defaultParallelism), "p_partkey"
    ).select(
        F.col("p_partkey").alias("key_l"),
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name_l"),
    )
    b = p.select(
        F.col("p_partkey").alias("key_r"),
        F.col("p_brand").alias("brand"),
        F.col("p_name").alias("name_r"),
    )
    return (
        a.join(F.broadcast(cand), ["brand", "name_l"])
        .join(b, ["brand", "name_r"])
        .filter(F.col("key_l") < F.col("key_r"))
        .select("key_l", "key_r", "brand", "name_l", "name_r", "dist")
    )


# =====================================================================
# Z — scale-path operators surfaced as catalog entries (SURVEY §4):
# the driver verifies the *answers* here; the zero-exchange / two-phase
# plan shapes are asserted in tests/test_scale.py.
# =====================================================================

@query(
    "z1_bucketed_join",
    f"""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
           {DSUM('l_extendedprice')} AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def z1_bucketed_join(spark, sf_dir):
    """Zero-exchange fact join: both sides persisted bucketed+sorted on
    the join key (operators/scale.write_bucketed), then joined — Spark
    reads co-located buckets, so the join itself needs no Exchange (the
    "pay the shuffle once at ingest" strategy for tables joined
    repeatedly; plan-asserted in tests/test_scale.py). The oracle is the
    plain join on the original parquet: it matches only if the bucketed
    write+read is lossless AND the exchange-free join is correct.

    Staging is dataset state (like l3_ivf's centroids): the bucketed
    tables are written once per (sf_dir, source mtimes) and reused via
    DDL-only registration after that — so the steady-state cost is the
    zero-exchange join, not the one-off ingest shuffle. A changed source
    fingerprint forces a restage (no stale buckets)."""
    tag = re.sub(
        r"[^A-Za-z0-9_]", "_",
        os.path.basename(os.path.normpath(sf_dir)) or "sf",
    )
    ot, lt = f"z1_orders_{tag}", f"z1_lineitem_{tag}"
    ensure_bucketed(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        ot, ["o_orderkey"], n_buckets=8, sort_keys=["o_orderkey"],
        path=_io_dir(sf_dir, "z1_orders"),
        fingerprint=source_fingerprint(
            os.path.join(sf_dir, "orders.parquet")),
    )
    ensure_bucketed(
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        lt, ["l_orderkey"], n_buckets=8, sort_keys=["l_orderkey"],
        path=_io_dir(sf_dir, "z1_lineitem"),
        fingerprint=source_fingerprint(
            os.path.join(sf_dir, "lineitem.parquet")),
    )
    o = bucketed_join_ready(spark, ot)
    l = bucketed_join_ready(spark, lt)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(28,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "z4_salted_join",
    f"""
    SELECT o_orderstatus AS status, n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n, {DSUM('o_totalprice')} AS total
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2
    """,
)
def z4_salted_join(spark, sf_dir):
    """Z4: skew-tolerant SHUFFLED join — the manual salt+replicate form
    (operators/scale.salted_replicate_join) for when AQE's skew split
    can't reach (AQE is off under streaming micro-batch plans) and the
    build side is too big to broadcast outright. The fact side's key is
    salted over 8 deterministic buckets, the dim side replicates 8x, and
    the join runs on (key, salt) — a hot customer's orders spread over 8
    reducers. Hash-oracled against the plain join (salting must be
    invisible in the result); `tests/test_scale.py` forces the shuffled
    path (broadcast off) and pins `_salt` into the join partitioning."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    joined = salted_replicate_join(
        o, c, big_key="o_custkey", small_key="c_custkey", buckets=8
    )
    return (
        joined.join(
            F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
            .cast("double")
            .alias("total"),
        )
    )


@query(
    "z2_salted_agg",
    f"""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           {DSUM('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def z2_salted_agg(spark, sf_dir):
    """Skew-tolerant two-phase aggregation (operators/scale.salted_agg):
    3 distinct group keys over the whole fact table is exactly the shape
    where one reduce partition would otherwise absorb ~a third of the
    table; salting spreads each key over 16 sub-groups first, then
    merges the tiny partials. Decimal routing keeps the double sum
    bit-equal to the oracle across both phases."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("decimal(28,6)").alias("qty_dec"),
    )
    out = salted_agg(
        l,
        keys=["l_returnflag"],
        aggs={"n": ("count", "qty_dec"), "sum_dec": ("sum", "qty_dec")},
        buckets=16,
    )
    return out.select(
        "l_returnflag",
        "n",
        F.col("sum_dec").cast("double").alias("sum_qty"),
    )


@query(
    "z3_zorder_scan",
    """
    SELECT event_id, user_id, value FROM events
    WHERE user_id BETWEEN 100 AND 180 AND value BETWEEN 250 AND 400
    """,
)
def z3_zorder_scan(spark, sf_dir):
    """Z3: Z-order-clustered layout (operators/scale.write_zordered) —
    events rewritten once per dataset with (user_id, value) Morton-key
    range partitioning, then scanned with a two-dimensional box filter.
    Each file covers a tight (user_id, value) hyper-rectangle, so
    parquet min/max stats prune the scan on BOTH predicates (a single
    sort column only ever prunes itself); clustering quality is
    asserted in tests/test_scale.py. Oracle = the same filter on the
    original table: passes only if the clustered rewrite is lossless."""
    path = _stage_once(
        sf_dir,
        "z3",
        lambda p: write_zordered(
            _t(spark, sf_dir, "events").select("event_id", "user_id", "value"),
            p,
            ["user_id", "value"],
            n_files=32,
        ),
        "events",
    )
    return spark.read.parquet(path).filter(
        F.col("user_id").between(100, 180) & F.col("value").between(250, 400)
    )


@query(
    "o15_k_anonymity",
    """
    WITH cohorts AS (
      SELECT lang, source,
             CAST(n_chars // 100 AS INT) AS len_bin,
             CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM documents
      GROUP BY 1, 2, 3
    )
    SELECT lang, source, len_bin, cohort_size,
           cohort_size >= 5 AS k_ok
    FROM cohorts
    """,
)
def o15_k_anonymity(spark, sf_dir):
    """O15: k-anonymity audit over quasi-identifiers (lang × source ×
    binned length) — the governance gate paired with l14's redaction: a
    cohort smaller than k (=5) re-identifies its members and must be
    suppressed or generalized before release. One map-combinable
    groupBy; 100-char integer-division bins on both engines."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            "source",
            F.floor(F.col("n_chars") / 100).cast("int").alias("len_bin"),
        )
        .groupBy("lang", "source", "len_bin")
        .agg(F.count("*").cast("bigint").alias("cohort_size"))
        .withColumn("k_ok", F.col("cohort_size") >= 5)
    )


@query(
    "o16_snapshot_diff",
    """
    WITH old AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 0
    ), new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]'
                      ELSE text END) AS h
      FROM documents WHERE doc_id % 13 <> 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'I'
                WHEN n.doc_id IS NULL THEN 'D'
                ELSE 'U' END AS op
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.h <> n.h
    """,
)
def o16_snapshot_diff(spark, sf_dir):
    """O16: snapshot diff → changelog EXTRACT (the inverse of o10's
    changelog APPLY): two corpus snapshots keyed on doc_id, compared by
    content hash — rows only in the new snapshot emit I, only in the
    old emit D, present in both with different hashes emit U; unchanged
    rows are dropped. One full-outer equi-join (both sides shuffle on
    the key; content compared as 16-byte digests, never text) — the op
    that turns periodic full snapshots into the incremental feed o10 /
    x9 consume. Fixture: the 'new' snapshot drops every 13th doc,
    revises every 7th, and the 'old' lacks every 11th."""
    d = _t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    new = d.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.col("text"), F.lit(" [rev2]")),
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    o, n = old.alias("o"), new.alias("n")
    j = o.join(n, F.col("o.doc_id") == F.col("n.doc_id"), "full_outer")
    return (
        j.select(
            F.coalesce(F.col("o.doc_id"), F.col("n.doc_id")).alias(
                "doc_id"
            ),
            F.when(F.col("o.doc_id").isNull(), "I")
            .when(F.col("n.doc_id").isNull(), "D")
            .otherwise("U")
            .alias("op"),
            F.col("o.h").alias("oh"),
            F.col("n.h").alias("nh"),
        )
        .filter(
            F.col("oh").isNull()
            | F.col("nh").isNull()
            | (F.col("oh") != F.col("nh"))
        )
        .select("doc_id", "op")
    )


@query(
    "p13_exists_subquery",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 400000)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def p13_exists_subquery(spark, sf_dir):
    """Correlated EXISTS / NOT EXISTS through the spark.sql path —
    Catalyst rewrites them to left-semi / left-anti joins (the
    decorrelation a user would otherwise hand-write)."""
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        """
    )


@query(
    "p14_scalar_subquery",
    """
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST((SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) FROM orders) AS DOUBLE)
             AS corpus_avg
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) FROM orders)
    """,
)
def p14_scalar_subquery(spark, sf_dir):
    """Uncorrelated scalar subqueries (threshold derived from the data
    itself): Catalyst executes the subquery once and broadcasts the
    scalar — no per-row re-evaluation, no driver-side action."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice,
               CAST((SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) FROM orders) AS DOUBLE)
                 AS corpus_avg
        FROM orders
        WHERE o_totalprice > 1.5 * (SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) FROM orders)
        """
    )


@query(
    "o7_stratified_sample",
    """
    SELECT doc_id, lang FROM documents
    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            % 10000
          < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
                      WHEN 'zh' THEN 1000 ELSE 500 END
    """,
)
def o7_stratified_sample(spark, sf_dir):
    """Reproducible stratified subsample: 50% of English, 25% of German,
    10% of Chinese, 5% otherwise — md5-bucketed on doc_id so the draw is
    identical across engines, runs, and retries (operators/prep.py
    sample_bucket). A filter, not a shuffle: corpus-scale safe."""
    return stratified_sample(
        _t(spark, sf_dir, "documents"),
        key_col="doc_id",
        fractions={"en": 0.5, "de": 0.25, "zh": 0.1},
        strata_col="lang",
        default_fraction=0.05,
    ).select("doc_id", "lang")


@query(
    "o8_compact_small_files",
    "SELECT event_id, user_id, value FROM events",
)
def o8_compact_small_files(spark, sf_dir):
    """O8: small-file compaction (operators/scale.compact_files) — a
    64-way fragmented parquet drop (the shape a micro-batch sink
    leaves behind) is rewritten to byte-targeted evenly-sized files.
    The oracle is the identity SELECT: compaction must preserve every
    row exactly. tests/test_scale.py asserts the file count actually
    shrinks and sizes stay within the target."""
    small = _io_dir(sf_dir, "o8_small")
    compact = _io_dir(sf_dir, "o8_compact")
    shutil.rmtree(small, ignore_errors=True)
    _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    ).repartition(64).write.parquet(small)
    compact_files(spark, small, compact, target_file_bytes=4 << 20)
    return spark.read.parquet(compact)


@query(
    "p15_higher_order_funcs",
    """
    SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS norm2,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
           CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
             AS max_abs
    FROM embeddings
    """,
)
def p15_higher_order_funcs(spark, sf_dir):
    """P15: higher-order array functions — the JVM-side way to compute
    over array<float> columns without ever leaving codegen (transform /
    filter / aggregate lambdas; this is how the kNN operators compute
    dot products too). norm2 rounds to 6 dp: the float->double products
    are exact, but the two engines fold the 64-element sum in different
    orders (~1e-13 drift)."""
    e = _t(spark, sf_dir, "embeddings")
    xd = lambda x: x.cast("double")  # noqa: E731
    return e.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(
            F.aggregate(
                F.transform("embedding", lambda x: xd(x) * xd(x)),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ).alias("norm2"),
        F.size(F.filter("embedding", lambda x: x > 0))
        .cast("bigint")
        .alias("n_pos"),
        F.array_max(F.transform("embedding", F.abs))
        .cast("double")
        .alias("max_abs"),
    )


@query(
    "o12_epoch_shuffle",
    """
    SELECT doc_id,
           CAST(row_number() OVER (
             ORDER BY md5(concat('epoch7|', CAST(doc_id AS VARCHAR))), doc_id
           ) AS BIGINT) AS pos
    FROM documents
    """,
)
def o12_epoch_shuffle(spark, sf_dir):
    """O12: deterministic epoch shuffle - the global training-order
    permutation every data loader needs, keyed by (epoch, doc) hash so
    it is identical across engines, runs, retries, AND epochs are
    decorrelated (new epoch string -> new permutation). The naive plan
    (``Window.orderBy`` with no partition) funnels the corpus through
    ONE task; :func:`hex_order_index` instead buckets the md5 prefix
    deterministically, ranks within buckets in parallel, and broadcasts
    a bounded cumulative-offset ladder — same exact global order, one
    keyed shuffle, no single-partition stage (plan-asserted in
    tests/test_plans.py). md5, not xxhash64: identical hex on both
    engines, so the oracle re-derives the exact order."""
    d = _t(spark, sf_dir, "documents")
    return hex_order_index(
        d.select("doc_id"),
        F.md5(F.concat(F.lit("epoch7|"), F.col("doc_id").cast("string"))),
        tiebreak=["doc_id"],
        buckets=64,
    ).select("doc_id", "pos")


@query(
    "o13_source_mix",
    """
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ), weighted AS (
      SELECT doc_id, source, rk,
             CASE WHEN source IN ('src0','src1','src2') THEN 4.0
                  WHEN source IN ('src3','src4') THEN 2.0
                  ELSE 1.0 END AS w
      FROM ranked
    )
    SELECT doc_id, source, CAST(rk AS BIGINT) AS source_rank,
           CAST(rk / w AS DOUBLE) AS stride_key
    FROM weighted
    """,
)
def o13_source_mix(spark, sf_dir):
    """O13: weighted source mixing (stride scheduling) - upsample
    priority domains by weight without replacement: rank docs within
    each source by a deterministic hash draw, then interleave by
    rk/weight (a source with weight 4 contributes 4x the docs per unit
    of the global order). This is the corpus-mixing gate (domain
    sampling ratios) every pretraining pipeline applies after dedup;
    one window shuffle on source + a map-side key, and consumers sort
    or range-bucket by stride_key exactly like o12. Deterministic
    (md5), so reruns and engines agree on the mix."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    weight = (
        F.when(F.col("source").isin("src0", "src1", "src2"), F.lit(4.0))
        .when(F.col("source").isin("src3", "src4"), F.lit(2.0))
        .otherwise(F.lit(1.0))
    )
    return d.select(
        "doc_id",
        "source",
        F.row_number().over(w).cast("bigint").alias("source_rank"),
    ).select(
        "doc_id",
        "source",
        "source_rank",
        (F.col("source_rank") / weight).cast("double").alias("stride_key"),
    )


@query(
    "o14_three_way_split",
    """
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN rk % 20 = 1 THEN 'val'
                WHEN rk % 20 = 2 THEN 'test'
                ELSE 'train' END AS split
    FROM ranked
    """,
)
def o14_three_way_split(spark, sf_dir):
    """O14: deterministic stratified train/val/test split with EXACT
    per-source proportions (each 20-doc run of a source's hash-ranked
    docs yields exactly one val + one test) — Bernoulli draws wobble,
    rank-modulo does not. One window shuffle on the stratum key;
    rerun/engine-stable via md5."""
    return three_way_split(_t(spark, sf_dir, "documents"))


# =====================================================================
# J8 — interval-overlap join (grid-binned, no nested loop)
# =====================================================================


@query(
    "j8_interval_join",
    """
    WITH L AS (
      SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS t0,
             CAST(l_shipdate AS DATE)
               + INTERVAL (CAST(l_quantity AS INT) % 7 + 1) DAY AS t1
      FROM lineitem
      WHERE l_shipdate BETWEEN DATE '1995-03-01' AND DATE '1995-03-31'
    ), R AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS t0,
             CAST(o_orderdate AS DATE) + INTERVAL 2 DAY AS t1
      FROM orders
      WHERE o_orderdate BETWEEN DATE '1995-02-15' AND DATE '1995-04-15'
    )
    SELECT L.l_orderkey, L.l_linenumber,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(MAX(date_diff('day', greatest(L.t0, R.t0),
                              least(L.t1, R.t1)) + 1) AS BIGINT)
             AS max_overlap_days
    FROM L JOIN R ON L.t0 <= R.t1 AND R.t0 <= L.t1
    GROUP BY 1, 2
    """,
)
def j8_interval_join(spark, sf_dir):
    """J8: interval-OVERLAP join between two interval sets with no
    shared key (ship-windows x fulfillment-windows) — the remaining
    join shape after j5 (scalar inequality banding) and j6 (as-of):
    both sides are [t0, t1] ranges and the predicate is mutual overlap.

    Naively this is a nested loop (Catalyst: BNLJ) — quadratic at two
    large sides. Two compositions fix it:

    1. **Grid decomposition** makes it an EQUI-join: every interval
       replicates to the fixed-width time-grid cells it spans
       (`sequence()` + explode, fan-out = interval length / cell
       width, bounded here by 8d/4d <= 3 cells), candidates pair up
       per shared cell via a hash join, the exact overlap predicate
       filters residually, and each true pair is kept exactly once —
       in the FIRST cell both intervals occupy
       (cell == max(first_l, first_r)), the standard dedup that
       avoids a distinct over the pair blowup.
    2. **Shape compression** (the round-8 fix for the 45x sf1→sf10
       decade blowup): with a bounded time domain, per-cell density
       grows linearly with SF, so pairing RAW rows is quadratic in
       density even through the grid. But per-left aggregates
       (COUNT, MAX overlap) only depend on the right side's DISTINCT
       interval shapes — so the right side is first aggregated to
       (t0, t1, cnt), the interval histogram, and the grid join runs
       against that. n_overlaps = SUM(cnt); max_overlap_days is a
       plain MAX over matched shapes. Work = |L| x cells +
       |distinct shapes| — linear in |L| at every SF. When shapes
       don't repeat the histogram degenerates to R and nothing is
       lost; when density grows (the 100 TB case: bounded timestamp
       grain, unbounded rows) the compression is the whole ballgame.

    Plan-asserted NLJ-free. Spark's own range-join hints don't exist
    in OSS 4.x, so this composition is THE way to run overlap
    aggregations at 100 TB."""
    cell = 4  # days per grid cell — ~interval length keeps fan-out ~2
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_shipdate").between("1995-03-01", "1995-03-31 23:59:59")
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("date").alias("t0"),
            F.date_add(
                F.col("l_shipdate").cast("date"),
                (F.col("l_quantity").cast("int") % 7 + 1),
            ).alias("t1"),
        )
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate").between(
                "1995-02-15", "1995-04-15 23:59:59"
            )
        )
        .select(
            F.col("o_orderdate").cast("date").alias("t0"),
            F.date_add(F.col("o_orderdate").cast("date"), 2).alias("t1"),
        )
        # shape compression: per-left COUNT/MAX only see distinct
        # (t0, t1) interval shapes — collapse the corpus-sized right
        # side to its interval histogram (bounded by the time-domain
        # grain squared, here <= 60 rows at ANY scale factor)
        .groupBy("t0", "t1")
        .agg(F.count("*").alias("cnt"))
    )

    def gridded(df):
        lo = F.floor(F.unix_date(F.col("t0")) / cell).cast("long")
        hi = F.floor(F.unix_date(F.col("t1")) / cell).cast("long")
        return df.withColumn("_lo", lo).withColumn(
            "cell", F.explode(F.sequence(lo, hi))
        )

    a, b = gridded(li).alias("a"), gridded(orders).alias("b")
    overlap = (F.col("a.t0") <= F.col("b.t1")) & (
        F.col("b.t0") <= F.col("a.t1")
    )
    first_shared = F.col("cell") == F.greatest(
        F.col("a._lo"), F.col("b._lo")
    )
    overlap_days = (
        F.datediff(
            F.least(F.col("a.t1"), F.col("b.t1")),
            F.greatest(F.col("a.t0"), F.col("b.t0")),
        )
        + 1
    )
    # aggregate per left interval over the SHAPE histogram: each
    # (left row, shape) match contributes cnt overlaps — output and
    # work both linear in |L| at every SF
    return (
        a.join(b, "cell")
        .filter(overlap & first_shared)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_overlaps"),
            F.max(overlap_days).cast("bigint").alias("max_overlap_days"),
        )
    )


# =====================================================================
# U7 — iterator Pandas UDF (amortized per-partition model init)
# =====================================================================


@query(
    "u7_iterator_model_score",
    """
    WITH w AS (
      SELECT list_transform(generate_series(1, 64), j -> sin(CAST(j AS DOUBLE)))
               AS wts
    )
    SELECT vec_id,
           round(1.0 / (1.0 + exp(-list_dot_product(
                   CAST(embedding AS DOUBLE[]), w.wts))), 6) AS score
    FROM embeddings, w
    """,
)
def u7_iterator_model_score(spark, sf_dir):
    """U7: the ITERATOR Pandas UDF (`Iterator[pd.Series] ->
    Iterator[pd.Series]`, SCALAR_ITER eval) — the API shape for model
    scoring at scale: the "model" (here a deterministic sin-derived
    weight vector standing in for a real checkpoint load) is
    constructed ONCE per worker task, then reused across every Arrow
    batch the task feeds it, amortizing init over the partition instead
    of paying it per batch (what a plain scalar pandas_udf would do).
    Inference itself is a vectorized numpy matmul over the stacked
    batch. This is the 100 TB embedding-scoring pattern: map-only, no
    shuffle, init cost ∝ tasks not rows."""
    @pandas_udf("double")
    def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        # expensive init, ONCE per task (model load stand-in)
        w = np.sin(np.arange(1, 65, dtype="float64"))
        for s in batches:
            m = np.stack(s.to_numpy())  # (batch, 64) float64
            yield pd.Series(1.0 / (1.0 + np.exp(-(m @ w))))

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    return e.select(
        "vec_id", F.round(score(F.col("emb")), 6).alias("score")
    )


# =====================================================================
# O18 — deterministic weighted sampling (Efraimidis–Spirakis)
# =====================================================================


@query(
    "o18_weighted_sample",
    """
    WITH t AS (
      SELECT lang, doc_id,
             0.1 + (n_chars % 97) / 97.0 AS w,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) / 4294967296.0 AS u
      FROM documents
    ), k AS (
      SELECT lang, doc_id, w, pow(u, 1.0 / w) AS key,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY pow(u, 1.0 / w) DESC, doc_id) AS rk
      FROM t
    )
    SELECT lang, doc_id, round(w, 6) AS w, round(key, 6) AS key
    FROM k WHERE rk <= 50
    """,
)
def o18_weighted_sample(spark, sf_dir):
    """O18: weighted sampling WITHOUT replacement, deterministic — the
    Efraimidis–Spirakis exponential race: each doc draws u from the
    md5 of its key (identical hex on every engine — the repo's
    sampling convention) and competes with priority u^(1/w); the top-k
    per stratum IS a weighted sample without replacement. This is how
    a training mix upsamples high-quality documents reproducibly —
    rerun-stable, engine-stable, no RNG state anywhere. One window
    shuffle per stratum; the rank<=k predicate triggers Spark's
    WindowGroupLimit (plan-asserted), which pre-prunes each map
    partition to its local top-k before the shuffle — the two-phase
    top-k that keeps a Zipf-hot stratum from pinning a full sort on
    one task. pow() is libm-dependent (<=1 ulp across engines): a rank
    flip needs two priorities within 1e-16 of each other at the k
    boundary and a 6dp hash flip needs a key within 1e-16 of a half
    boundary — both negligible against the md5 draw's ~1e-2 spacing,
    and ties proper are broken by doc_id."""
    d = _t(spark, sf_dir, "documents")
    w_col = 0.1 + (F.col("n_chars") % 97) / 97.0

    u = sample_u(F.col("doc_id"))
    key = F.pow(u, 1.0 / w_col)
    win = Window.partitionBy("lang").orderBy(
        F.desc("key"), F.col("doc_id")
    )
    t = d.select(
        "lang", "doc_id", w_col.alias("w"), key.alias("key")
    ).withColumn("rk", F.row_number().over(win))
    return t.filter(F.col("rk") <= 50).select(
        "lang",
        "doc_id",
        F.round("w", 6).alias("w"),
        F.round("key", 6).alias("key"),
    )


# =====================================================================
# P16b — fuzzy entity resolution with the CLUSTER output contract
# =====================================================================


@query(
    "p16b_er_clusters",
    r"""
    WITH RECURSIVE nm AS (
      SELECT DISTINCT p_brand AS brand, p_name AS name FROM part
    ), pr AS (
      SELECT a.brand, a.name AS name_l, b.name AS name_r
      FROM nm a JOIN nm b ON a.brand = b.brand AND a.name < b.name
      WHERE abs(length(a.name) - length(b.name)) <= 2
        AND levenshtein(a.name, b.name) <= 2
    ), e AS (
      SELECT brand, name_l AS src, name_r AS dst FROM pr
      UNION SELECT brand, name_r, name_l FROM pr
    ), reach AS (
      SELECT brand, name AS id, name AS lab FROM nm
      UNION
      SELECT e.brand, e.dst, reach.lab
      FROM reach JOIN e ON e.brand = reach.brand AND e.src = reach.id
    ), comp AS (
      SELECT brand, id AS name, min(lab) AS canon FROM reach
      GROUP BY brand, id
    ), keyed AS (
      SELECT p.p_partkey, c.brand, c.canon
      FROM part p JOIN comp c ON p.p_brand = c.brand AND p.p_name = c.name
    )
    SELECT p_partkey AS key,
           CAST(min(p_partkey) OVER (PARTITION BY brand, canon) AS BIGINT)
             AS canonical_key
    FROM keyed
    """,
)
def p16b_er_clusters(spark, sf_dir):
    """P16b: fuzzy entity resolution with the output contract that
    survives scale — canonical CLUSTERS, not row pairs. p16_fuzzy_join
    returns every matched row pair; its distinct-value scoring stage is
    scale-free, but the all-pairs result SHAPE is itself quadratic in
    per-value row counts (measured 40× at the sf1→sf10 decade —
    round-7 verdict WEAK flag). Real ER emits one canonical id per row:

    1. the same length-pruned, thresholded-levenshtein scoring over
       DISTINCT (brand, name) pairs — comparator cost ∝ vocabulary²
       within a brand block, never row count;
    2. connected components over the scored name graph
       (operators/graph.connected_components_star — star contraction,
       min name as the label; nodes are brand-scoped strings so
       components never cross brands). The graph is vocabulary-sized,
       not corpus-sized;
    3. every part row keyed back through two linear equi-joins:
       (brand, name) → component, then component → min p_partkey as
       the canonical survivor id.

    Output is exactly one row per part row — LINEAR in the corpus. A
    10× bigger corpus with the same vocabulary re-scores nothing and
    emits 10× rows, not 100×. p16_fuzzy_join is retained as the
    small-SF all-pairs oracle baseline (SURVEY §2B-ext row updated).
    The oracle recomputes the closure with a recursive CTE; singleton
    names (no fuzzy match) label themselves."""
    SEP = "\t"  # never occurs in p_brand/p_name (word tokens)
    p = _t(spark, sf_dir, "part")
    names = p.select(
        F.col("p_brand").alias("brand"), F.col("p_name").alias("name_l")
    ).distinct()
    cand = (
        names.join(
            names.select("brand", F.col("name_l").alias("name_r")), "brand"
        )
        .filter(F.col("name_l") < F.col("name_r"))
        .filter(F.abs(F.length("name_l") - F.length("name_r")) <= 2)
        .filter(F.levenshtein("name_l", "name_r", 2) >= 0)
        .select(
            F.concat_ws(SEP, "brand", "name_l").alias("id_l"),
            F.concat_ws(SEP, "brand", "name_r").alias("id_r"),
        )
    )
    comp = connected_components_star(cand, "id_l", "id_r").select(
        F.col("node").alias("id"), F.col("component").alias("cluster")
    )
    rows = p.select(
        "p_partkey",
        F.concat_ws(SEP, "p_brand", "p_name").alias("node"),
    )
    # singleton names never enter the edge set: label themselves.
    # Pinned: labeled feeds the canonical-key agg AND the final join —
    # unpinned, the corpus join through the whole CC ran twice
    # (guide §2.4); one row per part row
    labeled = (
        rows.join(comp, rows.node == comp.id, "left")
        .select(
            "p_partkey",
            F.coalesce(F.col("cluster"), F.col("node")).alias("component"),
        )
        .localCheckpoint(eager=False)
    )
    canon = labeled.groupBy("component").agg(
        F.min("p_partkey").alias("canonical_key")
    )
    return labeled.join(canon, "component").select(
        F.col("p_partkey").alias("key"),
        F.col("canonical_key").cast("bigint").alias("canonical_key"),
    )


# =====================================================================
# Z5 — skew diagnostic: distributed top-k heavy hitters with shares
# =====================================================================


@query(
    "z5_skew_report",
    """
    WITH c AS (
      SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey
    ), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM lineitem)
    SELECT key, cnt, CAST(cnt AS DOUBLE) / total AS share
    FROM c, t
    ORDER BY cnt DESC, key ASC LIMIT 10
    """,
)
def z5_skew_report(spark, sf_dir):
    """Z5: join-key skew diagnostic — the top-k heaviest keys of a
    prospective join column with their corpus share, the report that
    decides between a plain shuffle join, salting (z4), or an AQE skew
    split BEFORE running the join at 100 TB.

    The scale trap in "top 10 keys": a global window
    (row_number() OVER (ORDER BY cnt DESC)) sorts the ENTIRE key-count
    table on one task. The right physical shape is Spark's
    TakeOrderedAndProject — every partition keeps its local top-k heap,
    the driver merges k×partitions rows — which `orderBy().limit(k)`
    lowers to automatically (plan-asserted in tests). One
    map-combinable count shuffle + a 1-row total broadcast; ties broken
    by key so the report is deterministic.
    """
    li = _t(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    total = li.agg(F.count("*").cast("bigint").alias("total"))
    return (
        c.crossJoin(F.broadcast(total))
        .select(
            "key",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total")).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), F.col("key").asc())
        .limit(10)
    )


# =====================================================================
# Z6 — distributed global rank (TeraSort-style, no single-task window)
# =====================================================================


@query(
    "z6_global_rank",
    """
    WITH r AS (
      SELECT event_id, value,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS rnk,
             COUNT(*) OVER () AS total
      FROM events
    )
    SELECT event_id, value, CAST(rnk AS BIGINT) AS rnk,
           CAST(rnk AS DOUBLE) / total AS pct
    FROM r
    """,
)
def z6_global_rank(spark, sf_dir):
    """Z6: global rank / quantile-normalization of a corpus-sized
    column WITHOUT the single-task trap. ``row_number() OVER (ORDER BY
    ...)`` with no PARTITION BY — what the oracle runs — physically
    sorts the entire dataset on ONE task in Spark: the classic
    100 TB-killer hiding in innocuous SQL.

    The distributed formulation is TeraSort's ranking step:

    1. ``repartitionByRange(value, event_id)`` — Spark's sampled range
       exchange: partition i holds keys strictly below partition i+1,
       every partition sorts in parallel;
    2. per-partition row counts (ONE tiny agg job — the range shuffle
       is reused, not recomputed) collected to the driver: bounded
       state, one bigint per partition;
    3. global rank = local row_number within ``spark_partition_id()``
       (a PARALLEL window — 32 concurrent sorts) + the partition's
       cumulative offset mapped in as a literal.

    ``_pid`` is materialized as a column BEFORE the window's hash
    exchange (spark_partition_id is nondeterminism-tagged, so Catalyst
    cannot reorder it past the exchange), which is what makes the
    local ranks line up with the range order. Ties are impossible:
    (value, event_id) is a total order. pct = rank/total gives the
    exact empirical CDF — the quantile-normalized feature column.
    """
    e = _t(spark, sf_dir, "events").select("event_id", "value")
    # the ladder (range-pin, offset map, parallel window) lives in
    # operators/scale.global_rank — shared with l38's sorted-neighborhood
    # blocking
    r = global_rank(e, ["value", "event_id"])
    return r.select(
        "event_id",
        "value",
        "rnk",
        (
            F.col("rnk").cast("double") / F.col("n_total").cast("double")
        ).alias("pct"),
    )


# =====================================================================
# J9 — band-count join (customers within ±δ of each supplier's balance)
# =====================================================================

_J9_DELTA = 50.0


@query(
    "j9_band_count",
    f"""
    SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_in_band
    FROM supplier JOIN customer
      ON c_acctbal >  s_acctbal - {_J9_DELTA}
     AND c_acctbal <= s_acctbal + {_J9_DELTA}
    GROUP BY s_suppkey
    """,
)
def j9_band_count(spark, sf_dir):
    """J9: numeric band join as a DIFFERENCE OF TWO RANK MERGES — for
    every supplier, how many customers hold a balance within the
    (s − δ, s + δ] band. The generic "align within tolerance" count
    (sensor sync, price banding) that a naive engine writes as a
    pair-materializing theta join.

    n_band(s) = n_greater(s − δ) − n_greater(s + δ): two calls into
    the j5 rank/CDF primitive (:func:`finporter_spark.operators.joins.
    count_exceeding`) with the supplier value shifted by ∓δ, joined on
    the supplier key, subtracted. Zero row pairs materialized, work
    O(|S| + |C|) per call through one keyed shuffle each — the
    composition inherits j5's scale story by construction. The band is
    half-open (strict lower, inclusive upper) because the primitive
    counts STRICTLY greater on both calls; the oracle states the same
    contract. Suppliers with an empty band are absent (inner-join
    semantics), matching the oracle.

    Band-edge arithmetic: ``acctbal`` is stored as DOUBLE in the staged
    parquet (both engines read the identical IEEE-754 bits), so
    ``s_acctbal ± 50.0`` evaluates bit-identically in Spark and DuckDB
    and an edge-sitting customer cannot flip across engines. If the
    staged column were ever re-typed DECIMAL, recompute the shifted
    bounds on a decimal cast (the a29 quantization pattern) before
    comparing."""
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    c = _t(spark, sf_dir, "customer").select("c_acctbal")
    lo = count_exceeding(
        s.select(
            "s_suppkey", (F.col("s_acctbal") - _J9_DELTA).alias("v")
        ),
        ["s_suppkey"],
        "v",
        c,
        "c_acctbal",
    ).select("s_suppkey", F.col("n_greater").alias("n_lo"))
    hi = count_exceeding(
        s.select(
            "s_suppkey", (F.col("s_acctbal") + _J9_DELTA).alias("v")
        ),
        ["s_suppkey"],
        "v",
        c,
        "c_acctbal",
    ).select("s_suppkey", F.col("n_greater").alias("n_hi"))
    return (
        lo.join(hi.hint("merge"), "s_suppkey")
        .select(
            "s_suppkey",
            (F.col("n_lo") - F.col("n_hi")).cast("bigint").alias(
                "n_in_band"
            ),
        )
        .filter(F.col("n_in_band") > 0)
    )


# =====================================================================
# J11 — nearest-below value join (greatest customer balance <= each
# supplier's balance) via distributed global forward-fill
# =====================================================================


@query(
    "j11_nearest_below_join",
    """
    SELECT s_suppkey, s_acctbal,
           (SELECT MAX(c_acctbal) FROM customer
            WHERE c_acctbal <= s.s_acctbal) AS nearest_below
    FROM supplier s
    """,
)
def j11_nearest_below_join(spark, sf_dir):
    """J11: nearest-value join — for every supplier, the greatest
    customer balance at or below its own. The 1-D nearest-neighbor
    alignment (price banding, sensor sync, quote-to-trade matching)
    that a naive engine writes as a correlated MAX subquery — a
    per-row corpus scan, the oracle's (small-SF-affordable) shape.

    The scale plan is a MERGE: union both sides into one value-ordered
    stream (customers sort BEFORE the supplier at an equal value —
    encoded in the order key — so ties satisfy the <= contract), then
    :func:`finporter_spark.operators.scale.global_order_ffill` carries
    the last customer balance forward across the global order —
    range-partitioned parallel sorts, per-partition windows, one
    bounded driver carry ladder; no row pairs, no correlated scan,
    O(|S|+|C|) through one range exchange. Suppliers below every
    customer keep NULL (nothing to fill yet), matching the oracle's
    empty-set MAX."""
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_acctbal",
        F.col("s_acctbal").alias("v"),
        F.lit(1).alias("side"),
        F.lit(None).cast("double").alias("cbal"),
    )
    c = _t(spark, sf_dir, "customer").select(
        F.lit(None).cast("bigint").alias("s_suppkey"),
        F.lit(None).cast("double").alias("s_acctbal"),
        F.col("c_acctbal").alias("v"),
        F.lit(0).alias("side"),
        F.col("c_acctbal").alias("cbal"),
    )
    merged = c.unionByName(s)
    filled = global_order_ffill(
        merged,
        ["v", "side", "s_suppkey"],
        "cbal",
        out_col="nearest_below",
    )
    return filled.filter(F.col("side") == 1).select(
        "s_suppkey", "s_acctbal", "nearest_below"
    )


# =====================================================================
# J12 — backward as-of join with a match tolerance (staleness bound)
# =====================================================================


@query(
    "j12_asof_tolerance",
    """
    SELECT event_id, user_id, ts, p_event_id, p_ts, p_value FROM (
      SELECT l.event_id, l.user_id, l.ts,
             r.event_id AS p_event_id, r.ts AS p_ts, r.value AS p_value,
             row_number() OVER (PARTITION BY l.event_id
                                ORDER BY r.ts DESC, r.event_id DESC) AS rn
      FROM events l
      LEFT JOIN events r
        ON r.user_id = l.user_id AND r.event_type = 'purchase'
       AND r.ts <= l.ts AND r.ts >= l.ts - INTERVAL 2 HOUR
    ) WHERE rn = 1
    """,
)
def j12_asof_tolerance(spark, sf_dir):
    """J12: backward as-of join with a STALENESS TOLERANCE — j6's
    latest-prior-purchase enrichment, but a match older than 2 hours is
    no match (NULL-extended): the quote-staleness / feature-freshness
    contract every point-in-time feature store enforces (a 3-day-old
    price is not "the price as of now"). Exercises the
    ``operators.joins.asof_join(tolerance=...)`` parameter that j6/j6b
    leave at their defaults.

    Scale note (also the operator's docstring contract): the tolerance
    BOUNDS the range condition on both sides, which is what lets the
    underlying join prune to a time-banded equi-ish join instead of an
    unbounded inequality — at 100 TB the tolerance is what keeps the
    per-key scan window finite."""
    return _prior_purchase(
        spark, sf_dir, tolerance=F.expr("INTERVAL 2 HOURS")
    )


# =====================================================================
# P18 — VARIANT ingestion (Spark 4 semi-structured type)
# =====================================================================


def _p18_json_expr():
    """The synthesized semi-structured document p18/s17 share: nested
    object, array, OPTIONAL field (the l41 derive-the-mess pattern,
    since the corpus's props column is flat). Columns referenced:
    event_type, event_id, value."""
    return F.concat(
        F.lit('{"t":"'), F.col("event_type"),
        F.lit('","ks":['),
        (F.col("event_id") % 5).cast("string"),
        F.lit(","),
        (F.col("event_id") % 7).cast("string"),
        F.lit('],"nested":{"cents":'),
        F.round(F.col("value") * 100).cast("bigint").cast("string"),
        F.when(F.col("event_id") % 3 == 0, F.lit(',"tag":"hot"'))
        .otherwise(F.lit("")),
        F.lit("}}"),
    )


# The DuckDB mirror of _p18_json_expr: the document as a JSON string.
_P18_JSON_CTE = """j AS (
      SELECT event_id,
             '{"t":"' || event_type || '","ks":['
               || CAST(event_id % 5 AS VARCHAR) || ','
               || CAST(event_id % 7 AS VARCHAR)
               || '],"nested":{"cents":'
               || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
               || CASE WHEN event_id % 3 = 0
                       THEN ',"tag":"hot"' ELSE '' END
               || '}}' AS js
      FROM events
    )"""


@query(
    "p18_variant_extract",
    f"""
    WITH {_P18_JSON_CTE}
    SELECT event_id,
           json_extract_string(js, '$.t') AS t,
           CAST(json_extract(js, '$.ks[1]') AS BIGINT) AS k2,
           CAST(json_extract(js, '$.nested.cents') AS BIGINT) AS cents,
           json_extract_string(js, '$.nested.tag') AS tag
    FROM j
    """,
)
def p18_variant_extract(spark, sf_dir):
    """P18: Spark 4's VARIANT type — the modern semi-structured
    ingestion path p12's string-functions predate: a synthesized JSON
    document (nested object, array, OPTIONAL field — the l41
    derive-the-mess pattern, since the corpus's props column is flat)
    is parsed ONCE into a VARIANT column (``parse_json``, binary
    columnar encoding) and typed values are extracted by path
    (``variant_get`` with target types: string, array index, nested
    path, and a missing-field NULL). At 100 TB this is the
    schema-on-read contract for raw event lakes: VARIANT parses the
    document once at ingest and every downstream extraction is a typed
    columnar read — vs ``get_json_object`` re-parsing the string per
    expression. Absent fields surface as NULL, not errors.

    Oracle: DuckDB builds the semantically identical document with its
    own string concat and extracts via its JSON path functions —
    the hash compares the TYPED extracted values, so it certifies
    parse+path+cast semantics across two independent JSON engines
    (doubles avoided in the payload: cents ride as bigints)."""
    e = _t(spark, sf_dir, "events")
    v = e.select("event_id", F.parse_json(_p18_json_expr()).alias("v"))
    return v.select(
        "event_id",
        F.variant_get("v", "$.t", "string").alias("t"),
        F.variant_get("v", "$.ks[1]", "bigint").alias("k2"),
        F.variant_get("v", "$.nested.cents", "bigint").alias("cents"),
        F.variant_get("v", "$.nested.tag", "string").alias("tag"),
    )


# =====================================================================
# P19 — correlated LATERAL subquery (per-row top-k via decorrelation)
# =====================================================================


@query(
    "p19_lateral_topk",
    """
    SELECT n.n_name, t.s_name, t.s_acctbal
    FROM nation n,
    LATERAL (
      SELECT s_name, s_acctbal FROM supplier s
      WHERE s.s_nationkey = n.n_nationkey
      ORDER BY s_acctbal DESC, s_name LIMIT 2
    ) t
    """,
)
def p19_lateral_topk(spark, sf_dir):
    """P19: correlated LATERAL subquery — the remaining subquery FORM
    beside p13 (EXISTS) and p14 (scalar): a per-outer-row dependent
    subquery with its own ORDER BY + LIMIT ("top-2 suppliers for THIS
    nation"), the idiom SQL users reach for before they know window
    functions. The engine point is DECORRELATION: Catalyst rewrites the
    per-row nested loop into a WindowGroupLimit (partial map-side +
    final) over ONE supplier scan + a broadcast join back to nation —
    the plan never executes row-at-a-time, so the lateral form costs
    the same as the hand-written o2 window top-k. At 100 TB that is
    the whole story: correlated-subquery queries inherit the
    distributed window/join plan instead of a per-row re-scan.

    Oracle: DuckDB runs the IDENTICAL LATERAL text (its optimizer does
    its own decorrelation) — the hash certifies the two engines'
    rewrites agree row-for-row, ties broken deterministically
    (acctbal DESC, name ASC)."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("p19_nation")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("p19_supplier")
    return spark.sql(
        """
        SELECT n.n_name, t.s_name, t.s_acctbal
        FROM p19_nation n,
        LATERAL (
          SELECT s_name, s_acctbal FROM p19_supplier s
          WHERE s.s_nationkey = n.n_nationkey
          ORDER BY s_acctbal DESC, s_name LIMIT 2
        ) t
        """
    )
