"""Statistics and aggregation: the a family.

Rollups and sketches (HLL, KLL, KMV, count-min), percentiles,
experiment readouts (Welch, KS, Mann-Whitney, Kruskal-Wallis, Dunn,
two-proportion z, chi-square, CUPED), drift (PSI), attribution, funnels
and cohorts. Test statistics are computed on exact integers or
DECIMAL(28,6) sums wherever possible, so the value hash holds across
engines; the batch PSI queries (a40, a42) own the reference-decile
construction their streaming twins (x18, x18b) reuse.
"""

from __future__ import annotations

import math

from pyspark.sql import Window, functions as F

from finporter_spark.operators.prep import profile_columns
from finporter_spark.operators.scale import exact_percentiles, global_rank
from finporter_spark.operators.stats import (
    dunn_posthoc,
    erfc_poly_sql,
    kruskal_wallis,
    kruskal_wallis_by,
    ks_2sample,
    ks_2sample_by,
    mann_whitney_u,
    mann_whitney_u_by,
    normal_sf_two_sided,
    normal_sf_two_sided_sql,
)
from finporter_spark.queries.catalog import (
    DSUM,
    _t,
    dsum,
    query,
)


# =====================================================================
# A — aggregation
# =====================================================================

@query(
    "a2_count_distinct",
    """
    SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
    FROM orders GROUP BY o_orderpriority
    """,
)
def a2_count_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_cust")
    )


@query("a3_approx_count_distinct", None)  # ≈ operator: rows-only driver check
def a3_approx_count_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey").alias("approx_cust")
    )


@query(
    "a4_rollup",
    """
    SELECT r_name, n_name, COUNT(*) AS n_cust
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def a4_rollup(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"))
    )


@query(
    "a5_filtered_agg",
    f"""
    SELECT o_orderstatus,
           COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_urgent,
           {DSUM("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END")} AS urgent_rev,
           COUNT(*) AS n_total
    FROM orders GROUP BY o_orderstatus
    """,
)
def a5_filtered_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return o.groupBy("o_orderstatus").agg(
        F.count(F.when(urgent, 1)).alias("n_urgent"),
        dsum(F.when(urgent, F.col("o_totalprice"))).alias("urgent_rev"),
        F.count("*").alias("n_total"),
    )


@query(
    "a6_collect_sorted",
    """
    SELECT c_mktsegment,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def a6_collect_sorted(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("o_orderpriority"))).alias(
                "priorities"
            )
        )
    )


@query(
    "a7_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.5) AS p50,
           quantile_cont(l_extendedprice, 0.75) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a7_percentiles(spark, sf_dir):
    # EXACT interpolated percentiles via the distributed two-phase
    # rank-select (operators/scale.exact_percentiles) — F.percentile
    # would buffer and sort each group's full value set in one task
    # (~N/3 rows per task here: 3 groups), a memory scale-killer at
    # corpus size; rank-select sorts only the ≤6 ladder buckets that
    # contain a target rank

    l = _t(spark, sf_dir, "lineitem")
    long = exact_percentiles(
        l, ["l_returnflag"], "l_extendedprice", [0.25, 0.5, 0.75]
    )
    return long.groupBy("l_returnflag").agg(
        F.max(F.when(F.col("fraction") == 0.25, F.col("value"))).alias("p25"),
        F.max(F.when(F.col("fraction") == 0.5, F.col("value"))).alias("p50"),
        F.max(F.when(F.col("fraction") == 0.75, F.col("value"))).alias("p75"),
    )


@query(
    "a4_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS rev
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def a4_cube(spark, sf_dir):
    """A4 cube: all 4 grouping-set combinations in one pass (Spark expands
    to a single shuffle with grouping-id, no per-set rescan)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
        .cast("double")
        .alias("rev"),
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@query(
    "a8_pivot",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT)
             AS urgent,
           CAST(COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT)
             AS high,
           CAST(COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT)
             AS medium,
           CAST(COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT)
             AS not_specified,
           CAST(COUNT(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT)
             AS low
    FROM orders GROUP BY o_orderstatus
    """,
)
def a8_pivot(spark, sf_dir):
    """A8 pivot: long->wide reshape. The pivot value list is EXPLICIT —
    with it Spark pivots in a single pass (one shuffle, like any grouped
    agg); without it a separate distinct-collect job must run first, and
    the output schema becomes data-dependent (a non-starter for a 100 TB
    production plan)."""
    o = _t(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderstatus").pivot("o_orderpriority", _PRIORITIES).count()
    )
    renames = dict(
        zip(_PRIORITIES, ["urgent", "high", "medium", "not_specified", "low"])
    )
    out = wide.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(renames[p])
            for p in _PRIORITIES
        ],
    )
    return out


@query(
    "a9_having",
    """
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 8
    """,
)
def a9_having(spark, sf_dir):
    """A-family HAVING: post-aggregation filter (big-spender cohort).
    Catalyst evaluates it after the single grouped pass — no second scan.
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
            .cast("double")
            .alias("spend"),
        )
        .filter(F.col("n_orders") >= 8)
    )


@query("a10_hll_sketch", None)  # ≈ operator: error bound in tests
def a10_hll_sketch(spark, sf_dir):
    """A10: mergeable distinct-count sketches (Apache DataSketches HLL,
    JVM-side `hll_sketch_agg`). Unlike a3's one-shot approx_count_distinct,
    the sketch itself is the aggregation state — the per-group partial
    sketches merge associatively across partitions, which is what a
    1000-executor rollup or an incremental (streaming) distinct count
    needs. lgConfigK=14 => ~1% relative standard error
    (tests/test_operators.py asserts <5% vs the exact count at sf0.001
    and sf0.1)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(14))
            ).alias("approx_users")
        )
    )


@query("a11_kll_quantiles", None)  # ≈ operator: error bound in tests
def a11_kll_quantiles(spark, sf_dir):
    """A11: streaming-mergeable quantile sketches (KLL). a7 computes
    exact percentiles with a full sort per group; the KLL sketch gives
    rank-error-bounded quantiles from one pass of mergeable state — the
    scale path for percentiles over 100 TB (and the only viable one
    under streaming). k=400 => ~1% rank error (threshold-tested vs a7's
    exact values)."""
    e = _t(spark, sf_dir, "events")
    sk = F.kll_sketch_agg_double("value", F.lit(400))
    return e.groupBy("event_type").agg(
        F.kll_sketch_get_quantile_double(sk, F.lit(0.5)).alias("p50"),
        F.kll_sketch_get_quantile_double(sk, F.lit(0.95)).alias("p95"),
    )


@query("a12_count_min", None)  # ≈ operator: CMS bounds asserted in tests
def a12_count_min(spark, sf_dir):
    """A12: mergeable frequency sketches (Count-Min, JVM
    ``count_min_sketch`` agg — completes the sketch family next to
    a10's HLL and a11's KLL). The per-partition partial sketches merge
    associatively, so the same one-pass state serves a 1000-executor
    heavy-hitter scan or an incremental stream. eps=0.001, conf=0.99 =>
    est in [true, true + eps*N] w.p. 0.99 (threshold-tested). The
    ~112 KB merged sketch is deserialized driver-side through Spark's
    own public CountMinSketch.readFrom and point-queried for the probe
    keys — the analogue of the IVF centroid collect: constant-size
    state, not data."""
    e = _t(spark, sf_dir, "events")
    blob = bytes(
        e.agg(
            F.expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)").alias("s")
        ).first()["s"]
    )
    jcms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        blob
    )
    # probe set BOUNDED by contract (user_id < 100): CMS point queries
    # answer "how hot are these candidates?", not a full-domain
    # enumeration (that's a groupBy) — and each probe is a driver py4j
    # roundtrip, so an unbounded loop scales with key cardinality
    # (measured 8 s at sf0.1's key count vs <2 s bounded)
    keys = [
        r.user_id
        for r in e.select("user_id")
        .filter(F.col("user_id") < 100)
        .distinct()
        .collect()
    ]
    rows = [
        (int(k), int(jcms.estimateCount(spark._jvm.java.lang.Long(int(k)))))
        for k in sorted(keys)
    ]
    return spark.createDataFrame(rows, "user_id bigint, est_count bigint")


@query("a14_rolling_hll_rollup", None)  # ≈ operator: error bound in tests
def a14_rolling_hll_rollup(spark, sf_dir):
    """A14: trailing-7-day distinct users from MERGED per-day HLL
    sketches — the rollup pattern sketches exist for: the corpus-sized
    pass builds ONE sketch per day (`hll_sketch_agg`, partials merge
    associatively across executors), and every trailing window then
    unions 7 tiny sketches (`hll_union_agg`) instead of rescanning 7
    days of raw events per output row. The naive COUNT(DISTINCT) over a
    sliding range frame re-shuffles user_ids once per window; this
    formulation touches raw data once and the rollup's input is
    #days × ~10 KB, broadcastable at any corpus size. Declared ≈:
    rows-only in the gate, relative error vs the exact trailing
    distinct asserted <5% in tests/test_operators.py (the a10
    contract)."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.select(F.to_date("ts").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"))
    )
    # trailing 7-day window: day-grain self-join (bounded fan-out 7) so
    # the union stays an aggregation of sketch BINARIES, never raw rows
    days = daily.select(F.col("day").alias("anchor"))
    joined = days.join(
        daily,
        (F.col("day") <= F.col("anchor"))
        & (F.col("day") >= F.date_sub(F.col("anchor"), 6)),
    )
    return (
        joined.groupBy("anchor")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False)))
            .alias("approx_users_7d")
        )
        .select(F.col("anchor").alias("day"), "approx_users_7d")
    )


@query(
    "a15_grouping_sets",
    f"""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           {DSUM('value')} AS total,
           CAST(GROUPING(event_type) * 2 + GROUPING(date_trunc('day', ts))
                AS BIGINT) AS gid
    FROM events
    GROUP BY GROUPING SETS ((event_type), (date_trunc('day', ts)), ())
    """,
)
def a15_grouping_sets(spark, sf_dir):
    """A15: explicit GROUPING SETS — the mixed-dimension aggregation
    rollup/cube can't express ((type), (day), ()) without computing the
    unwanted (type, day) cell — plus GROUPING()-derived ids so
    consumers can tell a NULL dimension from a subtotal row. Catalyst
    plans one Expand over the three sets with map-side partial
    aggregation: the corpus is scanned once, exactly like a4."""
    e = _t(spark, sf_dir, "events")
    e.createOrReplaceTempView("events_a15")
    return spark.sql(
        """
        SELECT event_type,
               date_trunc('day', ts) AS day,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
               CAST(GROUPING(event_type) * 2 + GROUPING(date_trunc('day', ts))
                    AS BIGINT) AS gid
        FROM events_a15
        GROUP BY GROUPING SETS ((event_type), (date_trunc('day', ts)), ())
        """
    )


@query(
    "a13_profile_columns",
    """
    SELECT 'doc_id' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(doc_id) AS BIGINT) AS n_nonnull,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
           MIN(CAST(doc_id AS VARCHAR)) AS min_str,
           MAX(CAST(doc_id AS VARCHAR)) AS max_str,
           CAST(AVG(length(CAST(doc_id AS VARCHAR))) AS DOUBLE) AS avg_len
    FROM documents
    UNION ALL
    SELECT 'lang', CAST(COUNT(*) AS BIGINT), CAST(COUNT(lang) AS BIGINT),
           CAST(COUNT(DISTINCT lang) AS BIGINT),
           MIN(lang), MAX(lang),
           CAST(AVG(length(lang)) AS DOUBLE)
    FROM documents
    UNION ALL
    SELECT 'source', CAST(COUNT(*) AS BIGINT), CAST(COUNT(source) AS BIGINT),
           CAST(COUNT(DISTINCT source) AS BIGINT),
           MIN(source), MAX(source),
           CAST(AVG(length(source)) AS DOUBLE)
    FROM documents
    UNION ALL
    SELECT 'n_chars', CAST(COUNT(*) AS BIGINT), CAST(COUNT(n_chars) AS BIGINT),
           CAST(COUNT(DISTINCT n_chars) AS BIGINT),
           MIN(CAST(n_chars AS VARCHAR)), MAX(CAST(n_chars AS VARCHAR)),
           CAST(AVG(length(CAST(n_chars AS VARCHAR))) AS DOUBLE)
    FROM documents
    """,
)
def a13_profile_columns(spark, sf_dir):
    """A13: one-pass exact column profiler (non-null / distinct /
    min / max / mean length per column) — the pre-ingest data-quality
    summary. Multiple exact countDistincts in ONE agg: Catalyst's
    Expand plan scans the corpus once (vs the oracle's per-column
    re-reads, which is why the oracle is written as UNION ALL);
    unpivot is a map-side stack."""
    return profile_columns(
        _t(spark, sf_dir, "documents"),
        ["doc_id", "lang", "source", "n_chars"],
    )


# =====================================================================
# A16 — exact percentiles on a skewed distribution (events.value is
# exponential), incl. the edge fractions 0.0 / 1.0 and a deep tail
# =====================================================================


@query(
    "a16_event_value_percentiles",
    """
    SELECT event_type,
           quantile_cont(value, 0.0)  AS p0,
           quantile_cont(value, 0.5)  AS p50,
           quantile_cont(value, 0.9)  AS p90,
           quantile_cont(value, 0.99) AS p99,
           quantile_cont(value, 1.0)  AS p100
    FROM events GROUP BY event_type
    """,
)
def a16_event_value_percentiles(spark, sf_dir):
    """A16: the distributed exact rank-select (operators/scale.
    exact_percentiles, the a7 engine) on an EXPONENTIAL value
    distribution — long-tailed, so the uniform-width bucket ladder is
    deliberately stress-tested off its best case — including the p0 /
    p100 edge fractions (rank 1 / rank n: d = 0, lo == hi) and a deep
    p99 tail. Still exact vs DuckDB quantile_cont; no per-group value
    buffer anywhere in the plan (tests/test_scale.py plan assert)."""
    long = exact_percentiles(
        _t(spark, sf_dir, "events"),
        ["event_type"],
        "value",
        [0.0, 0.5, 0.9, 0.99, 1.0],
    )
    pick = lambda q, n: F.max(  # noqa: E731
        F.when(F.col("fraction") == q, F.col("value"))
    ).alias(n)
    return long.groupBy("event_type").agg(
        pick(0.0, "p0"),
        pick(0.5, "p50"),
        pick(0.9, "p90"),
        pick(0.99, "p99"),
        pick(1.0, "p100"),
    )


# =====================================================================
# A17 — event funnel conversion (view -> click -> purchase, ordered)
# =====================================================================


@query(
    "a17_funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.v_ts
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
      GROUP BY e.user_id
    )
    SELECT stage, n FROM (
      SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM v
      UNION ALL
      SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM c
      UNION ALL
      SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM p
    )
    """,
)
def a17_funnel_conversion(spark, sf_dir):
    """A17: ORDERED funnel — users who viewed, then clicked strictly
    after their first view, then purchased strictly after that first
    click (the product-analytics staple; order matters, so it is NOT
    three independent counts). Three map-combinable per-user MIN
    aggregates, each stage joining the previous stage's (user, ts)
    frame on the user key — every shuffle is user-keyed and each
    stage's frame only shrinks. No window over the whole event stream,
    no per-user event buffering."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(etype, prev, prev_ts):
        return (
            ev.where(F.col("event_type") == etype)
            .join(prev, "user_id")
            .where(F.col("ts") > F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(f"{etype}_ts"))
        )

    # stage frames pinned: each feeds the NEXT stage's join and its own
    # funnel count — unpinned, stage N's corpus agg re-ran once per
    # downstream reference (guide §2.4); user-sized
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
        .localCheckpoint(eager=False)
    )
    c = first_after("click", v, "v_ts").withColumnRenamed(
        "click_ts", "c_ts"
    ).localCheckpoint(eager=False)
    p = first_after("purchase", c, "c_ts")

    def stage(df, name):
        return df.agg(
            F.lit(name).alias("stage"),
            F.count("*").cast("bigint").alias("n"),
        )

    return (
        stage(v, "1_view")
        .unionByName(stage(c, "2_click"))
        .unionByName(stage(p, "3_purchase"))
    )


# =====================================================================
# A18 — cross-series correlation matrix (daily per-type revenue)
# =====================================================================


@query(
    "a18_event_correlation",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, event_type,
             SUM(value) AS daily FROM events
      GROUP BY 1, 2
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           round(corr(a.daily, b.daily), 6) AS corr6,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM d a JOIN d b ON a.day = b.day AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
)
def a18_event_correlation(spark, sf_dir):
    """A18: pairwise correlation of the per-type daily revenue series —
    the cross-signal diagnostic run before trusting one event stream as
    a proxy for another. One date-keyed aggregation builds the daily
    matrix (tiny: days x 5 types), the pair join and corr() run on that
    aggregate, never on raw events — at 100 TB the only corpus-sized
    work is the first map-combinable groupBy."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.sum("value").alias("daily"))
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.round(F.corr("a.daily", "b.daily"), 6).alias("corr6"),
            F.count("*").cast("bigint").alias("n_days"),
        )
    )


# =====================================================================
# A19 — KMV (theta-sketch) set-intersection estimate, deterministic
# =====================================================================

_KMV_K = 256
_HEX13 = float(1 << 52)  # 13 hex digits = 52 bits, exact as double


@query(
    "a19_kmv_intersection",
    f"""
    WITH tu AS (
      SELECT DISTINCT event_type AS t, user_id FROM events
    ), hs AS (
      SELECT DISTINCT t,
             CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)
                       AS BIGINT) AS DOUBLE) / {_HEX13!r} AS h
      FROM tu
    ), sk AS (
      SELECT t, h FROM (
        SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn
        FROM hs
      ) WHERE rn <= {_KMV_K}
    ), ts AS (
      SELECT DISTINCT t FROM sk
    ), tp AS (
      SELECT a.t AS ta, b.t AS tb FROM ts a JOIN ts b ON a.t < b.t
    ), uh AS (
      SELECT ta, tb, h, MAX(ia) AS ia, MAX(ib) AS ib FROM (
        SELECT tp.ta, tp.tb, s.h, 1 AS ia, 0 AS ib
        FROM tp JOIN sk s ON s.t = tp.ta
        UNION ALL
        SELECT tp.ta, tp.tb, s.h, 0, 1
        FROM tp JOIN sk s ON s.t = tp.tb
      ) GROUP BY ta, tb, h
    ), r AS (
      SELECT ta, tb, h, ia, ib,
             row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY ta, tb) AS cu
      FROM uh
    ), kk AS (
      SELECT ta, tb,
             MAX(CASE WHEN rn <= {_KMV_K} THEN h END) AS kth,
             MAX(cu) AS cu,
             SUM(CASE WHEN rn <= {_KMV_K} AND ia = 1 AND ib = 1
                 THEN 1 ELSE 0 END) AS m
      FROM r GROUP BY ta, tb
    )
    SELECT ta AS type_a, tb AS type_b,
           CAST(m AS DOUBLE)
             / (CASE WHEN cu >= {_KMV_K} THEN kth ELSE 1.0 END)
             AS est_common_users
    FROM kk
    """,
)
def a19_kmv_intersection(spark, sf_dir):
    """A19: pairwise audience-overlap estimates via KMV / theta
    sketches (Beyer et al., SIGMOD'07) — |users(a) ∩ users(b)| for
    every event-type pair from k-minimum-value sketches, the sketch
    family HLL cannot provide (HLL unions; it cannot intersect).

    Each set keeps its k smallest hash values; for a pair, θ = the
    k-th smallest of the UNION of the two sketches and m = values ≤ θ
    present in both → estimate m/θ (sketches shorter than k are the
    whole set: θ = 1, exact). The corpus-sized work is one distinct
    over (type, user) — one keyed shuffle, map-combinable; everything
    after runs on k·|types| rows. At 100 TB the sketches are the ONLY
    thing that crosses the wire.

    The hash is md5 (identical hex in Spark and DuckDB, the catalog's
    deterministic-sampling pattern; 13 hex digits = 52 bits, exact as
    a double), so this APPROXIMATE sketch is nonetheless bit-identical
    cross-engine — the oracle runs the same estimator and the gate is
    a full hash match. Accuracy vs exact intersections is the pytest
    threshold test (tests/test_r8_ops.py), not the oracle."""
    k = _KMV_K
    ev = _t(spark, sf_dir, "events")
    tu = ev.select(F.col("event_type").alias("t"), "user_id").distinct()
    hs = tu.select(
        "t",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 13),
                16, 10,
            ).cast("double")
            / F.lit(_HEX13)
        ).alias("h"),
    ).distinct()
    wt = Window.partitionBy("t").orderBy("h")
    sk = (
        hs.withColumn("rn", F.row_number().over(wt))
        .where(F.col("rn") <= k)
        .select("t", "h")
        # pinned: the k·|types|-row sketch feeds the type-pair spine
        # and BOTH union sides — unpinned, the corpus distinct + top-k
        # window ran three times (guide §2.4)
        .localCheckpoint(eager=False)
    )
    ts_ = sk.select("t").distinct()
    tp = (
        ts_.alias("a")
        .join(ts_.alias("b"), F.col("a.t") < F.col("b.t"))
        .select(F.col("a.t").alias("ta"), F.col("b.t").alias("tb"))
    )
    ua = tp.join(sk, sk.t == tp.ta).select(
        "ta", "tb", "h", F.lit(1).alias("ia"), F.lit(0).alias("ib")
    )
    ub = tp.join(sk, sk.t == tp.tb).select(
        "ta", "tb", "h", F.lit(0).alias("ia"), F.lit(1).alias("ib")
    )
    uh = (
        ua.unionByName(ub)
        .groupBy("ta", "tb", "h")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    wp = Window.partitionBy("ta", "tb").orderBy("h")
    r = uh.withColumn("rn", F.row_number().over(wp)).withColumn(
        "cu", F.count("*").over(Window.partitionBy("ta", "tb"))
    )
    kk = r.groupBy("ta", "tb").agg(
        F.max(F.when(F.col("rn") <= k, F.col("h"))).alias("kth"),
        F.max("cu").alias("cu"),
        F.sum(
            F.when(
                (F.col("rn") <= k) & (F.col("ia") == 1) & (F.col("ib") == 1),
                1,
            ).otherwise(0)
        ).alias("m"),
    )
    return kk.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        (
            F.col("m").cast("double")
            / F.when(F.col("cu") >= k, F.col("kth")).otherwise(F.lit(1.0))
        ).alias("est_common_users"),
    )


# =====================================================================
# A20 — CUPED variance-reduced experiment metric
# =====================================================================

_CUPED_CUTOFF = "2024-01-16 00:00:00"


@query(
    "a20_cuped_metric",
    f"""
    WITH m AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN ts <  TIMESTAMP '{_CUPED_CUTOFF}'
                      THEN CAST(value AS DECIMAL(28,6)) ELSE 0 END)
                  AS DOUBLE) AS x,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}'
                      THEN CAST(value AS DECIMAL(28,6)) ELSE 0 END)
                  AS DOUBLE) AS y,
             CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                           1, 8) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant
      FROM events GROUP BY user_id
    ), g AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(28,6)) * CAST(x AS DECIMAL(28,6)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6)))
                  AS DOUBLE) AS sxy
      FROM m
    ), th AS (
      SELECT (sxy / n - (sx / n) * (sy / n))
               / (sxx / n - (sx / n) * (sx / n)) AS theta,
             sx / n AS xbar
      FROM g
    )
    SELECT variant,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
             AS mean_y,
           CAST(SUM(CAST(y - th.theta * (x - th.xbar) AS DECIMAL(28,6)))
                AS DOUBLE) / COUNT(*) AS mean_y_cuped
    FROM m, th GROUP BY variant, th.theta, th.xbar
    """,
)
def a20_cuped_metric(spark, sf_dir):
    """A20: CUPED variance reduction (Deng et al., WSDM'13) — the
    experimentation-platform staple: per-user post-period metric y is
    adjusted by the pre-period covariate x, ŷ = y − θ(x − x̄) with
    θ = cov(x, y)/var(x), shrinking variance by the x↔y correlation²
    without biasing the A/B delta. Variant assignment is the md5
    bucket of user_id (deterministic cross-engine).

    Plan shape: one corpus-sized map-combinable groupBy(user) builds
    (x, y); θ comes from ONE global aggregate over users (decimal-
    routed moment sums, so both engines agree bit-for-bit — covar_pop
    would drift past the 9 dp gate on summation order); the adjusted
    means are a second user-level aggregate with the 1-row θ broadcast.
    Nothing beyond the user table ever re-shuffles."""
    cutoff = F.lit(_CUPED_CUTOFF).cast("timestamp")
    ev = _t(spark, sf_dir, "events")
    dec = lambda c: c.cast("decimal(28,6)")  # noqa: E731
    m = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("ts") < cutoff, dec(F.col("value"))).otherwise(
                F.lit(0).cast("decimal(28,6)")
            )
        )
        .cast("double")
        .alias("x"),
        F.sum(
            F.when(F.col("ts") >= cutoff, dec(F.col("value"))).otherwise(
                F.lit(0).cast("decimal(28,6)")
            )
        )
        .cast("double")
        .alias("y"),
    ).withColumn(
        "variant",
        F.when(
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16, 10,
            ).cast("long")
            % 2
            == 0,
            F.lit("A"),
        ).otherwise(F.lit("B")),
    )
    g = m.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(dec(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec(F.col("y"))).cast("double").alias("sy"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).cast("double").alias("sxx"),
        F.sum(dec(F.col("x")) * dec(F.col("y"))).cast("double").alias("sxy"),
    )
    th = g.select(
        (
            (F.col("sxy") / F.col("n") - (F.col("sx") / F.col("n")) * (F.col("sy") / F.col("n")))
            / (F.col("sxx") / F.col("n") - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n")))
        ).alias("theta"),
        (F.col("sx") / F.col("n")).alias("xbar"),
    )
    adj = m.crossJoin(F.broadcast(th))
    return adj.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n_users"),
        (F.sum(dec(F.col("y"))).cast("double") / F.count("*")).alias(
            "mean_y"
        ),
        (
            F.sum(
                dec(
                    F.col("y")
                    - F.col("theta") * (F.col("x") - F.col("xbar"))
                )
            ).cast("double")
            / F.count("*")
        ).alias("mean_y_cuped"),
    )


# =====================================================================
# A21 — closed-form grouped OLS (per-group trend fit from exact sums)
# =====================================================================

_OLS_EPOCH0 = "2024-01-01 00:00:00"


@query(
    "a21_grouped_ols",
    f"""
    WITH p AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(epoch(TIMESTAMP '{_OLS_EPOCH0}') AS BIGINT) AS x,
             value AS y
      FROM events
    ), g AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(28,6)) * CAST(x AS DECIMAL(28,6)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6)))
                  AS DOUBLE) AS sxy
      FROM p GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             AS intercept
    FROM g
    """,
)
def a21_grouped_ols(spark, sf_dir):
    """A21: per-group least-squares trend (value vs time) in closed
    form — slope/intercept per event_type from the five classical
    sums (n, Σx, Σy, Σx², Σxy).

    This is the scale-correct shape for grouped regression: ONE
    map-combinable keyed aggregation (each executor contributes
    partial sums; no per-group row buffering, no iterative solver),
    then O(groups) scalar arithmetic. x is centered on a fixed epoch
    (2024-01-01) BEFORE squaring so the decimal products stay ~1e13
    instead of ~1e18 — centering changes the intercept's origin (it
    is reported at the centered origin) but not the slope, and keeps
    Σx² inside DECIMAL(38,12) headroom at any SF. Sums are
    decimal-exact on both engines; the slope/intercept division runs
    in double on identical inputs, so the hash matches bit-for-bit.
    (Spark's built-in regr_slope/regr_intercept double-sum in
    engine-specific order — fine numerically, but not hash-stable
    across engines; the explicit decimal sums are.)
    """
    e = _t(spark, sf_dir, "events")
    dec = lambda c: c.cast("decimal(28,6)")  # noqa: E731
    x = (
        F.unix_timestamp("ts")
        - F.unix_timestamp(F.lit(_OLS_EPOCH0).cast("timestamp"))
    ).alias("x")
    p = e.select("event_type", x, F.col("value").alias("y"))
    g = p.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(dec(F.col("x"))).cast("double").alias("sx"),
        F.sum(dec(F.col("y"))).cast("double").alias("sy"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).cast("double").alias("sxx"),
        F.sum(dec(F.col("x")) * dec(F.col("y"))).cast("double").alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias(
            "intercept"
        ),
    )


# =====================================================================
# A22 — hierarchical rollup: coarse grains re-aggregated from partials
# =====================================================================


@query(
    "a22_hierarchical_rollup",
    """
    SELECT event_type,
           strftime(date_trunc('week', CAST(ts AS DATE)), '%Y-%m-%d')
             AS week,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
           CAST(MIN(value) AS DOUBLE) AS lo,
           CAST(MAX(value) AS DOUBLE) AS hi,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
             AS mean
    FROM events GROUP BY 1, 2
    """,
)
def a22_hierarchical_rollup(spark, sf_dir):
    """A22: hierarchical (hypertable-style) rollup — weekly aggregates
    REBUILT FROM DAILY PARTIALS, never from raw rows. The continuous-
    aggregate pattern every timeseries store runs at scale: maintain
    the finest grain once, derive every coarser grain by re-aggregating
    partials (count→sum, sum→sum, min→min, max→max; avg carried as
    sum/count so it stays exactly re-aggregable — the classic
    algebraic-aggregate decomposition).

    At 100 TB the difference is structural: raw→weekly rescans the
    corpus per grain, daily→weekly touches ~1/7000th (the daily rows).
    The day agg is one map-combinable shuffle over raw; the week agg
    shuffles only the day-grain rows. The oracle aggregates raw→weekly
    directly — the hash match IS the proof that the partial
    composition is lossless (decimal sums make it exact, not
    approximately-associative doubles).
    """
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(28,6)")).alias("total"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    )
    return (
        daily.groupBy(
            "event_type",
            F.date_format(F.date_trunc("week", F.col("day")), "yyyy-MM-dd")
            .alias("week"),
        )
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("total").alias("total_dec"),
            F.min("lo").cast("double").alias("lo"),
            F.max("hi").cast("double").alias("hi"),
        )
        .select(
            "event_type",
            "week",
            "n",
            F.col("total_dec").cast("double").alias("total"),
            "lo",
            "hi",
            (F.col("total_dec").cast("double") / F.col("n")).alias("mean"),
        )
    )


# =====================================================================
# A23 — first-order Markov transition matrix over per-user sequences
# =====================================================================


@query(
    "a23_markov_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ), c AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY prev_type) AS prob
    FROM c
    """,
)
def a23_markov_transitions(spark, sf_dir):
    """A23: first-order Markov transition matrix of user event
    sequences — P(next event type | current), the behavioral model
    behind session simulation, anomaly scoring, and attribution.

    One window shuffle (per-user lag in (ts, event_id) order) + one
    map-combinable pair count. The normalizing row sums run as a
    window over the AGGREGATED transition table — |types|² rows, a
    config-sized domain, so the per-prev partition is trivially small
    at any corpus size (the same distinction z5 makes: windows over
    aggregates are fine, windows over the corpus are not).
    """
    e = _t(spark, sf_dir, "events")
    seq = e.select(
        "event_type",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    return c.select(
        "prev_type",
        "next_type",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy("prev_type"))
        ).alias("prob"),
    )


# =====================================================================
# A24 — chi-square independence test (event mix vs experiment cohort)
# =====================================================================


@query(
    "a24_chi_square",
    """
    WITH obs AS (
      SELECT event_type,
             CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                           1, 8) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, variant, n,
             SUM(n) OVER (PARTITION BY event_type) AS row_n,
             SUM(n) OVER (PARTITION BY variant) AS col_n,
             SUM(n) OVER () AS tot
      FROM obs
    )
    SELECT event_type, variant, n,
           CAST(row_n AS DOUBLE) * col_n / tot AS expected,
           (n - CAST(row_n AS DOUBLE) * col_n / tot)
             * (n - CAST(row_n AS DOUBLE) * col_n / tot)
             / (CAST(row_n AS DOUBLE) * col_n / tot) AS contrib
    FROM m
    """,
)
def a24_chi_square(spark, sf_dir):
    """A24: chi-square independence test — is the event-type mix
    independent of the experiment cohort? (The guardrail check run
    next to a20's CUPED readout: a significant chi-square on the mix
    means the randomization is broken, not the metric.) Cohort =
    deterministic md5 split, same as a20.

    One map-combinable contingency count (|types|x|variants| cells —
    config-sized), then the marginals run as windows over the
    AGGREGATED cell table (the z5/a23 rule: windows over aggregates,
    never the corpus). Counts are exact integers on both engines, the
    expected/contrib arithmetic is the identical double expression on
    identical inputs, so even the test statistic's components
    hash-match; the pytest sums contribs against scipy-free python.
    """
    e = _t(spark, sf_dir, "events")
    variant = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
               16, 10).cast("bigint") % 2 == 0,
        "A",
    ).otherwise("B")
    obs = e.groupBy(
        "event_type", variant.alias("variant")
    ).agg(F.count("*").cast("bigint").alias("n"))
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("variant")
    wt = Window.partitionBy()
    m = obs.select(
        "event_type",
        "variant",
        "n",
        F.sum("n").over(wr).alias("row_n"),
        F.sum("n").over(wc).alias("col_n"),
        F.sum("n").over(wt).alias("tot"),
    )
    expected = (
        F.col("row_n").cast("double") * F.col("col_n") / F.col("tot")
    )
    return m.select(
        "event_type",
        "variant",
        "n",
        expected.alias("expected"),
        ((F.col("n") - expected) * (F.col("n") - expected) / expected).alias(
            "contrib"
        ),
    )


# =====================================================================
# A25 — conversion-latency percentiles per experiment cohort
# =====================================================================


@query(
    "a25_conversion_latency",
    """
    WITH fv AS (
      SELECT user_id, MIN(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), fp AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase
      FROM events e JOIN fv ON fv.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view
      GROUP BY e.user_id
    ), lat AS (
      SELECT fv.user_id,
             CASE WHEN CAST('0x' || substr(md5(CAST(fv.user_id AS VARCHAR)),
                                           1, 8) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             CAST(floor(epoch(fp.first_purchase)) AS BIGINT)
               - CAST(floor(epoch(fv.first_view)) AS BIGINT) AS latency_s
      FROM fv JOIN fp ON fp.user_id = fv.user_id
    )
    SELECT variant, 0.5 AS fraction,
           quantile_cont(latency_s, 0.5) AS latency_s
    FROM lat GROUP BY variant
    UNION ALL
    SELECT variant, 0.9, quantile_cont(latency_s, 0.9)
    FROM lat GROUP BY variant
    UNION ALL
    SELECT variant, 0.99, quantile_cont(latency_s, 0.99)
    FROM lat GROUP BY variant
    """,
)
def a25_conversion_latency(spark, sf_dir):
    """A25: view→purchase conversion-latency percentiles per
    experiment cohort — the metric an A/B readout actually reports
    next to a17's conversion RATE (did the variant make buyers
    FASTER, not just more numerous). Latency = first purchase at or
    after the user's first view; cohort = the a20/a24 md5 split.

    Two map-combinable min-aggs (first view per user; first
    qualifying purchase per user via one keyed join — no window over
    the corpus), then the p50/p90/p99 ladder through
    `operators/scale.exact_percentiles` (the a7 rank-select: exact
    quantile_cont interpolation, no per-group buffer — per-cohort
    latencies at 100 TB are millions of rows, exactly the case
    approx_percentile would silently fuzz and a sort-buffer
    percentile would OOM). Latencies are integer-second epoch deltas
    (unix_timestamp truncation on both engines), so interpolated
    percentiles hash bit-for-bit.
    """
    e = _t(spark, sf_dir, "events")
    fv = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
        # pinned: feeds the qualifying-purchase join AND the latency
        # join (guide §2.4); user-sized
        .localCheckpoint(eager=False)
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    variant = F.when(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
               16, 10).cast("bigint") % 2 == 0,
        "A",
    ).otherwise("B")
    lat = (
        fv.join(fp, "user_id")
        .select(
            variant.alias("variant"),
            (
                F.unix_timestamp("first_purchase")
                - F.unix_timestamp("first_view")
            )
            .cast("double")
            .alias("latency_s"),
        )
    )
    # pinned: exact_percentiles reads its input three times (stats,
    # bucket, rank-pick — the w17 pattern); unpinned, the whole
    # fv⋈fp latency build ran three times (194 Exchanges in the
    # round-14 before-plan)
    lat = lat.localCheckpoint(eager=False)
    out = exact_percentiles(lat, ["variant"], "latency_s", [0.5, 0.9, 0.99])
    return out.select(
        "variant", "fraction", F.col("value").alias("latency_s")
    )


# =====================================================================
# A26 — weekly retention cohorts
# =====================================================================


@query(
    "a26_retention_cohorts",
    """
    WITH f AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(CAST(ts AS DATE))) AS DATE) AS w0
      FROM events GROUP BY user_id
    ), act AS (
      SELECT DISTINCT e.user_id, f.w0,
             CAST(floor(date_diff('day', f.w0, CAST(e.ts AS DATE)) / 7.0)
                  AS BIGINT) AS wk
      FROM events e JOIN f ON f.user_id = e.user_id
    ), cs AS (
      SELECT w0, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM f GROUP BY w0
    )
    SELECT strftime(act.w0, '%Y-%m-%d') AS cohort_week,
           act.wk AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           cs.cohort_size,
           CAST(COUNT(*) AS DOUBLE) / CAST(cs.cohort_size AS DOUBLE)
             AS retention
    FROM act JOIN cs ON cs.w0 = act.w0
    GROUP BY act.w0, act.wk, cs.cohort_size
    """,
)
def a26_retention_cohorts(spark, sf_dir):
    """A26: the classic N-week retention matrix — users grouped into
    weekly signup cohorts by their FIRST event's week, then counted as
    active at each later week offset (distinct users per
    (cohort, offset) cell, plus the retention ratio against cohort
    size).

    Plan shape: one map-combinable keyed agg for first-seen (min date
    per user), one corpus-scaled user-keyed equi-join back onto events
    (merge-hinted: both sides scale), a distinct on
    (cohort, offset, user) — one keyed exchange — and two small keyed
    aggs. No windows over corpus-sized partitions, nothing all-pairs;
    at 100 TB every stage is a keyed shuffle that AQE can re-balance.
    Week truncation is Monday-based on BOTH engines (asserted by the
    shared hash); offsets are computed from day arithmetic against the
    cohort's week start, never by truncating each event to its own
    week (which would mis-bin cohorts that start mid-week)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first, cs = _user_cohorts(e)
    act = (
        e.join(first.hint("merge"), "user_id")
        .select(
            "user_id",
            "w0",
            F.floor(F.datediff("d", "w0") / 7).cast("bigint").alias("wk"),
        )
        .distinct()
    )
    return (
        act.groupBy("w0", "wk")
        .agg(F.count("*").cast("bigint").alias("n_active"))
        .join(F.broadcast(cs), "w0")
        .select(
            # string-typed on both sides: a raw DATE hashes differently
            # across the two engines' pandas conversions (DuckDB DATE ->
            # midnight Timestamp)
            F.date_format("w0", "yyyy-MM-dd").alias("cohort_week"),
            F.col("wk").alias("week_offset"),
            "n_active",
            "cohort_size",
            (
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
    )


def _user_cohorts(e):
    """First-event weekly cohort per user + cohort sizes — the shared
    skeleton of a26 (retention) and a31 (LTV). The cohort definition
    (Monday week-trunc of the user's min event DATE) is a cross-query
    contract; it lives here and nowhere else. ``e`` must carry
    ``user_id`` and a date column ``d``. Returns (first, cohort_sizes):
    (user_id, w0) and (w0, cohort_size)."""
    first = e.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("d"))).alias("w0")
    )
    cs = first.groupBy("w0").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    return first, cs


# =====================================================================
# A27 — basket brand-affinity lift
# =====================================================================


@query(
    "a27_basket_affinity",
    """
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), tot AS (
      SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_orders FROM ob
      GROUP BY p_brand
    ), nn AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_total FROM ob
    ), pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT pairs.brand_a, pairs.brand_b, pairs.n_ab,
           CAST(pairs.n_ab AS DOUBLE) * CAST(nn.n_total AS DOUBLE)
             / (CAST(ta.n_orders AS DOUBLE) * CAST(tb.n_orders AS DOUBLE))
             AS lift
    FROM pairs
    JOIN tot ta ON ta.p_brand = pairs.brand_a
    JOIN tot tb ON tb.p_brand = pairs.brand_b
    CROSS JOIN nn
    """,
)
def a27_basket_affinity(spark, sf_dir):
    """A27: market-basket brand affinity — for every brand pair
    co-occurring in an order, the co-occurrence count and the lift
    P(a,b) / (P(a) P(b)) — the signal a source-mixing or
    recommendation stage ranks pairings by.

    Scale shape: the corpus collapses to DISTINCT (order, brand)
    first (one keyed exchange; the l32/j8 compress-before-pairing
    rule). The within-order pair join fans out at most
    C(brands_in_order, 2) per order — bounded by order WIDTH (a
    schema constant, ~7 lines), not by SF — and aggregates straight
    down to the brand-pair domain (<= |brands|^2 / 2 rows total, a
    few hundred at ANY scale). Brand totals and the global order
    count are two more keyed aggs; the scalar order count joins back
    as a 1-row broadcast, the brand totals as a domain-sized
    broadcast. Division runs in double on decimal-exact bigint counts
    — hash-stable."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(p.hint("merge"), li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        # pinned: feeds brand totals, the global order count and BOTH
        # pair-join sides — four references re-ran the lineitem⋈part
        # distinct unpinned (guide §2.4)
        .localCheckpoint(eager=False)
    )
    tot = ob.groupBy("p_brand").agg(
        F.count("*").cast("bigint").alias("n_orders")
    )
    nn = ob.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_total")
    )
    a = ob.select(
        "l_orderkey", F.col("p_brand").alias("brand_a")
    )
    b = ob.select(
        "l_orderkey", F.col("p_brand").alias("brand_b")
    )
    pairs = (
        a.join(b.hint("merge"), "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    ta = tot.select(
        F.col("p_brand").alias("brand_a"), F.col("n_orders").alias("na")
    )
    tb = tot.select(
        F.col("p_brand").alias("brand_b"), F.col("n_orders").alias("nb")
    )
    return (
        pairs.join(F.broadcast(ta), "brand_a")
        .join(F.broadcast(tb), "brand_b")
        .crossJoin(F.broadcast(nn))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            (
                F.col("n_ab").cast("double")
                * F.col("n_total").cast("double")
                / (F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("lift"),
        )
    )


# =====================================================================
# A28 — Welch two-sample t-test between md5-split experiment arms
# =====================================================================


@query(
    "a28_welch_ttest",
    """
    WITH m AS (
      SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS y,
             CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                           1, 8) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant
      FROM events GROUP BY user_id
    ), g AS (
      SELECT
        CAST(SUM(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS DOUBLE)
          AS na,
        CAST(SUM(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS DOUBLE)
          AS nb,
        CAST(SUM(CASE WHEN variant = 'A'
                 THEN CAST(y AS DECIMAL(28,6)) ELSE 0 END) AS DOUBLE)
          AS sa,
        CAST(SUM(CASE WHEN variant = 'B'
                 THEN CAST(y AS DECIMAL(28,6)) ELSE 0 END) AS DOUBLE)
          AS sb,
        CAST(SUM(CASE WHEN variant = 'A'
                 THEN CAST(y AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6))
                 ELSE 0 END) AS DOUBLE) AS ssa,
        CAST(SUM(CASE WHEN variant = 'B'
                 THEN CAST(y AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6))
                 ELSE 0 END) AS DOUBLE) AS ssb
      FROM m
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           sa / na AS mean_a, sb / nb AS mean_b,
           (sa / na - sb / nb)
             / sqrt(((ssa - sa * sa / na) / (na - 1)) / na
                    + ((ssb - sb * sb / nb) / (nb - 1)) / nb) AS t_stat,
           (((ssa - sa * sa / na) / (na - 1)) / na
            + ((ssb - sb * sb / nb) / (nb - 1)) / nb)
           * (((ssa - sa * sa / na) / (na - 1)) / na
              + ((ssb - sb * sb / nb) / (nb - 1)) / nb)
           / ((((ssa - sa * sa / na) / (na - 1)) / na)
              * (((ssa - sa * sa / na) / (na - 1)) / na) / (na - 1)
              + (((ssb - sb * sb / nb) / (nb - 1)) / nb)
                * (((ssb - sb * sb / nb) / (nb - 1)) / nb) / (nb - 1))
             AS welch_df
    FROM g
    """,
)
def a28_welch_ttest(spark, sf_dir):
    """A28: Welch's unequal-variance two-sample t — THE experiment
    readout primitive (a20's CUPED reduces the variance; this is the
    significance test it feeds). Arms split by md5(user_id) parity,
    the engine-portable deterministic hash split a20 established.

    Scale shape: one map-combinable keyed agg to per-user totals, then
    ONE global agg of six conditional moment sums (map-side combined
    down to a single row — no per-arm repartition, no collect), then
    O(1) scalar arithmetic for t and the Welch–Satterthwaite df.
    Moment sums are DECIMAL-exact on both engines (the a20/a21
    pattern); the final formula runs in double on identical inputs, so
    the hash matches bit-for-bit."""
    e = _t(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(28,6)"))
        .cast("double")
        .alias("y")
    )
    m = m.withColumn(
        "variant",
        F.when(
            F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                   16, 10).cast("bigint") % 2 == 0,
            F.lit("A"),
        ).otherwise(F.lit("B")),
    )
    dy = F.col("y").cast("decimal(28,6)")
    zero = F.lit(0).cast("decimal(28,6)")
    zsq = F.lit(0).cast("decimal(38,12)")
    g = m.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("double")
        .alias("na"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("double")
        .alias("nb"),
        F.sum(F.when(F.col("variant") == "A", dy).otherwise(zero))
        .cast("double")
        .alias("sa"),
        F.sum(F.when(F.col("variant") == "B", dy).otherwise(zero))
        .cast("double")
        .alias("sb"),
        F.sum(F.when(F.col("variant") == "A", dy * dy).otherwise(zsq))
        .cast("double")
        .alias("ssa"),
        F.sum(F.when(F.col("variant") == "B", dy * dy).otherwise(zsq))
        .cast("double")
        .alias("ssb"),
    )
    va = ((F.col("ssa") - F.col("sa") * F.col("sa") / F.col("na"))
          / (F.col("na") - 1)) / F.col("na")
    vb = ((F.col("ssb") - F.col("sb") * F.col("sb") / F.col("nb"))
          / (F.col("nb") - 1)) / F.col("nb")
    return g.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        (F.col("sa") / F.col("na")).alias("mean_a"),
        (F.col("sb") / F.col("nb")).alias("mean_b"),
        ((F.col("sa") / F.col("na") - F.col("sb") / F.col("nb"))
         / F.sqrt(va + vb)).alias("t_stat"),
        ((va + vb) * (va + vb)
         / (va * va / (F.col("na") - 1)
            + vb * vb / (F.col("nb") - 1))).alias("welch_df"),
    )


# =====================================================================
# A29 — per-type decile statistics via exact quantile boundaries
# =====================================================================


@query(
    "a29_decile_stats",
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.1) AS b1, quantile_cont(value, 0.2) AS b2,
             quantile_cont(value, 0.3) AS b3, quantile_cont(value, 0.4) AS b4,
             quantile_cont(value, 0.5) AS b5, quantile_cont(value, 0.6) AS b6,
             quantile_cont(value, 0.7) AS b7, quantile_cont(value, 0.8) AS b8,
             quantile_cont(value, 0.9) AS b9
      FROM events GROUP BY event_type
    ), d AS (
      SELECT e.event_type,
             CAST((v > CAST(b.b1 AS DECIMAL(18,6)))::INT
                + (v > CAST(b.b2 AS DECIMAL(18,6)))::INT
                + (v > CAST(b.b3 AS DECIMAL(18,6)))::INT
                + (v > CAST(b.b4 AS DECIMAL(18,6)))::INT
                + (v > CAST(b.b5 AS DECIMAL(18,6)))::INT
                + (v > CAST(b.b6 AS DECIMAL(18,6)))::INT
                + (v > CAST(b.b7 AS DECIMAL(18,6)))::INT
                + (v > CAST(b.b8 AS DECIMAL(18,6)))::INT
                + (v > CAST(b.b9 AS DECIMAL(18,6)))::INT AS INT) AS decile,
             e.value
      FROM (SELECT *, CAST(value AS DECIMAL(18,6)) AS v FROM events) e
      JOIN b ON b.event_type = e.event_type
    )
    SELECT event_type, decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS mean_value,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM d GROUP BY event_type, decile
    """,
)
def a29_decile_stats(spark, sf_dir):
    """A29: per-type decile statistics WITHOUT ntile's corpus window —
    the scale-safe quantile histogram. ``ntile(10) OVER (PARTITION BY
    type ORDER BY value)`` sorts each type's full corpus slice in one
    task; instead the nine exact decile boundaries come from the a7
    distributed rank-select (`operators/scale.exact_percentiles` — no
    per-group buffer, hash-exact `quantile_cont` semantics), broadcast
    back as a 9·|types|-row dim, and each row's decile is the COUNT OF
    BOUNDARIES BELOW IT (a map-side 9-term predicate sum — boundary
    banding, not rank assignment, so ties at a boundary land
    deterministically and identically on both engines). One keyed agg
    finishes: n, decimal-exact mean, min/max per (type, decile).
    Deciles can be empty under heavy ties (no row strictly above a
    repeated boundary) — absent rows match the oracle's inner
    grouping.

    Boundaries AND values are quantized to DECIMAL(18,6) before the
    comparison — a defect the sf1 sweep caught (sf0.01 was green):
    in the all-ties interpolation case (v_k == v_{k+1} == 20.13)
    Spark's rank-select returns 20.13 exactly while DuckDB's
    quantile_cont lerps a*(1-d)+b*d and returns 20.129999999999995;
    a strict `>` against the raw double amplified that 1-ulp
    discrepancy into a 14-row decile shift. 6-decimal quantization is
    coarser than any engine ulp and finer than the data's 2-decimal
    resolution, so the banding is identical cross-engine by
    construction."""
    e = _t(spark, sf_dir, "events")
    fr = [round(0.1 * i, 1) for i in range(1, 10)]
    bounds = (
        exact_percentiles(e, ["event_type"], "value", fr)
        .groupBy("event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.col("value").cast("decimal(18,6)"))
            ).alias("bs")
        )
    )
    d = e.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "value",
        F.aggregate(
            "bs",
            F.lit(0),
            lambda acc, b: acc
            + F.when(
                F.col("value").cast("decimal(18,6)") > b, F.lit(1)
            ).otherwise(F.lit(0)),
        )
        .cast("int")
        .alias("decile"),
    )
    return d.groupBy("event_type", "decile").agg(
        F.count("*").cast("bigint").alias("n"),
        (
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count("*").cast("double")
        ).alias("mean_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# =====================================================================
# A30 — time-constrained funnel (view -> click <=1h -> purchase <=24h)
# =====================================================================

_A30_CLICK_US = 3_600_000_000
_A30_BUY_US = 86_400_000_000


@query(
    "a30_constrained_funnel",
    f"""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS v_us FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS c_us
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND epoch_us(e.ts) > v.v_us
        AND epoch_us(e.ts) <= v.v_us + {_A30_CLICK_US}
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND epoch_us(e.ts) > c.c_us
        AND epoch_us(e.ts) <= c.c_us + {_A30_BUY_US}
      GROUP BY e.user_id
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_view,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click_1h,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_purchase_24h,
           (SELECT CAST(COUNT(*) AS DOUBLE) FROM c)
             / nullif((SELECT CAST(COUNT(*) AS DOUBLE) FROM v), 0)
             AS click_rate,
           (SELECT CAST(COUNT(*) AS DOUBLE) FROM p)
             / nullif((SELECT CAST(COUNT(*) AS DOUBLE) FROM c), 0)
             AS purchase_rate
    """,
)
def a30_constrained_funnel(spark, sf_dir):
    """A30: the TIME-CONSTRAINED funnel — a17 counts ordered
    view→click→purchase; real funnels also bound the gaps (click
    within 1 h of the first view, purchase within 24 h of that
    click). Deadlines change the answer: a user who clicks a day
    later converts in a17 but not here.

    Scale shape: three map-combinable first-event aggs chained by
    user-keyed equi-joins (merge-hinted: both sides corpus-scaled),
    each stage shrinking the key set — never a corpus window, never a
    pair join. Gap arithmetic runs on MICROSECOND BIGINTS
    (`unix_micros` / `epoch_us`) — integer-exact on both engines, no
    interval-type or timezone semantics in the hash path. Output is
    one row of stage counts + conversion rates (double division of
    exact bigints). Empty-stage rates are NULL via nullif on BOTH
    sides — Spark returns NULL for double 0/0 while DuckDB returns
    IEEE NaN, so an unguarded division would hash-diverge on a sparse
    funnel (self-review finding, fixed before it could bite)."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    # stage frames pinned: each feeds the next stage AND its own count
    # (the a17 pattern; guide §2.4); user-sized
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
        .localCheckpoint(eager=False)
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v.hint("merge"), "user_id")
        .filter(
            (F.col("us") > F.col("v_us"))
            & (F.col("us") <= F.col("v_us") + _A30_CLICK_US)
        )
        .groupBy("user_id")
        .agg(F.min("us").alias("c_us"))
        .localCheckpoint(eager=False)
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c.hint("merge"), "user_id")
        .filter(
            (F.col("us") > F.col("c_us"))
            & (F.col("us") <= F.col("c_us") + _A30_BUY_US)
        )
        .select("user_id")
        .distinct()
    )
    nv = v.agg(F.count("*").cast("bigint").alias("n_view"))
    nc = c.agg(F.count("*").cast("bigint").alias("n_click_1h"))
    np_ = p.agg(F.count("*").cast("bigint").alias("n_purchase_24h"))
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_view",
            "n_click_1h",
            "n_purchase_24h",
            (
                F.col("n_click_1h").cast("double")
                / F.nullif(F.col("n_view").cast("double"), F.lit(0.0))
            ).alias("click_rate"),
            (
                F.col("n_purchase_24h").cast("double")
                / F.nullif(F.col("n_click_1h").cast("double"), F.lit(0.0))
            ).alias("purchase_rate"),
        )
    )


# =====================================================================
# A31 — cumulative cohort LTV (revenue per user by cohort week/offset)
# =====================================================================


@query(
    "a31_cohort_ltv",
    """
    WITH f AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(CAST(ts AS DATE))) AS DATE) AS w0
      FROM events GROUP BY user_id
    ), cs AS (
      SELECT w0, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM f GROUP BY w0
    ), rev AS (
      SELECT f.w0,
             CAST(floor(date_diff('day', f.w0, CAST(e.ts AS DATE)) / 7.0)
                  AS BIGINT) AS wk,
             CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DECIMAL(28,6))
               AS revenue
      FROM events e JOIN f ON f.user_id = e.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    ), cum AS (
      SELECT w0, wk, revenue,
             CAST(SUM(revenue) OVER (PARTITION BY w0 ORDER BY wk
                                     ROWS UNBOUNDED PRECEDING)
                  AS DECIMAL(38,6)) AS cum_revenue
      FROM rev
    )
    SELECT strftime(cum.w0, '%Y-%m-%d') AS cohort_week,
           cum.wk AS week_offset,
           CAST(cum.revenue AS DOUBLE) AS revenue,
           CAST(cum.cum_revenue AS DOUBLE) AS cum_revenue,
           CAST(cum.cum_revenue AS DOUBLE) / CAST(cs.cohort_size AS DOUBLE)
             AS ltv_per_user
    FROM cum JOIN cs ON cs.w0 = cum.w0
    """,
)
def a31_cohort_ltv(spark, sf_dir):
    """A31: cumulative lifetime value per weekly cohort — purchase
    revenue accumulated across week offsets, normalized by cohort
    size. The money companion to a26's retention matrix: retention
    says who came back, LTV says what they were worth by week N.

    Scale shape: a26's skeleton (first-seen keyed agg, merge-hinted
    user-keyed join back, offsets by day arithmetic) with the revenue
    agg collapsing straight to (cohort, offset) — the running sum then
    windows over DOMAIN-sized partitions (≤ weeks² cells), never
    corpus rows. Revenue stays DECIMAL through the agg AND the
    cumulative window; per-user normalization is one double division
    against the broadcast cohort sizes."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.to_date("ts").alias("d"),
        "value",
    )
    first, cs = _user_cohorts(e)
    rev = (
        e.filter(F.col("event_type") == "purchase")
        .join(first.hint("merge"), "user_id")
        .groupBy(
            "w0",
            F.floor(F.datediff("d", "w0") / 7).cast("bigint").alias("wk"),
        )
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(28,6)")
            .alias("revenue")
        )
    )
    w = (
        Window.partitionBy("w0")
        .orderBy("wk")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = rev.withColumn(
        "cum_revenue", F.sum("revenue").over(w).cast("decimal(38,6)")
    )
    return cum.join(F.broadcast(cs), "w0").select(
        F.date_format("w0", "yyyy-MM-dd").alias("cohort_week"),
        F.col("wk").alias("week_offset"),
        F.col("revenue").cast("double").alias("revenue"),
        F.col("cum_revenue").cast("double").alias("cum_revenue"),
        (
            F.col("cum_revenue").cast("double")
            / F.col("cohort_size").cast("double")
        ).alias("ltv_per_user"),
    )


# =====================================================================
# A32 — user-journey path trigrams
# =====================================================================


@query(
    "a32_path_trigrams",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY 1
    """,
)
def a32_path_trigrams(spark, sf_dir):
    """A32: user-journey path mining — every 3-step event-type
    sequence a user walks, counted corpus-wide (the "view>click>
    purchase vs view>view>view" shape question behind funnel design;
    a17/a30 test ONE path, this surfaces which paths exist).

    Scale shape: one window over per-user partitions (two LEADs on a
    (ts, event_id) total order — map-side once the user shuffle lands;
    the per-user partition is the same width w2/w6 already carry) and
    one keyed agg landing on the |types|³-bounded path domain. No
    collect_list — a hot user costs sort time, never memory (two
    LEADs are constant per row where collecting the user's whole
    history would not be)."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


# =====================================================================
# A33 — Gini coefficient of customer spend
# =====================================================================


@query(
    "a33_gini_coefficient",
    """
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                  AS DECIMAL(28,4)) AS x
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i FROM spend
    ), g AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS total,
             CAST(SUM(CAST(i AS DECIMAL(18,0)) * CAST(x AS DECIMAL(28,4)))
                  AS DOUBLE) AS wsum
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           total AS total_spend,
           2.0 * wsum / (n * total) - (n + 1.0) / n AS gini
    FROM g
    """,
)
def a33_gini_coefficient(spark, sf_dir):
    """A33: Gini coefficient of customer spend — the inequality
    readout (0 = everyone spends alike, →1 = one whale). Uses the
    rank-weighted identity G = 2·Σᵢ i·xᵢ/(n·Σx) − (n+1)/n over
    ascending-sorted spend, which needs a GLOBAL rank — the oracle's
    `ROW_NUMBER() OVER (ORDER BY …)` is the single-task trap, and the
    scale path is `operators/scale.global_rank`'s TeraSort ladder
    (third composition of that primitive this round, after z6 and
    l38). Σ i·xᵢ stays DECIMAL-exact (bigint rank × decimal spend);
    the closed form runs once in double. Ties in spend break by
    customer key on BOTH engines, making the rank — and therefore the
    weighted sum — identical even though tied x values make G itself
    tie-insensitive (equal x under different i sum to the same
    total; the determinism is still pinned for the hash)."""
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("decimal(28,4)")
        .alias("x")
    )
    ranked = global_rank(spend, ["x", "o_custkey"])
    g = ranked.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("total"),
        F.sum(
            F.col("rnk").cast("decimal(18,0)")
            * F.col("x").cast("decimal(28,4)")
        )
        .cast("double")
        .alias("wsum"),
    )
    return g.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("total").alias("total_spend"),
        (
            2.0 * F.col("wsum") / (F.col("n") * F.col("total"))
            - (F.col("n") + 1.0) / F.col("n")
        ).alias("gini"),
    )


@query(
    "a14b_rolling_kmv_rollup",
    f"""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), hs AS (
      SELECT DISTINCT day,
             CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13)
                       AS BIGINT) AS DOUBLE) / {_HEX13!r} AS h
      FROM du
    ), sk AS (
      SELECT day, h FROM (
        SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
        FROM hs
      ) WHERE rn <= {_KMV_K}
    ), anchors AS (
      SELECT DISTINCT day AS anchor FROM sk
    ), win AS (
      SELECT DISTINCT a.anchor, s.h
      FROM anchors a JOIN sk s
        ON s.day <= a.anchor AND s.day >= a.anchor - INTERVAL 6 DAY
    ), r AS (
      SELECT anchor, h,
             row_number() OVER (PARTITION BY anchor ORDER BY h) AS rn,
             COUNT(*) OVER (PARTITION BY anchor) AS cu
      FROM win
    ), kk AS (
      SELECT anchor,
             MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS kth,
             MAX(cu) AS cu
      FROM r GROUP BY anchor
    )
    SELECT CAST(anchor AS TIMESTAMP) AS day,
           CASE WHEN cu >= {_KMV_K}
                THEN ({_KMV_K} - 1) / kth
                ELSE CAST(cu AS DOUBLE) END AS est_users_7d
    FROM kk
    """,
)
def a14b_rolling_kmv_rollup(spark, sf_dir):
    """A14b: trailing-7-day distinct users from MERGED per-day KMV
    (theta) sketches — a14's rollup shape with a deterministic
    estimator. Per day, keep the k smallest md5-derived [0,1) hashes of
    the day's distinct users (one corpus-sized distinct + one per-day
    top-k; map-combinable); a trailing window then unions ≤7 sketches
    (≤ 7k tiny rows per anchor), re-takes the k smallest, and estimates
    distinct = (k−1)/h_(k) (Beyer et al., SIGMOD'07), exact (= union
    size) when the union holds fewer than k values.

    Scale shape: raw events are touched once (the (day,user) distinct);
    the rollup input is #days × k doubles — broadcastable at any corpus
    size, same as a14. Because the hash is md5 (identical hex in Spark
    and DuckDB; 13 hex digits exact as double), the APPROXIMATE
    estimate is bit-identical cross-engine: full value-hash oracle,
    where a14's JVM HLL internals are rows-only by nature. Accuracy vs
    the exact trailing distinct is a pytest threshold (the a10/a14
    contract)."""
    e = _t(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    hs = du.select(
        "day",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 13),
                16, 10,
            ).cast("double")
            / F.lit(_HEX13)
        ).alias("h"),
    ).distinct()
    wd = Window.partitionBy("day").orderBy("h")
    # the sketch table (#days × k doubles) is referenced twice below
    # (anchor domain + window join); materialize it so the corpus is
    # scanned ONCE — persisting this table as parquet is exactly what a
    # production rollup would do (the load_or_build_signatures pattern)
    sk = (
        hs.withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") <= _KMV_K)
        .select("day", "h")
        .localCheckpoint(eager=False)
    )
    anchors = sk.select(F.col("day").alias("anchor")).distinct()
    win = (
        anchors.join(
            sk,
            (F.col("day") <= F.col("anchor"))
            & (F.col("day") >= F.date_sub(F.col("anchor"), 6)),
        )
        .select("anchor", "h")
        .distinct()
    )
    wa = Window.partitionBy("anchor").orderBy("h")
    r = win.withColumn("rn", F.row_number().over(wa)).withColumn(
        "cu", F.count("*").over(Window.partitionBy("anchor"))
    )
    kk = r.groupBy("anchor").agg(
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth"),
        F.max("cu").alias("cu"),
    )
    return kk.select(
        F.col("anchor").cast("timestamp").alias("day"),
        F.when(
            F.col("cu") >= _KMV_K, F.lit(float(_KMV_K - 1)) / F.col("kth")
        )
        .otherwise(F.col("cu").cast("double"))
        .alias("est_users_7d"),
    )


# =====================================================================
# A35 — one-pass Poisson bootstrap confidence intervals
# =====================================================================

_BOOT_B = 64
# Poisson(1) inverse-CDF thresholds QUANTIZED to 12-bit integers
# (round(cdf_k * 4096) for k = 0..5; a 12-bit draw v in [0, 4096) maps
# to weight = #thresholds <= v, capped at 6 — P(w >= 7) ~ 8e-5 is
# truncated, identically in both engines). Integer thresholds + integer
# draws mean the weight assignment has NO float comparison at all.
_POIS_T = [1507, 3014, 3767, 4018, 4081, 4094]


def _a35_oracle() -> str:
    branches = " ".join(
        f"WHEN v < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"""
    WITH src AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS iv,
             event_id
      FROM events
    ), g AS (
      SELECT event_type, iv, gg,
             md5(CAST(event_id AS VARCHAR) || ':' ||
                 CAST(gg AS VARCHAR)) AS h
      FROM src CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS gg)
    ), jj AS (
      SELECT event_type, iv, gg * 8 + j AS b,
             (CASE {branches} ELSE 6 END) AS w
      FROM (
        SELECT event_type, iv, gg, j,
               CAST('0x' || substr(h, 1 + 3 * j, 3) AS BIGINT) AS v
        FROM g CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j)
      )
    ), agg AS (
      SELECT event_type, b, SUM(iv * w) AS s, SUM(w) AS c,
             SUM(CASE WHEN b = 0 THEN iv END) AS sf,
             SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS nf
      FROM jj GROUP BY event_type, b
    ), fin AS (
      SELECT event_type,
             -- FILTER c > 0 mirrors Spark's collect_list null-skipping:
             -- a zero-weight resample (all-0 draws for a tiny group)
             -- would otherwise sort NULL-first here but be dropped by
             -- Spark, diverging ms[2]/ms[63] cross-engine
             list_sort(list((CAST(s AS DOUBLE) / 100.0)
                            / NULLIF(c, 0)) FILTER (c > 0)) AS ms,
             (CAST(MAX(CASE WHEN b = 0 THEN sf END) AS DOUBLE) / 100.0)
               / MAX(CASE WHEN b = 0 THEN nf END) AS mean_value
      FROM agg GROUP BY event_type
    )
    SELECT event_type, mean_value,
           ms[2] AS ci_lo, ms[{_BOOT_B - 1}] AS ci_hi
    FROM fin
    """


@query("a35_poisson_bootstrap_ci", _a35_oracle())
def a35_poisson_bootstrap_ci(spark, sf_dir):
    """A35: ONE-PASS bootstrap confidence intervals via the Poisson
    bootstrap (Chamandy et al., "Estimating Uncertainty for Massive
    Data Streams", Google TR 2012; Kleiner et al.'s BLB is the heavier
    sibling) — the classic resample-B-times loop is unrunnable at
    100 TB (B full passes), but Binomial(n, 1/n) ≈ Poisson(1) weights
    make every resample a WEIGHTED aggregate computable from the SAME
    scan: B=64 md5-derived per-row weights, one keyed aggregation
    (map-side combine reduces the 64× fan-out to #groups × B partials
    before the exchange), and the 95% CI is the [2nd, 63rd] order
    statistic of the 64 resample means.

    Engineering of the hot path (A/B-measured at sf0.1):
    - 8 md5s per row, each yielding EIGHT 12-bit draws (3 hex chars) —
      one md5 per draw was the dominant cost (12.4 s weight pass);
    - weights from INTEGER draws vs integer-quantized inverse-CDF
      thresholds (round(cdf·4096)) — no float comparisons; truncation
      at w=6 (P ≈ 8e-5) applied identically in both engines;
    - value is exactly 2-decimal data, so sums run on
      CAST(round(value*100) AS BIGINT) — bigint sums are exact in ANY
      order (no decimal routing, no fold-order drift);
    - the (row × 64) weight table is built by a two-level EXPLODE with
      per-row-tiny expressions instead of 64 CASE columns + 128
      aggregates in one projection: the wide-projection form pushed
      whole-stage codegen into a 9.6 s interpreted fallback; the
      exploded form runs 2.7 s warm at sf0.1 and the fan-out never
      crosses the wire (combined to #groups × B before the shuffle).

    Deterministic by construction (the a19 md5 pattern): full
    value-hash oracle for a *resampling* procedure. Coverage sanity is
    asserted in tests/test_r9_ops.py."""
    B = _BOOT_B
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("iv"),
    )
    g = e.select(
        "event_type", "iv", "event_id",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("g"),
    ).withColumn(
        "h",
        F.md5(
            F.concat_ws(
                ":",
                F.col("event_id").cast("string"),
                F.col("g").cast("string"),
            )
        ),
    )
    j = g.select(
        "event_type", "iv", "g", "h",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j"),
    )
    v = F.conv(F.expr("substring(h, 1 + 3*j, 3)"), 16, 10).cast("bigint")
    w = F.when(v < _POIS_T[0], F.lit(0))
    for k, t in enumerate(_POIS_T[1:], start=1):
        w = w.when(v < t, F.lit(k))
    w = w.otherwise(F.lit(6))
    jj = j.select(
        "event_type", "iv",
        (F.col("g") * 8 + F.col("j")).alias("b"),
        w.alias("w"),
    )
    agg = jj.groupBy("event_type", "b").agg(
        F.sum(F.col("iv") * F.col("w")).alias("s"),
        F.sum("w").alias("c"),
        F.sum(F.when(F.col("b") == 0, F.col("iv"))).alias("sf"),
        F.sum(F.when(F.col("b") == 0, 1).otherwise(0)).alias("nf"),
    )
    fin = agg.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(
                (F.col("s").cast("double") / F.lit(100.0))
                / F.nullif(F.col("c"), F.lit(0))
            )
        ).alias("ms"),
        (
            (
                F.max(F.when(F.col("b") == 0, F.col("sf"))).cast("double")
                / F.lit(100.0)
            )
            / F.max(F.when(F.col("b") == 0, F.col("nf")))
        ).alias("mean_value"),
    )
    return fin.select(
        "event_type",
        "mean_value",
        F.element_at("ms", 2).alias("ci_lo"),
        F.element_at("ms", B - 1).alias("ci_hi"),
    )


# =====================================================================
# A36 — single-pass exact covariance matrix over the embedding space
# =====================================================================

_COV_Q = 16384  # 2^14 quantization scale (the a29 pattern)
_COV_DIM = 64


def _a36_oracle() -> str:
    q = _COV_Q
    d = _COV_DIM
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {q}) AS BIGINT)) AS ix
      FROM embeddings
    ), el AS (
      SELECT vec_id, g.i, ix[g.i + 1] AS v
      FROM e CROSS JOIN generate_series(0, {d - 1}) AS g(i)
    ), lin AS (
      SELECT i, SUM(v) AS si, COUNT(*) AS n FROM el GROUP BY i
    ), pr AS (
      SELECT a.i AS i, b.i AS j, SUM(a.v * b.v) AS s
      FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    )
    SELECT pr.i AS i, pr.j AS j,
           (CAST(pr.s AS DOUBLE) / la.n
            - (CAST(la.si AS DOUBLE) / la.n)
              * (CAST(lb.si AS DOUBLE) / la.n))
             / {float(q * q)!r} AS cov
    FROM pr
    JOIN lin la ON la.i = pr.i
    JOIN lin lb ON lb.i = pr.j
    """


@query("a36_embedding_covariance", _a36_oracle())
def a36_embedding_covariance(spark, sf_dir):
    """A36: the exact covariance matrix of the embedding space in ONE
    corpus pass — the input to whitening / PCA / Mahalanobis outlier
    screens a training-data pipeline runs before indexing embeddings.
    Population covariance cov(i,j) = E[x_i x_j] − E[x_i]E[x_j] from
    co-moment sums: per task, ONE int64 Gram matrix Xᵀ X + column sums
    over the whole partition (mapInArrow + numpy — guide §4.2: hand
    whole batches to vectorized native code), emitting exactly 2 144
    partial rows per task (2 080 upper-triangle co-moments + 64
    linear-sum markers); one tiny keyed aggregation merges the
    partials. Scale shape: per-task work ∝ n·d²/2 multiply-adds in
    native code, but only (i, j, partial sum) ever crosses the wire —
    tasks × 2 144 rows total; the result is d(d+1)/2 rows joined
    against the d+1 broadcast linear sums. (The original formulation —
    a d(d+1)/2-fold explode through interpreted HOF lambdas into a
    corpus×d²-row hash aggregate — computed the identical integer
    sums 7× slower; replaced in optimization round 1.)

    Determinism (the a29 quantization pattern): embeddings are
    quantized to 2^-14 grid integers (floor is exact on the double
    value of a float; scale 2^14 keeps Σ products within bigint at
    500k×64 — max |x| ≈ 32 → product ≤ 2^38, sum ≤ 2^58), so every
    co-moment is an EXACT bigint in both engines and the final doubles
    divide identically — full value-hash oracle for a floating-point
    statistic. The operator contract is covariance OF THE QUANTIZED
    embeddings; the 6e-5 grid is far below embedding noise."""
    q = _COV_Q
    d = _COV_DIM
    e = _t(spark, sf_dir, "embeddings")

    # Optimization round 1 (guide §4.2): the d(d+1)/2-fold explode +
    # corpus-sized hash aggregate (n·d²/2 struct allocations through
    # interpreted HOF lambdas) is replaced by a per-task int64 Gram
    # matrix in mapInArrow — each task computes Xᵀ X + column sums over
    # its whole partition in numpy (exact int64: products ≤ 2^38, so a
    # task would need > 2^25 ≈ 33M rows to overflow; the partial-sum
    # merge below is Spark bigint) and emits ONE 2 144-row partial.
    # The co-moment SUMS are bit-identical to the explode formulation
    # (integer arithmetic, order-free), so the oracle is unchanged —
    # measured 4.2 s → ~0.6 s at sf0.1. Only the quantized column
    # crosses the Python boundary.
    quant = e.select(
        F.expr(
            f"transform(embedding, x -> cast(floor(cast(x as double)"
            f" * {q}) as bigint))"
        ).alias("_ix")
    )

    def _gram(batches):
        import numpy as np
        import pyarrow as pa

        G = np.zeros((d, d), dtype=np.int64)
        s = np.zeros(d, dtype=np.int64)
        n = 0
        for b in batches:
            col = b.column(0)
            if len(col) == 0:
                continue
            X = col.flatten().to_numpy(zero_copy_only=False).reshape(-1, d)
            G += X.T @ X
            s += X.sum(axis=0)
            n += X.shape[0]
        if n == 0:
            return
        iu, ju = np.triu_indices(d)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(
                    np.concatenate([iu, np.arange(d)]).astype(np.int32)
                ),
                pa.array(
                    np.concatenate([ju, np.full(d, d)]).astype(np.int32)
                ),
                pa.array(np.concatenate([G[iu, ju], s])),
                pa.array(np.full(iu.size + d, n, dtype=np.int64)),
            ],
            names=["i", "j", "s", "n"],
        )

    partial = quant.mapInArrow(_gram, "i int, j int, s bigint, n bigint")
    agg = partial.groupBy("i", "j").agg(
        F.sum("s").alias("s"), F.sum("n").alias("n")
    )
    lin = agg.filter(F.col("j") == d).select(
        "i", F.col("s").alias("si")
    )
    lin_j = lin.select(F.col("i").alias("j"), F.col("si").alias("sj"))
    return (
        agg.filter(F.col("j") < d)  # carries n = #vectors per group
        .join(F.broadcast(lin), "i")
        .join(F.broadcast(lin_j), "j")
        .select(
            "i",
            "j",
            (
                (
                    F.col("s").cast("double") / F.col("n")
                    - (F.col("si").cast("double") / F.col("n"))
                    * (F.col("sj").cast("double") / F.col("n"))
                )
                / F.lit(float(q * q))
            ).alias("cov"),
        )
    )

# =====================================================================
# A37 — exact two-sample Kolmogorov–Smirnov test
# =====================================================================


@query(
    "a37_ks_test",
    """
    WITH s AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS iv,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a
      FROM events WHERE event_type IN ('view', 'purchase')
    ), n AS (
      SELECT SUM(a) AS n1, SUM(1 - a) AS n2 FROM s
    ), g AS (
      SELECT iv, SUM(a) AS c1, SUM(1 - a) AS c2 FROM s GROUP BY iv
    ), cum AS (
      SELECT iv,
             SUM(c1) OVER (ORDER BY iv) AS f1,
             SUM(c2) OVER (ORDER BY iv) AS f2
      FROM g
    ), d AS (
      SELECT iv, abs(f1 * (SELECT n2 FROM n) - f2 * (SELECT n1 FROM n))
                   AS dnum
      FROM cum
    ), best AS (
      SELECT MAX(dnum) AS dnum FROM d
    )
    , fin AS (
      SELECT (SELECT n1 FROM n) AS n1, (SELECT n2 FROM n) AS n2,
             (SELECT MIN(iv) FROM d
              WHERE dnum = (SELECT dnum FROM best)) AS at_iv,
             CAST((SELECT dnum FROM best) AS DOUBLE)
               / ((SELECT n1 FROM n) * (SELECT n2 FROM n)) AS d_stat
    )
    SELECT n1, n2, at_iv, d_stat,
           -- d_stat*d_stat, not pow: libm pow need not equal the multiply
           round(LEAST(1.0, 2.0 * exp(
             -2.0 * (d_stat * d_stat)
                  * (n1 * CAST(n2 AS DOUBLE)) / (n1 + n2))), 6)
             AS p_approx
    FROM fin
    """,
)
def a37_ks_test(spark, sf_dir):
    """A37: EXACT two-sample Kolmogorov–Smirnov distance between the
    'view' and 'purchase' value distributions — the nonparametric
    distribution-shift test a training pipeline runs to compare a new
    data source (or a post-filter corpus) against a reference slice,
    completing the experiment-readout family (a24 Welch compares
    means; KS compares whole CDFs).

    Exactness: values are 2-decimal by contract, so samples quantize
    to bigint cents and the statistic is computed on INTEGER
    cross-counts — D = max|F1−F2| = max|c1·n2 − c2·n1| / (n1·n2),
    where c1/c2 are cumulative counts over the DISTINCT quantized
    value domain. The max numerator is a bigint: no float compare
    anywhere until the single final division, which is the same
    integer-to-double op in both engines — full value-hash oracle for
    a statistical test. The asymptotic p-value 2·exp(−2λ²),
    λ² = D²·n1n2/(n1+n2) (Smirnov), is libm-rounded to 6 dp on a
    ONE-row result.

    Scale shape: one corpus pass groups by quantized value (bounded
    domain: 100·|value range| distinct cells, ~100k at any corpus
    size), then the CDF merge runs a window over that DOMAIN-sized
    table — the corpus never sorts globally; the single-partition
    window touches only the bounded distinct-value table (the a16
    percentile-ladder contract)."""
    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    s = e.select(
        F.round(F.col("value") * 100).cast("bigint").alias("iv"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("a"),
    )
    return ks_2sample(s, "iv", "a").select(
        "n1", "n2",
        F.col("at_v").alias("at_iv"),
        "d_stat", "p_approx",
    )


# =====================================================================
# A38 — exact Mann–Whitney U (rank-sum) test
# =====================================================================


@query(
    "a38_mann_whitney_u",
    f"""
    WITH s AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS iv,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a
      FROM events WHERE event_type IN ('view', 'purchase')
    ), g AS (
      SELECT iv, SUM(a) AS c1, SUM(1 - a) AS c2, COUNT(*) AS c
      FROM s GROUP BY iv
    ), cum AS (
      SELECT iv, c1, c2, c,
             COALESCE(SUM(c) OVER (ORDER BY iv
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS f
      FROM g
    ), agg AS (
      SELECT SUM(c1) AS n1, SUM(c2) AS n2,
             SUM(c1 * (2 * f + c + 1)) AS r1x2,
             SUM(c * c * c - c) AS tie3
      FROM cum
    )
    SELECT n1, n2, u1, u2, z,
           round({normal_sf_two_sided_sql('z')}, 6) AS p_value
    FROM (
      SELECT n1, n2,
             CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
             CAST(n1 AS DOUBLE) * n2
               - CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u2,
             round((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
                    - CAST(n1 AS DOUBLE) * n2 / 2.0)
                   / sqrt((CAST(n1 AS DOUBLE) * n2 / 12.0)
                          * ((n1 + n2 + 1)
                             - CAST(tie3 AS DOUBLE)
                               / ((n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE)))),
                   6) AS z
      FROM agg
    )
    """,
)
def a38_mann_whitney_u(spark, sf_dir):
    """A38: EXACT Mann–Whitney U (Wilcoxon rank-sum) between the
    'view' and 'purchase' value distributions — the rank-based
    location-shift test beside a37's KS (whole-CDF) and a24's Welch
    (parametric means). Robust to outliers and the usual first screen
    on heavy-tailed engagement metrics.

    Exactness: the tie-corrected rank sum is computed on INTEGERS —
    values quantize to bigint cents; for each distinct value the
    DOUBLED midrank is 2F + c + 1 (F = count before it, c = tie
    count), so 2·R1 = Σ c1·(2F + c + 1) is a bigint and
    U1 = (2R1 − n1(n1+1))/2 is an exact halving (binary-exact even on
    .5 midranks). The tie-corrected normal z (Lehmann) divides exact
    bigint co-moments — identical doubles cross-engine, libm sqrt on a
    ONE-row result rounded 6 dp — and ``p_value`` is the two-sided
    normal p from the rounded z (A&S 7.1.26 erfc polynomial, mirrored
    literally in the oracle — operators/stats.py
    ``normal_sf_two_sided``). Full value-hash oracle.

    Scale shape: identical to a37 — one corpus pass to the bounded
    distinct-value domain, one domain-sized cumulative window, one
    scalar aggregate."""
    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    s = e.select(
        F.round(F.col("value") * 100).cast("bigint").alias("iv"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("a"),
    )
    return mann_whitney_u(s, "iv", "a")


# =====================================================================
# A39 — Benford first-digit audit (data-quality screen)
# =====================================================================


@query(
    "a39_benford_audit",
    """
    WITH s AS (
      SELECT event_type,
             CAST(substr(CAST(CAST(round(value * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS d1
      FROM events
      WHERE CAST(round(value * 100) AS BIGINT) >= 1
    ), g AS (
      SELECT event_type, d1, COUNT(*) AS c FROM s GROUP BY 1, 2
    ), n AS (
      SELECT event_type, SUM(c) AS n FROM g GROUP BY event_type
    ), digits AS (
      SELECT event_type, n, dd.d1,
             ln(1.0 + 1.0 / dd.d1) / ln(10.0) AS p_benford
      FROM n CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS d1) dd
    )
    , dev AS (
      SELECT digits.event_type, digits.d1, digits.n, digits.p_benford,
             CAST(COALESCE(g.c, 0) AS BIGINT) AS n_obs,
             CAST(COALESCE(g.c, 0) AS DOUBLE)
               - digits.n * digits.p_benford AS d
      FROM digits LEFT JOIN g
        ON g.event_type = digits.event_type AND g.d1 = digits.d1
    )
    SELECT event_type, d1, n_obs,
           CAST(n_obs AS DOUBLE) / n AS p_obs,
           round(p_benford, 6) AS p_benford,
           -- d*d, not pow(d,2): libm pow need not equal the multiply
           round((d * d) / (n * p_benford), 6) AS chi2_term
    FROM dev
    """,
)
def a39_benford_audit(spark, sf_dir):
    """A39: Benford first-digit audit per event type — the classic
    fabricated-/degenerate-data screen (Benford 1938; standard in
    fraud and data-quality review): observed first-significant-digit
    frequencies of the quantized values against log10(1 + 1/d), with
    per-digit chi-square contributions. A synthetic or truncated
    source announces itself as a fat chi2_term on one digit.

    Determinism: the first digit is STRING arithmetic on the exact
    bigint cents (no float log-floor dance — substr of the decimal
    rendering is identical in both engines); counts are integers; the
    expected probability and chi-square term round at 6 dp from
    identical double inputs (ln/pow on one 45-row result). Zero-cent
    values are excluded on both sides (no first significant digit).

    Scale: one keyed agg over (type, digit) — 9 cells per type — and a
    broadcast digit spine. Map-combinable everywhere."""
    e = _t(spark, sf_dir, "events")
    iv = F.round(F.col("value") * 100).cast("bigint")
    s = e.select(
        "event_type",
        F.substring(iv.cast("string"), 1, 1).cast("int").alias("d1"),
    ).where(iv >= 1)
    g = s.groupBy("event_type", "d1").agg(F.count("*").alias("c"))
    n = g.groupBy("event_type").agg(F.sum("c").alias("n"))
    digits = n.crossJoin(
        F.broadcast(
            spark.range(1, 10).select(F.col("id").cast("int").alias("d1"))
        )
    ).withColumn(
        "p_benford", F.log(1.0 + 1.0 / F.col("d1")) / F.log(F.lit(10.0))
    )
    dev = digits.join(g, ["event_type", "d1"], "left").select(
        "event_type", "d1", "n", "p_benford",
        F.coalesce("c", F.lit(0)).alias("n_obs"),
        (
            F.coalesce("c", F.lit(0)).cast("double")
            - F.col("n") * F.col("p_benford")
        ).alias("d"),
    )
    return dev.select(
        "event_type", "d1", "n_obs",
        (F.col("n_obs").cast("double") / F.col("n")).alias("p_obs"),
        F.round("p_benford", 6).alias("p_benford"),
        # d*d, not pow(d, 2): libm pow need not equal the multiply
        F.round(
            (F.col("d") * F.col("d")) / (F.col("n") * F.col("p_benford")),
            6,
        ).alias("chi2_term"),
    )


# =====================================================================
# A40 — PSI (population stability index) drift between time halves
# =====================================================================


_A40_ORACLE = """
    WITH b AS (
      SELECT MIN(epoch_us(ts)) + MAX(epoch_us(ts)) AS mm FROM events
    ), s AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS iv,
             CASE WHEN epoch_us(ts) * 2 < (SELECT mm FROM b)
                  THEN 1 ELSE 0 END AS is_ref
      FROM events
    ), g AS (
      SELECT event_type, iv,
             SUM(is_ref) AS cr, SUM(1 - is_ref) AS cc
      FROM s GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, iv, cr, cc,
             SUM(cr) OVER (PARTITION BY event_type ORDER BY iv) AS fr
      FROM g
    ), n AS (
      SELECT event_type, SUM(cr) AS nr, SUM(cc) AS nc
      FROM g GROUP BY event_type
    ), edges AS (
      SELECT cum.event_type, k.k,
             MIN(cum.iv) AS edge
      FROM cum JOIN n USING (event_type)
      CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS k) k
      WHERE cum.fr * 10 >= k.k * n.nr
      GROUP BY cum.event_type, k.k
    ), el AS (
      SELECT event_type, list(edge ORDER BY k) AS es
      FROM edges GROUP BY event_type
    ), bucketed AS (
      SELECT s.event_type, s.is_ref,
             1 + len(list_filter(el.es, e -> s.iv > e)) AS bkt
      FROM s JOIN el USING (event_type)
    ), bc AS (
      SELECT event_type, bkt,
             SUM(is_ref) AS br, SUM(1 - is_ref) AS bcur
      FROM bucketed GROUP BY 1, 2
    ), spine AS (
      SELECT n.event_type, n.nr, n.nc, kk.bkt
      FROM n CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS bkt) kk
    ), p AS (
      SELECT spine.event_type, spine.bkt,
             GREATEST(CAST(COALESCE(bc.br, 0) AS DOUBLE) / spine.nr,
                      1e-6) AS pr,
             GREATEST(CAST(COALESCE(bc.bcur, 0) AS DOUBLE) / spine.nc,
                      1e-6) AS pc
      FROM spine LEFT JOIN bc
        ON bc.event_type = spine.event_type AND bc.bkt = spine.bkt
    )
    SELECT event_type, bkt,
           round(pr, 6) AS p_ref, round(pc, 6) AS p_cur,
           round((pc - pr) * ln(pc / pr), 6) AS psi_term
    FROM p
    """


@query("a40_psi_drift", _A40_ORACLE)
def a40_psi_drift(spark, sf_dir):
    """A40: population stability index between the first and second
    half of the time range, per event type — THE industry
    drift-monitoring metric (credit-risk lineage; PSI > 0.25 = action):
    bucket the current period by the REFERENCE period's deciles and sum
    (p_cur − p_ref)·ln(p_cur/p_ref) per bucket. Completes the drift
    family: a37/a38 test a hypothesis, a40 scores drift on a monitoring
    scale; emits the 10 per-bucket terms so the alert can name WHERE
    the mass moved.

    Exactness: the period split compares 2·epoch_µs against
    min+max epoch_µs (pure bigints); decile edges are exact order
    statistics read from cumulative counts over the DISTINCT quantized
    value domain (edge_k = min iv with 10·F(iv) ≥ k·n_ref — integer
    cross-multiplication, no percentile interpolation); bucket
    assignment counts edges below the value via a bounded array
    filter. Probabilities are exact-integer divisions clamped at 1e-6
    (the standard zero-bucket guard, identical in both engines); the
    one ln() per row rounds at 6 dp. Full value-hash oracle.

    Scale: two corpus passes (bucket counts; the domain-sized decile
    table is the a37 contract), everything else domain-sized."""
    s, el, rb, n = _x18_reference(spark, sf_dir)
    cur = (
        s.where(F.col("is_ref") == 0)
        .join(F.broadcast(el), "event_type")
        .select(
            "event_type",
            (
                1 + F.size(F.filter("es", lambda ed: F.col("iv") > ed))
            ).alias("bkt"),
        )
        .groupBy("event_type", "bkt")
        .agg(F.count("*").alias("bcur"))
    )
    return _psi_table(spark, n, rb, cur)

# =====================================================================
# X18 — streaming drift monitor (per-batch PSI vs a static reference)
# =====================================================================


def _x18_reference(spark, sf_dir):
    """Static reference artifacts for the drift monitor: decile edges
    (es) and reference probabilities (p_ref) of the FIRST-half period,
    plus nc (current-period total) for the final normalization — the
    exact a40 integer constructions, shared split."""
    e = _t(spark, sf_dir, "events")
    b = e.agg(
        (
            F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))
        ).alias("mm")
    )
    s = e.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("iv"),
        F.when(F.unix_micros("ts") * 2 < F.col("mm"), 1)
        .otherwise(0)
        .alias("is_ref"),
        # week grain rides along for the sliding-window consumer (a42);
        # a40/x18 ignore it
        F.date_trunc("week", F.col("ts")).alias("wk"),
        "mm",
        # pinned: s feeds the quantized-count agg, the reference bucket
        # counts AND each caller's current-period pass — unpinned, every
        # reference re-ran the corpus scan + split agg (guide §2.4)
    ).localCheckpoint(eager=False)
    g = s.groupBy("event_type", "iv").agg(
        F.sum("is_ref").alias("cr"),
        F.sum(1 - F.col("is_ref")).alias("cc"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("iv")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = g.select(
        "event_type", "iv", F.sum("cr").over(wcum).alias("fr")
    )
    n = g.groupBy("event_type").agg(
        F.sum("cr").alias("nr"), F.sum("cc").alias("nc")
    )
    ks = spark.range(1, 10).select(F.col("id").alias("k"))
    edges = (
        cum.join(F.broadcast(n), "event_type")
        .crossJoin(F.broadcast(ks))
        .where(F.col("fr") * 10 >= F.col("k") * F.col("nr"))
        .groupBy("event_type", "k")
        .agg(F.min("iv").alias("edge"))
    )
    el = edges.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("k", "edge"))).alias("ke")
    ).select(
        "event_type",
        F.transform("ke", lambda x: x["edge"]).alias("es"),
        # pinned (domain-sized): broadcast-joined by rb here and by
        # every caller's bucketing pass — one edge derivation total
    ).localCheckpoint(eager=False)
    # reference bucket probabilities (batch-side, tiny)
    rb = (
        s.where(F.col("is_ref") == 1)
        .join(F.broadcast(el), "event_type")
        .select(
            "event_type",
            (
                1 + F.size(F.filter("es", lambda ed: F.col("iv") > ed))
            ).alias("bkt"),
        )
        .groupBy("event_type", "bkt")
        .agg(F.count("*").alias("br"))
    )
    return s, el, rb, n


def _psi_table(spark, n, rb, cur):
    """(type, bkt, p_ref, p_cur, psi_term) from reference counts ``rb``
    and current counts ``cur(event_type, bkt, bcur)`` — the shared a40/
    x18 finishing stage: 10-bucket spine, 1e-6 zero-bucket clamps, one
    6 dp-rounded log-ratio term per row."""
    spine = n.crossJoin(
        F.broadcast(
            spark.range(1, 11).select(
                F.col("id").cast("int").alias("bkt")
            )
        )
    )
    p = (
        spine.join(F.broadcast(rb), ["event_type", "bkt"], "left")
        .join(cur, ["event_type", "bkt"], "left")
        .select(
            "event_type", "bkt",
            F.greatest(
                F.coalesce("br", F.lit(0)).cast("double") / F.col("nr"),
                F.lit(1e-6),
            ).alias("pr"),
            F.greatest(
                F.coalesce("bcur", F.lit(0)).cast("double")
                / F.col("nc"),
                F.lit(1e-6),
            ).alias("pc"),
        )
    )
    return p.select(
        "event_type",
        F.col("bkt").cast("int").alias("bkt"),
        F.round("pr", 6).alias("p_ref"),
        F.round("pc", 6).alias("p_cur"),
        F.round(
            (F.col("pc") - F.col("pr"))
            * F.log(F.col("pc") / F.col("pr")),
            6,
        ).alias("psi_term"),
    )


# =====================================================================
# A41 — two-proportion z-test (conversion A/B readout)
# =====================================================================


@query(
    "a41_two_proportion_ztest",
    f"""
    WITH du AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS saw,
             CAST(MAX(CASE WHEN event_type = 'purchase'
                            AND value >= 150 THEN 1 ELSE 0 END)
                  AS BIGINT) AS bought,
             user_id % 2 AS grp
      FROM events GROUP BY user_id
    ), g AS (
      SELECT grp, SUM(saw) AS n, SUM(saw * bought) AS x
      FROM du GROUP BY grp
    ), w AS (
      SELECT MAX(CASE WHEN grp = 0 THEN n END) AS n0,
             MAX(CASE WHEN grp = 0 THEN x END) AS x0,
             MAX(CASE WHEN grp = 1 THEN n END) AS n1,
             MAX(CASE WHEN grp = 1 THEN x END) AS x1
      FROM g
    )
    SELECT n0, x0, n1, x1, p0, p1, z,
           round({normal_sf_two_sided_sql('z')}, 6) AS p_value
    FROM (
      SELECT n0, x0, n1, x1,
             CAST(x0 AS DOUBLE) / n0 AS p0,
             CAST(x1 AS DOUBLE) / n1 AS p1,
             round((CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
                   / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                          * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                          * (1.0 / n0 + 1.0 / n1)), 6) AS z
      FROM w
    )
    """,
)
def a41_two_proportion_ztest(spark, sf_dir):
    """A41: pooled two-proportion z-test on per-user conversion
    (view → high-value purchase, value ≥ 150 — every user in this
    corpus purchases SOMETHING, so plain purchase conversion is
    degenerate 100%/100% and the pooled variance is 0) between the
    user_id-parity split — THE A/B
    readout for binary outcomes, beside a24's Welch (means), a37/a38
    (distributions), a40 (drift). Per-user collapse first (MAX flags —
    exposure/conversion are user-level, not event-level, the standard
    unit-of-randomization discipline), then exact integer (n, x) per
    arm; p0/p1/z divide exact bigints, with the one sqrt on a ONE-row
    result rounded 6 dp, plus ``p_value`` — the two-sided normal p
    from the rounded z (A&S erfc polynomial, oracle-mirrored). Full
    value-hash oracle.

    Scale: one keyed user collapse (map-combinable MAX flags) + a
    2-row aggregate."""
    e = _t(spark, sf_dir, "events")
    du = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).cast("bigint").alias("saw"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") >= 150),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("bought"),
    ).withColumn("grp", F.col("user_id") % 2)
    g = du.groupBy("grp").agg(
        F.sum("saw").alias("n"),
        F.sum(F.col("saw") * F.col("bought")).alias("x"),
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("x"))).alias("x1"),
    )
    p0 = F.col("x0").cast("double") / F.col("n0")
    p1 = F.col("x1").cast("double") / F.col("n1")
    pp = (F.col("x0") + F.col("x1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )

    out = w.select(
        "n0", "x0", "n1", "x1",
        p0.alias("p0"),
        p1.alias("p1"),
        F.round(
            (p1 - p0)
            / F.sqrt(
                pp * (1.0 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
            ),
            6,
        ).alias("z"),
    )
    # two-sided normal p from the ROUNDED z — the readout an
    # experimenter actually consumes (erfc polynomial, oracle-mirrored)
    return out.withColumn(
        "p_value", F.round(normal_sf_two_sided(F.col("z")), 6)
    )


# =====================================================================
# A42 — sliding-window PSI (weekly drift vs the fixed reference)
# =====================================================================

_A42_ORACLE = """
    WITH b AS (
      SELECT MIN(epoch_us(ts)) + MAX(epoch_us(ts)) AS mm FROM events
    ), s AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS iv,
             CASE WHEN epoch_us(ts) * 2 < (SELECT mm FROM b)
                  THEN 1 ELSE 0 END AS is_ref,
             date_trunc('week', ts) AS wk
      FROM events
    ), g AS (
      SELECT event_type, iv,
             SUM(is_ref) AS cr
      FROM s GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, iv, cr,
             SUM(cr) OVER (PARTITION BY event_type ORDER BY iv) AS fr
      FROM g
    ), n AS (
      SELECT event_type, SUM(cr) AS nr FROM g GROUP BY event_type
    ), edges AS (
      SELECT cum.event_type, k.k, MIN(cum.iv) AS edge
      FROM cum JOIN n USING (event_type)
      CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS k) k
      WHERE cum.fr * 10 >= k.k * n.nr
      GROUP BY cum.event_type, k.k
    ), el AS (
      SELECT event_type, list(edge ORDER BY k) AS es
      FROM edges GROUP BY event_type
    ), rb AS (
      SELECT s.event_type,
             1 + len(list_filter(el.es, e -> s.iv > e)) AS bkt,
             COUNT(*) AS br
      FROM s JOIN el USING (event_type)
      WHERE s.is_ref = 1
      GROUP BY 1, 2
    ), bc AS (
      SELECT s.event_type, s.wk,
             1 + len(list_filter(el.es, e -> s.iv > e)) AS bkt,
             COUNT(*) AS bcur
      FROM s JOIN el USING (event_type)
      WHERE s.is_ref = 0
      GROUP BY 1, 2, 3
    ), ncw AS (
      SELECT event_type, wk, SUM(bcur) AS ncw
      FROM bc GROUP BY 1, 2
    ), spine AS (
      SELECT ncw.event_type, ncw.wk, ncw.ncw, kk.bkt
      FROM ncw
      CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS bkt) kk
    ), p AS (
      SELECT spine.event_type, spine.wk, spine.bkt,
             GREATEST(CAST(COALESCE(rb.br, 0) AS DOUBLE) / n.nr,
                      1e-6) AS pr,
             GREATEST(CAST(COALESCE(bc.bcur, 0) AS DOUBLE) / spine.ncw,
                      1e-6) AS pc
      FROM spine
      JOIN n ON n.event_type = spine.event_type
      LEFT JOIN rb
        ON rb.event_type = spine.event_type AND rb.bkt = spine.bkt
      LEFT JOIN bc
        ON bc.event_type = spine.event_type AND bc.wk = spine.wk
       AND bc.bkt = spine.bkt
    )
    SELECT event_type, wk, bkt,
           round(pr, 6) AS p_ref, round(pc, 6) AS p_cur,
           round((pc - pr) * ln(pc / pr), 6) AS psi_term
    FROM p
    """


@query("a42_psi_weekly", _A42_ORACLE)
def a42_psi_weekly(spark, sf_dir):
    """A42: SLIDING-WINDOW PSI — the production drift cadence the
    round-10 verdict asked for: a40 compares two fixed halves once;
    a42 scores every WEEK of the current period against the same fixed
    first-half reference deciles, emitting the 10 per-bucket terms per
    (event_type, week) so a monitoring dashboard reads PSI-over-time
    and names where the mass moved in the week it moved.

    Shares a40/x18's exact reference construction verbatim
    (``_x18_reference``: integer epoch-µs half split, order-statistic
    decile edges from cumulative counts over the quantized-value
    domain, bounded array-filter bucketing); the only new piece is the
    week grain — p_cur normalizes by the WEEK's total (so a
    low-traffic week still reads as a probability distribution), with
    the weekly total derived from the bucket counts (no second corpus
    pass for it). Same exactness contract as a40: integer divisions,
    1e-6 zero-bucket clamps, one 6 dp-rounded log term per row — full
    value-hash oracle.

    Scale: two corpus passes (reference counts, current bucket
    counts); everything after is (#types × #weeks × 10)-sized. The
    streaming twin is x18 (same reference artifact broadcast; a
    windowed streaming agg keyed by week would make THIS query the
    per-trigger readout)."""
    s, el, rb, n = _x18_reference(spark, sf_dir)
    bc = (
        s.where(F.col("is_ref") == 0)
        .join(F.broadcast(el), "event_type")
        .select(
            "event_type", "wk",
            (
                1 + F.size(F.filter("es", lambda ed: F.col("iv") > ed))
            ).alias("bkt"),
        )
        .groupBy("event_type", "wk", "bkt")
        .agg(F.count("*").alias("bcur"))
    )
    return _psi_table_weekly(spark, n, rb, bc)


def _psi_table_weekly(spark, n, rb, bc):
    """(type, wk, bkt, p_ref, p_cur, psi_term) from reference counts
    ``rb``/totals ``n`` and current WEEKLY bucket counts
    ``bc(event_type, wk, bkt, bcur)`` — the shared a42/x18b finishing
    stage (the a40/x18 ``_psi_table`` pattern, keyed by week). ``bc``
    is pinned: the weekly totals AND the final join both read it, so
    without the pin the current-period corpus pass would run twice
    (and the drained memory sink would hit a self-join reference
    conflict in x18b)."""
    bc = bc.localCheckpoint()
    ncw = bc.groupBy("event_type", "wk").agg(
        F.sum("bcur").alias("ncw")
    )
    spine = ncw.crossJoin(
        F.broadcast(
            spark.range(1, 11).select(
                F.col("id").cast("int").alias("bkt")
            )
        )
    )
    p = (
        spine.join(
            F.broadcast(n.select("event_type", "nr")), "event_type"
        )
        .join(F.broadcast(rb), ["event_type", "bkt"], "left")
        .join(bc, ["event_type", "wk", "bkt"], "left")
        .select(
            "event_type", "wk", "bkt",
            F.greatest(
                F.coalesce("br", F.lit(0)).cast("double") / F.col("nr"),
                F.lit(1e-6),
            ).alias("pr"),
            F.greatest(
                F.coalesce("bcur", F.lit(0)).cast("double")
                / F.col("ncw"),
                F.lit(1e-6),
            ).alias("pc"),
        )
    )
    return p.select(
        "event_type", "wk",
        F.col("bkt").cast("int").alias("bkt"),
        F.round("pr", 6).alias("p_ref"),
        F.round("pc", 6).alias("p_cur"),
        F.round(
            (F.col("pc") - F.col("pr"))
            * F.log(F.col("pc") / F.col("pr")),
            6,
        ).alias("psi_term"),
    )


# =====================================================================
# A43 — weekly (grouped) KS drift: per-segment distribution tests
# =====================================================================


@query(
    "a43_ks_weekly",
    """
    WITH s AS (
      SELECT date_trunc('week', ts) AS wk,
             CAST(round(value * 100) AS BIGINT) AS iv,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a
      FROM events WHERE event_type IN ('view', 'purchase')
    ), g AS (
      SELECT wk, iv, SUM(a) AS c1, SUM(1 - a) AS c2
      FROM s GROUP BY 1, 2
    ), cum AS (
      SELECT wk, iv,
             SUM(c1) OVER (PARTITION BY wk ORDER BY iv) AS f1,
             SUM(c2) OVER (PARTITION BY wk ORDER BY iv) AS f2
      FROM g
    ), tot AS (
      SELECT wk, MAX(f1) AS n1, MAX(f2) AS n2 FROM cum GROUP BY wk
    ), d AS (
      SELECT cum.wk, cum.iv, tot.n1, tot.n2,
             abs(cum.f1 * tot.n2 - cum.f2 * tot.n1) AS dnum
      FROM cum JOIN tot ON tot.wk = cum.wk
    ), best AS (
      SELECT wk, n1, n2, MAX(dnum) AS dnum FROM d GROUP BY 1, 2, 3
    ), at AS (
      SELECT d.wk, d.n1, d.n2, d.dnum, MIN(d.iv) AS at_iv
      FROM d JOIN best ON best.wk = d.wk AND best.dnum = d.dnum
      GROUP BY 1, 2, 3, 4
    )
    SELECT wk, n1, n2, at_iv,
           CAST(dnum AS DOUBLE) / (n1 * n2) AS d_stat,
           round(LEAST(1.0, 2.0 * exp(
             -2.0 * (CAST(dnum AS DOUBLE) / (n1 * n2))
                  * (CAST(dnum AS DOUBLE) / (n1 * n2))
                  * (n1 * CAST(n2 AS DOUBLE)) / (n1 + n2))), 6)
             AS p_approx
    FROM at
    """,
)
def a43_ks_weekly(spark, sf_dir):
    """A43: per-WEEK exact two-sample KS between the 'view' and
    'purchase' value distributions — a37 at the production monitoring
    cadence (the KS analogue of a40→a42): one exact D/p row per week,
    so a dashboard reads distribution-shift-over-time and a single
    drifted week cannot hide inside a whole-period test.

    Built on ``operators.stats.ks_2sample_by`` — the grouped
    generalization whose CDF window partitions BY the key: the scale
    shape is strictly better than global a37 (no single-partition
    domain sort exists at all; per-task state is one week's quantized
    domain), and the same a37 pin applies (the domain-sized aggregate
    is localCheckpoint-pinned so the corpus is scanned once). Same
    integer-exactness contract: bigint cross-counts, one final
    division, Smirnov p rounded 6 dp on week-sized output."""
    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    s = e.select(
        F.date_trunc("week", "ts").alias("wk"),
        F.round(F.col("value") * 100).cast("bigint").alias("iv"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("a"),
    )
    return ks_2sample_by(s, "iv", "a", ["wk"]).select(
        "wk", "n1", "n2",
        F.col("at_v").alias("at_iv"),
        "d_stat", "p_approx",
    )


# =====================================================================
# A44 — weekly (grouped) Mann–Whitney U: per-segment rank-sum drift
# =====================================================================


@query(
    "a44_mwu_weekly",
    f"""
    WITH s AS (
      SELECT date_trunc('week', ts) AS wk,
             CAST(round(value * 100) AS BIGINT) AS iv,
             CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS a
      FROM events WHERE event_type IN ('view', 'purchase')
    ), g AS (
      SELECT wk, iv, SUM(a) AS c1, SUM(1 - a) AS c2, COUNT(*) AS c
      FROM s GROUP BY 1, 2
    ), cum AS (
      SELECT wk, iv, c1, c2, c,
             COALESCE(SUM(c) OVER (PARTITION BY wk ORDER BY iv
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS f
      FROM g
    ), agg AS (
      SELECT wk, SUM(c1) AS n1, SUM(c2) AS n2,
             SUM(c1 * (2 * f + c + 1)) AS r1x2,
             SUM(c * c * c - c) AS tie3
      FROM cum GROUP BY wk
    )
    SELECT wk, n1, n2, u1, u2, z,
           round({normal_sf_two_sided_sql('z')}, 6) AS p_value
    FROM (
      SELECT wk, n1, n2,
             CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
             n1 * CAST(n2 AS DOUBLE)
               - CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u2,
             CASE WHEN (n1 * CAST(n2 AS DOUBLE) / 12.0)
                       * ((n1 + n2 + 1)
                          - COALESCE(CAST(tie3 AS DOUBLE)
                            / ((n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE)),
                            0.0)) > 0
                  THEN round(
                    (CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / 2.0
                     - n1 * CAST(n2 AS DOUBLE) / 2.0)
                    / sqrt((n1 * CAST(n2 AS DOUBLE) / 12.0)
                       * ((n1 + n2 + 1)
                          - COALESCE(CAST(tie3 AS DOUBLE)
                            / ((n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE)),
                            0.0))), 6)
             END AS z
      FROM agg
    )
    """,
)
def a44_mwu_weekly(spark, sf_dir):
    """A44: per-WEEK exact tie-corrected Mann–Whitney U between the
    'view' and 'purchase' value distributions — a38 at the production
    monitoring cadence, completing the per-segment drift pair with a43
    (KS screens the whole CDF; U screens the location shift — a week
    where the values merely re-shuffled trips KS but not U).

    Built on ``operators.stats.mann_whitney_u_by`` — the grouped
    generalization whose doubled-midrank window partitions BY key (no
    single-partition sort anywhere, per-task state = one week's
    quantized domain, the a37 pin applies). Same integer-exactness
    contract as a38: doubled midranks keep rank sums bigint, U halves
    exactly in binary, Lehmann tie-corrected z rounds 6 dp on
    week-sized output, NULL z on zero variance, and ``p_value`` — the
    two-sided normal p from the rounded z (A&S erfc polynomial,
    oracle-mirrored) — NULL exactly where z is."""
    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    s = e.select(
        F.date_trunc("week", "ts").alias("wk"),
        F.round(F.col("value") * 100).cast("bigint").alias("iv"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("a"),
    )
    return mann_whitney_u_by(s, "iv", "a", ["wk"])


# =====================================================================
# A45 — position-based multi-touch attribution (exact basis points)
# =====================================================================

_A45_LOOKBACK_US = 7 * 86400 * 1_000_000  # 7-day attribution window


@query(
    "a45_attribution",
    f"""
    WITH base AS (
      SELECT user_id, event_type, ts, event_id,
             lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 20, '0') AS k,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ), nxt AS (
      SELECT user_id, event_type, ts, event_id, k,
             min(CASE WHEN event_type = 'purchase'
                      THEN k || lpad(CAST(cents AS VARCHAR), 20, '0') END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS pk
      FROM base
    ), touches AS (
      SELECT event_type, ts, event_id, pk,
             CAST(substr(pk, 41, 20) AS BIGINT) AS pcents
      FROM nxt
      WHERE event_type <> 'purchase' AND pk IS NOT NULL
        AND CAST(substr(pk, 1, 20) AS BIGINT) - epoch_us(ts)
              <= {_A45_LOOKBACK_US}
    ), j AS (
      SELECT event_type, pk, pcents,
             row_number() OVER (PARTITION BY pk ORDER BY ts, event_id)
               AS pos,
             COUNT(*) OVER (PARTITION BY pk) AS n
      FROM touches
    ), credited AS (
      SELECT event_type, pk, pcents,
             CASE WHEN n = 1 THEN 10000
                  WHEN n = 2 THEN 5000
                  WHEN pos = 1 OR pos = n THEN 4000
                  ELSE CAST(floor(2000.0 / (n - 2)) AS BIGINT)
                       + CASE WHEN pos = 2 THEN 2000 % (n - 2)
                              ELSE 0 END
             END AS credit_bp
      FROM j
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS touches,
           CAST(COUNT(DISTINCT pk) AS BIGINT) AS purchases_touched,
           CAST(SUM(credit_bp) AS BIGINT) AS credit_bp_total,
           CAST(SUM(credit_bp * pcents) AS BIGINT) AS attributed_cents_bp
    FROM credited
    GROUP BY event_type
    """,
)
def a45_attribution(spark, sf_dir):
    """A45: position-based (U-shaped) multi-touch attribution — the
    marketing-analytics workload the funnel family doesn't cover: a17/
    a30 measure whether journeys CONVERT, a25 how long they take; a45
    divides each conversion's REVENUE across the touches that led to it.
    Every purchase claims the same-user touches in the 7 days before it
    (each touch credits only its NEXT purchase — journeys never
    double-count); credit is 40% to the first touch, 40% to the last,
    20% split over the middles.

    Exactness contract: credits are EXACT INTEGER BASIS POINTS
    (n=1 -> 10000; n=2 -> 5000/5000; else 4000/4000 ends, middles get
    floor(2000/(n-2)) with the remainder to the second touch — each
    journey sums to exactly 10000), and revenue rides as cents bigints,
    so ``attributed_cents_bp`` is a pure bigint aggregate: no float
    enters the pipeline and the DuckDB hash certifies every window,
    the lookback cut, and the credit arithmetic.

    The next-purchase assignment avoids a self-join: one string-encoded
    order key (zero-padded micros || event_id, with the purchase's
    cents appended OUTSIDE the 40-char ordering prefix; every segment
    is padded to 20 chars so any non-negative bigint fits UNTRUNCATED —
    lpad silently truncates past the width in both engines). The
    non-negativity the padding assumes is ENFORCED, not assumed: a
    negative amount (refund/chargeback) raises a named error on the
    Spark side (DuckDB's CAST of the mis-padded key errors on its own)
    instead of silently mis-sorting — signed ledgers must
    offset-encode before this operator. The key makes
    ``min`` over a current-row-to-unbounded-following frame the exact
    forward as-of match — the j6b pattern collapsed into a window.
    Scale shape:
    two window passes — (user_id) then (purchase) partitioning — plus
    one hash agg; both windows parallelize by key, per-task state is
    one user's / one journey's rows, no driver state, no join. 100 TB
    behavior is the w-family's: linear, shuffle on user_id then pk."""
    e = _t(spark, sf_dir, "events")
    # the zero-pad ordering key is only correct for NON-NEGATIVE
    # values: a negative cents lpads to '0…0-123', which sorts wrongly
    # under min() and casts back to NULL on Spark (error on DuckDB) —
    # enforce the contract loudly instead of assuming it (a refund /
    # chargeback ledger must offset-encode before using this operator)
    # guard on cents_raw < 0 specifically (NOT "not >= 0"): a NULL
    # amount is NOT negative — it passed through before the guard and
    # must keep doing so; routing NULL into raise_error would abort
    # the job with a NULL message (the concat collapses)
    cents_raw = F.round(F.col("value") * 100).cast("bigint")
    cents = F.when(
        cents_raw < 0,
        F.raise_error(
            F.concat(
                F.lit(
                    "a45_attribution: negative amount (cents="
                ),
                F.coalesce(cents_raw.cast("string"), F.lit("NULL")),
                F.lit(
                    ") breaks the zero-padded ordering key; "
                    "offset-encode signed values first"
                ),
            )
        ).cast("bigint"),
    ).otherwise(cents_raw)
    base = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.concat(
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 20, "0"),
        ).alias("k"),
        cents.alias("cents"),
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nxt = base.withColumn(
        "pk",
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.concat(
                    "k", F.lpad(F.col("cents").cast("string"), 20, "0")
                ),
            )
        ).over(fwd),
    )
    touches = nxt.where(
        (F.col("event_type") != "purchase")
        & F.col("pk").isNotNull()
        & (
            F.substring("pk", 1, 20).cast("bigint") - F.unix_micros("ts")
            <= F.lit(_A45_LOOKBACK_US)
        )
    ).select(
        "event_type",
        "ts",
        "event_id",
        "pk",
        F.substring("pk", 41, 20).cast("bigint").alias("pcents"),
    )
    wpos = Window.partitionBy("pk").orderBy("ts", "event_id")
    wn = Window.partitionBy("pk")
    j = touches.select(
        "event_type",
        "pk",
        "pcents",
        F.row_number().over(wpos).alias("pos"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    n, pos = F.col("n"), F.col("pos")
    credit = (
        F.when(n == 1, F.lit(10000))
        .when(n == 2, F.lit(5000))
        .when((pos == 1) | (pos == n), F.lit(4000))
        .otherwise(
            F.floor(F.lit(2000.0) / (n - 2)).cast("bigint")
            + F.when(pos == 2, F.lit(2000) % (n - 2)).otherwise(F.lit(0))
        )
        .cast("bigint")
    )
    return (
        j.withColumn("credit_bp", credit)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("touches"),
            F.countDistinct("pk").alias("purchases_touched"),
            F.sum("credit_bp").alias("credit_bp_total"),
            F.sum(F.col("credit_bp") * F.col("pcents")).alias(
                "attributed_cents_bp"
            ),
        )
    )

# =====================================================================
# A46 — Kruskal–Wallis k-arm omnibus test (md5 3-way split)
# =====================================================================

# The exact 3-arm Kruskal–Wallis oracle pieces: the md5 arm draw, the
# per-value arm counts, the midrank sums (doubled, bigint-exact) and the
# tie-corrected H with its df=2 p-value.
_KW3_ARM = """CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 3 AS arm"""
_KW3_COUNTS = """SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS c0,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN arm = 2 THEN 1 ELSE 0 END) AS c2,
             COUNT(*) AS c"""
_KW3_RANKS = """SUM(c0) AS n0, SUM(c1) AS n1, SUM(c2) AS n2,
             SUM(c0 * (2 * f + c + 1)) AS r0,
             SUM(c1 * (2 * f + c + 1)) AS r1,
             SUM(c2 * (2 * f + c + 1)) AS r2,
             SUM(c * c * c - c) AS tie3"""
_KW3_H = """((12.0 * (((CAST(r0 AS DOUBLE) * CAST(r0 AS DOUBLE))
                          / (4.0 * CAST(n0 AS DOUBLE))
                        + (CAST(r1 AS DOUBLE) * CAST(r1 AS DOUBLE))
                          / (4.0 * CAST(n1 AS DOUBLE)))
                       + (CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE))
                         / (4.0 * CAST(n2 AS DOUBLE))))
               / (CAST((n0 + n1) + n2 AS DOUBLE)
                  * (CAST((n0 + n1) + n2 AS DOUBLE) + 1.0))
              - 3.0 * (CAST((n0 + n1) + n2 AS DOUBLE) + 1.0))
             / (1.0 - CAST(tie3 AS DOUBLE)
                 / (CAST((n0 + n1) + n2 AS DOUBLE)
                    * CAST((n0 + n1) + n2 AS DOUBLE)
                    * CAST((n0 + n1) + n2 AS DOUBLE)
                    - CAST((n0 + n1) + n2 AS DOUBLE))) AS hx"""
_KW3_P = """round(hx, 6) AS h,
           round(LEAST(1.0, exp(-(hx / 2.0)) * 1.0), 6) AS p_approx"""
# per-user cent totals ranked over the whole period (a46, a47)
_KW3_USER_CTES = f"""m AS (
      SELECT user_id,
             SUM(CAST(round(value * 100) AS BIGINT)) AS iv,
             {_KW3_ARM}
      FROM events GROUP BY user_id
    ), g AS (
      SELECT iv,
             {_KW3_COUNTS}
      FROM m GROUP BY iv
    ), cum AS (
      SELECT iv, c0, c1, c2, c,
             COALESCE(SUM(c) OVER (ORDER BY iv
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS f
      FROM g
    ), agg AS (
      SELECT {_KW3_RANKS}
      FROM cum
    )"""

_A46_ORACLE = f"""
    WITH {_KW3_USER_CTES}, hh AS (
      SELECT n0, n1, n2,
             {_KW3_H}
      FROM agg
    )
    SELECT n0, n1, n2,
           {_KW3_P}
    FROM hh
    """


@query("a46_kruskal_wallis", _A46_ORACLE)
def a46_kruskal_wallis(spark, sf_dir):
    """A46: Kruskal–Wallis one-way rank test over THREE md5-split
    experiment arms on per-user spend totals — the k-arm omnibus the
    experiment-stats family was missing: a28/a37/a38/a41/a43/a44 all
    compare exactly two arms; a real 3-variant experiment needs the
    joint "are these k distributions the same?" answer BEFORE any
    pairwise drill-down (running the pairwise tests directly is the
    multiple-comparisons trap).

    Built on :func:`finporter_spark.operators.stats.kruskal_wallis` —
    mann_whitney_u's doubled-midrank machinery generalized to k
    conditional bigint sums over the pinned quantized domain (one
    corpus scan, one domain window, one scalar agg; H's fp arithmetic
    is ONE fixed left-associated expression over the 2k+2 bigint
    scalars, never a k-row float aggregation, so both engines evaluate
    the identical tree). Arms: conv(md5(user_id)[:8], 16, 10) % 3 —
    the a28 engine-portable split, widened to 3. k−1 = 2 is even, so
    the chi-square survival is closed-form exp(−H/2) (finite Poisson
    sum) — full value-hash oracle including the p-value.

    Pure-Python midrank cross-check + chi-square identity tests:
    tests/test_r12_ops.py."""
    e = _t(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("iv")
    ).select(
        "iv",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 3
        ).alias("arm"),
    )
    return kruskal_wallis(m, "iv", "arm", [0, 1, 2])


# =====================================================================
# A47 — Dunn's post-hoc pairwise readout (after the a46 omnibus)
# =====================================================================

_A47_ALPHA = 0.05  # family-wise error rate, Bonferroni over 3 pairs


def _a47_pair_sql(i: int, j: int) -> str:
    mri = f"(CAST(r{i} AS DOUBLE) / (2.0 * CAST(n{i} AS DOUBLE)))"
    mrj = f"(CAST(r{j} AS DOUBLE) / (2.0 * CAST(n{j} AS DOUBLE)))"
    sig2 = (
        "(nd * (nd + 1.0) / 12.0"
        " - CAST(tie3 AS DOUBLE) / (12.0 * (nd - 1.0)))"
        f" * ((1.0 / CAST(n{i} AS DOUBLE))"
        f" + (1.0 / CAST(n{j} AS DOUBLE)))"
    )
    # NULL-guard mirrors the Spark operator (F.when(sig2 > 0, ...)):
    # on a degenerate all-tied domain sig2 <= 0 must yield NULL on
    # BOTH engines, not DuckDB NaN/inf vs Spark NULL
    z = (
        f"(CASE WHEN {sig2} > 0 THEN"
        f" round(({mri} - {mrj}) / sqrt({sig2}), 6) END)"
    )
    return f"""
      SELECT '{i}' AS arm_i, '{j}' AS arm_j,
             n{i} AS ni, n{j} AS nj,
             {mri} AS mean_rank_i, {mrj} AS mean_rank_j,
             {z} AS z
      FROM dn"""


_A47_ORACLE = f"""
    WITH {_KW3_USER_CTES}, dn AS (
      SELECT *, CAST((n0 + n1) + n2 AS DOUBLE) AS nd FROM agg
    )
    SELECT arm_i, arm_j, ni, nj, mean_rank_i, mean_rank_j, z, p_adj,
           p_adj <= {_A47_ALPHA} AS significant
    FROM (
      SELECT arm_i, arm_j, ni, nj, mean_rank_i, mean_rank_j, z,
             CASE WHEN z IS NOT NULL THEN
               round(least(1.0, 3.0 * {normal_sf_two_sided_sql('z')}), 6)
             END AS p_adj
      FROM (
        {" UNION ALL ".join(_a47_pair_sql(i, j) for i in range(3) for j in range(i + 1, 3))}
      )
    )
    """


@query("a47_dunn_posthoc", _A47_ORACLE)
def a47_dunn_posthoc(spark, sf_dir):
    """A47: Dunn's post-hoc pairwise test — the step a46 leaves open:
    the omnibus says SOME arm differs; Dunn says WHICH, comparing
    per-arm mean ranks from the SAME joint midranking (re-running
    pairwise MWU re-ranks each pair in isolation — a different, and
    at k>2 anti-conservative, procedure). Arms/values identical to
    a46 (md5 3-way split over per-user cent totals), so the pair reads
    compose with the omnibus read.

    Built on :func:`finporter_spark.operators.stats.dunn_posthoc`: the
    k(k−1)/2 pair rows explode from ONE scalar aggregate (no second
    corpus pass); mean ranks are bigint-exact doubled rank sums
    divided once; the tie-corrected z is a fixed-association
    expression; ``p_adj`` is the REAL Bonferroni-adjusted two-sided
    p-value — min(1, 3·erfc(|z|/√2)) via the Abramowitz–Stegun 7.1.26
    polynomial (``operators.stats.normal_sf_two_sided``, |err| ≤
    1.5e-7, mirrored literally in the oracle — erf is not an engine
    builtin but IS five multiply-adds and an exp, which both engines
    evaluate bit-identically on the rounded z) — and ``significant``
    decides p_adj ≤ 0.05 on the ROUNDED p, so the hash certifies z,
    the p-value, AND the decision on all three pairs."""
    e = _t(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("iv")
    ).select(
        "iv",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 3
        ).alias("arm"),
    )
    return dunn_posthoc(m, "iv", "arm", [0, 1, 2], alpha=_A47_ALPHA)


# =====================================================================
# A46b — weekly (grouped) Kruskal–Wallis: k-arm drift at the cadence
# =====================================================================

_A46B_ORACLE = f"""
    WITH s AS (
      SELECT date_trunc('week', ts) AS wk,
             CAST(round(value * 100) AS BIGINT) AS iv,
             {_KW3_ARM}
      FROM events
    ), g AS (
      SELECT wk, iv,
             {_KW3_COUNTS}
      FROM s GROUP BY 1, 2
    ), cum AS (
      SELECT wk, iv, c0, c1, c2, c,
             COALESCE(SUM(c) OVER (PARTITION BY wk ORDER BY iv
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS f
      FROM g
    ), agg AS (
      SELECT wk,
             {_KW3_RANKS}
      FROM cum GROUP BY wk
    ), hh AS (
      SELECT wk, n0, n1, n2,
             {_KW3_H}
      FROM agg
    )
    SELECT wk, n0, n1, n2,
           {_KW3_P}
    FROM hh
    """


@query("a46b_kw_weekly", _A46B_ORACLE)
def a46b_kw_weekly(spark, sf_dir):
    """A46b: per-WEEK exact Kruskal–Wallis across the three md5 arms
    on raw event values — a46 at the production monitoring cadence,
    completing the drift-family symmetry (a37→a43 KS, a38→a44 MWU,
    a46→a46b KW): one H/p row per week, so a k-arm experiment's
    dashboard reads are-the-arms-still-exchangeable OVER TIME and a
    single drifted week can't hide in the whole-period omnibus.

    Built on :func:`finporter_spark.operators.stats.kruskal_wallis_by`
    — the grouped generalization whose cumulative window partitions BY
    week (no single-partition domain sort anywhere; per-task state is
    one week's quantized domain; the a37 localCheckpoint pin keeps it
    one corpus scan). Per-week H is the same fixed-association
    expression over that week's 2k+2 bigint scalars; even-df survival
    stays closed-form. Note the unit here is EVENTS (weekly per-user
    totals would thin to ~1 obs/arm/week); a46 keeps the per-user
    grain for the whole-period read."""
    e = _t(spark, sf_dir, "events")
    s = e.select(
        F.date_trunc("week", "ts").alias("wk"),
        F.round(F.col("value") * 100).cast("bigint").alias("iv"),
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 3
        ).alias("arm"),
    )
    return kruskal_wallis_by(s, "iv", "arm", [0, 1, 2], ["wk"])


# =====================================================================
# A48 — 4-arm Kruskal–Wallis (odd df: the erfc-anchored p-value)
# =====================================================================


def _a48_oracle() -> str:
    """4-arm KW oracle: the a46 construction widened to md5 % 4, with
    the ODD-df (df=3) chi-square survival mirrored literally —
    Q(x;3) = erfc(√(x/2)) + e^{−x/2}·√(x/2)/Γ(3/2) — the branch
    operators.stats._kw_h_and_p filled in round 13 (previously a
    documented NULL: "neither engine has erf")."""
    nd = "CAST((((n0 + n1) + n2) + n3) AS DOUBLE)"
    terms = [
        f"(CAST(r{i} AS DOUBLE) * CAST(r{i} AS DOUBLE))"
        f" / (4.0 * CAST(n{i} AS DOUBLE))"
        for i in range(4)
    ]
    ssum = f"((({terms[0]} + {terms[1]}) + {terms[2]}) + {terms[3]})"
    hx = (
        f"((12.0 * {ssum}) / ({nd} * ({nd} + 1.0))"
        f" - 3.0 * ({nd} + 1.0))"
        f" / (1.0 - CAST(tie3 AS DOUBLE)"
        f" / ({nd} * {nd} * {nd} - {nd}))"
    )
    c1 = 1.0 / math.gamma(1.5)
    y = "sqrt((hx / 2.0))"
    p = (
        f"round(LEAST(1.0, {erfc_poly_sql(y)}"
        f" + exp(-(hx / 2.0)) * ({y} * {c1!r})), 6)"
    )
    arm_cols = ",\n             ".join(
        f"SUM(CASE WHEN arm = {i} THEN 1 ELSE 0 END) AS c{i}"
        for i in range(4)
    )
    agg_cols = ",\n             ".join(
        [f"SUM(c{i}) AS n{i}" for i in range(4)]
        + [f"SUM(c{i} * (2 * f + c + 1)) AS r{i}" for i in range(4)]
    )
    return f"""
    WITH m AS (
      SELECT user_id,
             SUM(CAST(round(value * 100) AS BIGINT)) AS iv,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 4 AS arm
      FROM events GROUP BY user_id
    ), g AS (
      SELECT iv,
             {arm_cols},
             COUNT(*) AS c
      FROM m GROUP BY iv
    ), cum AS (
      SELECT iv, c0, c1, c2, c3, c,
             COALESCE(SUM(c) OVER (ORDER BY iv
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS f
      FROM g
    ), agg AS (
      SELECT {agg_cols},
             SUM(c * c * c - c) AS tie3
      FROM cum
    ), hh AS (
      SELECT n0, n1, n2, n3, {hx} AS hx FROM agg
    )
    SELECT n0, n1, n2, n3,
           round(hx, 6) AS h,
           {p} AS p_approx
    FROM hh
    """


@query("a48_kw_4arm", _a48_oracle())
def a48_kw_4arm(spark, sf_dir):
    """A48: Kruskal–Wallis over FOUR declared arms (md5 % 4 over
    per-user cent totals) — the odd-degrees-of-freedom case (df = 3)
    the k-arm family could not price until round 13: a46/a46b ship
    k = 3 (df = 2, even) where the chi-square survival is a finite
    Poisson sum, and ``_kw_h_and_p`` documented odd df as NULL
    ("neither engine has erf as a builtin"). The erfc polynomial that
    gave the z-family real p-values closes it: Q(x; 3) = erfc(√(x/2))
    + e^{−x/2}·√(x/2)/Γ(3/2), anchored at Q(x;1) = erfc(√(x/2)) by
    the upward recurrence — fixed literals, fixed association,
    mirrored LITERALLY in the DuckDB oracle, so the full value hash
    covers n0..n3, the tie-corrected H, AND the odd-df p-value.

    Same machinery and scale shape as a46 (one corpus scan to the
    pinned quantized domain, one domain-sized window, one scalar
    aggregate; exact-decimal rank sums); 4-way md5 split is the a28
    engine-portable arm draw widened once more. The df=1 identity
    (KW at k=2 == squared MWU z, so p_approx == the MWU two-sided
    normal p) is pinned in tests/test_r13_ops.py, plus a
    4-arm pure-Python reference under hypothesis."""
    e = _t(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("iv")
    ).select(
        "iv",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 4
        ).alias("arm"),
    )
    return kruskal_wallis(m, "iv", "arm", [0, 1, 2, 3])
