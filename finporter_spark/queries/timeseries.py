"""Time-series queries: the w (windows, smoothing, anomaly detection,
decomposition) and f (portfolio) families, plus the market-surveillance
pipeline (pipe5).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window, functions as F

from finporter_spark.operators.scale import exact_percentiles
from finporter_spark.queries.catalog import (
    DSUM,
    _t,
    dsum,
    query,
)


# =====================================================================
# W — window functions
# =====================================================================

@query(
    "w1_ranking",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(row_number() OVER w AS INT) AS rn,
           CAST(rank() OVER w AS INT) AS rnk,
           CAST(dense_rank() OVER w AS INT) AS drnk,
           CAST(ntile(4) OVER w AS INT) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def w1_ranking(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "w2_lag_lead",
    """
    SELECT event_id, user_id, ts, value,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_seen
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w2_lag_lead(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.first("value").over(wf).alias("first_seen"),
    )


@query(
    "w3_running_sum",
    """
    SELECT event_id, user_id, ts,
           sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_sum,
           avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_avg3
    FROM events
    """,
)
def w3_running_sum(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.sum("value")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("run_sum"),
        F.avg("value").over(w.rowsBetween(-2, Window.currentRow)).alias("mov_avg3"),
    )


# =====================================================================
# W/A additions — range frames and cube (completing W3/A4 coverage)
# =====================================================================

@query(
    "w4_range_frame",
    f"""
    SELECT event_id, user_id, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_30m,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sum_30m
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
                 RANGE BETWEEN 1800 PRECEDING AND CURRENT ROW)
    """,
)
def w4_range_frame(spark, sf_dir):
    """W3 range frame: trailing 30-minute window keyed on event time, not
    row position. The sum routes through DECIMAL(28,6) because a RANGE
    frame's addend order is engine-internal (Spark running-frame vs
    DuckDB segment tree) — decimal makes it order-independent.

    The range key is FRACTIONAL epoch seconds (timestamp cast to
    double — microseconds included), matching the oracle's
    ``epoch(ts)``: ``unix_timestamp`` truncates to whole seconds, which
    silently shifts the 1800 s frame boundary for events landing within
    the fractional remainder — invisible at small SFs (no event pair
    sits that close to the boundary), caught by the sf1 sweep where two
    rows flipped."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("double"))
        .rangeBetween(-1800, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_30m"),
        F.sum(F.col("value").cast("decimal(28,6)"))
        .over(w)
        .cast("double")
        .alias("sum_30m"),
    )


@query(
    "w5_gap_fill",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             {DSUM('value')} AS v
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, min(day) AS lo, max(day) AS hi FROM daily
      GROUP BY 1
    ), grid AS (
      SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 DAY))
               AS day
      FROM bounds
    )
    SELECT g.event_type, CAST(g.day AS TIMESTAMP) AS day,
           d.v IS NOT NULL AS observed,
           last_value(d.v IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS v_filled
    FROM grid g LEFT JOIN daily d
      ON g.event_type = d.event_type AND g.day = d.day
    """,
)
def w5_gap_fill(spark, sf_dir):
    """W5: time-series gap fill — regularize each key's series onto a
    daily grid and forward-fill missing points (last observation
    carried forward). The resample/ffill primitive every downstream
    time-series consumer wants, built from three scalable pieces: a
    grouped daily rollup, a per-key `sequence()` grid (explode is
    map-only; grid length bounded by the date span), and a partitioned
    ignore-nulls `last` window. No driver-side date math, no Python."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(dsum(F.col("value")).alias("v"))
    grid = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.col("v").isNotNull().alias("observed"),
            F.last("v", ignorenulls=True).over(w).alias("v_filled"),
        )
    )


@query(
    "w6_sessionize",
    f"""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 600
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {DSUM('value')} AS total_value
    FROM sessions GROUP BY user_id, session_seq
    """,
)
def w6_sessionize(spark, sf_dir):
    """W6: BATCH sessionization — the offline twin of the streaming
    session window (x3), and the standard backfill/reprocessing path:
    a gap > 10 min starts a new session. Two windows over the SAME
    (user_id, ts) ordering — one shuffle, both window passes reuse the
    sort — then a per-(user, session) hash agg. Scales as W-ops do:
    state ∝ one user's events per task, no driver involvement."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull()
        | (F.unix_timestamp("ts") - F.unix_timestamp(prev) > 600),
        1,
    ).otherwise(0)
    sessions = e.withColumn("is_new", is_new).withColumn(
        "session_seq",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        dsum(F.col("value")).alias("total_value"),
    )


@query(
    "w8_time_decay_score",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(ts) AS last_ts,
           round(
             SUM(value * exp((epoch(ts) - epoch(TIMESTAMP '2024-01-01'))
                             / 86400.0))
             * exp(-MAX(epoch(ts) - epoch(TIMESTAMP '2024-01-01'))
                   / 86400.0),
             6) AS decay_score
    FROM events
    GROUP BY user_id
    """,
)
def w8_time_decay_score(spark, sf_dir):
    """W8: exponentially time-decayed engagement score per user (1-day
    half-life-ish decay, anchored at each user's LAST event):
    score = Σ v_i·exp(−λ(T_user − t_i)).

    The naive formulation needs T_user before scoring each row (a
    window pass + an aggregate). The log-domain factorization
    exp(−λ(T−t)) = exp(λt)·exp(−λT) turns it into ONE groupBy of two
    algebraic aggregates — Σ v·exp(λt) and max(t) — map-side
    combinable, single shuffle. Trade-off documented: the intermediate
    carries exp(λ·span) dynamic range, fine for spans ≪ 700/λ seconds
    (here: decades); longer spans would rebase per partition.

    Fractional epoch (``ts.cast(double)``) on both sides — the w4 sf1
    lesson. Score rounded to 6 dp: double-sum reorder noise is ~1e-13
    relative, far under the canon."""
    e = _t(spark, sf_dir, "events")
    lam = 1.0 / 86400.0
    base = F.unix_timestamp(F.lit("2024-01-01 00:00:00")).cast("double")
    t_rel = F.col("ts").cast("double") - base
    return (
        e.select("user_id", "ts", "value", t_rel.alias("_t"))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.max("ts").alias("last_ts"),
            F.sum(F.col("value") * F.exp(F.col("_t") * lam)).alias("_raw"),
            F.max("_t").alias("_tmax"),
        )
        .select(
            "user_id",
            "n_events",
            "last_ts",
            F.round(
                F.col("_raw") * F.exp(-F.col("_tmax") * lam), 6
            ).alias("decay_score"),
        )
    )


@query(
    "w9_ohlc_downsample",
    f"""
    WITH ranked AS (
      SELECT event_type,
             make_timestamp(CAST(floor(epoch(ts) / 600) AS BIGINT)
               * 600 * 1000000) AS w_start,
             value, ts, event_id,
             row_number() OVER (
               PARTITION BY event_type,
                 CAST(floor(epoch(ts) / 600) AS BIGINT)
               ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (
               PARTITION BY event_type,
                 CAST(floor(epoch(ts) / 600) AS BIGINT)
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, w_start,
           CAST(MAX(CASE WHEN rn_a = 1 THEN value END) AS DOUBLE) AS open,
           CAST(MAX(value) AS DOUBLE) AS high,
           CAST(MIN(value) AS DOUBLE) AS low,
           CAST(MAX(CASE WHEN rn_d = 1 THEN value END) AS DOUBLE) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           {DSUM('value')} AS volume
    FROM ranked
    GROUP BY 1, 2
    """,
)
def w9_ohlc_downsample(spark, sf_dir):
    """W9: OHLC bar downsampling — the finance-native resample (ticks →
    10-minute open/high/low/close bars per instrument) the reference's
    domain implies but its row-at-a-time engine cannot express. One
    window shuffle keyed on (instrument, bar) ranks ticks
    time-ascending and -descending (deterministic event_id tie-break),
    then a same-keyed aggregation (no second exchange) picks the
    endpoints; volume routes through DECIMAL for order-independence.
    Spark's min_by/max_by would drop the window but tie-break
    non-deterministically — the rank formulation is the cross-engine
    canon."""
    e = _t(spark, sf_dir, "events")
    bar = (F.floor(F.col("ts").cast("double") / 600)).cast("long")
    wa = Window.partitionBy("event_type", "_bar").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "_bar").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = e.select(
        "event_type", "ts", "event_id", "value", bar.alias("_bar")
    ).select(
        "event_type",
        "_bar",
        "value",
        F.row_number().over(wa).alias("_ra"),
        F.row_number().over(wd).alias("_rd"),
    )
    return (
        ranked.groupBy("event_type", "_bar")
        .agg(
            F.max(F.when(F.col("_ra") == 1, F.col("value")))
            .cast("double")
            .alias("open"),
            F.max("value").cast("double").alias("high"),
            F.min("value").cast("double").alias("low"),
            F.max(F.when(F.col("_rd") == 1, F.col("value")))
            .cast("double")
            .alias("close"),
            F.count("*").cast("bigint").alias("n_ticks"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("volume"),
        )
        .select(
            "event_type",
            F.timestamp_seconds(F.col("_bar") * 600).alias("w_start"),
            "open",
            "high",
            "low",
            "close",
            "n_ticks",
            "volume",
        )
    )


@query(
    "w10_max_drawdown",
    """
    WITH runmax AS (
      SELECT user_id, value,
             MAX(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      FROM events
    )
    SELECT user_id,
           CAST(MIN(CASE WHEN peak <> 0 THEN value / peak - 1.0 END)
                AS DOUBLE) AS max_drawdown,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM runmax
    GROUP BY user_id
    """,
)
def w10_max_drawdown(spark, sf_dir):
    """W10: maximum drawdown per account — the risk metric over a value
    series (largest peak-to-trough loss): running max (rows frame,
    deterministic event_id tie-break) then the minimum of
    value/peak − 1 (zero peaks guarded: an account whose running max
    is 0 has no defined drawdown for that prefix). Window and
    aggregate share the user key — one
    corpus-sized exchange, the w9 pattern."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.select(
            "user_id",
            "value",
            F.max("value").over(w).alias("peak"),
        )
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    F.col("peak") != 0,
                    F.col("value") / F.col("peak") - 1.0,
                )
            )
            .cast("double")
            .alias("max_drawdown"),
            F.count("*").cast("bigint").alias("n_events"),
        )
    )


@query(
    "w7_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), r AS (
      SELECT user_id, day,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM days
    )
    SELECT user_id, CAST(MIN(day) AS TIMESTAMP) AS start_day,
           CAST(MAX(day) AS TIMESTAMP) AS end_day,
           CAST(COUNT(*) AS BIGINT) AS streak_days
    FROM r
    GROUP BY user_id, day - CAST(rn AS INT)
    """,
)
def w7_streaks(spark, sf_dir):
    """W7: gaps-and-islands — consecutive-active-day streaks per user
    (the canonical sessionize-without-timestamps window pattern; w6
    sessionizes by gap duration, this one by calendar adjacency). One
    distinct shuffle + one window shuffle, both keyed on user_id; the
    island key (day - row_number) is a map-side expression, so the
    plan is two exchanges regardless of scale."""
    d = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    grp = F.date_sub(F.col("day"), F.row_number().over(w))
    return (
        d.withColumn("_island", grp)
        .groupBy("user_id", "_island")
        .agg(
            F.min("day").cast("timestamp").alias("start_day"),
            F.max("day").cast("timestamp").alias("end_day"),
            F.count("*").alias("streak_days"),
        )
        .drop("_island")
    )


# =====================================================================
# W11 — daily EWMA (exponential smoothing over the tick series)
# =====================================================================

_W11_ALPHA = 0.2


def _w11_summed(partition: str) -> str:
    """The closed-form EWMA tail of the w11/w11b oracles: the running
    weighted sum ``s`` over ``ranked`` (partitioned by ``partition``)
    and the EWMA it yields."""
    return f"""summed AS (
      SELECT event_type, day, v, i, v1,
             SUM(v * power(1.0 / (1.0 - {_W11_ALPHA}), i)) OVER (
               PARTITION BY {partition} ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM ranked
    )
    SELECT event_type, day,
           round(power(1.0 - {_W11_ALPHA}, i - 1) * v1
                 + {_W11_ALPHA} * power(1.0 - {_W11_ALPHA}, i)
                   * (s - v1 / (1.0 - {_W11_ALPHA})), 6) AS ewma
    FROM summed
    """


@query(
    "w11_ewma_daily",
    f"""
    WITH daily AS (
      SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             {DSUM('value')} / COUNT(*) AS v
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT event_type, day, v, substr(day, 1, 4) AS yr,
             row_number() OVER (PARTITION BY event_type, substr(day, 1, 4)
                                ORDER BY day) AS i,
             first_value(v) OVER (
               PARTITION BY event_type, substr(day, 1, 4) ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v1
      FROM daily
    ), {_w11_summed("event_type, yr")}""",
)
def w11_ewma_daily(spark, sf_dir):
    """W11: exponentially weighted moving average of the daily mean
    tick value per instrument (the finance-standard smoother the
    reference's domain implies; seed y_1 = x_1, y_i = αx_i + (1-α)y_{i-1}).

    The recursion is CLOSED-FORMed into window primitives
    (operators/timeseries.ewma_closed_form) so it stays JVM-side — no
    per-key sequential UDF. The smoothing window PARTITIONS BY
    (instrument, calendar year): the closed form's (1-α)^{-i} weights
    grow with partition length, so the year key hard-bounds i ≤ 366
    (1.25^366 ≈ 1e35 ≪ 1e308) for ANY history length — and with α=0.2
    a term 150+ days old carries < 1e-15 relative weight, so the
    January reset is numerically invisible beyond a short warm-up. The
    daily mean routes through DECIMAL (dsum) for cross-engine
    order-independence; the smoothed value rounds to 6 dp."""
    from finporter_spark.operators.timeseries import ewma_closed_form

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
    ).agg((dsum(F.col("value")) / F.count("*")).alias("v"))
    smoothed = ewma_closed_form(
        daily.withColumn("_yr", F.substring("day", 1, 4)),
        ["event_type", "_yr"],
        ["day"],
        "v",
        _W11_ALPHA,
    )
    return smoothed.select(
        "event_type", "day", F.round("ewma", 6).alias("ewma")
    )


# =====================================================================
# W12 — rolling z-score anomaly flags
# =====================================================================


@query(
    "w12_rolling_zscore",
    """
    WITH r AS (
      SELECT event_type, event_id, value,
             AVG(value) OVER w AS mu,
             STDDEV_SAMP(value) OVER w AS sd,
             COUNT(*) OVER w AS n
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, event_id, value, round((value - mu) / sd, 6) AS z
    FROM r
    WHERE n >= 12 AND sd > 0 AND abs((value - mu) / sd) > 3
    """,
)
def w12_rolling_zscore(spark, sf_dir):
    """W12: rolling z-score anomaly detection — each tick scored
    against the trailing 20 ticks of ITS OWN instrument (the window
    excludes the current row, so an outlier can't mask itself), flagged
    when it sits more than 3 sample standard deviations out. One
    window shuffle on event_type; the trailing frame is a ROWS frame
    with a deterministic (ts, event_id) order, so results are exact and
    reproducible. The warm-up guard (n >= 12) suppresses flags before
    the baseline has support — the shape every streaming-monitoring
    stack reimplements, here as one declarative window."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    r = e.select(
        "event_type",
        "event_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count("*").over(w).alias("n"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        r.filter(
            (F.col("n") >= 12) & (F.col("sd") > 0) & (F.abs(z) > 3)
        )
        .select(
            "event_type", "event_id", "value", F.round(z, 6).alias("z")
        )
    )


# =====================================================================
# PIPE5 — market surveillance (bars → daily EWMA → deviation alerts)
# =====================================================================

_P5_ALPHA = 0.3
_P5_DEV = 45.0


@query(
    "pipe5_market_surveillance",
    f"""
    WITH ranked AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 600) AS BIGINT) AS bar,
             value,
             row_number() OVER (
               PARTITION BY event_type,
                 CAST(floor(epoch(ts) / 600) AS BIGINT)
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    ), bars AS (
      SELECT event_type, bar,
             CAST(MAX(CASE WHEN rn_d = 1 THEN value END) AS DOUBLE) AS close
      FROM ranked GROUP BY 1, 2
    ), seq AS (
      SELECT event_type, bar, close,
             CAST(floor(bar * 600.0 / 86400) AS BIGINT) AS day,
             row_number() OVER (
               PARTITION BY event_type,
                 CAST(floor(bar * 600.0 / 86400) AS BIGINT)
               ORDER BY bar) AS i,
             first_value(close) OVER (
               PARTITION BY event_type,
                 CAST(floor(bar * 600.0 / 86400) AS BIGINT)
               ORDER BY bar
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1
      FROM bars
    ), summed AS (
      SELECT event_type, bar, close, i, c1,
             SUM(close * power(1.0 / (1.0 - {_P5_ALPHA}), i)) OVER (
               PARTITION BY event_type, day ORDER BY bar
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM seq
    ), scored AS (
      SELECT event_type, bar, close,
             power(1.0 - {_P5_ALPHA}, i - 1) * c1
               + {_P5_ALPHA} * power(1.0 - {_P5_ALPHA}, i)
                 * (s - c1 / (1.0 - {_P5_ALPHA})) AS ewma
      FROM summed
    )
    SELECT event_type, bar, close, round(ewma, 6) AS ewma,
           round(abs(close - ewma), 6) AS deviation
    FROM scored WHERE abs(close - ewma) > {_P5_DEV}
    """,
)
def pipe5_market_surveillance(spark, sf_dir):
    """PIPE5: market-surveillance pipeline composed in ONE plan — the
    finance stack the reference's domain implies, end to end: ticks →
    deterministic 10-minute bars (w9's rank-canon close), per-day EWMA
    of the close series (w11's closed-form window — JVM-side, no
    sequential UDF), then deviation alerts where a bar's close strays
    more than {_P5_DEV} from its smoothed baseline. Three window
    stages share two shuffle keys ((instrument, bar) then (instrument,
    day)); the alert filter is a residual predicate on computed
    columns, so Catalyst pipelines the whole thing without
    materialization. Stage-composed oracle: the same CTE stack in
    DuckDB — proving the composition, not just the parts."""
    bar = (F.floor(F.col("ts").cast("double") / 600)).cast("long")
    wd = Window.partitionBy("event_type", "_bar").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = (
        _t(spark, sf_dir, "events")
        .select("event_type", "ts", "event_id", "value", bar.alias("_bar"))
        .select(
            "event_type",
            "_bar",
            "value",
            F.row_number().over(wd).alias("_rd"),
        )
    )
    bars = ranked.groupBy("event_type", "_bar").agg(
        F.max(F.when(F.col("_rd") == 1, F.col("value")))
        .cast("double")
        .alias("close")
    )
    from finporter_spark.operators.timeseries import ewma_closed_form

    day = F.floor(F.col("_bar") * 600.0 / 86400).cast("long")
    scored = ewma_closed_form(
        bars.withColumn("_day", day),
        ["event_type", "_day"],
        ["_bar"],
        "close",
        _P5_ALPHA,
        out_name="_ewma",
    ).select(
        "event_type", F.col("_bar").alias("bar"), "close", "_ewma"
    )
    return scored.filter(
        F.abs(F.col("close") - F.col("_ewma")) > _P5_DEV
    ).select(
        "event_type",
        "bar",
        "close",
        F.round("_ewma", 6).alias("ewma"),
        F.round(F.abs(F.col("close") - F.col("_ewma")), 6).alias(
            "deviation"
        ),
    )


@query(
    "w11b_ewma_unbounded",
    f"""
    WITH daily AS (
      SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             {DSUM('value')} / COUNT(*) AS v
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT event_type, day, v,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             first_value(v) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v1
      FROM daily
    ), {_w11_summed("event_type")}""",
)
def w11b_ewma_unbounded(spark, sf_dir):
    """W11b: EWMA over the FULL per-instrument history with no calendar
    reset — the unbounded-length scale path
    (operators/timeseries.ewma_unbounded): fixed 16-row epochs compute
    the closed form with bounded exponents, the exact cross-epoch
    recursion runs over EPOCH SUMMARIES (history/16 rows per key)
    inside one applyInPandas, and the carry joins back for the per-row
    finish. Exact at ANY history length — the plain closed form (w11's
    in-year formulation) overflows doubles past ~3,500 rows/key, proven
    in tests/test_r6_ops.py on a 5,000-row series. The oracle uses the
    un-epoched closed form, valid at fixture lengths (≤366 days/key),
    so the hash match certifies the epoch-carry path reproduces it
    bit-for-bit at 6 dp; tiny 16-row epochs force multi-epoch carries
    at every SF."""
    from finporter_spark.operators.timeseries import ewma_unbounded

    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
    ).agg((dsum(F.col("value")) / F.count("*")).alias("v"))
    smoothed = ewma_unbounded(
        daily, ["event_type"], ["day"], "v", _W11_ALPHA, epoch_rows=16
    )
    return smoothed.select(
        "event_type", "day", F.round("ewma", 6).alias("ewma")
    )


# =====================================================================
# W13 — compound balance (exact distributed scan of an affine
# recurrence with PER-ROW coefficients)
# =====================================================================


@query(
    "w13_compound_balance",
    """
    WITH t AS (
      SELECT event_type, event_id, ts, value,
             1.0 + (CAST(floor(value * 100) AS BIGINT) % 5 - 2) / 1000.0
               AS a,
             value - 50.0 AS b,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS i
      FROM events
    ), lg AS (
      SELECT event_type, event_id, a, b, i,
             SUM(ln(a)) OVER (PARTITION BY event_type ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS L
      FROM t
    ), y AS (
      SELECT event_type, event_id, i,
             exp(L) * SUM(b * exp(-L)) OVER (
               PARTITION BY event_type ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS balance
      FROM lg
    )
    SELECT event_type, event_id, CAST(i AS BIGINT) AS i,
           round(balance, 2) AS balance
    FROM y WHERE i % 97 = 0
    """,
)
def w13_compound_balance(spark, sf_dir):
    """W13: running compounded balance with PER-ROW rates — the affine
    recurrence y_i = a_i·y_{i-1} + b_i (a_i = 1 + tick-derived rate,
    b_i = net flow) that no Spark built-in expresses (window sums only
    handle CONSTANT decay via the EWMA closed form). Runs on
    `operators/timeseries.affine_scan`: the Blelloch prefix scan over
    the affine-map monoid — per-epoch exact local scans in parallel
    (applyInPandas, task state = one 512-row epoch), a vanishing-size
    carry recursion over epoch summaries, a keyed join-back, and a JVM
    finish. The ORACLE computes the same series by a genuinely
    different algorithm — the log-space closed form
    y_i = exp(L_i)·Σ b_j·exp(−L_j), SQL-expressible because a_i > 0 —
    so the hash match cross-validates two independent formulations.
    Output sampled every 97th row per key (deterministic), balance
    rounded to 2 dp (the log-space path carries ~1 ulp exp/ln noise)."""
    from finporter_spark.operators.timeseries import affine_scan

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    t = e.select(
        "event_type",
        "event_id",
        "ts",
        (
            1.0
            + (
                F.floor(F.col("value") * 100).cast("bigint") % 5 - 2
            )
            / 1000.0
        ).alias("_a"),
        (F.col("value") - 50.0).alias("_b"),
        F.row_number().over(w).alias("i"),
    )
    scanned = affine_scan(
        t,
        ["event_type"],
        ["ts", "event_id"],
        "_a",
        "_b",
        epoch_rows=512,
        out_name="_bal",
        row_index_col="i",  # reuse the ranking window already computed
    )
    return (
        scanned.filter(F.col("i") % 97 == 0)
        .select(
            "event_type",
            "event_id",
            F.col("i").cast("bigint").alias("i"),
            F.round("_bal", 2).alias("balance"),
        )
    )


# =====================================================================
# F1 — rebalance drift (the openalloc domain core)
# =====================================================================


@query(
    "f1_rebalance_drift",
    f"""
    WITH holdings AS (
      SELECT 'acc' || CAST(l_suppkey AS VARCHAR) AS accountID,
             'SEC' || CAST(l_partkey AS VARCHAR) AS securityID,
             l_quantity AS shares
      FROM lineitem
    ), securities AS (
      SELECT 'SEC' || CAST(p_partkey AS VARCHAR) AS securityID,
             p_brand AS assetID, p_retailprice AS sharePrice
      FROM part
    ), accounts AS (
      SELECT 'acc' || CAST(s_suppkey AS VARCHAR) AS accountID,
             'strat' || CAST(s_nationkey AS VARCHAR) AS strategyID
      FROM supplier
    ), target_assets AS (
      SELECT assetID, row_number() OVER (ORDER BY assetID) AS rk
      FROM (SELECT DISTINCT p_brand AS assetID FROM part)
    ), allocations AS (
      SELECT 'strat' || CAST(n_nationkey AS VARCHAR) AS strategyID,
             assetID, 0.25 AS targetPct
      FROM nation, target_assets WHERE rk <= 4
    ), pos AS (
      SELECT h.accountID, s.assetID,
             {DSUM('h.shares * s.sharePrice')} AS value
      FROM holdings h JOIN securities s USING (securityID)
      GROUP BY 1, 2
    ), tot AS (
      SELECT accountID, {DSUM('value')} AS total FROM pos GROUP BY 1
    ), tgt AS (
      SELECT a.accountID, al.assetID, al.targetPct
      FROM accounts a JOIN allocations al USING (strategyID)
    ), universe AS (
      SELECT COALESCE(p.accountID, g.accountID) AS accountID,
             COALESCE(p.assetID, g.assetID) AS assetID,
             COALESCE(p.value, 0.0) AS value,
             COALESCE(g.targetPct, 0.0) AS target_pct
      FROM pos p FULL JOIN tgt g
        ON p.accountID = g.accountID AND p.assetID = g.assetID
    )
    SELECT accountID, assetID,
           round(value / total, 6) AS cur_pct,
           round(target_pct, 6) AS target_pct,
           round(value / total - target_pct, 6) AS drift
    FROM universe JOIN tot USING (accountID)
    WHERE abs(value / total - target_pct) > 0.05
    """,
)
def f1_rebalance_drift(spark, sf_dir):
    """F1: rebalance drift — THE openalloc domain computation (the
    reference's sibling apps exist to feed it): mark each account's
    positions to market, roll them up per asset class, compare against
    the account strategy's target allocation, and flag classes drifted
    more than 5 points — including classes the target names but the
    account doesn't hold (underweight from zero). Entity derivations
    are the 7-entity pipeline's own (holdings/securities/accounts/
    allocations from lineitem/part/supplier/nation). Plan: two
    map-combined keyed aggregations (position rollup through DECIMAL,
    account totals), a broadcast strategy/target join (dim-sized), and
    one outer join per (account, asset) — no shuffle carries more than
    the position rollup."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    holdings = l.select(
        F.concat(F.lit("acc"), F.col("l_suppkey")).alias("accountID"),
        F.concat(F.lit("SEC"), F.col("l_partkey")).alias("securityID"),
        F.col("l_quantity").alias("shares"),
    )
    securities = p.select(
        F.concat(F.lit("SEC"), F.col("p_partkey")).alias("securityID"),
        F.col("p_brand").alias("assetID"),
        F.col("p_retailprice").alias("sharePrice"),
    )
    accounts = sup.select(
        F.concat(F.lit("acc"), F.col("s_suppkey")).alias("accountID"),
        F.concat(F.lit("strat"), F.col("s_nationkey")).alias("strategyID"),
    )
    target_assets = (
        p.select(F.col("p_brand").alias("assetID"))
        .distinct()
        .withColumn(
            "rk", F.row_number().over(Window.orderBy("assetID"))
        )
        .filter(F.col("rk") <= 4)
        .select("assetID")
    )
    allocations = n.crossJoin(F.broadcast(target_assets)).select(
        F.concat(F.lit("strat"), F.col("n_nationkey")).alias("strategyID"),
        "assetID",
        F.lit(0.25).alias("targetPct"),
    )
    pos = (
        holdings.join(securities, "securityID")
        .groupBy("accountID", "assetID")
        .agg(dsum(F.col("shares") * F.col("sharePrice")).alias("value"))
        # pinned: feeds the account-total agg AND the target universe
        # join — unpinned, the mark-to-market rollup ran twice
        # (guide §2.4); (account × asset)-sized
        .localCheckpoint(eager=False)
    )
    tot = pos.groupBy("accountID").agg(
        dsum(F.col("value")).alias("total")
    )
    tgt = accounts.join(F.broadcast(allocations), "strategyID").select(
        "accountID", "assetID", "targetPct"
    )
    universe = pos.alias("p").join(
        tgt.alias("g"),
        (F.col("p.accountID") == F.col("g.accountID"))
        & (F.col("p.assetID") == F.col("g.assetID")),
        "full",
    ).select(
        F.coalesce(F.col("p.accountID"), F.col("g.accountID")).alias(
            "accountID"
        ),
        F.coalesce(F.col("p.assetID"), F.col("g.assetID")).alias(
            "assetID"
        ),
        F.coalesce(F.col("p.value"), F.lit(0.0)).alias("value"),
        F.coalesce(F.col("g.targetPct"), F.lit(0.0)).alias("target_pct"),
    )
    cur = F.col("value") / F.col("total")
    return (
        universe.join(tot, "accountID")
        .filter(F.abs(cur - F.col("target_pct")) > 0.05)
        .select(
            "accountID",
            "assetID",
            F.round(cur, 6).alias("cur_pct"),
            F.round("target_pct", 6).alias("target_pct"),
            F.round(cur - F.col("target_pct"), 6).alias("drift"),
        )
    )


# =====================================================================
# F2 — FIFO lot relief / realized gains (set-based, no row loop)
# =====================================================================


@query(
    "f2_fifo_realized_gains",
    f"""
    WITH base AS (
      SELECT * FROM lineitem WHERE l_suppkey < 10
    ), t AS (
      SELECT 'acc' || CAST(l_suppkey AS VARCHAR) AS accountID,
             'SEC' || CAST(l_partkey AS VARCHAR) AS securityID,
             'BUY' AS action, l_shipdate AS at,
             l_orderkey, l_linenumber,
             l_quantity AS qty,
             (CAST(floor(l_extendedprice) AS BIGINT) % 9000) / 10.0 + 5.0
               AS price
      FROM base
      UNION ALL
      SELECT 'acc' || CAST(l_suppkey AS VARCHAR),
             'SEC' || CAST(l_partkey AS VARCHAR),
             'SELL', l_shipdate + INTERVAL 30 DAY,
             l_orderkey, l_linenumber,
             l_quantity / 2,
             (CAST(floor(l_extendedprice) AS BIGINT) % 9000) / 10.0 + 6.0
      FROM base WHERE l_returnflag = 'R'
    ), buys AS (
      SELECT accountID, securityID, price,
             SUM(qty) OVER w - qty AS lo, SUM(qty) OVER w AS hi
      FROM t WHERE action = 'BUY'
      WINDOW w AS (PARTITION BY accountID, securityID
                   ORDER BY at, l_orderkey, l_linenumber, qty, price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), sells AS (
      SELECT accountID, securityID, l_orderkey, l_linenumber, price,
             SUM(qty) OVER w - qty AS lo, SUM(qty) OVER w AS hi
      FROM t WHERE action = 'SELL'
      WINDOW w AS (PARTITION BY accountID, securityID
                   ORDER BY at, l_orderkey, l_linenumber, qty, price
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT s.accountID, s.securityID,
           CAST(s.l_orderkey AS BIGINT) AS sell_orderkey,
           CAST(s.l_linenumber AS BIGINT) AS sell_linenumber,
           round(COALESCE(SUM(least(b.hi, s.hi) - greatest(b.lo, s.lo)),
                          0.0), 6) AS matched_qty,
           round(COALESCE(SUM(
               (least(b.hi, s.hi) - greatest(b.lo, s.lo))
               * (s.price - b.price)), 0.0), 2) AS realized_gain
    FROM sells s LEFT JOIN buys b
      ON b.accountID = s.accountID AND b.securityID = s.securityID
     AND b.lo < s.hi AND s.lo < b.hi
    GROUP BY 1, 2, 3, 4
    """,
)
def f2_fifo_realized_gains(spark, sf_dir):
    """F2: FIFO lot relief — the realized-gain computation the
    reference's transaction entity carries fields for
    (MTransaction.realizedGainShort/Long) and its row-at-a-time
    ecosystem computes lot by lot. Here it is SET-BASED: on the
    cumulative-quantity axis per (account, security), buy lot j covers
    interval [CB_{{j-1}}, CB_j) and sell s consumes [CS_{{s-1}}, CS_s);
    FIFO matching IS interval intersection on that axis, so one keyed
    equi-join with a range residual (never a nested loop — the key
    carries the locality) computes every (sell, lot) match and its
    gain = overlap × (sell price − lot basis) in two window passes +
    one join. The equivalence to literal lot-queue FIFO holds exactly
    when the ledger is FEASIBLE (cumulative sells never exceed
    cumulative buys at any prefix — i.e. no naked shorts), which the
    derivation guarantees: every R-flagged purchase spawns a
    half-quantity sale 30 days later at a flat +1.00 markup over a
    1-dp-exact price (prices avoid division entirely: divided or
    percentage-marked prices land gains EXACTLY on half-cent rounding
    boundaries, where 1-ulp double noise decides the direction per
    engine), so each sell's backing lots predate it (proven == a literal FIFO simulation in
    tests/test_r6_ops.py). Bounded to 10 accounts by contract (the
    oracle re-derives the whole ledger). The generator draws
    (l_orderkey, l_linenumber) randomly, so the window order carries
    (qty, price) tiebreakers: partial duplicates order
    deterministically, and FULL duplicates are interchangeable (their
    merged per-(orderkey, linenumber) output is assignment-invariant).
    Per-sell gain sums span only
    a handful of lots, so a plain double sum (noise ~1e-13) is the
    cross-engine-safe route here — a DECIMAL(28,6) term cast injects
    1e-6 rounding-mode noise, enough to flip a half-cent boundary."""
    base = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 10)
    acct = F.concat(F.lit("acc"), F.col("l_suppkey")).alias("accountID")
    sec = F.concat(F.lit("SEC"), F.col("l_partkey")).alias("securityID")
    # 1-dp-exact prices (no division): every gain term is then
    # decimal-exact at 2 dp — a divided price makes gains land ON the
    # half-cent rounding boundary, where 1-ulp double noise decides
    # the direction per engine (observed at both SFs)
    px = (
        F.floor(F.col("l_extendedprice")).cast("bigint") % 9000
    ) / 10.0 + 5.0
    t = base.select(
        acct,
        sec,
        F.lit("BUY").alias("action"),
        F.col("l_shipdate").alias("at"),
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("qty"),
        px.alias("price"),
    ).unionAll(
        base.filter(F.col("l_returnflag") == "R").select(
            acct,
            sec,
            F.lit("SELL").alias("action"),
            (F.col("l_shipdate") + F.expr("INTERVAL 30 DAYS")).alias(
                "at"
            ),
            "l_orderkey",
            "l_linenumber",
            (F.col("l_quantity") / 2).alias("qty"),
            (px + 1.0).alias("price"),  # flat markup: 1-dp sale price
        )
    )
    # the matching itself is the grid-bounded interval intersection
    # (operators/finance.fifo_lot_gains): candidates pair per
    # (key, quantity-grid cell), so a hot instrument costs ∝ true
    # overlaps, never buys × sells per key; cell=64 ≥ the max lot size
    # (l_quantity ≤ 50) keeps per-interval fan-out ≤ 2
    from finporter_spark.operators.finance import fifo_lot_gains

    out = fifo_lot_gains(
        t,
        keys=["accountID", "securityID"],
        sell_ids=["l_orderkey", "l_linenumber"],
        order_by=["at", "l_orderkey", "l_linenumber", "qty", "price"],
        cell=64.0,
    )
    return out.select(
        "accountID",
        "securityID",
        F.col("l_orderkey").cast("bigint").alias("sell_orderkey"),
        F.col("l_linenumber").cast("bigint").alias("sell_linenumber"),
        F.round("matched_qty", 6).alias("matched_qty"),
        F.round("realized_gain", 2).alias("realized_gain"),
    )


# =====================================================================
# W15 — per-key union-of-intervals coverage (island detection)
# =====================================================================


@query(
    "w15_interval_coverage",
    """
    WITH iv AS (
      SELECT user_id, epoch(ts) AS s, epoch(ts) + value * 60 AS e
      FROM events
    ), x AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS rm
      FROM iv
    ), y AS (
      SELECT user_id, s, e,
             CASE WHEN rm IS NULL OR s > rm THEN 1 ELSE 0 END AS brk
      FROM x
    ), z AS (
      SELECT user_id, s, e,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM y
    ), g AS (
      SELECT user_id, island,
             CAST(MAX(e) - MIN(s) AS DECIMAL(28,6)) AS cov
      FROM z GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(cov) AS DOUBLE) AS covered_seconds
    FROM g GROUP BY user_id
    """,
)
def w15_interval_coverage(spark, sf_dir):
    """W15: union-of-intervals coverage per key — each event occupies
    [ts, ts + value minutes]; overlapping/adjacent intervals merge into
    islands and the answer is (island count, total covered seconds) per
    user. The interval-union staple (session coverage, uptime, sensor
    dwell) computed without pair joins: ONE window per key (running max
    of interval end over preceding rows detects island breaks), a
    cumulative sum assigns island ids, and two keyed aggs finish — the
    sweep-line algorithm as window algebra, linear in events.

    Cross-engine determinism: epoch seconds are exact doubles (µs
    integers < 2^53), identical IEEE arithmetic on both engines; the
    only order-sensitive reduction (summing island coverages) routes
    through DECIMAL(28,6) like every money sum in the catalog. Interval
    ties (s, e) are order-insensitive by construction: a tied row's
    running max already covers its start, so neither brk nor island
    membership depends on tie order."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").cast("double").alias("us"),
        F.col("value").alias("val"),
    )
    iv = ev.select(
        "user_id",
        (F.col("us") / 1e6).alias("s"),
        (F.col("us") / 1e6 + F.col("val") * 60).alias("e"),
    )
    wp = Window.partitionBy("user_id").orderBy("s", "e")
    rm = F.max("e").over(wp.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(rm.isNull() | (F.col("s") > rm), F.lit(1)).otherwise(
        F.lit(0)
    )
    z = iv.withColumn("brk", brk).withColumn(
        "island",
        F.sum("brk").over(wp.rowsBetween(Window.unboundedPreceding, 0)),
    )
    g = z.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).cast("decimal(28,6)").alias("cov")
    )
    return g.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_islands"),
        F.sum("cov").cast("double").alias("covered_seconds"),
    )


# =====================================================================
# W16 — OHLC bar resampling (finance-native time-bucket aggregation)
# =====================================================================


@query(
    "w16_ohlc_bars",
    """
    WITH b AS (
      SELECT event_type,
             strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             ts, event_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, CAST(ts AS DATE)
               ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, CAST(ts AS DATE)
               ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM events
    )
    SELECT event_type, day,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           CAST(MAX(value) AS DOUBLE) AS high,
           CAST(MIN(value) AS DOUBLE) AS low,
           MAX(CASE WHEN rn_z = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS volume,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS notional
    FROM b GROUP BY 1, 2
    """,
)
def w16_ohlc_bars(spark, sf_dir):
    """W16: OHLC candlestick resampling — the canonical financial
    time-bucket aggregation (reference domain: the importers feed
    price/txn history; OHLC is how that history is consumed). Per
    (event_type, day): open = value at the earliest (ts, event_id),
    close = at the latest, high/low = extrema, volume = row count,
    notional = decimal-routed sum.

    Spark shape: ONE map-combinable keyed aggregation — open/close use
    ``min_by``/``max_by`` over a (ts, event_id) struct (total order, so
    ties are deterministic; structs compare lexicographically and both
    partial and final aggregation keep the single smallest/largest
    witness — no window, no second shuffle, no per-group buffering).
    The oracle spells the same witness selection as two ROW_NUMBER
    windows because DuckDB's arg_min lacks composite ordering keys.
    At 100 TB this is the textbook partial-agg pattern: every executor
    emits one (open, close, hi, lo, n, sum) tuple per local group.
    """
    e = _t(spark, sf_dir, "events")
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        ).agg(
            F.min_by("value", ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordk).alias("close"),
            F.count("*").cast("bigint").alias("volume"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("notional"),
        )
    )


# =====================================================================
# F3 — maximum drawdown over per-user cumulative equity curves
# =====================================================================


@query(
    "f3_max_drawdown",
    """
    WITH eq AS (
      SELECT user_id, ts, event_id,
             SUM(CAST(value AS DECIMAL(28,6))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS equity
      FROM events
    ), dd AS (
      SELECT user_id, equity,
             MAX(equity) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS peak
      FROM eq
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(peak - equity) AS DOUBLE) AS max_drawdown,
           CAST(MAX(peak) AS DOUBLE) AS peak_equity
    FROM dd GROUP BY user_id
    """,
)
def f3_max_drawdown(spark, sf_dir):
    """F3: maximum drawdown of the CUMULATIVE equity curve — the
    cash-flow sibling of w10 (w10 takes relative drawdown value/peak-1
    over the RAW value series; F3 integrates the values into an
    equity curve first — the portfolio-accounting view, and the one
    that can be DECIMAL-exact end-to-end because no division enters
    until the final cast; reference domain: MTransaction histories
    become equity curves the moment a consumer charts them). Treats
    each user's event values as signed cash flows: equity = running
    decimal sum ordered by (ts, event_id); peak = running max of
    equity in the SAME time order; drawdown = peak - equity; output =
    per-user max.

    ONE window shuffle: both running aggregates share the identical
    (partition, ordering, ROWS frame), so Catalyst stacks them in a
    single Window stage after one exchange+sort — the second pass
    reuses the first's sort, no extra shuffle (running max OVER a
    running sum needs two Window nodes only because the max reads a
    derived column). Then a map-combinable groupBy takes the max gap.
    DECIMAL end-to-end (running sums and maxima exact; the final cast
    to double is the hash surface), so the result is bit-identical to
    the oracle at any SF.
    """
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    eq = e.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(F.col("value").cast("decimal(28,6)")).over(w).alias("equity"),
    )
    dd = eq.select(
        "user_id",
        "equity",
        F.max("equity").over(w).alias("peak"),
    )
    return dd.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.max(F.col("peak") - F.col("equity"))
        .cast("double")
        .alias("max_drawdown"),
        F.max("peak").cast("double").alias("peak_equity"),
    )


# =====================================================================
# W17 — robust anomaly detection (median / MAD, exact distributed)
# =====================================================================


@query(
    "w17_mad_anomaly",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), dev AS (
      SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(ANY_VALUE(d.med) AS DOUBLE) AS med,
           CAST(ANY_VALUE(m.mad) AS DOUBLE) AS mad,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN d.adev > 3 * 1.4826 * m.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def w17_mad_anomaly(spark, sf_dir):
    """W17: robust anomaly counting via median/MAD — the outlier gate
    that survives the outliers it hunts (w12's rolling z-score uses
    mean/stddev, which heavy tails corrupt; median absolute deviation
    does not). Per event_type: median, MAD, and the count of values
    beyond 3 robust sigmas (MAD x 1.4826, the normal-consistency
    constant).

    Both medians run through ``operators/scale.exact_percentiles`` —
    the distributed two-phase rank-select (stats pass -> deterministic
    uniform buckets -> one bucket's values interpolated), NEVER a
    per-group sort buffer: the a7 machinery reused twice, once over
    raw values and once over absolute deviations (which needs the
    first median joined back in — a broadcast of |groups| rows). The
    flag pass is a map-side predicate against the broadcast med/MAD
    table. Exact quantile_cont semantics on both engines -> hash-green
    at every SF, which approx_percentile could never give.

    Round 11 (verdict ask): three eager localCheckpoint pins collapse
    the re-derivation blowup. (1) The 2-column corpus projection is
    pinned once — each ``exact_percentiles`` call internally reads its
    input three times (stats, bucket, rank-pick), so the unpinned
    query re-scanned the events parquet ~7x; now ONE parquet scan
    total (plan-asserted in tests/test_r11_ops.py). (2)/(3) The
    |groups|-row med/mad ladder RESULTS are pinned before being joined
    back: unpinned, every downstream pass re-ran the ENTIRE upstream
    ladder as a broadcast subtree — measured as the dominant cost
    (ladder-2 6.6 s vs 1.6 s for ladder-1 at sf0.1, because its three
    internal passes each rebuilt ladder-1). Hash unchanged.
    """
    e = _t(spark, sf_dir, "events")
    ev = e.select("event_type", "value").localCheckpoint(eager=False)
    med = (
        exact_percentiles(ev, ["event_type"], "value", [0.5])
        .select("event_type", F.col("value").alias("med"))
        .localCheckpoint(eager=False)
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = (
        exact_percentiles(dev, ["event_type"], "adev", [0.5])
        .select("event_type", F.col("value").alias("mad"))
        .localCheckpoint(eager=False)
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.first("med").alias("med"),
        F.first("mad").alias("mad"),
        F.count("*").cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("adev") > 3 * 1.4826 * F.col("mad"), F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("n_anomalies"),
    )


def _daily_value_sums(e):
    """Corpus → (event_type, day, DECIMAL(18,6) value sum): the ONE
    map-combinable agg every time-series QA query (w18–w22) runs
    first, kept in exactly one place so the daily statistic — decimal
    width, date truncation — cannot drift between family members."""
    return e.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("s")
    )


# =====================================================================
# W18 — lag-1 autocorrelation of the daily value series
# =====================================================================


@query(
    "w18_autocorrelation",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS s
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), pairs AS (
      SELECT event_type, s AS y,
             LAG(s) OVER (PARTITION BY event_type ORDER BY d) AS x
      FROM daily
    ), g AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x AS DECIMAL(28,6)) * CAST(x AS DECIMAL(28,6)))
                  AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6)))
                  AS DOUBLE) AS syy,
             CAST(SUM(CAST(x AS DECIMAL(28,6)) * CAST(y AS DECIMAL(28,6)))
                  AS DOUBLE) AS sxy
      FROM pairs WHERE x IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           (n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS acf1
    FROM g
    """,
)
def w18_autocorrelation(spark, sf_dir):
    """W18: lag-1 autocorrelation of each event type's DAILY value
    series — the day-over-day persistence diagnostic a monitoring
    pipeline runs before trusting a trend fit (a21's slope on a
    near-unit-root series is noise; this is the check).

    Scale shape: the corpus collapses to (type, day) in ONE
    map-combinable keyed agg — the window after it runs over
    time-domain-sized partitions (days per type), never corpus-sized
    rows. Pearson r comes from the a21 closed-form playbook: daily
    sums stay DECIMAL end-to-end (decimal-exact and identical on both
    engines), the six moment sums are decimal-exact too, and only the
    final O(groups) scalar formula runs in double — bit-identical
    given identical inputs, so the hash matches. The daily statistic
    is the decimal SUM, not the mean: a mean is a double division
    whose re-cast to decimal would round engine-specifically, and
    centering/scale cancel in r anyway (r(sum) == r(mean) when day
    counts are equal; when they aren't, the sum series IS the declared
    statistic). DECIMAL(18,6) keeps the x*y product at (37,12), inside
    both engines' 38-digit ceiling (the a21 headroom rule)."""
    e = _t(spark, sf_dir, "events")
    daily = (
        e.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("s")
        )
    )
    w = Window.partitionBy("event_type").orderBy("d")
    pairs = daily.select(
        "event_type",
        F.col("s").alias("y"),
        F.lag("s").over(w).alias("x"),
    ).filter(F.col("x").isNotNull())
    g = pairs.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_pairs"),
        (num / den).alias("acf1"),
    )


# =====================================================================
# W19 — day-of-week seasonal profile of the daily value series
# =====================================================================


@query(
    "w19_seasonal_profile",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS s
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), dow AS (
      SELECT event_type, CAST(isodow(d) - 1 AS INT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(s) AS DECIMAL(28,6)) AS dow_total
      FROM daily GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(SUM(dow_total) AS DECIMAL(28,6)) AS type_total
      FROM dow GROUP BY event_type
    )
    SELECT dow.event_type, dow.dow, dow.n_days,
           CAST(dow.dow_total AS DOUBLE) / CAST(dow.n_days AS DOUBLE)
             AS mean_daily,
           CAST(dow.dow_total AS DOUBLE) / CAST(tot.type_total AS DOUBLE)
             AS share
    FROM dow JOIN tot ON tot.event_type = dow.event_type
    """,
)
def w19_seasonal_profile(spark, sf_dir):
    """W19: day-of-week seasonality profile per event type — mean
    daily value and share of the type's total by weekday (Monday = 0
    on BOTH engines: Spark `weekday`, DuckDB `isodow - 1` — asserted
    by the shared hash). The weekly-seasonality companion to w18's
    persistence check: together they say whether a21's linear trend is
    the right model at all.

    Scale shape: corpus → (type, day) in one map-combinable keyed agg
    (the w18 move), then two domain-sized aggs ((type, dow) ≤ 7·|types|
    rows, type totals |types| rows) and one broadcast join. Daily and
    dow sums stay DECIMAL end-to-end; only the final mean/share
    divisions run in double."""
    e = _t(spark, sf_dir, "events")
    daily = _daily_value_sums(e)
    dow = daily.groupBy(
        "event_type", F.weekday("d").cast("int").alias("dow")
    ).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("s").cast("decimal(28,6)").alias("dow_total"),
    )
    tot = dow.groupBy("event_type").agg(
        F.sum("dow_total").cast("decimal(28,6)").alias("type_total")
    )
    return dow.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "dow",
        "n_days",
        (
            F.col("dow_total").cast("double")
            / F.col("n_days").cast("double")
        ).alias("mean_daily"),
        (
            F.col("dow_total").cast("double")
            / F.col("type_total").cast("double")
        ).alias("share"),
    )


# =====================================================================
# W20 — CUSUM drift detection over the daily value series
# =====================================================================


@query(
    "w20_cusum_drift",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS s
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), tot AS (
      SELECT event_type,
             CAST(SUM(s) AS DECIMAL(28,6)) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type
    ), y AS (
      SELECT daily.event_type, daily.d,
             CAST(CAST(daily.s AS DECIMAL(28,6)) * tot.n_days
                  - tot.total AS DECIMAL(38,6)) AS y,
             tot.n_days
      FROM daily JOIN tot ON tot.event_type = daily.event_type
    ), c AS (
      SELECT event_type, d, n_days,
             CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY d
                               ROWS UNBOUNDED PRECEDING)
                  AS DECIMAL(38,6)) AS cum
      FROM y
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           CAST(cum - least(CAST(0 AS DECIMAL(38,6)),
                            MIN(cum) OVER (PARTITION BY event_type
                                           ORDER BY d
                                           ROWS UNBOUNDED PRECEDING))
                AS DOUBLE)
             / CAST(n_days AS DOUBLE) AS cusum
    FROM c
    """,
)
def w20_cusum_drift(spark, sf_dir):
    """W20: one-sided CUSUM drift detection on each type's daily value
    series — the change-point monitor a data pipeline runs on ingest
    volume before a silent upstream shift poisons a training mix.
    CUSUM's recurrence S_t = max(0, S_{t-1} + y_t) is not plain SQL,
    but it IS window algebra via the prefix trick:
    S_t = cum_t − min(0, min_{j≤t} cum_j) — one running sum and one
    running min, both over TIME-DOMAIN-sized partitions (days per
    type), never corpus rows (the corpus collapses to (type, day)
    in one map-combinable agg first — the w18/w19 move).

    Exactness: the mean-centering y_t = s_t − mean would need a
    double division; instead the whole series is SCALED BY n_days —
    y_t = n·s_t − total stays DECIMAL-exact end-to-end (Σy = 0 by
    construction), and the single division by n happens once, in
    double, at output. Same detector, exact cross-engine hash."""
    e = _t(spark, sf_dir, "events")
    daily = _daily_value_sums(e)
    tot = daily.groupBy("event_type").agg(
        F.sum("s").cast("decimal(28,6)").alias("total"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    y = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "d",
        "n_days",
        (
            F.col("s").cast("decimal(28,6)") * F.col("n_days")
            - F.col("total")
        )
        .cast("decimal(38,6)")
        .alias("y"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = y.withColumn(
        "cum", F.sum("y").over(w).cast("decimal(38,6)")
    )
    zero = F.lit(0).cast("decimal(38,6)")
    return c.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        (
            (
                F.col("cum")
                - F.least(zero, F.min("cum").over(w))
            ).cast("double")
            / F.col("n_days").cast("double")
        ).alias("cusum"),
    )


# =====================================================================
# W21 — rolling 7-day median of the daily value series
# =====================================================================


@query(
    "w21_rolling_median",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS s
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           CAST(s AS DOUBLE) AS daily_value,
           quantile_cont(s, 0.5) OVER (
             PARTITION BY event_type ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS rolling_median
    FROM daily
    """,
)
def w21_rolling_median(spark, sf_dir):
    """W21: rolling 7-day MEDIAN of each type's daily value — the
    robust rolling baseline (w11's EWMA and w12's z-score both lean on
    means; one outlier day drags them, the median shrugs). Spark has
    no percentile window function; the frame is TIME-DOMAIN-sized
    (≤ 7 of the per-day rows, after the corpus collapses in one
    map-combinable agg — the w18/w19/w20 move), so `collect_list` over
    the frame + `array_sort` + closed-form interpolation is bounded
    work per row, not a corpus buffer.

    Cross-engine exactness: the daily sums stay DECIMAL; the median of
    an ODD window is an exact decimal cast to double, and for an EVEN
    window both engines halve exactly — DuckDB's lerp a·(1−d)+b·d at
    d = 0.5 is fl(a/2 + b/2) with both halves exact (power-of-two
    scaling), which equals Spark's fl((a+b)/2) — one rounding each,
    same result, so the all-ties lerp hazard a29 hit cannot occur at
    the 0.5 fraction."""
    e = _t(spark, sf_dir, "events")
    daily = _daily_value_sums(e)
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, 0)
    )
    arr = F.array_sort(F.collect_list(F.col("s").cast("double")).over(w))
    k = F.size(arr)
    lo = F.element_at(arr, ((k + 1) / 2).cast("int"))
    hi = F.element_at(arr, (k / 2 + 1).cast("int"))
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.col("s").cast("double").alias("daily_value"),
        F.when(k % 2 == 1, lo)
        .otherwise(lo / 2 + hi / 2)
        .alias("rolling_median"),
    )


# =====================================================================
# W22 — seasonality-normalized volume ratio (anomaly screen)
# =====================================================================


@query(
    "w22_seasonal_anomaly",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS s
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), dow AS (
      SELECT event_type, CAST(isodow(d) - 1 AS INT) AS dow,
             CAST(SUM(s) AS DECIMAL(28,6)) AS dow_total,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY 1, 2
    )
    SELECT daily.event_type, strftime(daily.d, '%Y-%m-%d') AS day,
           CAST(daily.s AS DOUBLE) * CAST(dow.n_days AS DOUBLE)
             / CAST(dow.dow_total AS DOUBLE) AS seasonal_ratio,
           (CAST(daily.s AS DOUBLE) * CAST(dow.n_days AS DOUBLE)
             / CAST(dow.dow_total AS DOUBLE) > 1.5
            OR CAST(daily.s AS DOUBLE) * CAST(dow.n_days AS DOUBLE)
             / CAST(dow.dow_total AS DOUBLE) < 0.5) AS is_anomaly
    FROM daily
    JOIN dow ON dow.event_type = daily.event_type
            AND dow.dow = CAST(isodow(daily.d) - 1 AS INT)
    """,
)
def w22_seasonal_anomaly(spark, sf_dir):
    """W22: seasonality-NORMALIZED volume screen — each day's value
    divided by its own weekday's mean (w19's profile applied back),
    flagging days off by more than ±50%. The screen w12's plain
    z-score gets wrong on weekly-seasonal data: a normal Saturday
    looks anomalous against the all-days mean, and a broken Saturday
    hides inside the all-days variance. Completes the time-series QA
    set: trend (a21), persistence (w18), profile (w19), drift (w20),
    robust outliers (w17), rolling baseline (w21), seasonal screen
    (w22).

    Exactness: ratio = s·n_dow / dow_total keeps every input
    DECIMAL-exact (no mean is materialized — the w20 scaling trick);
    the one double expression evaluates on identical operands, so the
    ratio and the threshold booleans hash identically cross-engine.
    The corpus collapses to (type, day) in one map-combinable agg;
    everything after is domain-sized with a broadcast profile join."""
    e = _t(spark, sf_dir, "events")
    daily = _daily_value_sums(e)
    dow = daily.groupBy(
        "event_type", F.weekday("d").cast("int").alias("dow")
    ).agg(
        F.sum("s").cast("decimal(28,6)").alias("dow_total"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    ratio = (
        F.col("s").cast("double")
        * F.col("n_days").cast("double")
        / F.col("dow_total").cast("double")
    )
    return (
        daily.withColumn("dow", F.weekday("d").cast("int"))
        .join(F.broadcast(dow), ["event_type", "dow"])
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            ratio.alias("seasonal_ratio"),
            ((ratio > 1.5) | (ratio < 0.5)).alias("is_anomaly"),
        )
    )


# =====================================================================
# F4 — portfolio concentration (Herfindahl index per customer)
# =====================================================================


@query(
    "f4_portfolio_concentration",
    """
    WITH spend AS (
      SELECT o.o_custkey,
             p.p_brand,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)))
                  AS DECIMAL(18,4)) AS s
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ), agg AS (
      SELECT o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_brands,
             CAST(SUM(CAST(s AS DECIMAL(28,6)) * CAST(s AS DECIMAL(28,6)))
                  AS DOUBLE) AS ssq,
             CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE) AS tot
      FROM spend GROUP BY o_custkey
    )
    SELECT o_custkey, n_brands, ssq / (tot * tot) AS hhi
    FROM agg
    """,
)
def f4_portfolio_concentration(spark, sf_dir):
    """F4: portfolio concentration — the Herfindahl–Hirschman index of
    each customer's spend across brands (Σ share² ∈ (1/n_brands, 1];
    1 = everything in one brand). The diversification readout a
    portfolio tool pairs with f1's rebalance drift: drift says you
    moved off target, HHI says how concentrated you've become.

    Exactness: HHI = Σ(s_b/t)² would sum DOUBLES in engine-specific
    order (non-associative, 1-ulp wobble); instead Σ s_b² and t stay
    DECIMAL-exact through the aggs and the index is the SINGLE double
    division Σs_b²/t² at the end — deterministic cross-engine on
    identical operands (the w20/w22 no-materialized-division rule,
    applied to a quadratic form). Plan: two map-combinable keyed aggs
    ((cust, brand) spend, then per-cust moments) behind the standard
    fact-dim joins — corpus never windows, fan-in bounded by the
    25-brand domain."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    spend = (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .join(p.hint("merge"), li.l_partkey == p.p_partkey)
        .groupBy("o_custkey", "p_brand")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("decimal(18,4)")
            .alias("s")
        )
    )
    sd = F.col("s").cast("decimal(28,6)")
    agg = spend.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("n_brands"),
        F.sum(sd * sd).cast("double").alias("ssq"),
        F.sum(sd).cast("double").alias("tot"),
    )
    return agg.select(
        "o_custkey",
        "n_brands",
        (F.col("ssq") / (F.col("tot") * F.col("tot"))).alias("hhi"),
    )


# =====================================================================
# W23 — day-coverage completeness check against the date spine
# =====================================================================


@query(
    "w23_day_coverage",
    """
    WITH daily AS (
      SELECT DISTINCT event_type, CAST(ts AS DATE) AS d FROM events
    ), span AS (
      SELECT event_type, MIN(d) AS d0, MAX(d) AS d1,
             CAST(COUNT(*) AS BIGINT) AS n_present
      FROM daily GROUP BY event_type
    )
    SELECT event_type,
           strftime(d0, '%Y-%m-%d') AS first_day,
           strftime(d1, '%Y-%m-%d') AS last_day,
           CAST(date_diff('day', d0, d1) + 1 AS BIGINT) AS n_expected,
           n_present,
           CAST(date_diff('day', d0, d1) + 1 - n_present AS BIGINT)
             AS n_missing,
           CAST(n_present AS DOUBLE)
             / CAST(date_diff('day', d0, d1) + 1 AS DOUBLE) AS coverage
    FROM span
    """,
)
def w23_day_coverage(spark, sf_dir):
    """W23: data-completeness check — for each event type, the
    expected day count across its own [first, last] span vs the days
    actually present, with the gap count and coverage ratio. The
    ingest-monitoring primitive a pipeline runs BEFORE trusting any
    daily-series operator (w11/w17-w22 all assume the days they see
    are the days there were; this is the check that says so).

    Scale shape: the corpus collapses to DISTINCT (type, day) in one
    keyed exchange; everything after is |types|-sized arithmetic —
    day counting needs no spine materialization at all (expected =
    span length, missing = expected − present), so nothing here even
    allocates per-day state. Integer day arithmetic is exact on both
    engines."""
    e = _t(spark, sf_dir, "events")
    daily = e.select(
        "event_type", F.to_date("ts").alias("d")
    ).distinct()
    span = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"),
        F.max("d").alias("d1"),
        F.count("*").cast("bigint").alias("n_present"),
    )
    n_expected = (F.datediff("d1", "d0") + 1).cast("bigint")
    return span.select(
        "event_type",
        F.date_format("d0", "yyyy-MM-dd").alias("first_day"),
        F.date_format("d1", "yyyy-MM-dd").alias("last_day"),
        n_expected.alias("n_expected"),
        "n_present",
        (n_expected - F.col("n_present")).cast("bigint").alias("n_missing"),
        (
            F.col("n_present").cast("double")
            / n_expected.cast("double")
        ).alias("coverage"),
    )


# =====================================================================
# W24 — STL-shaped additive decomposition of the daily series
# =====================================================================


@query(
    "w24_stl_decompose",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(round(value * 100) AS BIGINT)) AS mc
      FROM events GROUP BY 1, 2
    ), tr AS (
      SELECT event_type, day, mc,
             SUM(mc) OVER w7 AS s7, COUNT(*) OVER w7 AS c7
      FROM daily
      WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
      SELECT event_type, day, mc, s7, c7,
             CASE WHEN c7 = 7 THEN mc * 7 - s7 END AS d7,
             CAST(isodow(day) - 1 AS INT) AS dow
      FROM tr
    ), seas AS (
      SELECT event_type, dow,
             SUM(d7) AS snum, COUNT(d7) AS scnt
      FROM det GROUP BY 1, 2
    )
    SELECT det.event_type, CAST(det.day AS TIMESTAMP) AS day,
           CAST(det.mc AS DOUBLE) / 100.0 AS value,
           CASE WHEN det.c7 = 7
                THEN round(CAST(det.s7 AS DOUBLE) / 700.0, 6) END
             AS trend,
           CASE WHEN seas.scnt > 0
                THEN round(CAST(seas.snum AS DOUBLE)
                           / (700.0 * seas.scnt), 6) END AS seasonal,
           CASE WHEN det.c7 = 7 AND seas.scnt > 0
                THEN round(CAST(det.d7 * seas.scnt - seas.snum AS DOUBLE)
                           / (700.0 * seas.scnt), 6) END AS residual
    FROM det JOIN seas
      ON seas.event_type = det.event_type AND seas.dow = det.dow
    """,
)
def w24_stl_decompose(spark, sf_dir):
    """W24: additive trend/seasonal/residual decomposition of the
    daily total-value series per event type — the STL shape (Cleveland
    et al. 1990) with the classical-decomposition estimators that
    express as windows: trend = centered 7-day moving average,
    seasonal = day-of-week mean of the detrended series, residual =
    the rest. w19 profiles dow shares; w24 returns the full
    decomposition per day — the series-QA primitive behind W20's CUSUM
    and W22's anomaly flags.

    Exactness (the w19/a29 discipline): the daily series is the daily
    TOTAL in bigint CENTS (per-row 2-decimal quantization, the a35
    pattern — no mean division, no decimal rounding knife edge);
    every co-moment stays integer from there — trend numerator
    s7 = Σ7 mc, detrended
    numerator d7 = 7·mc − s7, seasonal numerator Σ d7, residual
    numerator d7·scnt − snum — so each output is ONE exact-bigint
    division and the doubles agree bit-for-bit cross-engine (full
    value-hash oracle; 6 dp rounding on top). Edge days (fewer than 7
    neighbors) emit NULL trend/residual rather than a biased partial
    mean.

    Scale shape: one corpus pass to daily (keyed agg, map-combinable
    decimal sums); everything after runs on the #days × #types table —
    the per-type window is DOMAIN-sized (days), never corpus-sized."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("mc")
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type", "day", "mc",
        F.sum("mc").over(w7).alias("s7"),
        F.count("*").over(w7).alias("c7"),
    )
    det = tr.select(
        "event_type", "day", "mc", "s7", "c7",
        F.when(F.col("c7") == 7, F.col("mc") * 7 - F.col("s7")).alias(
            "d7"
        ),
        # Monday = 0: matches the oracle's isodow(day) - 1
        ((F.dayofweek("day") + 5) % 7).alias("dow"),
    )
    seas = det.groupBy("event_type", "dow").agg(
        F.sum("d7").alias("snum"), F.count("d7").alias("scnt")
    )
    j = det.join(F.broadcast(seas), ["event_type", "dow"])
    return j.select(
        "event_type",
        F.col("day").cast("timestamp").alias("day"),
        (F.col("mc").cast("double") / 100.0).alias("value"),
        F.when(
            F.col("c7") == 7,
            F.round(F.col("s7").cast("double") / 700.0, 6),
        ).alias("trend"),
        F.when(
            F.col("scnt") > 0,
            F.round(
                F.col("snum").cast("double") / (700.0 * F.col("scnt")), 6
            ),
        ).alias("seasonal"),
        F.when(
            (F.col("c7") == 7) & (F.col("scnt") > 0),
            F.round(
                (F.col("d7") * F.col("scnt") - F.col("snum")).cast(
                    "double"
                )
                / (700.0 * F.col("scnt")),
                6,
            ),
        ).alias("residual"),
    )


# =====================================================================
# W14b — Holt linear-trend smoothing, exact sequential recurrence
# =====================================================================


@query(
    "w14b_holt_exact",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(round(value * 100) AS BIGINT)) AS tc
      FROM events GROUP BY 1, 2
    ), o AS (
      SELECT event_type, day, CAST(tc AS DOUBLE) / 100.0 AS x,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS rn
      FROM daily
    ), rec AS (
      SELECT event_type, day, x, rn, x AS l,
             CAST(0.0 AS DOUBLE) AS t
      FROM o WHERE rn = 1
      UNION ALL
      SELECT o.event_type, o.day, o.x, o.rn,
             0.3 * o.x + 0.7 * (rec.l + rec.t) AS l,
             0.1 * ((0.3 * o.x + 0.7 * (rec.l + rec.t)) - rec.l)
               + 0.9 * rec.t AS t
      FROM rec JOIN o
        ON o.event_type = rec.event_type AND o.rn = rec.rn + 1
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS day,
           ROUND(l, 6) AS level, ROUND(t, 6) AS trend
    FROM rec
    """,
)
def w14b_holt_exact(spark, sf_dir):
    """W14b: Holt's linear-trend smoothing of the daily total series,
    evaluated SEQUENTIALLY per key (also registered as the aliases
    w14_holt_trend and w14c_holt_recursive).

    A reassociating scan would drift the last float ulps from the
    sequential recurrence — too coarse to gamble a 6 dp value hash
    on. w14b instead evaluates the textbook recurrence
    l' = 0.3·x + 0.7·(l + t), t' = 0.1·(l' − l) + 0.9·t in ARRIVAL
    ORDER inside one Arrow applyInPandas per event type, the SAME
    literals and association the oracle's recursive CTE states —
    bit-identical doubles, full value-hash oracle for a 2-state
    recurrence. Inputs are exact
    (daily totals in bigint cents / 100).

    Scale contract: per-ENTITY series (the standard forecasting
    shape — each group's days fit one Arrow batch; the group count is
    what scales). The events table spans 30 days per type at every
    scale factor, so no catalog series comes near a task's memory."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("tc")
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        xs = [tc / 100.0 for tc in pdf["tc"]]
        ls, ts_ = [], []
        l = t = None
        for x in xs:
            if l is None:
                l, t = x, 0.0
            else:
                l_new = 0.3 * x + 0.7 * (l + t)
                t = 0.1 * (l_new - l) + 0.9 * t
                l = l_new
            ls.append(l)
            ts_.append(t)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "day": pdf["day"],
                "level": ls,
                "trend": ts_,
            }
        )

    out = daily.groupBy("event_type").applyInPandas(
        holt, schema="event_type string, day date, level double, trend double"
    )
    return out.select(
        "event_type",
        F.col("day").cast("timestamp").alias("day"),
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
    )


# =====================================================================
# W26 — most-likely single changepoint (binary segmentation, 1 split)
# =====================================================================


@query(
    "w26_changepoint",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(round(value * 100) AS BIGINT)) AS mc
      FROM events GROUP BY 1, 2
    ), o AS (
      SELECT event_type, day, mc,
             SUM(mc) OVER (PARTITION BY event_type ORDER BY day) AS st,
             row_number() OVER (PARTITION BY event_type ORDER BY day)
               AS t
      FROM daily
    ), tot AS (
      SELECT event_type, MAX(st) AS sn, MAX(t) AS n
      FROM o GROUP BY event_type
    ), cand AS (
      SELECT o.event_type, o.day, o.t, o.st, tot.sn, tot.n,
             CAST(o.st * tot.n - tot.sn * o.t AS DOUBLE) AS dnum
      FROM o JOIN tot USING (event_type) WHERE o.t < tot.n
    ), scored AS (
      SELECT event_type, day, t, st, sn, n,
             (dnum * dnum)
               / (CAST(t AS DOUBLE) * (n - t) * n * 10000.0) AS stat
      FROM cand
    ), best AS (
      SELECT event_type, day, t, st, sn, n, stat,
             row_number() OVER (
               PARTITION BY event_type ORDER BY stat DESC, t) AS rk
      FROM scored
    )
    SELECT event_type, CAST(day AS TIMESTAMP) AS split_day,
           CAST(n AS BIGINT) AS n_days, CAST(t AS BIGINT) AS t,
           CAST(st AS DOUBLE) / (100.0 * t) AS mean_before,
           CAST(sn - st AS DOUBLE) / (100.0 * (n - t)) AS mean_after,
           ROUND(stat, 6) AS stat
    FROM best WHERE rk = 1
    """,
)
def w26_changepoint(spark, sf_dir):
    """W26: most-likely SINGLE changepoint of the daily total-value
    series per event type — one round of binary segmentation (Scott &
    Knott 1974; the building block CUSUM (w20) flags but does not
    locate): split after day t maximizing the between-segment variance
    reduction stat(t) = (S_t·n − S_n·t)² / (t·(n−t)·n), the classic
    CUSUM-square form. Complements the series-QA family: w20 CUSUM
    drift flags, w22 anomaly days, w24 decomposition, w26 level-shift
    location.

    Exactness: daily totals are bigint cents, so S_t·n − S_n·t is an
    EXACT bigint; the statistic squares/divides that single integer as
    a double — the same two integer inputs and the same ops in both
    engines (no pow(), an explicit d·d multiply — libm pow need not
    equal x·x bit-for-bit), so the argmax ranks IDENTICAL doubles and
    ties break on t. Full value-hash oracle for a changepoint
    detector.

    Scale shape: one corpus pass to the daily domain; prefix sums +
    argmax run per type on the DOMAIN-sized table (the w24 contract).
    """
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("mc")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    o = daily.select(
        "event_type", "day",
        F.sum("mc").over(wc).alias("st"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("t"),
    )
    tot = o.groupBy("event_type").agg(
        F.max("st").alias("sn"), F.max("t").alias("n")
    )
    cand = o.join(F.broadcast(tot), "event_type").where(
        F.col("t") < F.col("n")
    )
    dnum = (
        F.col("st") * F.col("n") - F.col("sn") * F.col("t")
    ).cast("double")
    scored = cand.select(
        "event_type", "day", "t", "st", "sn", "n",
        (
            (dnum * dnum)
            / (
                F.col("t").cast("double")
                * (F.col("n") - F.col("t"))
                * F.col("n")
                * 10000.0
            )
        ).alias("stat"),
    )
    wb = Window.partitionBy("event_type").orderBy(
        F.desc("stat"), F.col("t")
    )
    best = scored.withColumn("rk", F.row_number().over(wb)).where(
        F.col("rk") == 1
    )
    return best.select(
        "event_type",
        F.col("day").cast("timestamp").alias("split_day"),
        F.col("n").cast("bigint").alias("n_days"),
        F.col("t").cast("bigint").alias("t"),
        (F.col("st").cast("double") / (100.0 * F.col("t"))).alias(
            "mean_before"
        ),
        (
            (F.col("sn") - F.col("st")).cast("double")
            / (100.0 * (F.col("n") - F.col("t")))
        ).alias("mean_after"),
        F.round("stat", 6).alias("stat"),
    )


# =====================================================================
# W27 — AR(1) fit per series from exact co-moments
# =====================================================================


@query(
    "w27_ar1_fit",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(round(value * 100) AS BIGINT)) AS mc
      FROM events GROUP BY 1, 2
    ), mb AS (
      SELECT event_type, SUM(mc) // COUNT(*) AS mbar
      FROM daily GROUP BY event_type
    ), centered AS (
      SELECT daily.event_type, day, mc - mbar AS c, mbar
      FROM daily JOIN mb USING (event_type)
    ), lagged AS (
      SELECT event_type, day, c, mbar,
             lag(c) OVER (PARTITION BY event_type ORDER BY day) AS pc
      FROM centered
    ), m AS (
      SELECT event_type, MAX(mbar) AS mbar,
             COUNT(pc) AS n,
             SUM(CASE WHEN pc IS NOT NULL THEN c END) AS sy,
             SUM(pc) AS sx,
             SUM(pc * c) AS sxy,
             SUM(pc * pc) AS sxx
      FROM lagged GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (n * sxx - sx * sx), 6) AS phi,
           round(((CAST(sy AS DOUBLE)
                   - (CAST(n * sxy - sx * sy AS DOUBLE)
                      / (n * sxx - sx * sx)) * sx) / n
                  + mbar * (1.0 - CAST(n * sxy - sx * sy AS DOUBLE)
                                  / (n * sxx - sx * sx)))
                 / 100.0, 6) AS intercept
    FROM m
    WHERE n * sxx - sx * sx != 0
    """,
)
def w27_ar1_fit(spark, sf_dir):
    """W27: AR(1) autoregression fit of the daily total series per
    event type — φ and intercept by closed-form least squares on the
    (y_{t-1}, y_t) lag pairs; the mean-reversion/persistence readout
    (φ→1 = random walk, φ→0 = white noise) beside w18's ACF (which
    reports correlation, not the regression coefficients) and a21's
    cross-sectional OLS.

    Exactness (the a21 discipline on a time-series): the series is
    bigint cents, the lag pairs come from one keyed window, and ALL
    five co-moments (Σx, Σy, Σxy, Σx², n) are exact bigints — φ's
    numerator and denominator are single exact integers, so both
    engines divide the same two numbers (6 dp rounding on top; the
    intercept rescales to value units).

    Overflow by construction, not by luck: the series is PRE-CENTERED
    by the per-key integer mean (floor division — identical for the
    positive totals on both engines). Covariance-form sums are EXACTLY
    shift-invariant in integer arithmetic (n·Σxy − ΣxΣy is the same
    bigint before and after centering), so φ is unchanged while the
    addends shrink from (daily total)² ≈ (5e9)² — which DID overflow
    bigint at the sf10 decade under ANSI (caught by this round's
    sweep) — to (deviation)², and the intercept is recovered exactly
    as b_centered + m̄(1 − φ). The remaining contract is deviations
    < ~3e9 cents — seasonality-sized, not corpus-sized.

    Scale: one corpus pass to the daily domain, one per-key lag
    window, one keyed agg — all domain-sized after the first agg."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("mc")
    )
    mb = daily.groupBy("event_type").agg(
        F.expr("sum(mc) div count(*)").alias("mbar")
    )
    centered = daily.join(F.broadcast(mb), "event_type").select(
        "event_type", "day", "mbar",
        (F.col("mc") - F.col("mbar")).alias("c"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = centered.withColumn("pc", F.lag("c").over(w))
    m = lagged.groupBy("event_type").agg(
        F.max("mbar").alias("mbar"),
        F.count("pc").alias("n"),
        F.sum(F.when(F.col("pc").isNotNull(), F.col("c"))).alias("sy"),
        F.sum("pc").alias("sx"),
        F.sum(F.col("pc") * F.col("c")).alias("sxy"),
        F.sum(F.col("pc") * F.col("pc")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    phi = num.cast("double") / den
    b_centered = (
        F.col("sy").cast("double") - phi * F.col("sx")
    ) / F.col("n")
    return m.where(den != 0).select(
        "event_type",
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(phi, 6).alias("phi"),
        F.round(
            (b_centered + F.col("mbar") * (1.0 - phi)) / 100.0, 6
        ).alias("intercept"),
    )
