"""Round-7 catalog additions: the distributed exact-percentile
primitive exercised on a second distribution, and log-round connected
components for high-diameter graphs.

Each query follows the catalog contract (`catalog.query` registration,
DuckDB-runnable oracle, aliased output columns shared between engines).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from finporter_spark.queries.catalog import _t, query


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
    from finporter_spark.operators.scale import exact_percentiles

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
# L30 — connected components on a HIGH-DIAMETER graph (star contraction)
# =====================================================================


@query(
    "l30_chain_components",
    """
    SELECT CAST(event_id AS BIGINT) AS node,
           CAST(MIN(event_id) OVER (PARTITION BY user_id) AS BIGINT)
             AS component
    FROM events
    QUALIFY COUNT(*) OVER (PARTITION BY user_id) >= 2
    """,
)
def l30_chain_components(spark, sf_dir):
    """L30: connected components over each user's event CHAIN (edge =
    consecutive events of one user, so one component per multi-event
    user and component diameter = the user's event count). Chains are
    the adversarial shape for min-label propagation (rounds =
    diameter); the large-star/small-star contraction
    (operators/graph.connected_components_star) converges in O(log
    diameter) alternations instead — the 100 TB formulation for
    linked-list-shaped graphs (event timelines, provenance chains).
    Canonical label = min event id per component, so the oracle
    re-derives components directly from the per-user grouping."""
    from pyspark.sql import Window

    from finporter_spark.operators.graph import connected_components_star

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("prev", F.lag("event_id").over(w))
        .where(F.col("prev").isNotNull())
        .select(F.col("prev").alias("src"), F.col("event_id").alias("dst"))
    )
    return connected_components_star(edges).select(
        F.col("node").cast("bigint").alias("node"),
        F.col("component").cast("bigint").alias("component"),
    )


# =====================================================================
# M13 — FFT spectral peak over real WAV audio (numpy rfft, Arrow-batched)
# =====================================================================


@query(
    "m13_spectral_peak",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(generate_series(0, 1 + doc_id % 2)) AS window_idx
      FROM documents
    )
    SELECT doc_id, CAST(window_idx AS INT) AS window_idx,
           CAST(3 + doc_id % 13 AS INT) AS peak_bin
    FROM w
    """,
)
def m13_spectral_peak(spark, sf_dir):
    """M13: REAL spectral analysis — each doc stages as a 16-bit PCM
    WAV holding a pure sine tone whose frequency sits EXACTLY on FFT
    bin k = 3 + doc_id % 13 of a 256-sample window (f = k·rate/256),
    for 256·(2 + doc_id % 2)... trimmed to full windows. The operator
    (numpy ``rfft`` over every 256-sample window, vectorized across
    windows inside Arrow-batched ``mapInPandas`` — pixels^Wsamples
    never shuffle, only (doc_id, window_idx, peak_bin) triples) must
    recover the synthesis bin as the magnitude argmax in EVERY window:
    an on-bin sinusoid concentrates all energy in bin k, int16
    quantization spreads only ~1e-4 of it elsewhere. The oracle
    predicts the full (doc, window) grid analytically. Window count =
    2 + doc_id % 2 (docs get 2 or 3 windows -> the UNION ALL shape)."""
    import numpy as np

    from finporter_spark.operators.audio import wav_decode, wav_encode

    def _make(batches):
        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                k = 3 + i % 13
                n = 256 * (2 + i % 2)
                t = np.arange(n)
                s = np.round(
                    12000.0 * np.sin(2 * np.pi * k * t / 256.0)
                ).astype(np.int64)
                content.append(wav_encode(s, 16000))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": content}
            )

    from finporter_spark.queries.staging import stage_media as _stage_media

    media = _stage_media(spark, sf_dir, "m13_media", _make)

    def _peaks(batches):
        for pdf in batches:
            ids, widx, bins = [], [], []
            for i, b in zip(pdf["doc_id"], pdf["content"]):
                _rate, samples = wav_decode(bytes(b))
                x = samples[:, 0].astype(np.float64)
                nw = len(x) // 256
                if nw == 0:
                    continue
                frames = x[: nw * 256].reshape(nw, 256)
                mag = np.abs(np.fft.rfft(frames, axis=1))
                mag[:, 0] = 0.0  # DC is quantization residue, not tone
                pk = mag.argmax(axis=1)
                ids.extend([int(i)] * nw)
                widx.extend(range(nw))
                bins.extend(int(p) for p in pk)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "window_idx": pd.array(widx, dtype="int32"),
                    "peak_bin": pd.array(bins, dtype="int32"),
                }
            )

    return media.mapInPandas(
        _peaks, "doc_id bigint, window_idx int, peak_bin int"
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
