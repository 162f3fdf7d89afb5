"""Round-6 catalog additions: exact-but-scalable containment dedup,
daily EWMA smoothing, inverted-index materialization, grid-binned
interval-overlap join, rolling z-score anomaly flags, and the iterator
Pandas UDF model-scoring surface.

Each query follows the catalog contract (`catalog.query` registration,
DuckDB-runnable oracle, aliased output columns shared between engines).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Window, functions as F

from finporter_spark.operators.dedup import normalized_text, shingles
from finporter_spark.queries.catalog import DSUM, _t, dsum, query


# =====================================================================
# L28 — containment near-dup pairs (rare-shingle blocking, EXACT)
# =====================================================================

_L28_DF_MAX = 4  # blocking key: shingles appearing in 2..4 docs
_L28_MIN_CONTAINMENT = 0.6


@query(
    "l28_containment_pairs",
    rf"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents
    ), idx AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks) - 2)) AS i
      FROM t
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS sh
      FROM idx
    ), rare AS (
      SELECT sh FROM sh GROUP BY sh
      HAVING COUNT(*) BETWEEN 2 AND {_L28_DF_MAX}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_l, b.doc_id AS id_r
      FROM sh a JOIN rare USING (sh) JOIN sh b USING (sh)
      WHERE a.doc_id < b.doc_id
    ), sets AS (
      SELECT doc_id, list(DISTINCT sh) AS shs FROM sh GROUP BY doc_id
    )
    SELECT id_l, id_r, round(containment, 6) AS containment FROM (
      SELECT id_l, id_r,
             CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
               / least(len(a.shs), len(b.shs)) AS containment
      FROM cand JOIN sets a ON a.doc_id = id_l
                JOIN sets b ON b.doc_id = id_r
    ) WHERE containment >= {_L28_MIN_CONTAINMENT}
    """,
)
def l28_containment_pairs(spark, sf_dir):
    """L28: EXACT containment near-dup pairs over the WHOLE corpus —
    the scale-safe exact complement to l9 (bounded-id brute force) and
    l2 (MinHash approx). Containment |A∩B| / min(|A|,|B|) is the
    asymmetric measure that catches a document embedded inside a longer
    one (boilerplate wrap, quote-expansion), which Jaccard dilutes.

    Blocking is on RARE shingles (corpus document-frequency 2..4):
    candidate pairs must share at least one discriminative shingle, so
    the self-join fan-out per blocking key is ≤ C(4,2) and total work
    is ∝ the number of rare-shingle collisions — never all-pairs. This
    is exact for any pair sharing a rare shingle; true near-dups with
    ≥60% containment on 3-gram sets share many shingles and those
    shingles' df concentrates at the pair count, so recall of the
    blocked formulation is exhaustive on this corpus (asserted against
    l9's bounded brute force in tests). At 100 TB: two map-combined
    shuffles (shingle df, candidate equi-join) + two keyed joins on
    doc_id; skew-bounded because df ≤ 4 caps every bucket."""
    # materialize the shingle sets ONCE: d feeds five branches (explode,
    # df-filter join x2, set join x2) and the shingle expression would
    # otherwise recompute per branch — the l9 lesson (15s -> 2s there)
    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.array_distinct(shingles(F.col("text"), 3)).alias("shs"),
        )
        .cache()
    )
    sh = d.select("doc_id", F.explode("shs").alias("sh"))
    rare = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _L28_DF_MAX))
        .select("sh")
    )
    rare_sh = sh.join(rare, "sh")
    cand = (
        rare_sh.alias("a")
        .join(rare_sh.alias("b"), "sh")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_l"), F.col("b.doc_id").alias("id_r")
        )
        .distinct()
    )
    sets = d  # (doc_id, shs) — corpus-sized: shuffled joins, no broadcast
    inter = F.size(F.array_intersect(F.col("sa.shs"), F.col("sb.shs")))
    containment = inter.cast("double") / F.least(
        F.size("sa.shs"), F.size("sb.shs")
    )
    from finporter_spark.caching import owns_cache

    out = (
        cand.join(sets.alias("sa"), F.col("id_l") == F.col("sa.doc_id"))
        .join(sets.alias("sb"), F.col("id_r") == F.col("sb.doc_id"))
        # filter on the UNROUNDED value (the oracle's WHERE binds to the
        # unrounded subquery column), round only for output
        .filter(containment >= _L28_MIN_CONTAINMENT)
        .select(
            "id_l", "id_r", F.round(containment, 6).alias("containment")
        )
    )
    # the shingle cache pins executor storage until released — tag it so
    # long-lived sessions can free it (caching.release_caches), the
    # quarantine_split convention
    return owns_cache(out, d)


# =====================================================================
# W11 — daily EWMA (exponential smoothing over the tick series)
# =====================================================================

_W11_ALPHA = 0.2


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
    ), summed AS (
      SELECT event_type, day, v, i, v1,
             SUM(v * power(1.0 / (1.0 - {_W11_ALPHA}), i)) OVER (
               PARTITION BY event_type, yr ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM ranked
    )
    SELECT event_type, day,
           round(power(1.0 - {_W11_ALPHA}, i - 1) * v1
                 + {_W11_ALPHA} * power(1.0 - {_W11_ALPHA}, i)
                   * (s - v1 / (1.0 - {_W11_ALPHA})), 6) AS ewma
    FROM summed
    """,
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
# L29 — inverted index materialization (term → postings with positions)
# =====================================================================

_L29_DOC_BOUND = 2000


@query(
    "l29_inverted_index",
    rf"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          ' ') AS toks
      FROM documents WHERE doc_id < {_L29_DOC_BOUND}
    ), p AS (
      SELECT doc_id, unnest(toks) AS term,
             unnest(generate_series(1, len(toks))) AS pos
      FROM t
    ), tf AS (
      SELECT term, doc_id,
             array_to_string(list_sort(list(pos)), ',') AS positions,
             CAST(COUNT(*) AS BIGINT) AS tf
      FROM p WHERE term <> '' GROUP BY 1, 2
    )
    SELECT term, doc_id, positions, tf,
           CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df
    FROM tf
    """,
)
def l29_inverted_index(spark, sf_dir):
    """L29: inverted-index build — the posting-list materialization a
    retrieval/dedup stack runs once per corpus drop: per (term, doc)
    the sorted 1-based positions and term frequency, plus corpus
    document frequency. SKEW-SAFE plan: the posting aggregation is
    keyed on (term, doc_id) — the composite key spreads a Zipf-hot
    term's postings across tasks, where a term-only partitioning (e.g.
    a df window over term) would pin the whole 'the' posting list on
    one task. df then comes from a map-combined vocabulary-sized
    re-aggregation joined back on term — small enough that Catalyst
    broadcasts it (no shuffle of the wide posting rows; at a 100M-term
    vocabulary the same plan degrades gracefully to a shuffled join
    with AQE skew splitting). The postings aggregate is persisted so
    the df branch reuses it rather than re-tokenizing the corpus.
    Plan-asserted: no Window, df agg partial-combined, broadcast
    join-back, and ONE corpus scan. Bounded to
    doc_id < {_L29_DOC_BOUND} by contract (the oracle re-aggregates
    the whole output); the operator itself is corpus-size linear.
    Positions make the index phrase-query-capable, which plain tf
    materialization (l8 TF-IDF) is not."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _L29_DOC_BOUND)
        .select(
            "doc_id",
            F.posexplode(
                F.split(normalized_text(F.col("text")), " ")
            ).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
    )
    from finporter_spark.caching import owns_cache

    # persisted: df is a re-aggregation of the MATERIALIZED postings —
    # without the persist Catalyst column-prunes df_counts into a
    # second full scan+tokenize+explode of the corpus
    tf = d.groupBy("term", "doc_id").agg(
        F.concat_ws(
            ",", F.sort_array(F.collect_list(F.col("pos") + 1))
        ).alias("positions"),
        F.count("*").cast("bigint").alias("tf"),
    ).persist()
    df_counts = tf.groupBy("term").agg(
        F.count("*").cast("bigint").alias("df")
    )
    out = tf.join(df_counts, "term").select(
        "term", "doc_id", "positions", "tf", "df"
    )
    return owns_cache(out, tf)


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
    from pyspark.sql.functions import pandas_udf

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
# S14 — dynamic partition overwrite (idempotent daily re-load)
# =====================================================================


@query(
    "s14_dynamic_partition_overwrite",
    """
    SELECT event_id, event_type,
           CASE WHEN strftime(CAST(ts AS DATE), '%Y-%m-%d') = '2024-01-15'
                THEN round(value * 1.1, 6) ELSE round(value, 6) END AS value_out,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
    FROM events
    """,
)
def s14_dynamic_partition_overwrite(spark, sf_dir):
    """S14: `partitionOverwriteMode=dynamic` — the idempotent daily
    re-load pattern: a date-partitioned table gets ONE day's partition
    replaced by a corrected recompute (here: 2024-01-15 values restated
    x1.1) while every other partition's files are untouched. Static
    overwrite would truncate the whole table; dynamic overwrite scopes
    the commit to the partitions present in the incoming DataFrame —
    the only safe way to re-run a day's batch on a 100 TB partitioned
    store. The corrected day is recomputed FROM SOURCE (not from the
    sink), so repeated runs converge (idempotence proven by the
    fingerprint-staged initial load + re-execution in the test). Read
    back through the partitioned reader; partition pruning on the
    overwritten day is preserved (day stays a partition column)."""
    from finporter_spark.queries.staging import (
        io_dir as _io_dir,
        stage_once as _stage_once,
    )

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
    )

    def _initial(p):
        e.write.mode("overwrite").partitionBy("day").parquet(p)

    path = _stage_once(sf_dir, "s14", _initial, "events")
    corrected = e.filter(F.col("day") == "2024-01-15").withColumn(
        "value", F.col("value") * 1.1
    )
    # scope the dynamic mode to THIS write: leaking it session-wide
    # would silently change every later partitioned overwrite (e.g. a
    # fixture restage) from truncate-all to keep-absent-partitions
    prev_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "STATIC"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        corrected.write.mode("overwrite").partitionBy("day").parquet(path)
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev_mode
        )
    out = spark.read.parquet(path)
    return out.select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value_out"),
        F.col("day").cast("string").alias("day"),
    )


# =====================================================================
# M12 — scene-cut detection over demuxed video frames
# =====================================================================


@query(
    "m12_scene_cut",
    """
    WITH f AS (
      SELECT doc_id, unnest(generate_series(0, doc_id % 4 + 1)) AS frame_idx
      FROM documents
    ), m AS (
      SELECT doc_id, frame_idx,
             ((doc_id * 3 + frame_idx * 5) % 128) * 2 AS fmean
      FROM f
    ), d AS (
      SELECT doc_id, frame_idx,
             fmean - lag(fmean) OVER (PARTITION BY doc_id
                                      ORDER BY frame_idx) AS delta
      FROM m
    )
    SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(delta AS BIGINT) AS delta
    FROM d WHERE abs(delta) > 100
    """,
)
def m12_scene_cut(spark, sf_dir):
    """M12: scene-cut detection — consecutive-frame luminance jumps
    over REAL MP4 demux+decode (composes m8's pipeline: ISO BMFF box
    walk, JPEG Huffman decode, per-frame mean via Arrow-batched
    mapInPandas), then a lag window per video flags frames whose mean
    moved by more than the cut threshold. The decode stays map-only
    Python; the temporal differencing is a JVM window keyed on the
    video id — the division of labor that scales: Python touches each
    frame once, the shuffle moves only (id, idx, mean) triples, never
    pixels. Oracle predicts the flagged cuts exactly from the staged
    fixture's generation formula."""
    from finporter_spark.queries.catalog import CATALOG

    frames = CATALOG["m8_mp4_frames"][0](spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    delta = F.col("frame_mean") - F.lag("frame_mean").over(w)
    return (
        frames.withColumn("delta", delta)
        .filter(F.abs("delta") > 100)
        .select("doc_id", "frame_idx", F.col("delta").cast("bigint").alias("delta"))
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
    ), summed AS (
      SELECT event_type, day, v, i, v1,
             SUM(v * power(1.0 / (1.0 - {_W11_ALPHA}), i)) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM ranked
    )
    SELECT event_type, day,
           round(power(1.0 - {_W11_ALPHA}, i - 1) * v1
                 + {_W11_ALPHA} * power(1.0 - {_W11_ALPHA}, i)
                   * (s - v1 / (1.0 - {_W11_ALPHA})), 6) AS ewma
    FROM summed
    """,
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
    from finporter_spark.operators.prep import sample_u

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
