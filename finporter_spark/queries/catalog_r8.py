"""Round-8 catalog additions: the scale-correct entity-resolution
output contract (clusters, not row pairs) and follow-on operators.

Each query follows the catalog contract (`catalog.query` registration,
DuckDB-runnable oracle, aliased output columns shared between engines).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from finporter_spark.queries.catalog import _t, _TOKS, query


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
    from finporter_spark.operators.graph import connected_components_star

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
# L31 — triangle counting (degree-ordered orientation)
# =====================================================================


@query(
    "l31_triangle_count",
    """
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), e AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING COUNT(*) >= 2
    ), t AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles
    FROM t
    """,
)
def l31_triangle_count(spark, sf_dir):
    """L31: triangle counting over the part co-purchase graph (parts
    co-occurring in an order are linked — the 'bought together' motif
    count that feeds recommendation and community features).

    The naive count joins the edge list to itself twice — wedge
    generation fans out Σ deg(v)², quadratic on hub nodes (a part in
    10⁵ orders → 10¹⁰ wedges). The MapReduce-scale formulation (Suri &
    Vassilvitskii WWW'11; Cohen's degree-ordered orientation): orient
    every edge from the endpoint with the SMALLER (degree, id) pair to
    the larger — a DAG in which each triangle has exactly one source
    node — then wedges are pairs of OUT-edges (out-degree ≤ O(√m) for
    every node, no matter how skewed the raw degrees) and a triangle is
    a wedge whose far endpoints are themselves an oriented edge (one
    equi-join on the pair). Work is O(m^1.5) worst-case, hub-proof.

    Edges carry the classic MIN-SUPPORT filter (co-occurring in ≥ 2
    orders — one map-combinable pair count): "bought together" means
    repeatedly, and support is also the density dial that keeps exact
    counting feasible. Without it the sf10 co-occurrence graph has
    ~40M edges and m^1.5 ≈ 1e11 wedge work — inherent to EXACT triangle
    counting on any engine (measured: heap death locally); with wide
    pair distributions the supported edge set grows sublinearly.

    All keyed equi-joins + map-combinable aggs; the per-order pair
    expansion is bounded by order size (≤ ~13 parts). The oracle counts
    the same triangles with the id-ordered 3-way self-join — the count
    is orientation-invariant."""
    li = _t(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    e = (
        op.alias("a")
        .join(op.alias("b"), "o")
        .where(F.col("a.p") < F.col("b.p"))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count("*").alias("w"))
        .where(F.col("w") >= 2)
        .select("u", "v")
        # pin the supported edge set: the lineitem self-join + pair agg
        # is the expensive stage and the unpinned plan recomputed it for
        # n_edges, the degree count (both union sides), and the edge-key
        # join — six subtree copies, 166 Exchanges (guide §2.4)
        .localCheckpoint(eager=False)
    )
    n_edges = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    return n_edges.crossJoin(_count_triangles(e))


def _count_triangles(e):
    """Degree-ordered triangle count of a distinct undirected edge set
    ``(u, v)`` with u < v — the reusable core of l31 (unit-tested on
    K4/cycle/hub-star fixtures in tests/test_r8_ops.py)."""
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    ek = (
        e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            "u", "v",
            F.struct(F.col("du").alias("d"), F.col("u").alias("n")).alias("uk"),
            F.struct(F.col("dv").alias("d"), F.col("v").alias("n")).alias("vk"),
        )
    )
    oriented = ek.select(
        F.when(F.col("uk") < F.col("vk"), F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(F.col("uk") < F.col("vk"), F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(F.col("uk") < F.col("vk"), F.col("vk")).otherwise(F.col("uk")).alias("dk"),
        # pinned: feeds both wedge sides and the closing-edge probe —
        # three references, one materialization (edge-list sized)
    ).localCheckpoint(eager=False)
    w1 = oriented.select("src", F.col("dst").alias("b"), F.col("dk").alias("bk"))
    w2 = oriented.select("src", F.col("dst").alias("c"), F.col("dk").alias("ck"))
    wedges = w1.join(w2, "src").where(F.col("bk") < F.col("ck")).select("b", "c")
    closing = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    return wedges.join(closing, ["b", "c"]).agg(
        F.count("*").cast("bigint").alias("n_triangles")
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
# X13 — stream-stream LEFT SEMI interval join
# =====================================================================


@query(
    "x13_stream_semi_join",
    """
    SELECT a.event_id AS view_id, a.user_id, a.ts AS view_ts
    FROM events a
    WHERE a.event_type = 'view'
      AND EXISTS (
        SELECT 1 FROM events b
        WHERE b.user_id = a.user_id
          AND b.event_type = 'purchase'
          AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
      )
    """,
)
def x13_stream_semi_join(spark, sf_dir):
    """X13: stream-stream LEFT SEMI interval join — views that LED TO a
    purchase by the same user within 6 hours, each view emitted at most
    once (existence, not pair enumeration: x7's inner join fans out per
    matching purchase; attribution pipelines that only gate on
    conversion want the fanout-free shape, and the semi join's state is
    evicted identically). Same staged multi-batch CSV drop and drain
    harness as x7; retention exceeds the data span so the drained
    output is exactly the batch EXISTS the oracle runs. Outer
    stream-stream joins are deliberately not drained this way — see
    stream_interval_join's docstring."""
    from finporter_spark.queries.staging import stage_once as _stage_once
    from finporter_spark.streaming.pipeline import (
        run_stream_to_memory,
        stream_interval_join,
    )

    path = _stage_once(
        sf_dir,
        "x7",  # same drop as x7: identical layout, staged once
        lambda p: _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "user_id",
            "event_type",
        )
        .repartition(8)
        .write.mode("overwrite")
        .csv(p, header=True),
        "events",
    )

    def side(kind, prefix):
        return (
            spark.readStream.schema(
                "event_id bigint, ts timestamp, user_id bigint, "
                "event_type string"
            )
            .option("header", True)
            .option("maxFilesPerTrigger", 4)  # force multi-batch buffering
            .csv(path)
            .filter(F.col("event_type") == kind)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
                "user_id",
            )
        )

    joined = stream_interval_join(
        side("view", "view"),
        side("purchase", "purchase"),
        key="user_id",
        ts_left="view_ts",
        ts_right="purchase_ts",
        within="6 hours",
        watermark="365 days",
        how="left_semi",
    )
    out = run_stream_to_memory(joined, "x13_mem", output_mode="append")
    return out.select("view_id", "user_id", F.col("view_ts"))


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
# X6b — running totals via the BUILT-IN streaming aggregation
# =====================================================================


@query(
    "x6b_builtin_running_totals",
    "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n "
    "FROM events GROUP BY user_id",
)
def x6b_builtin_running_totals(spark, sf_dir):
    """X6b: per-key running counts as a BUILT-IN streaming aggregation
    (groupBy().count() in update mode); also registered as the alias
    x6_stateful_running_totals. A per-key Python callback
    (applyInPandasWithState) invokes Python ONCE PER KEY per batch:
    ~4 min of callback overhead at the sf10 decade (~1.5M keys;
    DECADE_BENCH x6: 5.6/19.6/250 s). When the stateful semantics ARE
    expressible as an aggregation — running counts/sums/min/max per
    key — the built-in streaming agg keeps all state updates in the JVM
    state store with map-side partial aggregation and no Python
    boundary. This entry pins that guidance: one staged CSV drop, one
    availableNow drain (update mode emits exactly one row per key,
    equal to the batch aggregate the oracle runs), 32-way state
    partitioning. The 100 TB rule it encodes: reach for
    applyInPandasWithState only for semantics aggregation can't
    express (conditional resets, multi-counter transitions, custom
    eviction); otherwise the built-in agg is the scale path.
    """
    from finporter_spark.queries.staging import stage_x6_drop as _stage_x6_drop
    from finporter_spark.streaming.pipeline import run_stream_to_memory

    path = _stage_x6_drop(spark, sf_dir)
    sdf = (
        spark.readStream.schema("user_id bigint, ts timestamp, value double")
        .option("header", True)
        .csv(path)
    )
    agg = sdf.groupBy("user_id").agg(F.count("*").cast("bigint").alias("n"))
    out = run_stream_to_memory(
        agg, "x6b_mem", output_mode="update", state_partitions=32
    )
    return out.select("user_id", "n")


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
# L32 — cross-source contamination matrix (shared-shingle counts)
# =====================================================================


@query(
    "l32_contamination_matrix",
    f"""
    WITH toks AS (
      SELECT source, {_TOKS} AS toks FROM documents
    ), grams AS (
      SELECT DISTINCT source,
             md5(array_to_string(toks[i:i+7], ' ')) AS g
      FROM (
        SELECT source, toks,
               unnest(generate_series(1, len(toks) - 7)) AS i
        FROM toks WHERE len(toks) >= 8
      )
    ), totals AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM grams
      GROUP BY source
    ), shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM grams a JOIN grams b
        ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s.source_a, s.source_b, s.n_shared,
           CAST(s.n_shared AS DOUBLE)
             / least(ta.n_grams, tb.n_grams) AS containment
    FROM shared s
    JOIN totals ta ON ta.source = s.source_a
    JOIN totals tb ON tb.source = s.source_b
    """,
)
def l32_contamination_matrix(spark, sf_dir):
    """L32: pairwise cross-source contamination — for every source
    pair, how many distinct word 8-grams they share, and the
    containment ratio (shared / smaller side's distinct-gram count).
    The corpus-level view of l13's train-vs-eval decontamination:
    before mixing sources into a training set, this matrix is how a
    pipeline finds which sources are partial mirrors of each other.

    Plan: explode 8-gram spans keyed by 16-byte md5 digests (the l25
    span machinery), distinct (source, gram) — ONE shuffle that also
    shrinks the data to unique grams per source — then SET compression
    (the j8 shape-compression move): one collect_set agg turns each
    gram into its source SET (bounded by the source domain — a
    config-sized value, 20 here), grams are counted per DISTINCT set
    (a tiny histogram), and source pairs expand from histogram rows
    only. The original gram-keyed self-join expanded Σ s_g² pair rows
    and ramped 19× at the sf1→sf10 decade as gram density pushed s_g
    toward |sources| (measured, DECADE_BENCH); the set-histogram form
    keeps every corpus-sized stage a map-combinable keyed agg and
    re-measured decade-flat. Nothing all-pairs over documents exists
    anywhere in the plan.
    """
    from finporter_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    n = 8
    toks = d.select(
        "source", tokens(F.col("text")).alias("_toks")
    ).filter(F.size("_toks") >= n)
    grams = toks.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - n),
                lambda i: F.unhex(
                    F.md5(F.concat_ws(" ", F.slice("_toks", i + 1, n)))
                ),
            )
        ).alias("g"),
    )
    # NO .distinct() before the set agg: collect_set dedups inside the
    # aggregation (including map-side partials), so a separate distinct
    # would be a second full corpus-sized shuffle for nothing.
    # SET compression (the j8 shape-compression move, round-8 fix for
    # the 19x sf1->sf10 decade ramp): the gram-keyed SELF-JOIN costs
    # sum over grams of s_g^2 pair rows — as density grows every gram
    # approaches all |sources| owners and the expansion ramps toward
    # |sources|^2 x |grams|. But the pair counts only depend on each
    # gram's SOURCE SET, so: one collect_set agg per gram (bounded by
    # the source domain, map-combinable), count grams per DISTINCT set
    # (<= 2^|sources| but practically tiny), and expand pairs over the
    # set-histogram rows only. The corpus-sized stages are now two
    # keyed aggs; nothing downstream scales with the corpus.
    sets = grams.groupBy("g").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    )
    hist = sets.groupBy("srcs").agg(
        F.count("*").cast("bigint").alias("n_grams_set")
    )
    totals = (
        hist.select(
            F.explode("srcs").alias("source"), "n_grams_set"
        )
        .groupBy("source")
        .agg(F.sum("n_grams_set").cast("bigint").alias("n_grams"))
    )
    pairs = hist.select(
        F.explode("srcs").alias("source_a"),
        F.col("srcs"),
        "n_grams_set",
    ).select(
        "source_a",
        F.explode("srcs").alias("source_b"),
        "n_grams_set",
    ).filter(F.col("source_a") < F.col("source_b"))
    shared = pairs.groupBy("source_a", "source_b").agg(
        F.sum("n_grams_set").cast("bigint").alias("n_shared")
    )
    ta = F.broadcast(totals).alias("ta")
    tb = F.broadcast(totals).alias("tb")
    return (
        shared.join(ta, F.col("source_a") == F.col("ta.source"))
        .join(tb, F.col("source_b") == F.col("tb.source"))
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least(F.col("ta.n_grams"), F.col("tb.n_grams"))
            ).alias("containment"),
        )
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
# L33 — token-length histogram (power-of-two buckets, exact integers)
# =====================================================================


@query(
    "l33_length_histogram",
    f"""
    WITH n AS (
      SELECT lang, len({_TOKS}) AS n_tokens FROM documents
    )
    SELECT lang,
           CAST(length(printf('%b', n_tokens)) AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
    FROM n WHERE n_tokens > 0 GROUP BY 1, 2
    """,
)
def l33_length_histogram(spark, sf_dir):
    """L33: document length distribution in power-of-two buckets per
    language — the length histogram every training-data pipeline
    checks before packing (l17) and curriculum mixing (o13): truncation
    losses, short-doc floods, and tokenizer blowups all show up here
    first.

    Bucket = bit length of the token count (floor(log2)+1) computed by
    INTEGER bit arithmetic (`bin()` string length), not floating
    log2 — exact at powers of two on every engine, so the hash can't
    flap on 5.9999 vs 6.0. One map-combinable keyed agg over
    (lang, bucket); token counts reuse the l4/l7 tokenizer so the
    histogram describes exactly what downstream operators consume.
    """
    from finporter_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    n = d.select(
        "lang", F.size(tokens(F.col("text"))).alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    return n.groupBy(
        "lang",
        F.length(F.bin(F.col("n_tokens"))).cast("int").alias("bucket"),
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
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
    from finporter_spark.operators.scale import global_rank

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
# L34 — exact Jaccard threshold join via prefix filtering (PPJoin-lite)
# =====================================================================

_JACCARD_TAU = 0.6


def _jaccard_threshold_pairs(g, tau):
    """Prefix-filtered EXACT Jaccard >= tau pair join over a distinct
    (doc_id, g) shingle table — the one implementation l34 and pipe6
    share (the lemma arithmetic, size bounds, and the SHUFFLE_MERGE
    hints that prevent the measured sf10 driver-broadcast OOM live
    HERE and nowhere else). Returns (da, db, size_a, size_b, n_shared)
    for every pair meeting the threshold."""
    # Materialize the (doc_id, g) shingle table ONCE: it feeds sz,
    # df_counts, both self-join branches of `ranked`, and both
    # verification sides — six subtree copies in the unmaterialized
    # plan (0 ReusedExchange: Spark does not dedup self-join/multi-ref
    # subtrees), so the explode+distinct shuffle ran six times per
    # query (guide §2.4 — remove shuffles outright by reusing a
    # computed intermediate). Per-call localCheckpoint: fresh each
    # invocation, no cross-run state; size is the compressed shingle
    # table (~doc_tokens × 40 B), which is what the verification step
    # already shuffles anyway.
    g = g.localCheckpoint(eager=False)
    sz = g.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n"))
    df_counts = g.groupBy("g").agg(F.count("*").alias("df"))
    ranked = (
        g.join(df_counts.hint("merge"), "g")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "g")
            ),
        )
        .join(sz.hint("merge"), "doc_id")
        # prefix length: |d| - ceil(tau*|d|) + 1
        .filter(
            F.col("rn")
            <= F.col("n") - F.ceil(F.col("n") * F.lit(tau)) + 1
        )
        .select("doc_id", "g", "n")
        # both sides of the candidate self-join read this — one
        # window+join pipeline instead of two
        .localCheckpoint(eager=False)
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    cand = (
        a.join(
            b.hint("merge"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # size filter: tau*|A| <= |B| <= |A|/tau
        .filter(
            (F.col("b.n") >= F.ceil(F.col("a.n") * F.lit(tau)))
            & (F.col("b.n") <= F.floor(F.col("a.n") / F.lit(tau)))
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.col("a.n").alias("size_a"),
            F.col("b.n").alias("size_b"),
        )
        .distinct()
    )
    ga = g.select(F.col("doc_id").alias("da"), "g")
    gb = g.select(F.col("doc_id").alias("_db2"), F.col("g").alias("gb"))
    inter = (
        cand.join(ga.hint("merge"), "da")
        .join(
            gb.hint("merge"),
            (F.col("db") == F.col("_db2")) & (F.col("g") == F.col("gb")),
        )
        .groupBy("da", "db", "size_a", "size_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_shared")
    )
    return inter.filter(jac >= tau)


@query(
    "l34_jaccard_join",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), g AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(toks[i:i+4], ' ')) AS g
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 4)) AS i
        FROM toks WHERE len(toks) >= 5
      )
    ), sz AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             CAST(COUNT(*) AS BIGINT) AS i
      FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT da AS doc_a, db AS doc_b, i AS n_shared,
           sa.n AS size_a, sb.n AS size_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = da
    JOIN sz sb ON sb.doc_id = db
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {_JACCARD_TAU}
    """,
)
def l34_jaccard_join(spark, sf_dir):
    """L34: EXACT all-pairs Jaccard >= tau join over 5-gram shingle
    sets via prefix filtering (Chaudhuri et al. ICDE'06 / Xiao et al.
    PPJoin) — completing the dedup family: l9 is the quadratic
    small-SF baseline, l2 is approximate MinHash, l28 is containment
    on rare-shingle blocks; this is the exact-threshold SCALABLE path.

    The prefix-filter lemma: order every set by a single global token
    order (ascending document frequency, tie by token — rarest first);
    if J(A,B) >= tau then the first |X| - ceil(tau*|X|) + 1 elements
    of each set (its PREFIX) must share at least one token. So
    candidates come from an equi-join on PREFIX tokens only — rare
    tokens by construction, tiny fan-out per token — never from the
    corpus-sized all-pairs space; completeness is a theorem, not a
    heuristic (and the oracle's full intersection-table recompute
    verifies it: a missed pair fails the hash).

    Pipeline: distinct (doc, gram) -> gram df counts (map-combined) ->
    per-doc rank by (df, g) window -> prefix explode -> candidate
    equi-join + size window filter [tau*|A| <= |B| <= |A|/tau] ->
    exact intersection counts restricted to candidates -> threshold.
    Every join keyed, nothing all-pairs. The corpus-sized joins carry
    explicit SHUFFLE_MERGE hints: at sf10 AQE's size estimate promoted
    the multi-million-row doc-size side to a driver-built broadcast
    and OOMed the 8g driver (measured) — a sort-merge join costs one
    extra sort and can never blow up the driver, the right default
    when BOTH sides scale with the corpus.

    Shingle width is 5 (not 3): prefix filtering's cost is
    sum-over-prefix-grams of df², so it needs the gram SPACE to
    outgrow the corpus. The synthetic word-soup corpus has a ~31-word
    vocabulary — its full 3-gram space (31³ ≈ 30k) saturates by sf1
    (measured: avg df 89 at sf1, ~900 at sf10 → 2e10 candidate pairs,
    a 70 GB spill). 31⁵ ≈ 29M keeps df ~ 8 at sf10. On real text
    (10⁵+ vocabularies) even 3-grams never saturate; the width is the
    knob that buys the same guarantee on adversarially small
    vocabularies."""
    from finporter_spark.operators.text import tokens

    tau = _JACCARD_TAU
    n = 5
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    ).filter(F.size("_toks") >= n)
    g = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - n),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice("_toks", i + 1, n))
                ),
            )
        ).alias("g"),
    ).distinct()
    pairs = _jaccard_threshold_pairs(g, tau)
    jac = F.col("n_shared").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_shared")
    )
    return pairs.select(
        F.col("da").alias("doc_a"),
        F.col("db").alias("doc_b"),
        "n_shared",
        "size_a",
        "size_b",
        jac.alias("jaccard"),
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
# L35 — dedup with a KEEP-BEST survivor policy (not keep-first)
# =====================================================================

_STOPLIST = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)


@query(
    "l35_dedup_keep_best",
    f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             md5(array_to_string(list_filter({_TOKS},
               t -> t NOT IN {_STOPLIST!r}), ' ')) AS k
      FROM documents
    ), ranked AS (
      SELECT doc_id, k,
             ROW_NUMBER() OVER (
               PARTITION BY k ORDER BY n_chars DESC, doc_id ASC
             ) AS rn
      FROM keyed
    )
    SELECT r.doc_id,
           s.doc_id AS survivor_id,
           r.doc_id = s.doc_id AS is_survivor
    FROM ranked r JOIN ranked s ON s.k = r.k AND s.rn = 1
    """,
)
def l35_dedup_keep_best(spark, sf_dir):
    """L35: content dedup with a KEEP-BEST survivor policy. l1/l25
    keep the first (min-id) copy — the right default for reproducible
    corpus ordering — but production dedup usually keeps the BEST
    copy: here, groups are keyed by the stopword-stripped normalized
    token stream (variants differing only in function words collapse
    together), and the survivor is the LONGEST variant (max n_chars,
    min doc_id tie) — the most complete rendition of the content.

    Spark shape: ONE keyed aggregation with a `max_by` struct witness
    ((n_chars, -doc_id) — same deterministic-witness pattern as w16's
    open/close, no window over the corpus, no per-group buffering),
    then one linear join back to label every row with its survivor.
    The oracle spells the witness as a ROW_NUMBER window.
    """
    from finporter_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in _STOPLIST])
    keyed = d.select(
        "doc_id",
        "n_chars",
        F.md5(
            F.concat_ws(
                " ",
                F.filter(
                    tokens(F.col("text")),
                    lambda t: ~F.array_contains(stop, t),
                ),
            )
        ).alias("k"),
    )
    best = keyed.groupBy("k").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("_neg"))
        ).alias("survivor_id")
    )
    return keyed.join(best, "k").select(
        "doc_id",
        F.col("survivor_id").cast("bigint").alias("survivor_id"),
        (F.col("doc_id") == F.col("survivor_id")).alias("is_survivor"),
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
# PIPE6 — corpus curation: keep-best dedup → length gate → exact
# near-dup sweep (the round-8 operators composed end-to-end)
# =====================================================================


@query(
    "pipe6_corpus_curation",
    f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             md5(array_to_string(list_filter({_TOKS},
               t -> t NOT IN {_STOPLIST!r}), ' ')) AS k,
             len({_TOKS}) AS n_tokens
      FROM documents
    ), surv AS (
      SELECT doc_id, lang, n_tokens FROM (
        SELECT doc_id, lang, n_tokens,
               ROW_NUMBER() OVER (
                 PARTITION BY k ORDER BY n_chars DESC, doc_id ASC
               ) AS rn
        FROM keyed
      ) WHERE rn = 1
    ), gated AS (
      SELECT * FROM surv WHERE n_tokens BETWEEN 16 AND 127
    ), toks AS (
      SELECT d.doc_id, {_TOKS} AS toks
      FROM documents d JOIN gated USING (doc_id)
    ), g AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(toks[i:i+4], ' ')) AS g
      FROM (
        SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 4)) AS i
        FROM toks WHERE len(toks) >= 5
      )
    ), sz AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY doc_id
    ), dup AS (
      SELECT DISTINCT b.doc_id
      FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
      JOIN sz sa ON sa.doc_id = a.doc_id
      JOIN sz sb ON sb.doc_id = b.doc_id
      GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
      HAVING CAST(COUNT(*) AS DOUBLE) / (sa.n + sb.n - COUNT(*))
             >= {_JACCARD_TAU}
    )
    SELECT s.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s.n_tokens) AS BIGINT) AS total_tokens
    FROM gated s LEFT JOIN dup ON dup.doc_id = s.doc_id
    WHERE dup.doc_id IS NULL
    GROUP BY s.lang
    """,
)
def pipe6_corpus_curation(spark, sf_dir):
    """PIPE6: the round-8 curation operators composed into one corpus
    pass — what an LLM data pipeline actually runs before packing:

    1. keep-BEST exact dedup (l35): stopword-stripped content groups,
       longest variant survives;
    2. length gate (l33's distribution informs the [16, 127]-token
       band — one predicate, no extra shuffle);
    3. exact near-dup sweep (l34's prefix-filtered Jaccard >= 0.6 on
       5-gram shingles over the SURVIVOR set): any doc matching a
       lower-id survivor is dropped (the deterministic keep-min edge
       policy — no transitive chase, every decision is pairwise
       against a kept-or-dropped smaller id, same convention as l25);
    4. report: per-language doc and token counts of the final corpus.

    Stage order matters at 100 TB: the cheap exact dedup and the
    length predicate shrink the corpus BEFORE the shingle explosion —
    the prefix-filter join runs on survivors only. Every stage is the
    already-tested operator's machinery; the oracle chains the same
    stages as CTEs, so the hash gate certifies the COMPOSITION
    (including the drop-policy edge cases), not just the parts.
    """
    from finporter_spark.operators.text import tokens

    tau = _JACCARD_TAU
    d = _t(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(s) for s in _STOPLIST])
    toks_col = tokens(F.col("text"))
    keyed = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(
            F.concat_ws(
                " ",
                F.filter(toks_col, lambda t: ~F.array_contains(stop, t)),
            )
        ).alias("k"),
        F.size(toks_col).alias("n_tokens"),
    )
    surv = (
        keyed.groupBy("k")
        .agg(
            F.max_by(
                F.struct("doc_id", "lang", "n_tokens"),
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("_n")),
            ).alias("s")
        )
        .select("s.doc_id", "s.lang", "s.n_tokens")
    )
    # pin the survivor set: it feeds the shingle side AND the final
    # keep-join — unpinned, the corpus-sized keep-best agg ran twice
    # (guide §2.4); size is one row per surviving doc
    gated = surv.filter(
        F.col("n_tokens").between(16, 127)
    ).localCheckpoint(eager=False)
    # exact near-dup sweep over survivors (l34 machinery, n=5 shingles)
    n = 5
    dt = d.join(gated.select("doc_id"), "doc_id").select(
        "doc_id", tokens(F.col("text")).alias("_toks")
    ).filter(F.size("_toks") >= n)
    g = dt.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - n),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice("_toks", i + 1, n))
                ),
            )
        ).alias("g"),
    ).distinct()
    dup = (
        _jaccard_threshold_pairs(g, tau)
        .select(F.col("db").alias("doc_id"))
        .distinct()
    )
    kept = gated.join(dup, "doc_id", "left_anti")
    return kept.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


# =====================================================================
# L36 — multi-source BFS reachability (bounded hops, iterative joins)
# =====================================================================

_BFS_HOPS = 3


@query(
    "l36_bfs_reachability",
    f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), e0 AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING COUNT(*) >= 2
    ), e AS (
      SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
    ), d0 AS (
      SELECT DISTINCT p AS node FROM op WHERE p % 100 = 0
    ), d1 AS (
      SELECT DISTINCT e.v AS node FROM e JOIN d0 ON e.u = d0.node
    ), d2 AS (
      SELECT DISTINCT e.v AS node FROM e JOIN d1 ON e.u = d1.node
    ), d3 AS (
      SELECT DISTINCT e.v AS node FROM e JOIN d2 ON e.u = d2.node
    ), un AS (
      SELECT node, 0 AS dist FROM d0
      UNION ALL SELECT node, 1 FROM d1
      UNION ALL SELECT node, 2 FROM d2
      UNION ALL SELECT node, 3 FROM d3
    )
    SELECT CAST(node AS BIGINT) AS node,
           CAST(MIN(dist) AS INT) AS dist
    FROM un GROUP BY node
    """,
)
def l36_bfs_reachability(spark, sf_dir):
    """L36: multi-source BFS over the co-purchase graph — min-hop
    distance from a seed set (every part with id % 100 == 0) within
    3 hops, the reachability primitive under blast-radius
    analysis, recall expansion, and features like "distance to a
    recalled part". Completes the graph family: PageRank (l18),
    connected components (l30), triangles (l31), BFS (l36).

    Frontier BFS, not matrix powers: each round joins the CURRENT
    frontier (only nodes first reached last round) against the edge
    list — one keyed shuffle per round, work ∝ edges touched, never
    nodes². The visited set and frontier are localCheckpointed per
    round (flat lineage, the l30 pattern). Rounds are FIXED at
    3 (_BFS_HOPS), so unlike CC there is no convergence loop — the operator
    is deterministic-depth by contract. Edges reuse l31's min-support
    co-purchase graph (support >= 2), symmetrized. The oracle unrolls
    the same 3 frontier expansions as chained CTEs with a final
    min — hash-exact.
    """
    li = _t(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    e0 = (
        op.alias("a")
        .join(op.alias("b"), "o")
        .where(F.col("a.p") < F.col("b.p"))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count("*").alias("w"))
        .where(F.col("w") >= 2)
        .select("u", "v")
    )
    e = e0.unionByName(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    seeds = (
        op.select(F.col("p").alias("node"))
        .where(F.col("p") % 100 == 0)
        .distinct()
    )
    visited = seeds.withColumn("dist", F.lit(0)).localCheckpoint(
        eager=False
    )
    frontier = visited.select("node")
    for hop in range(1, _BFS_HOPS + 1):
        nxt = (
            e.join(frontier, e.u == frontier.node)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt.select("node")
    return visited.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("dist").cast("int").alias("dist"),
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
    from finporter_spark.operators.scale import exact_percentiles

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
    from finporter_spark.operators.scale import exact_percentiles

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
# X14 — executor-parallel Python DataSource stream (finportp)
# =====================================================================


@query(
    "x14_datasource_stream_parallel",
    """
    SELECT 'acct-' || CAST(p_partkey % 7 AS VARCHAR) AS accountID,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(p_size AS DOUBLE)) AS DOUBLE) AS total_shares
    FROM part
    GROUP BY 1
    """,
)
def x14_datasource_stream_parallel(spark, sf_dir):
    """X14: the finport connector's PARTITION-PARALLEL streaming tier
    (`spark.readStream.format("finportp")`, a Spark 4
    DataSourceStreamReader): the driver only advances byte-granular
    offsets (O(new bytes) boundary scan per trigger, no row typing);
    each micro-batch plans one (file, byte-range) slice per grown file
    and the EXECUTORS decode slices into Arrow RecordBatches — the
    scale tier x12's docstring promises (the Simple* API routes every
    decoded row through the driver BY DESIGN; right for drop-folder
    tailing, wrong for bulk backfill). Same offsets, same exactly-once
    replay contract (partitions(start, end) IS the replay range), same
    fail-loud unterminated-quote bounds — by composition with the
    simple reader, not by copy. Drains the same staged s12 fixture in
    complete mode, so the drained answer equals the batch relational
    oracle under any micro-batch split; DECADE_BENCH carries the
    x12-vs-x14 throughput comparison."""
    from finporter_spark.queries.catalog import CATALOG
    from finporter_spark.queries.staging import io_dir as _io_dir
    from finporter_spark.sources.finport_datasource import (
        FinportParallelDataSource,
    )
    from finporter_spark.streaming.pipeline import run_stream_to_memory

    CATALOG["s12_python_datasource"][0](spark, sf_dir).limit(1).collect()
    in_path = _io_dir(sf_dir, "s12")
    spark.dataSource.register(FinportParallelDataSource)
    sdf = spark.readStream.format("finportp").option("path", in_path).load()
    agg = sdf.groupBy("accountID").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("shareCount").cast("double").alias("total_shares"),
    )
    return run_stream_to_memory(agg, "x14_mem", output_mode="complete")
