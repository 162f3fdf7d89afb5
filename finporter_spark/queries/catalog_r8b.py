"""Round-8 late catalog additions: exact edit-distance join (FastSS
deletion neighborhoods), weekly retention cohorts, lag-1
autocorrelation from decimal moment sums, and basket brand-affinity
lift.

Each query follows the catalog contract (`catalog.query` registration,
DuckDB-runnable oracle, aliased output columns shared between engines).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Window
from pyspark.sql import functions as F

from finporter_spark.queries.catalog import _t, query


# =====================================================================
# L37 — exact edit-distance-1 join (FastSS deletion neighborhood)
# =====================================================================


def _ed1_name_pairs(c):
    """FastSS deletion-neighborhood candidate generation + JVM
    levenshtein verify over a distinct-name frame ``(c_name, n_rows)``
    — the one implementation l37 and its hypothesis brute-force parity
    test share. Returns (name_a, name_b, dist=1, n_a, n_b) for every
    distinct-name pair at edit distance exactly 1."""
    # sequence(1, 0) yields the DESCENDING [1, 0] (Spark defaults to
    # step -1 when start > stop), so an empty name would emit spurious
    # variants — guard with an explicit empty-array branch.
    deletions = F.when(
        F.length("c_name") > 0,
        F.transform(
            F.sequence(F.lit(1), F.length("c_name")),
            lambda i: F.concat(
                F.substring("c_name", F.lit(1), i - 1),
                F.substring("c_name", i + 1, F.length("c_name")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    variants = F.array_union(F.array(F.col("c_name")), deletions)
    v = c.select("c_name", "n_rows", F.explode(variants).alias("variant"))
    a = v.select(
        F.col("variant"),
        F.col("c_name").alias("name_a"),
        F.col("n_rows").alias("n_a"),
    )
    b = v.select(
        F.col("variant"),
        F.col("c_name").alias("name_b"),
        F.col("n_rows").alias("n_b"),
    )
    cand = (
        a.join(b.hint("merge"), "variant")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b", "n_a", "n_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("bigint")
        )
        .filter(F.col("dist") == 1)
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    )


def _ed1_cc_edges(c):
    """Component-equivalent ed-1 edge set over a distinct-name frame
    ``(c_name, ...)`` with ZERO distance computations — the pipe7
    connectivity feed (l37 keeps :func:`_ed1_name_pairs` because its
    contract is the full pair table; connectivity needs far less):

    - **Substitution edges**: bucket names by (deletion POSITION,
      remainder). Same-length members of one bucket agree on every
      character except that position, so they are PAIRWISE at edit
      distance exactly 1 (distinct names) — a clique, no verify needed.
      A clique's star (bucket-min -> each other member) spans it, so
      Σ(B−1) edges replace Σ B(B−1)/2: measured 0.66M vs 3.3M pairs at
      sf1 on the digit-structured customer vocabulary, and the 15.2M
      candidate materialization + distinct + levenshtein of the pair
      path disappears entirely.
    - **Ins/del edges**: identity(a) equal to a deletion variant of b
      means a IS b minus one character — edit distance exactly 1 by
      construction; emitted directly (a is one node: already a star).

    Per-subgraph sparsification preserves global components: any path
    using clique edges reroutes through that clique's star. The pipe7
    oracle (full quadratic pair CTE + recursive closure) is unchanged
    and gates the equivalence."""
    dels = c.select(
        "c_name",
        F.posexplode(
            F.when(
                F.length("c_name") > 0,
                F.transform(
                    F.sequence(F.lit(1), F.length("c_name")),
                    lambda i: F.concat(
                        F.substring("c_name", F.lit(1), i - 1),
                        F.substring("c_name", i + 1, F.length("c_name")),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "variant"),
    )
    roots = (
        dels.groupBy("pos", "variant")
        .agg(F.min("c_name").alias("root"), F.count("*").alias("_b"))
        .filter(F.col("_b") >= 2)
        .drop("_b")
    )
    sub_edges = (
        dels.join(roots.hint("merge"), ["pos", "variant"])
        .filter(F.col("c_name") != F.col("root"))
        .select(F.col("root").alias("name_a"), F.col("c_name").alias("name_b"))
    )
    ids = c.select(F.col("c_name").alias("variant"),
                   F.col("c_name").alias("name_a"))
    insdel_edges = (
        dels.join(ids.hint("merge"), "variant")
        .select("name_a", F.col("c_name").alias("name_b"))
    )
    return sub_edges.unionByName(insdel_edges)


@query(
    "l37_edit_distance_join",
    """
    WITH n AS (
      SELECT c_name, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM customer GROUP BY c_name
    )
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist,
           a.n_rows AS n_a, b.n_rows AS n_b
    FROM n a JOIN n b
      ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) = 1
    """,
)
def l37_edit_distance_join(spark, sf_dir):
    """L37: EXACT edit-distance-1 self-join over distinct customer
    names via FastSS deletion neighborhoods — the string-similarity
    complement of l34's token-set Jaccard join.

    The naive shape is a |V|x|V| levenshtein theta join (the oracle,
    fine at sf0.01, quadratic at scale). The scale plan: every string
    generates len(s)+1 variants — itself plus each single-character
    deletion. Two strings are at edit distance <= 1 IFF they share a
    variant (substitution at i: del_i(a) == del_i(b); insert/delete:
    the shorter string IS a deletion variant of the longer; the only
    false positives are distance-2 pairs from del_i(a) == del_j(b)
    with i != j, removed by the final JVM `levenshtein` verify). So
    candidates come from ONE equi-join on the variant key — work is
    O(n * len) exploded rows, never all-pairs. A variant bucket of
    length-L strings has at most |alphabet| * (L+1) members (each
    member re-inserts one character somewhere), so per-bucket pair
    fan-out is bounded by the alphabet and string length, not the
    corpus. Both join sides scale with the corpus, hence the explicit
    merge hint (the l34 lesson: AQE promoted a multi-million-row side
    to a driver broadcast at sf10 and OOMed; sort-merge is the right
    default when both sides scale).

    Result shape is DISTINCT-NAME pairs with per-name multiplicities
    (the p16b lesson: emit vocabulary-sized pairs, never row pairs).
    Distance-0 duplicates are l1's job and excluded here (dist = 1
    strictly)."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_name")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )
    return _ed1_name_pairs(c)


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
    from finporter_spark.operators.joins import count_exceeding

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
# M14 — windowed RMS loudness over staged PCM WAV
# =====================================================================


def _window_rms(x, win: int):
    """RMS per complete length-``win`` window of 1-D samples ``x``;
    a trailing partial window is DROPPED (the m13 full-windows-only
    contract). Vectorized: one reshape, one mean, one sqrt."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    nw = len(x) // win
    if nw == 0:
        return np.empty(0, dtype=np.float64)
    frames = x[: nw * win].reshape(nw, win)
    return np.sqrt(np.mean(frames * frames, axis=1))


@query(
    "m14_rms_loudness",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(generate_series(0, 1 + doc_id % 3)) AS window_idx
      FROM documents
    )
    SELECT doc_id, CAST(window_idx AS INT) AS window_idx,
           CAST(500 * (1 + (doc_id + window_idx) % 8) AS DOUBLE) AS rms
    FROM w
    """,
)
def m14_rms_loudness(spark, sf_dir):
    """M14: windowed RMS loudness over real 16-bit PCM WAV — the
    feature a speech-data pipeline computes to trim silence and gate
    clipped/quiet clips before transcription. Each doc stages as a
    square wave whose amplitude changes per 256-sample window
    (A = 500·(1 + (doc_id + w) % 8), 2 + doc_id % 3 windows): every
    sample in window w is ±A, so the window RMS is EXACTLY A — sqrt of
    a perfect square of an exactly-representable integer is exact in
    IEEE double, making the analytic oracle grid hash-exact, not
    approximate.

    The operator is the real path: `wav_decode` + vectorized numpy
    square/mean/sqrt over all windows at once inside Arrow-batched
    `mapInPandas` — samples never shuffle, only (doc_id, window_idx,
    rms) triples leave the executor. Cites the m13 staging discipline
    (32-part fixture layout so the Python decode parallelizes like a
    production multi-file media table)."""
    import numpy as np

    from finporter_spark.operators.audio import wav_decode, wav_encode

    def _make(batches):
        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                nw = 2 + i % 3
                parts = []
                for w in range(nw):
                    amp = 500 * (1 + (i + w) % 8)
                    blk = np.full(256, amp, dtype=np.int64)
                    blk[1::2] = -amp
                    parts.append(blk)
                content.append(
                    wav_encode(np.concatenate(parts), 16000)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": content}
            )

    from finporter_spark.queries.staging import stage_media as _stage_media

    media = _stage_media(spark, sf_dir, "m14_media", _make)

    def _rms(batches):
        for pdf in batches:
            ids, widx, vals = [], [], []
            for i, b in zip(pdf["doc_id"], pdf["content"]):
                _rate, samples = wav_decode(bytes(b))
                r = _window_rms(samples[:, 0], 256)
                nw = len(r)
                if nw == 0:
                    continue
                ids.extend([int(i)] * nw)
                widx.extend(range(nw))
                vals.extend(float(v) for v in r)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "window_idx": pd.array(widx, dtype="int32"),
                    "rms": pd.array(vals, dtype="float64"),
                }
            )

    return media.mapInPandas(
        _rms, "doc_id bigint, window_idx int, rms double"
    )


# =====================================================================
# L38 — sorted-neighborhood ER blocking (positional candidate window)
# =====================================================================

_SNM_WINDOW = 3
_SNM_MAX_DIST = 2


@query(
    "l38_sorted_neighborhood",
    f"""
    WITH n AS (SELECT DISTINCT c_name FROM customer),
    r AS (SELECT c_name, ROW_NUMBER() OVER (ORDER BY c_name) AS rn FROM n)
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           CAST(b.rn - a.rn AS BIGINT) AS gap,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM r a JOIN r b
      ON b.rn - a.rn >= 1 AND b.rn - a.rn <= {_SNM_WINDOW}
    WHERE levenshtein(a.c_name, b.c_name) <= {_SNM_MAX_DIST}
    """,
)
def l38_sorted_neighborhood(spark, sf_dir):
    """L38: sorted-neighborhood entity-resolution blocking — sort the
    vocabulary once, compare each name only to its w positional
    neighbors, keep pairs within edit distance 2. The third blocking
    family in the repo (l34: token-set prefix filter; l37: deletion
    neighborhoods; l38: positional windows — the classic SNM choice
    when the match key clusters lexically, e.g. serial-numbered or
    prefix-structured identifiers).

    The naive shape is ``row_number() OVER (ORDER BY name)`` — a
    single-task global sort (the z6 100 TB-killer). Positions come
    from :func:`finporter_spark.operators.scale.global_rank` (the z6
    TeraSort offset ladder: parallel range sort + bounded driver
    offsets) instead; neighbor pairs are then an EQUI-join on
    rank + gap (gap exploded 1..w) — one keyed shuffle, w rows per
    name, never all-pairs. The levenshtein gate runs JVM-side on the
    w·|V| candidates. Oracle states the identical contract with the
    single-partition SQL window DuckDB can afford at sf0.01."""
    from finporter_spark.operators.scale import global_rank

    names = (
        _t(spark, sf_dir, "customer").select("c_name").distinct()
    )
    r = global_rank(names, ["c_name"]).select("c_name", "rnk")
    a = r.select(
        F.col("c_name").alias("name_a"),
        F.col("rnk").alias("rn_a"),
        F.explode(
            F.sequence(F.lit(1), F.lit(_SNM_WINDOW))
        ).alias("gap"),
    ).withColumn("rn_b", F.col("rn_a") + F.col("gap"))
    b = r.select(
        F.col("c_name").alias("name_b"), F.col("rnk").alias("rn_b")
    )
    return (
        a.join(b.hint("merge"), "rn_b")
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("bigint")
        )
        .filter(F.col("dist") <= _SNM_MAX_DIST)
        .select(
            "name_a", "name_b", F.col("gap").cast("bigint").alias("gap"),
            "dist",
        )
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
    from finporter_spark.operators.scale import exact_percentiles

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
# PIPE7 — master-data dedup: FastSS pairs -> CC -> keep-best survivor
# =====================================================================


@query(
    "pipe7_master_data_dedup",
    r"""
    WITH RECURSIVE n AS (
      SELECT c_name, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM customer GROUP BY c_name
    ), pr AS (
      SELECT a.c_name AS name_l, b.c_name AS name_r
      FROM n a JOIN n b
        ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) = 1
    ), e AS (
      SELECT name_l AS src, name_r AS dst FROM pr
      UNION SELECT name_r, name_l FROM pr
    ), reach AS (
      SELECT c_name AS id, c_name AS lab FROM n
      UNION
      SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.id
    ), comp AS (
      SELECT id AS c_name, min(lab) AS component FROM reach GROUP BY id
    ), m AS (
      SELECT comp.component,
             CAST(COUNT(*) AS BIGINT) AS cluster_size,
             MAX(n.n_rows) AS best_rows
      FROM comp JOIN n ON n.c_name = comp.c_name
      GROUP BY comp.component
    ), surv AS (
      SELECT comp.component, MIN(n.c_name) AS canonical
      FROM comp JOIN n ON n.c_name = comp.c_name
      JOIN m ON m.component = comp.component AND n.n_rows = m.best_rows
      GROUP BY comp.component
    )
    SELECT comp.c_name AS name, surv.canonical, m.cluster_size,
           n.n_rows
    FROM comp
    JOIN n ON n.c_name = comp.c_name
    JOIN m ON m.component = comp.component
    JOIN surv ON surv.component = comp.component
    """,
)
def pipe7_master_data_dedup(spark, sf_dir):
    """PIPE7: end-to-end master-data deduplication — the composition
    this session's pieces exist for. Stage 1: FastSS deletion-
    neighborhood candidate generation + levenshtein verify over the
    distinct-name vocabulary (`_ed1_name_pairs`, the l37 core — one
    variant-key equi-join, never all-pairs). Stage 2: connected
    components over the ed-1 name graph by star contraction
    (`operators/graph.connected_components_star`, see round 9 below).
    Stage 3: keep-best survivorship — the canonical record is the name
    with the HIGHEST multiplicity (most-observed spelling wins, the MDM
    convention), ties broken by min name; two vocabulary-sized aggs, no
    window over corpus rows.

    Everything after the corpus-collapsing first agg runs on
    VOCABULARY-sized data; a 10x bigger corpus with the same
    vocabulary re-scores nothing (the p16b linearity argument). The
    oracle chains the same stages: quadratic levenshtein pair CTE
    (small-SF affordable), recursive-CTE closure, the same two-step
    survivor selection — so the hash certifies the COMPOSITION, not
    just the parts.

    Round 9: connectivity no longer pays for the full pair table — the
    ed-1 graph is fed as :func:`_ed1_cc_edges` (positioned-deletion
    clique stars + direct ins/del edges, zero levenshtein calls,
    component-equivalent by the per-subgraph sparsification argument),
    and components come from star-contraction CC (the sparsified star
    edges roughly double the graph's effective diameter, which is
    exactly the shape a per-hop min-label propagation pays for and
    O(log d) contraction shrugs off — 4 rounds, measured 25 s vs 39 s
    at sf1 for the CC stage alone). The oracle still closes over ALL
    ed-1 pairs, gating the equivalence. Measured: sf1 35.1 -> 28.6 s,
    sf10 247 (r8) -> 53.2 s — the 1->10 decade ratio drops from 8.4x
    to 1.9x (sublinear; edge count ~ Σ(B-1) saturates as digit buckets
    fill)."""
    from finporter_spark.operators.graph import connected_components_star

    n = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_name")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )
    edges = _ed1_cc_edges(n)
    comp = connected_components_star(edges, "name_a", "name_b")
    # pin the vocabulary-sized labeled table: it feeds m, surv AND the
    # final join — unpinned, each reference re-ran the corpus name-agg
    # and the component-forest joins (8 parquet scans of customer in
    # the round-14 before-plan; guide §2.4). Per-call checkpoint, size
    # = |distinct names|.
    labeled = (
        n.join(comp, n.c_name == comp.node, "left")
        .select(
            "c_name",
            "n_rows",
            F.coalesce(F.col("component"), F.col("c_name")).alias(
                "component"
            ),
        )
        .localCheckpoint(eager=False)
    )
    m = labeled.groupBy("component").agg(
        F.count("*").cast("bigint").alias("cluster_size"),
        F.max("n_rows").alias("best_rows"),
    )
    surv = (
        labeled.join(F.broadcast(m), "component")
        .filter(F.col("n_rows") == F.col("best_rows"))
        .groupBy("component")
        .agg(F.min("c_name").alias("canonical"))
    )
    return (
        labeled.join(F.broadcast(m), "component")
        .join(F.broadcast(surv), "component")
        .select(
            F.col("c_name").alias("name"),
            "canonical",
            "cluster_size",
            "n_rows",
        )
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
# M15 — per-channel 16-bin image histograms over staged PNG
# =====================================================================


@query(
    "m15_image_histogram",
    """
    WITH ch AS (
      SELECT doc_id, unnest([0, 1, 2]) AS channel FROM documents
    ), b AS (
      SELECT doc_id, CAST(channel AS INT) AS channel,
             (doc_id + channel) % 16 AS ba,
             (doc_id + 7 * channel + 5) % 16 AS bb
      FROM ch
    )
    SELECT doc_id, channel, CAST(ba AS INT) AS bin,
           CAST(CASE WHEN ba = bb THEN 256 ELSE 128 END AS BIGINT) AS n
    FROM b
    UNION ALL
    SELECT doc_id, channel, CAST(bb AS INT), CAST(128 AS BIGINT)
    FROM b WHERE ba <> bb
    """,
)
def m15_image_histogram(spark, sf_dir):
    """M15: per-channel 16-bin luminance histograms over REAL PNG —
    the image-quality gate feature (flat/blown-out/bimodal exposure
    shows up directly in the bins; a curation pipeline thresholds on
    them before spending decode budget downstream). Each doc stages as
    a 16x16 RGB PNG whose top half is solid tone A(doc, channel) and
    bottom half solid tone B — the analytic oracle enumerates exactly
    which two bins (or one, when A and B collide) hold 128 (or 256)
    pixels.

    The operator is the real path: full `png_decode` (zlib inflate +
    unfilter) + ONE vectorized `np.bincount` per image over
    `pixels >> 4`, inside Arrow-batched `mapInPandas`; pixels never
    shuffle — only (doc_id, channel, bin, n) rows leave the executor,
    and zero bins are omitted (sparse histogram contract, matching
    the oracle's inner shape)."""
    import numpy as np

    from finporter_spark.operators.multimodal import png_decode, png_encode

    def _make(batches):
        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                px = np.zeros((16, 16, 3), dtype=np.uint8)
                for c in range(3):
                    px[:8, :, c] = ((i + c) % 16) * 16 + 8
                    px[8:, :, c] = ((i + 7 * c + 5) % 16) * 16 + 3
                content.append(png_encode(px))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": content}
            )

    from finporter_spark.queries.staging import stage_media as _stage_media

    media = _stage_media(spark, sf_dir, "m15_media", _make)

    def _hist(batches):
        for pdf in batches:
            ids, chans, bins, ns = [], [], [], []
            for i, b in zip(pdf["doc_id"], pdf["content"]):
                px = png_decode(bytes(b))
                for c in range(px.shape[2]):
                    counts = np.bincount(
                        (px[:, :, c] >> 4).ravel(), minlength=16
                    )
                    nz = np.nonzero(counts)[0]
                    ids.extend([int(i)] * len(nz))
                    chans.extend([c] * len(nz))
                    bins.extend(int(x) for x in nz)
                    ns.extend(int(counts[x]) for x in nz)
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "channel": pd.array(chans, dtype="int32"),
                    "bin": pd.array(bins, dtype="int32"),
                    "n": pd.array(ns, dtype="int64"),
                }
            )

    return media.mapInPandas(
        _hist, "doc_id bigint, channel int, bin int, n bigint"
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
# L39 — character-entropy gibberish score per document
# =====================================================================


@query(
    "l39_char_entropy",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
      FROM documents WHERE length(text) > 0
    ), cnt AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c FROM chars
      WHERE ch <> '' GROUP BY doc_id, ch
    ), tot AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_distinct
      FROM cnt GROUP BY doc_id
    ), ent AS (
      SELECT cnt.doc_id,
             SUM(-(CAST(cnt.c AS DOUBLE) / CAST(tot.n AS DOUBLE))
                 * log2(CAST(cnt.c AS DOUBLE) / CAST(tot.n AS DOUBLE)))
               AS entropy
      FROM cnt JOIN tot ON tot.doc_id = cnt.doc_id
      GROUP BY cnt.doc_id
    )
    SELECT ent.doc_id, tot.n AS n_chars, tot.n_distinct,
           round(ent.entropy, 9) AS entropy_bits
    FROM ent JOIN tot ON tot.doc_id = ent.doc_id
    """,
)
def l39_char_entropy(spark, sf_dir):
    """L39: character-level Shannon entropy per document — the
    gibberish/boilerplate screen (natural prose sits ~4 bits/char;
    base64 blobs and key-mash spike toward log2|alphabet|, repeated
    template filler collapses toward 0). Complements l4's ratio
    heuristics and l26's trained classifier with a model-free signal.

    Scale shape: explode to (doc, char) — linear in corpus chars,
    exactly l7/l8's token-explode cost — then two keyed aggs; the
    entropy sum runs over ≤|alphabet| rows per doc. The p·log2(p)
    terms are double (log2 has no decimal form); per-doc summation
    order is engine-specific, but the sum spans ≤ ~100 terms of
    magnitude ≤ 1, so the wobble is ≤ ~1e-15 — both engines ROUND TO
    9 DP inside the query (the comparator's own quantum, here made
    part of the contract) so the hash is exact by construction."""
    e = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    cnt = (
        e.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    tot = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_distinct"),
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    ent = (
        cnt.join(tot.hint("merge"), "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(-p * F.log2(p)).alias("entropy"))
    )
    return ent.join(tot.hint("merge"), "doc_id").select(
        "doc_id",
        F.col("n").alias("n_chars"),
        "n_distinct",
        F.round("entropy", 9).alias("entropy_bits"),
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
    from finporter_spark.operators.scale import global_order_ffill

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
    from finporter_spark.operators.scale import global_rank

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


# =====================================================================
# M16 — silence-bound trimming over staged PCM WAV
# =====================================================================


@query(
    "m16_silence_bounds",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(generate_series(0, 3 + doc_id % 3)) AS wi
      FROM documents
    ), loud AS (
      SELECT doc_id, wi FROM w WHERE (doc_id + wi) % 4 <> 0
    )
    SELECT doc_id,
           CAST(MIN(wi) AS INT) AS first_loud,
           CAST(MAX(wi) AS INT) AS last_loud,
           CAST(COUNT(*) AS BIGINT) AS n_loud
    FROM loud GROUP BY doc_id
    """,
)
def m16_silence_bounds(spark, sf_dir):
    """M16: silence-bound detection — the trim step a speech pipeline
    runs after m14's RMS pass (leading/trailing silence wastes decode
    and tokenizer budget downstream). Each doc stages as 4 + doc_id%3
    windows of 256 samples where window w is SILENT (all zeros) when
    (doc_id + w) % 4 == 0 and a ±800 square wave otherwise — so
    first/last loud window and the loud count are analytic. Docs whose
    windows are ALL silent would be absent (inner grouping); the
    staging always leaves a loud window, and the operator's contract
    (absent = fully silent clip) matches the oracle's.

    Operator: `wav_decode` + the m14 `_window_rms` helper + one
    threshold scan per clip in Arrow-batched `mapInPandas` — samples
    never shuffle; (doc_id, first, last, count) is all that leaves."""
    import numpy as np

    from finporter_spark.operators.audio import wav_decode, wav_encode

    def _make(batches):
        for pdf in batches:
            content = []
            for i in pdf["doc_id"]:
                i = int(i)
                nw = 4 + i % 3
                parts = []
                for w in range(nw):
                    if (i + w) % 4 == 0:
                        parts.append(np.zeros(256, dtype=np.int64))
                    else:
                        blk = np.full(256, 800, dtype=np.int64)
                        blk[1::2] = -800
                        parts.append(blk)
                content.append(wav_encode(np.concatenate(parts), 16000))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "content": content}
            )

    from finporter_spark.queries.staging import stage_media as _stage_media

    media = _stage_media(spark, sf_dir, "m16_media", _make)

    def _bounds(batches):
        for pdf in batches:
            ids, firsts, lasts, ns = [], [], [], []
            for i, b in zip(pdf["doc_id"], pdf["content"]):
                _rate, samples = wav_decode(bytes(b))
                r = _window_rms(samples[:, 0], 256)
                loud = np.nonzero(r > 1.0)[0]
                if len(loud) == 0:
                    continue  # fully silent clip: absent by contract
                ids.append(int(i))
                firsts.append(int(loud[0]))
                lasts.append(int(loud[-1]))
                ns.append(int(len(loud)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "first_loud": pd.array(firsts, dtype="int32"),
                    "last_loud": pd.array(lasts, dtype="int32"),
                    "n_loud": pd.array(ns, dtype="int64"),
                }
            )

    return media.mapInPandas(
        _bounds,
        "doc_id bigint, first_loud int, last_loud int, n_loud bigint",
    )


# =====================================================================
# L40 — exact-duplication rate by source
# =====================================================================


@query(
    "l40_duplication_by_source",
    """
    WITH h AS (
      SELECT doc_id, source, md5(text) AS fp FROM documents
    ), g AS (
      SELECT fp, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY fp
    )
    SELECT h.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN g.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_duped,
           CAST(SUM(CASE WHEN g.n > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_rate
    FROM h JOIN g ON g.fp = h.fp
    GROUP BY h.source
    """,
)
def l40_duplication_by_source(spark, sf_dir):
    """L40: exact-duplication rate per source — what fraction of each
    source's documents have a byte-identical twin ANYWHERE in the
    corpus. The per-source health summary l1's row-level dedup and
    l32's shingle-containment matrix both feed into: before fixing a
    mixing ratio you ask WHICH source is recycled content.

    Scale shape: md5 fingerprints (map-only), one fingerprint-keyed
    count agg, one merge-hinted fingerprint join back (both sides
    corpus-scaled), one source-keyed agg landing on the |sources| row
    domain. The duplicate definition is corpus-wide (n > 1 across ALL
    sources), so a source whose docs are copied BY another source is
    correctly charged — the within-source-only variant would hide
    mirror sites."""
    h = _t(spark, sf_dir, "documents").select(
        "source", F.md5("text").alias("fp")
    )
    g = h.groupBy("fp").agg(F.count("*").cast("bigint").alias("n"))
    return (
        h.join(g.hint("merge"), "fp")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_duped"),
        )
        .select(
            "source",
            "n_docs",
            "n_duped",
            (
                F.col("n_duped").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("dup_rate"),
        )
    )
