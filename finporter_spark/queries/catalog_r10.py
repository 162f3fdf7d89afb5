"""Catalog extension — round-10 additions.

New operator families this round (ALL deterministic by construction,
all with full DuckDB value-hash oracles):

- Nonparametric experiment readouts on exact integers: ``a37_ks_test``
  (two-sample Kolmogorov–Smirnov via integer cross-counts),
  ``a38_mann_whitney_u`` (tie-corrected rank-sum via doubled-midrank
  bigints), ``a39_benford_audit`` (first-digit law screen,
  string-exact digits).
- Time-series decomposition/structure on exact bigint co-moments:
  ``w24_stl_decompose`` (trend/seasonal/residual),
  ``w26_changepoint`` (CUSUM-square argmax level-shift locator),
  ``w27_ar1_fit`` (AR(1) φ/intercept), ``w14b_holt_exact``
  (arrival-order Holt recurrence, recursive-CTE oracle; the catalog's
  one Holt evaluator, aliased as w14 and w14c).
- Crawl-side curation: ``l41_url_canonical_dedup`` (URL
  canonicalization + canonical-URL dup groups) and
  ``pipe8_crawl_curation`` (URL dedup → Gopher repetition gate →
  length floor, per-source funnel).
- Compressed-domain ANN: ``l45_pq_ann_topk`` (product quantization,
  deterministic per-subspace Lloyd codebooks + broadcast ADC scan)
  and ``l45b_pq_rerank_topk`` (IVFADC-R exact re-rank).
- The last uncovered streaming surface:
  ``x17_transform_with_state_top2`` (Spark 4
  ``transformWithStateInPandas`` StatefulProcessor, multi-batch
  ValueState on RocksDB, vendored-protobuf worker shipping).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from finporter_spark.operators.stats import normal_sf_two_sided_sql
from finporter_spark.queries.catalog import _t, query

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
    from finporter_spark.operators.stats import ks_2sample

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
# L41 — URL canonicalization + canonical-URL dedup groups
# =====================================================================

# tracking params stripped by canonicalization (the usual crawl set)
_TRACK_PREFIXES = ("utm_", "fbclid", "gclid", "msclkid")


def _l41_raw_url_sql() -> str:
    """The synthesized raw-URL expression (DuckDB form). The corpus has
    no URL column, so one is DERIVED deterministically from doc fields
    with the full mess canonicalization must handle: mixed-case scheme/
    host, explicit default ports, tracking params out of order, dup
    paths with/without trailing slash, fragments."""
    return (
        "CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END || '://' "
        "|| CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END "
        "|| source || '.Example.COM' "
        "|| CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END "
        "|| '/docs/' || CAST(doc_id % 3 AS VARCHAR) "
        "|| CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END "
        "|| '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR) "
        "|| '&utm_campaign=x' "
        "|| CASE WHEN doc_id % 2 = 0 THEN '&ref=home' ELSE '' END "
        "|| CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END"
    )


_L41_CANON = (
    "scheme || '://' || host || path"
    " || CASE WHEN q = '' THEN '' ELSE '?' || q END"
)


def _l41_norm_ctes() -> str:
    """raw/parts/norm CTE bodies (no WITH) — shared by the l41 oracle
    and pipe8's chained-stage oracle."""
    return f"""raw AS (
      SELECT doc_id, {_l41_raw_url_sql()} AS url FROM documents
    ), parts AS (
      SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1))
               AS hostport,
             regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)
               AS path,
             regexp_extract(url, '\\?([^#]*)', 1) AS qs
      FROM raw
    ), norm AS (
      SELECT doc_id, scheme,
             CASE WHEN scheme = 'https' AND ends_with(hostport, ':443')
                    THEN substr(hostport, 1, length(hostport) - 4)
                  WHEN scheme = 'http' AND ends_with(hostport, ':80')
                    THEN substr(hostport, 1, length(hostport) - 3)
                  ELSE hostport END AS host,
             CASE WHEN path = '' THEN '/'
                  WHEN length(path) > 1 AND ends_with(path, '/')
                    THEN substr(path, 1, length(path) - 1)
                  ELSE path END AS path,
             array_to_string(list_sort(list_filter(
               string_split(qs, '&'),
               x -> x != '' AND NOT starts_with(x, 'utm_')
                    AND NOT starts_with(x, 'fbclid')
                    AND NOT starts_with(x, 'gclid')
                    AND NOT starts_with(x, 'msclkid'))), '&') AS q
      FROM parts
    )"""


@query(
    "l41_url_canonical_dedup",
    f"""
    WITH {_l41_norm_ctes()}
    SELECT {_L41_CANON} AS canonical_url,
           COUNT(*) AS n_dups,
           MIN(doc_id) AS canonical_doc
    FROM norm
    GROUP BY 1
    """,
)
def l41_url_canonical_dedup(spark, sf_dir):
    """L41: URL canonicalization + canonical-URL duplicate groups —
    the crawl-dedup step BEFORE content dedup: most crawl duplicates
    are the SAME page under cosmetically different URLs (case, default
    ports, tracking params, param order, trailing slash, fragments).
    Canonical form: lowercase scheme+host, strip scheme-default port,
    drop fragment, drop tracking params (utm_*/fbclid/gclid/msclkid),
    SORT remaining query params, collapse the trailing slash; then one
    keyed agg groups docs per canonical URL (min doc_id = survivor).
    p17 stops at parse; l41 is the normalize-then-dedup operator.

    The corpus carries no URL column, so the raw URL is synthesized
    deterministically from (source, doc_id) with every variation class
    the canonicalizer must erase — the operator logic (regex parse +
    array-lambda param filter/sort, all JVM-side, no UDF) is the
    deliverable and is what the oracle checks piece by piece.

    Scale shape: pure map work per row (regex + bounded array ops)
    followed by ONE keyed aggregation on the canonical string —
    exactly the l1 exact-dedup shape; at 100 TB the agg key would be
    md5(canonical_url) to keep shuffle rows narrow."""
    return (
        _l41_canonical_df(spark, sf_dir)
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("canonical_doc"),
        )
    )


def _l41_canonical_df(spark, sf_dir):
    """(doc_id, canonical_url) — the canonicalizer, shared by l41 and
    pipe8."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS")).otherwise(
            F.lit("https")
        ),
        F.lit("://"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("WWW.")).otherwise(
            F.lit("www.")
        ),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(
            F.lit("")
        ),
        F.lit("/docs/"),
        (F.col("doc_id") % 3).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&id="),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("&utm_campaign=x"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("&ref=home")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 6 == 0, F.lit("#frag")).otherwise(
            F.lit("")
        ),
    )
    raw = d.select("doc_id", url.alias("url"))
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    hostport = F.lower(
        F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1)
    )
    path0 = F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    qs = F.regexp_extract("url", r"\?([^#]*)", 1)
    parts = raw.select(
        "doc_id",
        scheme.alias("scheme"),
        hostport.alias("hostport"),
        path0.alias("path0"),
        qs.alias("qs"),
    )
    host = (
        F.when(
            (F.col("scheme") == "https")
            & F.col("hostport").endswith(":443"),
            F.expr("substring(hostport, 1, length(hostport) - 4)"),
        )
        .when(
            (F.col("scheme") == "http")
            & F.col("hostport").endswith(":80"),
            F.expr("substring(hostport, 1, length(hostport) - 3)"),
        )
        .otherwise(F.col("hostport"))
    )
    path = (
        F.when(F.col("path0") == "", F.lit("/"))
        .when(
            (F.length("path0") > 1) & F.col("path0").endswith("/"),
            F.expr("substring(path0, 1, length(path0) - 1)"),
        )
        .otherwise(F.col("path0"))
    )
    keep = F.filter(
        F.split(F.col("qs"), "&"),
        lambda x: (x != "")
        & ~x.startswith("utm_")
        & ~x.startswith("fbclid")
        & ~x.startswith("gclid")
        & ~x.startswith("msclkid"),
    )
    q = F.array_join(F.array_sort(keep), "&")
    norm = parts.select(
        "doc_id", "scheme",
        host.alias("host"),
        path.alias("path"),
        q.alias("q"),
    )
    canon = F.concat(
        F.col("scheme"), F.lit("://"), F.col("host"), F.col("path"),
        F.when(F.col("q") == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), F.col("q"))
        ),
    )
    return norm.select("doc_id", canon.alias("canonical_url"))


# =====================================================================
# X17 — transformWithStateInPandas (Spark 4 StatefulProcessor)
# =====================================================================


@query(
    "x17_transform_with_state_top2",
    baseline_of="x6b_builtin_running_totals",
    oracle="""
    WITH s AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS iv
      FROM events
    ), r AS (
      SELECT user_id, iv,
             row_number() OVER (PARTITION BY user_id ORDER BY iv DESC)
               AS rk
      FROM s
    )
    SELECT user_id, COUNT(*) AS n,
           CAST(MAX(iv) AS DOUBLE) / 100.0 AS max_v,
           CAST(MAX(CASE WHEN rk = 2 THEN iv END) AS DOUBLE) / 100.0
             AS max2_v
    FROM r GROUP BY user_id
    """,
)
def x17_transform_with_state_top2(spark, sf_dir):
    """X17: Spark 4's ``transformWithStateInPandas`` (StatefulProcessor
    API) as a catalog operator — per-user event count + top-2 values
    carried in a typed ValueState across micro-batches. This was the
    one declared streaming surface with no catalog query (the round-8
    verdict's environment pin): the vendored minimal protobuf runtime
    (tools/vendor) unblocks the state-server protocol, and
    ``ensure_worker_protobuf`` ships it to Python workers via
    ``addPyFile`` so the query runs under the bare driver gate, not
    just pytest.

    Semantics demo of the API family: count+max+max2 ARE expressible as a
    built-in streaming agg — the point is the protocol: 8 staged files
    drained at ``maxFilesPerTrigger=4`` force 2 micro-batches (the
    minimum cross-batch proof; round-13 cut it from 4 — same proof,
    half the per-batch harness cost), so the (n, m1, m2) state
    genuinely round-trips the RocksDB state store
    between batches (n is strictly increasing per key, so the final
    state row per user is the max-n row — selected by one window).
    Values ride as bigint CENTS through pandas (order statistics only,
    no float accumulation), making the drained result exactly the
    batch top-2 the oracle computes.

    Scale shape: per-key state is 3 longs (bounded); the per-batch
    Python callback is a per-key pandas dispatch — production code
    with built-in-expressible semantics wants x6b's JVM state store;
    this operator is for semantics the built-ins genuinely can't
    express (custom eviction, top-k with k-sized state, model state)."""
    import pandas as pd  # noqa: F401 — imported for the closure below

    from finporter_spark.queries.staging import stage_x6_drop as _stage_x6_drop
    from finporter_spark.streaming.pipeline import (
        ensure_worker_protobuf,
        run_stream_to_memory,
    )

    ensure_worker_protobuf(spark)
    from pyspark.sql.streaming import (  # needs protobuf on sys.path
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("m1", LongType()),
            StructField("m2", LongType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n", LongType()),
            StructField("m1", LongType()),
            StructField("m2", LongType()),
        ]
    )

    class Top2Processor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState("top2", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            vals = []
            n_new = 0
            for pdf in rows:
                n_new += len(pdf)
                vals.extend(int(v) for v in pdf["iv"])
            if self._st.exists():
                n0, m1, m2 = self._st.get()
            else:
                n0, m1, m2 = 0, None, None
            cand = [v for v in (m1, m2) if v is not None] + vals
            cand.sort(reverse=True)
            m1 = cand[0] if cand else None
            m2 = cand[1] if len(cand) > 1 else None
            n = n0 + n_new
            self._st.update((n, m1, m2))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n": [n],
                    "m1": [m1],
                    "m2": pd.array([m2], dtype="Int64"),
                }
            )

        def close(self) -> None:
            pass

    path = _stage_x6_drop(spark, sf_dir)
    sdf = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp, value double"
        )
        .option("header", True)
        # 8 files -> 2 micro-batches: the MINIMUM that proves the
        # (n, m1, m2) state round-trips the store between batches —
        # round-13 drain trim: 4 batches proved the same thing at 2x
        # the per-batch harness cost (store commits x partitions)
        .option("maxFilesPerTrigger", 4)
        .csv(path)
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("iv"),
        )
    )
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        tws = sdf.groupBy("user_id").transformWithStateInPandas(
            Top2Processor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        # state partitions 8, not x6b's 32: transformWithStateInPandas
        # dispatches Arrow batches per PARTITION (not one Python call
        # per key like applyInPandasWithState), so the per-batch
        # RocksDB instance load+commit × partitions dominates at drain
        # backlogs — A/B measured in optimization round 1: 32 → 8 is
        # 6.0 → 3.8 s (sp=4 regresses to 4.3 s, Python-side
        # parallelism lost). On a cluster this is the executors×cores
        # sizing rule as ever.
        out = run_stream_to_memory(
            tws, "x17_mem", output_mode="update", state_partitions=8
        )
    finally:
        if prev is not None:
            spark.conf.set(prov_key, prev)
        else:
            spark.conf.unset(prov_key)
    w = Window.partitionBy("user_id").orderBy(F.desc("n"))
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            "user_id",
            "n",
            (F.col("m1").cast("double") / 100.0).alias("max_v"),
            (F.col("m2").cast("double") / 100.0).alias("max2_v"),
        )
    )


# =====================================================================
# L45 — product-quantization ANN (compressed-domain top-k)
# =====================================================================

from finporter_spark.queries.ann_fixtures import (  # noqa: F401,E402
    _PQ_K,
    _PQ_M,
    _PQ_QMAX,
    _PQ_QMOD,
    _PQ_SUB,
    _PQ_TOPK,
    _pq_books,
    _pq_sub_ctes,
)


def _l45_core() -> str:
    """Shared oracle core: per-subspace Lloyd unrolls + codes + ADC
    scores (``score(query_id, cand_id, adist)``)."""
    subs = ",".join(_pq_sub_ctes(i) for i in range(_PQ_M))
    code_joins = " ".join(
        f"JOIN a3_{i} USING (vec_id)" if i else "FROM a3_0"
        for i in range(_PQ_M)
    )
    code_cols = ", ".join(f"a3_{i}.cid AS c{i}" for i in range(_PQ_M))
    lut_joins = " ".join(
        f"JOIN lut_{i} l{i} ON l{i}.cid = codes.c{i}"
        + ("" if i == 0 else " AND l{i}.query_id = l0.query_id".format(i=i))
        for i in range(_PQ_M)
    )
    ad = " + ".join(f"l{i}.d" for i in range(_PQ_M))
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    {subs},
    codes AS (SELECT a3_0.vec_id, {code_cols} {code_joins}),
    score AS (SELECT l0.query_id, codes.vec_id AS cand_id,
                     ROUND({ad}, 6) AS adist
              FROM codes {lut_joins})"""


def _l45_oracle() -> str:
    return f"""
    {_l45_core()}
    SELECT query_id, cand_id, rank, adist FROM (
      SELECT query_id, cand_id, adist,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY adist, cand_id) AS INT)
               AS rank
      FROM score) WHERE rank <= {_PQ_TOPK}
    """


_PQ_SHORTLIST = 100


def _l45b_oracle() -> str:
    return f"""
    {_l45_core()},
    short AS (SELECT query_id, cand_id FROM (
      SELECT query_id, cand_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adist, cand_id) AS rk
      FROM score) WHERE rk <= {_PQ_SHORTLIST}),
    exact AS (SELECT s.query_id, s.cand_id,
                ROUND(list_sum(list_transform(list_zip(eq.emb, ec.emb),
                      z -> (z[1] - z[2])*(z[1] - z[2]))), 6) AS dist2
              FROM short s
              JOIN e eq ON eq.vec_id = s.query_id
              JOIN e ec ON ec.vec_id = s.cand_id)
    SELECT query_id, cand_id, rank, dist2 FROM (
      SELECT query_id, cand_id, dist2,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY dist2, cand_id) AS INT)
               AS rank
      FROM exact) WHERE rank <= {_PQ_TOPK}
    """


@query("l45_pq_ann_topk", _l45_oracle())
def l45_pq_ann_topk(spark, sf_dir):
    """L45: product-quantization ANN (Jégou et al., TPAMI 2011) — the
    compressed-domain similarity-search scale path: train m=4
    per-subspace deterministic 16-means codebooks (2 Lloyd rounds, the
    l22 discipline: smallest-id init, 6 dp-rounded means/distances,
    lowest-index tie-break), encode the corpus to m SMALL-INT CODES,
    and answer top-k by asymmetric distance — per query an m × k
    lookup table of subspace distances, every candidate scored as
    LUT0[c0] + LUT1[c1] + LUT2[c2] + LUT3[c3] (fixed left-associated
    fold, so both engines sum identically).

    Complements the family: l3_knn is exact brute force over raw
    vectors, l3_lsh/l3_ivf prune CANDIDATES, PQ compresses the
    REPRESENTATION — at 100 TB the corpus persists as (id, 4 bytes)
    (64× smaller than the vectors), the scan is linear over codes, the
    codebook is ~4 KB of driver state, and fit is m × iters
    map-combinable keyed shuffles. Self-query sanity: a query's own
    code attains the per-subspace LUT minimum, so its ADC distance is
    the global minimum (rank-1 modulo same-code ties) —
    tests/test_r10_ops.py asserts it plus recall vs exact kNN.

    Deterministic end to end (md5-free: determinism comes from
    smallest-id init + 6 dp rounding): full value-hash oracle with the
    entire per-subspace Lloyd unrolled as generated SQL CTEs."""
    from finporter_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir, emb)
    queries = emb.where(
        (F.col("vec_id") % _PQ_QMOD == 0)
        & (F.col("vec_id") < _PQ_QMAX)
    )
    out = pq_topk(
        emb, queries, "vec_id", "embedding", books, k=_PQ_TOPK
    )
    return out.select(
        "query_id", "cand_id", F.col("rank").cast("int").alias("rank"),
        "adist",
    )


@query("l45b_pq_rerank_topk", _l45b_oracle())
def l45b_pq_rerank_topk(spark, sf_dir):
    """L45b: PQ shortlist + exact re-rank — IVFADC-R (Jégou et al.
    2011 §V), the shape that makes PQ's recall production-grade: the
    compressed-domain ADC scan recalls a {shortlist}-candidate
    shortlist per query (reading CODES only), then true squared
    distances are computed for shortlist members alone and the top-{k}
    re-ranked. Measured at sf0.01: raw ADC top-10 recall 0.18 (random
    64-dim embeddings are PQ's worst case) -> 0.74 after re-rank at a
    0.2 candidate fraction; the exact column is touched for
    Q × {shortlist} rows instead of Q × N.

    Same deterministic codebooks as l45 (shared `pq_fit`); the exact
    stage is one keyed join against the vector store + a per-query
    top-k window. Full value-hash oracle: the shared Lloyd-unroll core
    plus shortlist + exact-distance re-rank CTEs."""
    from finporter_spark.operators.similarity import pq_rerank, pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir, emb)
    queries = emb.where(
        (F.col("vec_id") % _PQ_QMOD == 0)
        & (F.col("vec_id") < _PQ_QMAX)
    )
    short = pq_topk(
        emb, queries, "vec_id", "embedding", books, k=_PQ_SHORTLIST
    )
    out = pq_rerank(
        short, emb, queries, "vec_id", "embedding", k=_PQ_TOPK
    )
    return out.select(
        "query_id", "cand_id", F.col("rank").cast("int").alias("rank"),
        "dist2",
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
    import pandas as pd

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
    from finporter_spark.operators.stats import mann_whitney_u

    e = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "purchase")
    )
    s = e.select(
        F.round(F.col("value") * 100).cast("bigint").alias("iv"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("a"),
    )
    return mann_whitney_u(s, "iv", "a")


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
# PIPE8 — crawl curation funnel: URL dedup -> repetition gate -> floor
# =====================================================================


@query(
    "pipe8_crawl_curation",
    f"""
    WITH {_l41_norm_ctes()},
    canon AS (
      SELECT doc_id, {_L41_CANON} AS cu FROM norm
    ), surv AS (
      SELECT MIN(doc_id) AS doc_id FROM canon GROUP BY cu
    ), sd AS (
      SELECT d.doc_id, d.source, d.n_chars, d.text
      FROM documents d JOIN surv USING (doc_id)
    ), t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\\s+', ' ',
                                              'g')), ' ') AS toks
      FROM sd
    ), idx AS (
      SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      FROM t
    ), g AS (
      SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g FROM idx
    ), pg AS (
      SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g
    ), rep AS (
      SELECT doc_id, SUM(c) AS n,
             SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup, MAX(c) AS mx
      FROM pg GROUP BY doc_id
    ), gated AS (
      SELECT sd.doc_id, sd.source, sd.n_chars
      FROM sd JOIN rep USING (doc_id)
      WHERE CAST(rep.dup AS DOUBLE) / rep.n <= 0.2
        AND CAST(rep.mx AS DOUBLE) / rep.n <= 0.05
        AND sd.n_chars >= 100
    ), raw_counts AS (
      SELECT source, COUNT(*) AS n_raw FROM documents GROUP BY source
    ), url_counts AS (
      SELECT source, COUNT(*) AS n_url_unique FROM sd GROUP BY source
    ), fin AS (
      SELECT source, COUNT(*) AS n_final, SUM(n_chars) AS chars_final
      FROM gated GROUP BY source
    )
    SELECT r.source, r.n_raw,
           COALESCE(u.n_url_unique, 0) AS n_url_unique,
           COALESCE(f.n_final, 0) AS n_final,
           COALESCE(f.chars_final, 0) AS chars_final
    FROM raw_counts r
    LEFT JOIN url_counts u USING (source)
    LEFT JOIN fin f USING (source)
    """,
)
def pipe8_crawl_curation(spark, sf_dir):
    """PIPE8: the crawl-side curation funnel, per-source — the stages a
    web corpus passes BEFORE content-level dedup (pipe6's territory):
    (1) URL canonicalization + canonical-URL dedup (l41 — min doc_id
    survives each canonical group), (2) the Gopher repetition gate on
    survivors (word-3-gram duplicate mass ≤ 0.2 AND top-gram mass
    ≤ 0.05 — l16's exact signals as a filter), (3) a minimum-length
    floor (n_chars ≥ 100). Emits the per-source funnel: raw count,
    canonical-URL-unique count, final count + final char mass — the
    table a data-mixing stage (o13) consumes as its denominator.

    Every stage is a keyed agg or map-side gate off ONE documents
    scan lineage (canonicalize: map + keyed agg; repetition: the l16
    3-gram profile computed ONLY for URL survivors — the stage order
    puts the n-gram explosion after the 8× URL cut; gates: map-side);
    the funnel is three domain-sized aggregates joined on source.
    Full value-hash oracle: the l41 norm core + the l16 repetition
    CTEs + gates chained (the pipe6 stage-chained pattern)."""
    from finporter_spark.operators.prep import repetition_profile

    d = _t(spark, sf_dir, "documents")
    canon = _l41_canonical_df(spark, sf_dir)
    surv = canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    sd = (
        d.join(surv, "doc_id")
        .select("doc_id", "source", "n_chars", "text")
        # pinned: feeds the repetition profile, the gate join AND the
        # per-source URL-unique count — unpinned, the regex-heavy URL
        # canonicalization + survivor agg ran three times (guide §2.4)
        .localCheckpoint(eager=False)
    )
    rep = repetition_profile(sd, "text", "doc_id", ngram_n=3)
    gated = (
        sd.join(
            rep.select("doc_id", "n_ngrams", "dup_frac", "top_frac"),
            "doc_id",
        )
        .where(
            # n_ngrams >= 1 mirrors the oracle's inner join against the
            # gram table: a doc too short to form a 3-gram has no
            # repetition signal and fails the gate on both engines
            (F.col("n_ngrams") >= 1)
            & (F.col("dup_frac") <= 0.2)
            & (F.col("top_frac") <= 0.05)
            & (F.col("n_chars") >= 100)
        )
    )
    raw_counts = d.groupBy("source").agg(F.count("*").alias("n_raw"))
    url_counts = sd.groupBy("source").agg(
        F.count("*").alias("n_url_unique")
    )
    fin = gated.groupBy("source").agg(
        F.count("*").alias("n_final"),
        F.sum("n_chars").alias("chars_final"),
    )
    return (
        raw_counts.join(url_counts, "source", "left")
        .join(fin, "source", "left")
        .select(
            "source",
            "n_raw",
            F.coalesce("n_url_unique", F.lit(0)).alias("n_url_unique"),
            F.coalesce("n_final", F.lit(0)).alias("n_final"),
            F.coalesce("chars_final", F.lit(0)).alias("chars_final"),
        )
    )


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


@query("x18_stream_psi_monitor", _A40_ORACLE)
def x18_stream_psi_monitor(spark, sf_dir):
    """X18: streaming drift monitor — the CURRENT period arrives as a
    stream (8 mtime-staged CSV files, ``maxFilesPerTrigger=4`` → 2
    micro-batches: the minimum that proves the counts accrete ACROSS
    batches; round-13 cut it from 4 — update-mode final counts are
    batching-independent, so fewer batches = same proof, half the
    harness cost), each event is bucketed against the STATIC reference
    deciles via a stream-static broadcast join, and an update-mode
    streaming aggregation maintains per-(type, bucket) counts; after
    the drain, the final counts join the reference probabilities into
    the 10-term PSI table. This is a40 as a production monitor: the
    reference artifact is fixed, the current distribution accretes
    per micro-batch, and the PSI is readable after every trigger
    (here: after the final one).

    Correctness gate: the drained result must equal the BATCH a40
    result exactly — the update-mode final counts are the full
    current-period counts regardless of how the files batched, so x18
    carries a40's FULL value-hash oracle (the x5-vs-DISTINCT
    precedent: streaming infra, batch semantics), plus a same-session
    x18 == a40 equality test in pytest.

    Scale: the static side (9 edges + 10 p_ref rows per type) is a
    broadcast; streaming state is #types × 10 counters — bounded
    regardless of stream length."""
    from finporter_spark.queries.staging import stage_once as _stage_once
    from finporter_spark.streaming.pipeline import run_stream_to_memory

    s, el, rb, n = _x18_reference(spark, sf_dir)

    def write_current(p):
        (
            s.where(F.col("is_ref") == 0)
            .select("event_type", "iv")
            .repartition(8)
            .write.mode("overwrite")
            .csv(p, header=True)
        )

    path = _stage_once(sf_dir, "x18", write_current, "events")
    sdf = (
        spark.readStream.schema("event_type string, iv bigint")
        .option("header", True)
        .option("maxFilesPerTrigger", 4)
        .csv(path)
        .join(F.broadcast(el), "event_type")
        .select(
            "event_type",
            (
                1 + F.size(F.filter("es", lambda ed: F.col("iv") > ed))
            ).alias("bkt"),
        )
        .groupBy("event_type", "bkt")
        .count()
    )
    out = run_stream_to_memory(
        sdf, "x18_mem", output_mode="update", state_partitions=4
    )
    # final count per cell = the last (max) update-mode emission
    fin = out.groupBy("event_type", "bkt").agg(
        F.max("count").alias("bcur")
    )
    return _psi_table(spark, n, rb, fin)


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
    from finporter_spark.operators.joins import asof_join

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
        tolerance=F.expr("INTERVAL 2 HOURS"),
        tiebreakers=["p_event_id"],
        left_id=["event_id"],
    )
    return out.select(
        "event_id", "user_id", "ts", "p_event_id", "p_ts", "p_value"
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
    from finporter_spark.operators.stats import normal_sf_two_sided

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


# public fixture surface (round-14: cross-catalog consumers import
# these, not the underscore privates)
x18_reference = _x18_reference
