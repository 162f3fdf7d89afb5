"""Catalog extension — round-11 continuation additions.

- ``s16_xml_roundtrip``: Spark 4's BUILT-IN XML source (the last
  first-class file format the source/sink family didn't exercise) —
  write with entity escaping + omitted-null elements, read back with an
  explicit schema (no inference scan).
- ``a45_attribution``: position-based (U-shaped) multi-touch revenue
  attribution over the event stream — credit assignment in EXACT
  integer basis points so the whole pipeline stays bigint and
  hash-oracle-able.

Reference scope note: the reference (openalloc/FINporter) transforms
exported finance CSVs; these queries extend the declared engine surface
(SURVEY.md §2B-ext) beyond it, same as the rest of the a/s families.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from finporter_spark.queries.catalog import _t, query
from finporter_spark.queries.staging import io_dir as _io_dir

# =====================================================================
# S16 — XML roundtrip (Spark 4 built-in XML source)
# =====================================================================

_S16_SCHEMA = StructType([
    StructField("c_custkey", LongType()),
    StructField("c_name", StringType()),
    StructField("markup", StringType()),
    StructField("c_acctbal", DoubleType()),
    StructField("nk", LongType()),
])


@query(
    "s16_xml_roundtrip",
    """
    SELECT c_custkey, c_name,
           '<a href="seg">' || c_mktsegment || ' & co</a>' AS markup,
           c_acctbal,
           CASE WHEN c_custkey % 7 = 0 THEN NULL
                ELSE CAST(c_nationkey AS BIGINT) END AS nk
    FROM customer
    """,
)
def s16_xml_roundtrip(spark, sf_dir):
    """S16: XML write -> read roundtrip on Spark 4's built-in XML source
    (``format("xml")``, merged into spark-sql core in 4.0) — the last
    first-class file format the source/sink family (CSV/TSV/JSON/
    parquet/ORC/binaryfile + the finport Python DataSource) didn't
    exercise; the B2B-integration sibling of the reference's delimited
    export surface (FINporter's whole purpose is moving rows through
    interchange text formats — ``DelimitedEncoder.swift`` — and XML is
    the interchange format that needs ENTITY escaping instead of quote
    doubling).

    The derived ``markup`` column injects the three XML-special
    characters (``<``, ``&``, quotes) into every row, so the identity
    oracle passes only if the writer's entity escaping and the reader's
    unescaping are exact inverses; ``nk`` is NULL on a 1/7 stride —
    the writer OMITS the element and the explicit read schema must
    restore NULL (schema-on-read, no inference pass: at 100 TB a
    sampling inference scan over XML is a full extra read, and
    inference could widen the nullable column's type on a skewed
    sample). Doubles ride on Java's shortest-roundtrip decimal text,
    lossless by contract. Scale shape: map-only in both directions —
    XML files split per-row-tag like JSON lines, no shuffle."""
    path = _io_dir(sf_dir, "s16")
    (
        _t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_name",
            F.concat(
                F.lit('<a href="seg">'),
                F.col("c_mktsegment"),
                F.lit(" & co</a>"),
            ).alias("markup"),
            "c_acctbal",
            F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("long"))
            .otherwise(F.col("c_nationkey").cast("long"))
            .alias("nk"),
        )
        .write.mode("overwrite")
        .format("xml")
        .option("rowTag", "cust")
        .save(path)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "cust")
        .schema(_S16_SCHEMA)
        .load(path)
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


# =====================================================================
# L42 — label-propagation community detection (sync LPA, 3 rounds)
# =====================================================================

_LPA_ROUNDS = 3


def _lpa_round_ctes(i: int) -> str:
    prev = f"l{i - 1}"
    return f"""
    c{i} AS (
      SELECT e.dst AS id, l.lbl, COUNT(*) AS c
      FROM e JOIN {prev} l ON l.id = e.src GROUP BY 1, 2
    ), r{i} AS (
      SELECT id, lbl FROM (
        SELECT id, lbl,
               row_number() OVER (PARTITION BY id
                                  ORDER BY c DESC, lbl) AS rk
        FROM c{i}
      ) WHERE rk = 1
    ), l{i} AS (
      SELECT l.id, COALESCE(r.lbl, l.lbl) AS lbl
      FROM {prev} l LEFT JOIN r{i} r ON r.id = l.id
    )"""


@query(
    "l42_label_propagation",
    f"""
    WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
    ed AS (
      SELECT doc_id AS src, (doc_id * m) % nn.n AS dst
      FROM documents, nn, (VALUES (3), (5), (7)) v(m)
    ),
    e AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM ed
        UNION ALL
        SELECT dst AS src, src AS dst FROM ed
      ) WHERE src <> dst
    ),
    l0 AS (SELECT doc_id AS id, doc_id AS lbl FROM documents),
    {",".join(_lpa_round_ctes(i) for i in range(1, _LPA_ROUNDS + 1))}
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS size
    FROM l{_LPA_ROUNDS} GROUP BY lbl
    """,
)
def l42_label_propagation(spark, sf_dir):
    """L42: synchronous label-propagation community detection (LPA,
    Raghavan et al. 2007) over the corpus link graph — the community
    lens the graph family lacked: l30 answers "which nodes are
    CONNECTED", LPA answers "which nodes cluster DENSELY" (near-dup
    *families*, crawl link farms, citation cliques), and it needs no k
    or threshold. Deterministic variant: every node starts as its own
    label; each round every node adopts its neighbors' MODE label with
    ties broken to the smallest label (count DESC, label ASC via
    row_number — the portable argmax both engines state identically);
    nodes with no in-messages keep their label. {_LPA_ROUNDS} unrolled
    synchronous rounds (async LPA is order-dependent, unreproducible by
    design — synchronous unrolling is what makes a cross-engine value
    hash possible at all); the undirected graph reuses l18's
    multiplicative recipe so the graph family shares one topology.

    Scale shape: per round, one edges⋈labels shuffle + one (node,
    label) count + one per-node top-1 window + one left join — all
    keyed by node/edge, state is the n-row label frontier, no driver
    participation (the l18/l36 contract). At 100 TB: rounds are fixed,
    each round is a constant number of linear keyed shuffles; the
    frontier join is skew-bound by max degree (hub salting is z4's
    recipe if a real crawl graph needs it)."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    nn = d.agg((F.max("doc_id") + 1).alias("n"))
    ed = (
        d.select(
            "doc_id",
            F.explode(F.array(F.lit(3), F.lit(5), F.lit(7))).alias("m"),
        )
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * F.col("m")) % F.col("n")).alias("dst"),
        )
    )
    e = (
        ed.union(
            ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        # pinned: joined against the frontier once per LPA round —
        # unpinned, each round re-derived the whole edge build (72
        # parquet scans / 122 Exchanges in the round-14 before-plan;
        # guide §2.4). The l18/l30 graph entries already pin their
        # edge sets; this brings LPA in line.
        .localCheckpoint(eager=False)
    )
    labels = d.select(
        F.col("doc_id").alias("id"), F.col("doc_id").alias("lbl")
    )
    top = Window.partitionBy("id").orderBy(
        F.col("c").desc(), F.col("lbl").asc()
    )
    for _ in range(_LPA_ROUNDS):
        cnt = (
            e.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        picked = (
            cnt.withColumn("rk", F.row_number().over(top))
            .where(F.col("rk") == 1)
            .select("id", F.col("lbl").alias("new_lbl"))
        )
        labels = (
            labels.join(picked, "id", "left")
            .select("id", F.coalesce("new_lbl", "lbl").alias("lbl"))
            # per-round pin: flat lineage (the l18 cache-rotation
            # pattern) — each round reads the previous round's n-row
            # frontier, not the whole unrolled history
            .localCheckpoint(eager=False)
        )
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("size")
    )


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
