"""Graph operators: connected components (star contraction), PageRank,
triangle counting, BFS reachability, label propagation and the
master-data dedup pipeline (pipe7) that ends in connected components.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from finporter_spark.operators.graph import connected_components_star, pagerank
from finporter_spark.queries.catalog import CATALOG, _t, query
from finporter_spark.queries.text_prep import _L9_SHINGLES


@query(
    "l11_dedup_clusters",
    f"""
    WITH RECURSIVE {_L9_SHINGLES}, p AS (
      SELECT a.doc_id AS id_l, b.doc_id AS id_r
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
              / len(list_distinct(list_concat(a.shs, b.shs))) >= 0.5
    ), e AS (
      SELECT id_l AS src, id_r AS dst FROM p
      UNION SELECT id_r, id_l FROM p
    ), reach AS (
      SELECT src AS id, src AS lab FROM e
      UNION
      SELECT e.dst, reach.lab FROM reach JOIN e ON e.src = reach.id
    )
    SELECT id, CAST(min(lab) AS BIGINT) AS cluster FROM reach GROUP BY id
    """,
)
def l11_dedup_clusters(spark, sf_dir):
    """Near-dup pairs -> duplicate GROUPS: connected components by star
    contraction over the exact Jaccard pairs (l9), labelled with the
    min doc id of each component. The oracle recomputes the same
    closure with a recursive CTE. Downstream dedup keeps one doc per
    cluster (min id = the canonical survivor)."""
    pairs = CATALOG["l9_ngram_jaccard"][0](spark, sf_dir)
    return connected_components_star(pairs, "id_l", "id_r").select(
        F.col("node").alias("id"), F.col("component").alias("cluster")
    )


@query(
    "l18_pagerank",
    """
    WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
    e AS (
      SELECT doc_id AS src, (doc_id * m) % nn.n AS dst
      FROM documents, nn, (VALUES (3), (5), (7)) v(m)
    ),
    r0 AS (SELECT doc_id AS id, 1.0 / nn.n AS pr FROM documents, nn),
    r1 AS (
      SELECT d.doc_id AS id,
             0.15 / nn.n + 0.85 * COALESCE(SUM(r.pr / 3), 0) AS pr
      FROM documents d CROSS JOIN nn
      LEFT JOIN e ON e.dst = d.doc_id LEFT JOIN r0 r ON r.id = e.src
      GROUP BY d.doc_id, nn.n
    ),
    r2 AS (
      SELECT d.doc_id AS id,
             0.15 / nn.n + 0.85 * COALESCE(SUM(r.pr / 3), 0) AS pr
      FROM documents d CROSS JOIN nn
      LEFT JOIN e ON e.dst = d.doc_id LEFT JOIN r1 r ON r.id = e.src
      GROUP BY d.doc_id, nn.n
    ),
    r3 AS (
      SELECT d.doc_id AS id,
             0.15 / nn.n + 0.85 * COALESCE(SUM(r.pr / 3), 0) AS pr
      FROM documents d CROSS JOIN nn
      LEFT JOIN e ON e.dst = d.doc_id LEFT JOIN r2 r ON r.id = e.src
      GROUP BY d.doc_id, nn.n
    ),
    r4 AS (
      SELECT d.doc_id AS id,
             0.15 / nn.n + 0.85 * COALESCE(SUM(r.pr / 3), 0) AS pr
      FROM documents d CROSS JOIN nn
      LEFT JOIN e ON e.dst = d.doc_id LEFT JOIN r3 r ON r.id = e.src
      GROUP BY d.doc_id, nn.n
    ),
    r5 AS (
      SELECT d.doc_id AS id,
             0.15 / nn.n + 0.85 * COALESCE(SUM(r.pr / 3), 0) AS pr
      FROM documents d CROSS JOIN nn
      LEFT JOIN e ON e.dst = d.doc_id LEFT JOIN r4 r ON r.id = e.src
      GROUP BY d.doc_id, nn.n
    )
    SELECT id, round(pr, 9) AS pr FROM r5
    """,
)
def l18_pagerank(spark, sf_dir):
    """L18: PageRank over a deterministic synthetic link graph (doc i
    links to i*3, i*5, i*7 mod N — every node has out-degree 3, so the
    oracle needs no dangling term). Web-corpus pipelines weight
    documents by source link authority (Common-Crawl-style domain
    ranking feeding quality sampling); the operator
    (operators/graph.pagerank) is the damped power iteration as two
    keyed shuffles per round with per-round cache rotation. The oracle
    unrolls the same five iterations in SQL; both sides round to 9 dp
    (the hash comparison's own granularity) so the equality is
    bitwise."""
    d = _t(spark, sf_dir, "documents")
    # max+1, not count(): ids are the modulus domain (matches the oracle
    # even if the id space ever grows sparse)
    n = d.agg(F.max("doc_id") + 1).first()[0]
    verts = d.select(F.col("doc_id").alias("id"))
    edges = d.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.array(*[(F.col("doc_id") * m) % n for m in (3, 5, 7)])
        ).alias("dst"),
    )
    # dangling=False is safe: every node has out-degree exactly 3 by
    # construction, so there is no sink mass to redistribute
    pr = pagerank(edges, verts, n_iter=5, damping=0.85, dangling=False)
    return pr.select("id", F.round("pr", 9).alias("pr"))


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
