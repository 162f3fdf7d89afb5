"""Link-graph analysis over an edge DataFrame: connected components by
star contraction, and PageRank.

:func:`connected_components_star` is the package's one
connected-components operator (near-dup clusters, entity-resolution
name graphs and event chains all go through it).

Web-scale training pipelines weight documents by the link authority of
their source (Common-Crawl-style domain ranking feeding quality
sampling); PageRank is the canonical such score. This is the
DataFrame-native formulation: each iteration is

    contribs = edges ⋈ ranks (on src)  →  groupBy(dst) sum
    ranks    = (1-d)/N + d · (contribs + dangling_mass/N)

two keyed shuffles per iteration (src-join, dst-agg), both map-side
combined — the shape that holds on a 100 TB edge list. Driver work per
iteration is one scalar (the dangling-mass sum), mirroring star-CC's
per-round convergence count. Ranks are cached per iteration and the
previous cache released, so lineage stays bounded across iterations.

No reference parity to cite: the reference (openalloc/FINporter) has no
graph surface; this exists for the training-data-pipeline operator
family (SURVEY.md §2 L-group). Formulation follows the public PageRank
literature (Brin & Page 1998; the damped power-iteration with uniform
teleport and dangling redistribution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components in O(log n) rounds by alternating
    large-star / small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).

    Min-label propagation would spend one round per hop: fine for
    near-dup clusters (dense, tiny diameter) but a scale-killer on
    HIGH-DIAMETER graphs — a 1M-node chain (user event timelines,
    linked-list-shaped provenance graphs) needs 1M rounds. Star
    contraction halves the effective diameter every alternation, so it
    needs O(log d) rounds, and round count is the cost under the MPC
    model. One alternation is:

    - **large-star** (per node u): hang every STRICTLY LARGER neighbor
      v > u onto m = min(Γ(u) ∪ {u});
    - **small-star** (per node u, over the high→low directed edges):
      hang every smaller-or-equal neighbor and u itself onto the
      minimum.

    Each phase is one keyed aggregation (min per node, map-combinable)
    plus one equi-join back onto the edges — corpus-sized but bounded
    fan-in, no task ever holds more than one node's neighbor minimum.
    Each round additionally PATH-HALVES the emitted pointers through
    the round's own min-forest (target m -> parent(m), one functional
    join — see the inline note), so the effective diameter shrinks
    faster than the star alternation alone. Convergence when the edge
    set is a union of disjoint stars (no node both source and target —
    a semi-join count per round; components are round-invariant, so
    that state is necessarily final and detected the round it is
    reached); state is localCheckpointed per round so lineage stays
    flat. The checkpoint
    is LAZY: the convergence count is the materializing action, so
    each round costs exactly one driver action — on local mode the
    round cost is fixed job overhead, and halving the job count halved
    the measured wall time (8.3 s → ~4 s at sf0.1 for l30). Running
    MORE rounds to save actions is a measured loss (see the loop
    note).

    Raises ``RuntimeError`` if ``max_iter`` rounds pass without
    reaching the disjoint-star state (wrong labels must never come
    back silently); at the default 50 that needs an effective diameter
    beyond 2^50 — unreachable. ``stats['converged']``/``stats['rounds']`` record the
    outcome for callers that pass a stats dict.

    Returns (node, component) for every node incident to an edge, with
    component = min node id in the component — the canonical label the
    SQL oracles' recursive closures produce. Self-loops are dropped, so
    a node whose only edges are self-loops never appears, and neither
    do isolated nodes (callers outer-join their node domain if needed).
    """
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _n_mid(df):
        # Convergence = the edge set is a union of disjoint stars, i.e.
        # NO node appears on both the source and the target side. This
        # detects the fixed point the round it is REACHED instead of
        # one round later (the previous signature-stability check had
        # to run one extra full contraction round to observe "nothing
        # changed"): components of the working edge set are invariant
        # across rounds, so a disjoint-star state is necessarily final,
        # and the high->low edge invariant makes each star's center its
        # component minimum — exactly the returned labels. This count
        # is also the action that materializes the round's lazy
        # localCheckpoint — still one job per round.
        return (
            df.join(
                df.select(F.col("u").alias("v")),
                "v",
                "leftsemi",
            ).count()
        )

    def _round(cur):
        # large-star over the symmetrized neighborhood
        sym = cur.unionAll(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least(F.col("mn"), F.col("u")).alias("m")
        )
        # NOTE (optimization round 1): no .distinct() here — it cost a
        # full (u, v) shuffle per round and is redundant: duplicate
        # (v, m) emissions (several neighbors u of v sharing one m)
        # cannot change small-star's min aggregate, and the duplicate
        # join fan-out they cause is removed by small's own .distinct()
        # below. Output set per round is IDENTICAL (pinned by the
        # chain/lattice tests + the l30/pipe7 value-hash oracles).
        # Effect: one corpus-sized Exchange fewer per round — the win
        # that matters at scale; locally ~3% (l30) / ~10% (pipe7)
        # because the local wall is stage-launch constants (profiled
        # round 14, NOTES #2), not shuffle bytes.
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # small-star over the high->low directed edges large-star emits
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        # path-halving (optimization round 2): compose every emitted
        # target ONE step through the round's own min-forest p = smins
        # (u -> m, m < u). p is functional (one row per key — a min
        # aggregate), so the left join below cannot fan out. Each
        # smins edge (u -> p(u)) becomes (u -> p(p(u))) — classic
        # pointer halving on a forest, which keeps every tree one
        # component (all pointers stay root-ward within the tree) —
        # and each neighbor edge (v -> m) becomes (v -> p(m)), i.e. v
        # re-attaches to an ancestor in m's own tree. Components are
        # exactly preserved, edges stay high->low (p(m) < m), and the
        # effective diameter shrinks by ~2x on top of the star
        # contraction's halving, so fewer rounds run (l30: 8 -> 5
        # measured; each round is ~6 stage launches locally and 4
        # corpus-sized exchanges at scale).
        p2 = smins.select(
            F.col("u").alias("_pu"), F.col("m").alias("_pm")
        )
        return (
            large.join(smins, "u")
            .select(F.col("v").alias("x"), "m")
            .unionAll(smins.select(F.col("u").alias("x"), "m"))
            .join(p2, F.col("m") == F.col("_pu"), "left")
            .select("x", F.coalesce("_pm", "m").alias("m"))
            .where(F.col("x") != F.col("m"))
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )

    # One signature job per round (the lazy checkpoint's materializing
    # action). An A/B in optimization round 1 also tried TWO rounds per
    # signature job to halve driver actions: under AQE every exchange
    # stage is already its own job, so the saved actions were nearly
    # free while convergence detection slipped to pair boundaries and
    # executed up to two extra (no-op, but stage-cost-bearing) rounds —
    # l30 measured 180 → 222 stages, 75 → 85 jobs. Kept at one round
    # per check: fewest rounds executed wins.
    converged = False
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        small = _round(e)
        mid = _n_mid(small)
        e = small
        if mid == 0:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    if not converged:
        raise RuntimeError(
            f"connected_components_star: no disjoint-star state after "
            f"max_iter={max_iter} rounds — labels would be wrong"
        )
    # converged: e is a star forest (node -> component min). No node
    # is both a u and a v (that is the exit test), so every v is a
    # root and labels itself
    roots = e.select(F.col("v").alias("node")).distinct()
    return e.select(
        F.col("u").alias("node"), F.col("v").alias("component")
    ).unionAll(
        roots.select("node", F.col("node").alias("component"))
    )


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    n_iter: int = 5,
    damping: float = 0.85,
    dangling: bool = True,
) -> DataFrame:
    """Fixed-iteration damped PageRank.

    ``edges``: (src, dst) rows — parallel edges count multiply, self
    loops allowed (both occur in real link graphs). ``vertices``: one
    row per node id (nodes with no in- or out-edges still hold rank).
    Returns (id, pr) with sum(pr) == 1 up to float error.

    Fixed ``n_iter`` (not convergence-tested) keeps the result exactly
    reproducible by the SQL oracle; production runs would loop on an
    L1-delta threshold instead — same per-iteration plan.

    ``dangling=False`` skips the per-round dangling-mass job for graphs
    the caller KNOWS have no sink nodes (one Spark job per round saved;
    with sinks present it would leak rank mass — leave it on unless the
    out-degree floor is structural, as in l18's synthetic graph).

    The loop-invariant inputs (edges joined to out-degree) are cached
    once and released before returning; rank state is localCheckpointed
    per round to keep the logical plan flat (see inline note).
    """
    n = vertices.count()
    verts = vertices.select(F.col(id_col).alias("id"))
    out_deg = edges.groupBy(F.col(src).alias("id")).agg(
        F.count("*").alias("deg")
    )
    # loop-invariant: every iteration re-reads the edge list with its
    # out-degree attached — cache it once instead of re-running the
    # degree shuffle per round (at scale this is THE dominant input;
    # a real deployment would persist it as a bucketed table instead)
    edges_deg = edges.join(
        out_deg.withColumnRenamed("id", src), src
    ).select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"), "deg").cache()
    ranks = verts.withColumn("pr", F.lit(1.0 / n)).localCheckpoint(
        eager=False
    )
    try:
        for it in range(n_iter):
            # rank mass leaving each node, split across its out-edges
            contribs = (
                edges_deg.join(ranks, edges_deg.e_src == ranks.id)
                .select(
                    F.col("e_dst").alias("id"),
                    (F.col("pr") / F.col("deg")).alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").alias("c"))
            )
            # dangling nodes (no out-edges) spread their mass uniformly
            d_mass = 0.0
            if dangling:
                d_mass = (
                    ranks.join(out_deg, "id", "left_anti")
                    .agg(F.coalesce(F.sum("pr"), F.lit(0.0)))
                    .first()[0]
                )
            new_ranks = verts.join(contribs, "id", "left").select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(d_mass / n))
                ).alias("pr"),
            )
            # localCheckpoint, not cache: an iterative plan that only
            # caches still GROWS its logical tree every round (each
            # analysis re-walks the whole history — measured minutes at
            # 20 rounds even on a 4-node graph). Checkpointing truncates
            # lineage to the materialized partitions; rank state is
            # ~n rows of (long, double), trivially small next to edges.
            # (local = executor-disk; a production run on a real cluster
            # would point spark.checkpoint.dir at the DFS instead.)
            # LAZY (optimization round 1): localCheckpoint truncates
            # the logical plan at call time either way; lazy defers the
            # job, so with dangling=False all n_iter rounds execute
            # inside one job (zero per-round driver barriers), and
            # with dangling=True the per-round d_mass scalar is the
            # materializing action — one job per round instead of two.
            # The LAST round stays eager so the whole chain executes
            # while the edges_deg cache is still persisted (the
            # finally-unpersist below runs before any caller action
            # would); same expressions, same results.
            ranks = new_ranks.localCheckpoint(eager=(it == n_iter - 1))
        return ranks
    finally:
        edges_deg.unpersist()
