"""Similarity search over embedding columns (SURVEY §2B L3).

Embeddings are ``array<float>`` columns. All math uses built-in
higher-order functions (``zip_with`` + ``aggregate``) — JVM-side, no
Python. One implementation per method:

- ``brute_force_knn`` — exact baseline: score every (query, candidate)
  pair. Correct at any scale IF the query side is small enough to
  broadcast; cost O(|Q|·|N|) but embarrassingly parallel (map-only over
  the candidate table — no shuffle for scoring, one top-k shuffle).
- ``lsh_bucket_knn_exact_probe`` — random-hyperplane (sign) LSH buckets
  candidates; queries probe their margin-ordered buckets, turning the
  crossJoin into an equi-join. Recall is tunable via planes/tables/probes.
- ``ivf_knn_det`` — IVF: coarse k-means cells, queries probe their
  nearest cells.
- ``ivfadc_topk`` / ``ivfadc_residual_topk`` — IVF cells + PQ codes with
  an exact re-rank; ``ivfadc_plan`` sizes and types them from the corpus.

Every approximate path pins its decisions (6 dp rounds, lowest-index
ties, left-folded sums) so a DuckDB oracle grades it by full value hash.
Corpus-derived state (quantizers, codebooks, codes) is cached on disk by
``caching.load_or_build``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F

from finporter_spark.caching import load_or_build


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def brute_force_knn(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    round_dp: int | None = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is broadcast (small by contract); scoring is then a
    map-only pass over candidates, and the only shuffle is the per-query
    top-k window. Ranking rounds the score to ``round_dp`` and tiebreaks
    on candidate id so results are deterministic across engines and
    partitionings.
    """
    # norms are precomputed per vector, not per pair: the O(|Q|*|N|)
    # scoring loop then does one dot product per pair instead of three
    q = queries.select(
        F.col(q_id),
        F.transform(q_vec, lambda x: x.cast("double")).alias("_qv"),
    ).withColumn("_qn", _norm(F.col("_qv")))
    c = candidates.select(
        F.col(c_id),
        F.transform(c_vec, lambda x: x.cast("double")).alias("_cv"),
    ).withColumn("_cn", _norm(F.col("_cv")))
    scored = F.broadcast(q).crossJoin(c).select(
        q_id,
        c_id,
        (_dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn"))).alias(
            "cosine"
        ),
    )
    if round_dp is not None:
        scored = scored.withColumn("cosine", F.round("cosine", round_dp))
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(dim: int, plane_idx: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane (pure Python,
    driver-side, tiny). Simple LCG so no RNG dependency ambiguity."""
    vals = []
    state = (seed * 1_103_515_245 + plane_idx * 12_345 + 42) & 0x7FFFFFFF
    for _ in range(dim):
        state = (state * 1_103_515_245 + 12_345) & 0x7FFFFFFF
        vals.append((state / 0x7FFFFFFF) * 2.0 - 1.0)
    return vals


def _sql_double_array(vals: list[float]) -> str:
    """Inline SQL array literal. Python float repr is shortest-roundtrip,
    so the parsed double is bit-identical to the F.lit it replaces —
    but ONE parser call instead of len(vals) py4j literal calls (the
    py4j route cost ~40 ms per 64-wide array and dominated l3/l22 plan
    CONSTRUCTION: 4.6 s of driver time before the first task)."""
    return "array(" + ",".join(f"{float(v)!r}D" for v in vals) + ")"


def _proj_sql(name: str, plane: list[float]) -> str:
    """Spark-SQL expr for vec·plane as a SEQUENTIAL left fold
    (``0.0 + x1*y1 + x2*y2 + ...`` in element order). The fold order is
    part of the cross-engine contract: a DuckDB oracle stating the same
    left-associated sum over the same double literals reproduces the
    projection bit-for-bit, which is what lets sign/margin comparisons
    (no rounding) gate on a full value hash."""
    v = f"transform(`{name}`, x -> cast(x as double))"
    return (
        f"aggregate(zip_with({v}, {_sql_double_array(plane)},"
        " (x, y) -> x * y), 0.0D, (a, x) -> a + x)"
    )


def _sign_lsh_bucket_sql(name: str, planes: list[list[float]]) -> str:
    """Bucket id = bit-pattern of sign(vec · plane) over all planes, as
    one SQL string (see :func:`_sql_double_array`)."""
    parts = []
    for i, p in enumerate(planes):
        proj = _proj_sql(name, p)
        parts.append(
            f"(CASE WHEN {proj} > 0.0D THEN {1 << i}L ELSE 0L END)"
        )
    return "(" + " | ".join(parts) + ")"


def lsh_bucket_knn_exact_probe(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 9,
    n_tables: int = 7,
    n_probes: int = 26,
    seed: int = 42,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    _return_scored_pairs: bool = False,
) -> DataFrame:
    """Margin-ordered multi-probe multi-table sign-LSH kNN with the
    probe selection computed ENTIRELY in deterministic JVM expressions
    — no Python stage, and every comparison (plane sign, probe-mask
    margin score, cosine rank) is a sequential-fold double expression a
    DuckDB oracle can restate verbatim, so the catalog query is graded
    by FULL value hash despite being an approximate operator.

    Multi-probe LSH (Lv et al., VLDB'07): a missed neighbor most likely
    differs in the planes where the query's projection margin is
    smallest, so each query probes the ``n_probes`` buckets whose
    flipped planes have the smallest summed squared margins, in each of
    ``n_tables`` independent hash tables:

    - probe enumeration is a crossJoin of the (tiny, broadcast) query
      side with the 2^n_planes mask range + one window rank per
      (query, table) — |Q|·L·2^p rows, all JVM;
    - every double sum (projections, margin scores, dot products) is a
      left-associated sequential fold over literal hyperplanes
      (:func:`_proj_sql`), bit-identical cross-engine.

    Scale shape is unchanged: candidate hashing is map-only per table,
    the probe side broadcasts, and the bucket join is an equi-join on
    (table, bucket) — shuffle ∝ L·(|Q|+|N|), never |Q|·|N|.
    """
    nmask = 1 << n_planes
    table_planes = [
        [_hyperplane(dim, i, seed + 1000 * t) for i in range(n_planes)]
        for t in range(n_tables)
    ]
    # ---- candidate side: (table, bucket) per vector, pure JVM --------
    # ONE select with inline(array(struct(table, bucket)...)) instead of
    # an L-branch union: the union form scanned the candidate parquet
    # once PER TABLE (7 corpus scans at the l3_lsh dial — the cost that
    # matters at 100 TB) and paid L expression-parse + py4j rounds of
    # driver time (~half the local wall). Same rows, same values: the
    # per-table bucket expressions are the identical SQL text, inline
    # emits one row per table per vector exactly as the union did.
    c_tables = ", ".join(
        f"struct(CAST({t} AS INT) AS table,"
        f" {_sign_lsh_bucket_sql(c_vec, planes)} AS bucket)"
        for t, planes in enumerate(table_planes)
    )
    cb = candidates.select(
        F.col(c_id),
        F.transform(c_vec, lambda x: x.cast("double")).alias("_cv"),
        F.expr(f"inline(array({c_tables}))"),
    ).withColumn("_cn", _norm(F.col("_cv")))
    # ---- query side: base code + margin array per table --------------
    q_tables = ", ".join(
        "struct(CAST({t} AS INT) AS table, array({projs}) AS _pr)".format(
            t=t, projs=", ".join(_proj_sql(q_vec, p) for p in planes)
        )
        for t, planes in enumerate(table_planes)
    )
    qb = queries.select(
        F.col(q_id),
        F.transform(q_vec, lambda x: x.cast("double")).alias("_qv"),
        F.expr(f"inline(array({q_tables}))"),
    )
    code_terms = " | ".join(
        f"(CASE WHEN element_at(_pr, {i + 1}) > 0.0D THEN {1 << i}L"
        " ELSE 0L END)"
        for i in range(n_planes)
    )
    qb = qb.withColumn("_code", F.expr(f"({code_terms})")).withColumn(
        "_qn", _norm(F.col("_qv"))
    )
    # ---- probe enumeration: best n_probes masks by margin score ------
    spark = queries.sparkSession
    masks = spark.range(nmask).select(F.col("id").alias("_mask"))
    score_terms = " + ".join(
        f"(CASE WHEN ((_mask >> {j}) & 1) = 1 THEN"
        f" element_at(_pr, {j + 1}) * element_at(_pr, {j + 1})"
        " ELSE 0.0D END)"
        for j in range(n_planes)
    )
    qm = qb.crossJoin(F.broadcast(masks)).withColumn(
        "_score", F.expr(f"(0.0D + {score_terms})")
    )
    wp = Window.partitionBy(q_id, "table").orderBy(
        F.col("_score").asc(), F.col("_mask").asc()
    )
    probes = (
        qm.withColumn("_rn", F.row_number().over(wp))
        .filter(F.col("_rn") <= n_probes)
        .select(
            q_id,
            "_qv",
            "_qn",
            "table",
            F.col("_code").bitwiseXOR(F.col("_mask")).alias("bucket"),
        )
    )
    # ---- bucket join + exact cosine rank ------------------------------
    scored = (
        F.broadcast(probes)
        .join(cb, ["table", "bucket"])
        .select(
            q_id,
            c_id,
            F.round(
                _dot(F.col("_qv"), F.col("_cv"))
                / (F.col("_qn") * F.col("_cn")),
                6,
            ).alias("cosine"),
        )
        .dropDuplicates([q_id, c_id])
    )
    if _return_scored_pairs:
        return scored
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(c_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_exact_probe_oracle_sql(
    dim: int,
    k: int = 5,
    n_planes: int = 9,
    n_tables: int = 7,
    n_probes: int = 26,
    seed: int = 42,
    query_pred: str = "vec_id < 10",
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB oracle for :func:`lsh_bucket_knn_exact_probe` — the same
    pipeline as a CTE chain, with every double sum written as the same
    left-associated sequential fold over the same literal hyperplanes
    (generated here from the same :func:`_hyperplane` LCG), so sign,
    margin, and cosine comparisons are bit-identical cross-engine."""
    nmask = 1 << n_planes
    table_planes = [
        [_hyperplane(dim, i, seed + 1000 * t) for i in range(n_planes)]
        for t in range(n_tables)
    ]

    def dot_terms(a: str, b_vals: list[float]) -> str:
        return " + ".join(
            f"{a}[{d + 1}]*CAST({float(w)!r} AS DOUBLE)"
            for d, w in enumerate(b_vals)
        )

    pr_selects = "\n      UNION ALL\n      ".join(
        f"SELECT {id_col}, {t} AS tbl, "
        + ", ".join(
            f"(0.0 + {dot_terms('vd', p)}) AS p{i}"
            for i, p in enumerate(planes)
        )
        + " FROM e"
        for t, planes in enumerate(table_planes)
    )
    code_expr = " + ".join(
        f"(CASE WHEN p{i} > 0.0 THEN CAST({1 << i} AS BIGINT)"
        " ELSE CAST(0 AS BIGINT) END)"
        for i in range(n_planes)
    )
    score_expr = "0.0 + " + " + ".join(
        f"(CASE WHEN (mask >> {j}) & 1 = 1 THEN p{j}*p{j} ELSE 0.0 END)"
        for j in range(n_planes)
    )
    pcols = ", ".join(f"p{i}" for i in range(n_planes))
    selfdot = " + ".join(f"vd[{d + 1}]*vd[{d + 1}]" for d in range(dim))
    pairdot = " + ".join(
        f"q.vd[{d + 1}]*c.vd[{d + 1}]" for d in range(dim)
    )
    return f"""
    WITH e AS (
      SELECT {id_col}, list_transform({vec_col},
             x -> CAST(x AS DOUBLE)) AS vd
      FROM {table}
    ), nr AS (
      SELECT {id_col}, vd, sqrt(0.0 + {selfdot}) AS nn FROM e
    ), pr AS (
      {pr_selects}
    ), code AS (
      SELECT {id_col}, tbl, ({code_expr}) AS bucket, {pcols} FROM pr
    ), qp AS (
      SELECT {id_col} AS q_id, tbl, bucket, {pcols}
      FROM code WHERE {query_pred}
    ), mk AS (
      SELECT unnest(generate_series(0, {nmask - 1})) AS mask
    ), sc AS (
      SELECT q_id, tbl, xor(bucket, CAST(mask AS BIGINT)) AS bucket,
             row_number() OVER (PARTITION BY q_id, tbl
               ORDER BY ({score_expr}) ASC, mask ASC) AS rn
      FROM qp CROSS JOIN mk
    ), pb AS (
      SELECT q_id, tbl, bucket FROM sc WHERE rn <= {n_probes}
    ), cand AS (
      SELECT DISTINCT pb.q_id, c.{id_col}
      FROM pb JOIN code c ON c.tbl = pb.tbl AND c.bucket = pb.bucket
    ), scored AS (
      SELECT cand.q_id, cand.{id_col},
             round((0.0 + {pairdot}) / (q.nn * c.nn), 6) AS cosine
      FROM cand
      JOIN nr q ON q.{id_col} = cand.q_id
      JOIN nr c ON c.{id_col} = cand.{id_col}
    )
    SELECT q_id, {id_col}, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT q_id, {id_col}, cosine,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cosine DESC, {id_col}) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def blocked_allpairs_cosine(
    vectors: DataFrame,
    threshold: float,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """EXACT all-pairs cosine above ``threshold`` via block-matrix tiling.

    Dense similarity at a low threshold is intrinsically O(n^2) — no
    geometric blocking (sign-LSH, IVF) separates cosine 0.4 from 0.0 on an
    isotropic corpus (measured: >=33% candidate fraction for 0.83 recall).
    The scalable formulation keeps the quadratic WORK but bounds memory and
    shuffle: split the corpus into B blocks, enumerate the B(B+1)/2
    unordered block pairs, and score each tile with one BLAS matmul inside
    a cogrouped Arrow batch.

    Scale shape: each row is replicated to its B+1 tiles (shuffle ∝ n·B,
    never n^2); a task holds two blocks (2n/B vectors), so B is chosen to
    fit executor memory; tiles are independent → embarrassingly parallel
    across B(B+1)/2 tasks. The Python boundary is one numpy matmul per
    tile — Arrow-batched, BLAS-backed, ~100x fewer interpreter crossings
    than per-pair lambda scoring.

    Contract: ``id_col`` must be integral (the output schema is
    ``id_l bigint, id_r bigint`` and the pair is canonicalized by numeric
    min/max); all-zero embeddings are defined to have cosine 0 with
    everything (norms are clamped at 1e-12, so they never pass a positive
    threshold and never emit NaN).
    """
    v = vectors.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
        .cast("int")
        .alias("_blk"),
    )
    # a row in block p is the LEFT side of tiles (p, p..B-1) and the RIGHT
    # side of tiles (0..p, p): pure explode, no self-join (and no
    # ambiguous-lineage trap inside the cogroup)
    left = v.select(
        F.col("_blk").alias("ba"),
        F.explode(
            F.sequence(F.col("_blk"), F.lit(n_blocks - 1))
        ).alias("bb"),
        "_id",
        "_v",
    )
    right = v.select(
        F.explode(F.sequence(F.lit(0), F.col("_blk"))).alias("ba"),
        F.col("_blk").alias("bb"),
        "_id",
        "_v",
    )

    def score(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = key
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"id_l": [], "id_r": [], "cosine": []}).astype(
                {"id_l": "int64", "id_r": "int64", "cosine": "float64"}
            )
        A = np.asarray(lpdf["_v"].tolist(), dtype=np.float64)
        B = np.asarray(rpdf["_v"].tolist(), dtype=np.float64)
        # clamp zero norms: an all-zero vector scores cosine 0 (below any
        # positive threshold) instead of NaN-poisoning its row of the tile
        A /= np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
        B /= np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-12)
        S = A @ B.T
        la = lpdf["_id"].to_numpy()
        rb = rpdf["_id"].to_numpy()
        if ba == bb:
            # diagonal tile: dedupe within the block by id order
            mask = (S >= threshold) & (la[:, None] < rb[None, :])
        else:
            mask = S >= threshold
        i, j = np.nonzero(mask)
        il, ir = la[i], rb[j]
        lo, hi = np.minimum(il, ir), np.maximum(il, ir)
        return pd.DataFrame(
            {"id_l": lo, "id_r": hi, "cosine": np.round(S[i, j], round_dp)}
        )

    return (
        left.groupBy("ba", "bb")
        .cogroup(right.groupBy("ba", "bb"))
        .applyInPandas(score, "id_l bigint, id_r bigint, cosine double")
    )


# ---------------------------------------------------------------------------
# Deterministic k-means + SemDeDup-style semantic dedup (SURVEY §2B-ext L22)
# ---------------------------------------------------------------------------

def _sq_dist_array_sql(
    vec_sql: str,
    book: list[list[float]],
    cast_x: bool = False,
) -> str:
    """SQL text for ``array(round(d²(vec, c_0), 6), …)`` over every
    centroid of ``book``: each squared L2 distance is folded
    left-to-right exactly like DuckDB's list_sum, so cross-engine drift
    stays at fold-order level (~1e-13, absorbed by the 6 dp round). The
    WHOLE k-entry array is one parser call; per-centroid Column
    construction cost ~k×dim py4j round-trips — measured 3.5-5 s per
    ANN catalog entry at m×k=64 LUT entries, vs ~1 s of actual
    execution. ``cast_x`` inserts the CAST(x AS DOUBLE) the float-array
    callers (raw embedding columns) apply inside the lambda."""
    x = "CAST(x AS DOUBLE)" if cast_x else "x"
    entries = ",".join(
        "round(aggregate(zip_with("
        + vec_sql
        + ", "
        + _sql_double_array(c)
        + f", (x, y) -> ({x} - y) * ({x} - y)), 0.0D, "
        "(acc, v) -> acc + v), 6)"
        for c in book
    )
    return f"array({entries})"


def load_or_train_centroids_det(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_centroids: int = 16,
    iters: int = 3,
    cache_path: str | None = None,
    fingerprint: str | None = None,
) -> list[list[float]]:
    """Coarse quantizer as dataset state: trained by :func:`kmeans_fit`
    (smallest-id init, 6 dp-rounded distances and means) so an
    independent engine unrolling the same Lloyd rounds in SQL reproduces
    the centroids bit-for-bit — which is what lets the IVF catalog query
    carry a full value-hash oracle — then persisted as a tiny parquet
    (n_centroids x dim doubles) and reused across queries and sessions.

    ``fingerprint``: stamp of the SOURCE corpus (the
    :func:`load_or_build_ivfadc_codes` contract) — the quantizer is
    corpus-DERIVED, so after a testdata regeneration a stale quantizer
    must retrain, not silently feed wrong cells to everything
    downstream (the codes-cache guard is only as strong as the caches
    it derives from). Cache rules: :func:`caching.load_or_build`."""
    spark = vectors.sparkSession

    def read():
        rows = spark.read.parquet(cache_path).collect()
        if len(rows) != n_centroids:
            return None
        out: list[list[float]] = [None] * n_centroids  # type: ignore
        for r in rows:
            out[r.cid] = list(r.vec)
        if all(v is not None and len(v) == dim for v in out):
            return out
        return None

    def build(path):
        centroids = kmeans_fit(
            vectors, id_col, vec_col, k=n_centroids, iters=iters
        )
        if path is not None:
            spark.createDataFrame(
                [(i, c) for i, c in enumerate(centroids)],
                "cid int, vec array<double>",
            ).coalesce(1).write.mode("overwrite").parquet(path)
        return centroids

    return load_or_build(cache_path, fingerprint, build, read)


def ivf_knn_det(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 3,
    q_id: str = "q_id",
    c_id: str = "vec_id",
    q_vec: str = "embedding",
    c_vec: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate kNN: coarse-quantize candidates into inverted
    lists, probe only the ``n_probe`` nearest lists per query, so scored
    pairs shrink ~n_centroids / n_probe-fold vs brute force.

    Every engine-dependent decision is pinned: assignment and probe
    selection use :func:`_cell_dists`' 6 dp-rounded distances with
    lowest-index tie-breaks (pure JVM expressions), so given
    :func:`kmeans_fit`-style centroids a DuckDB oracle makes
    bit-identical probe/assign decisions and the catalog query is graded
    by FULL value hash.

    Scale shape: candidate bucketing is a map-only projection over
    centroid literals, queries broadcast, and the probe join is an
    equi-join on list id. Pass pre-trained ``centroids`` (see
    :func:`load_or_train_centroids_det`) to skip the Lloyd rounds.
    """
    if centroids is None:
        centroids = kmeans_fit(
            candidates, c_id, c_vec, k=n_centroids, iters=iters
        )
    cb = _assign_cells(
        candidates.select(
            F.col(c_id),
            F.transform(c_vec, lambda x: x.cast("double")).alias("_cv"),
        ),
        centroids,
        vec_col="_cv",
        out_cluster="cid",
        out_dist="_d",
    ).drop("_d").withColumn("_cn", _norm(F.col("_cv")))
    dists = _cell_dists("_qv", centroids)
    qd = (
        queries.select(
            F.col(q_id),
            F.transform(q_vec, lambda x: x.cast("double")).alias("_qv"),
        )
        .withColumn("_qn", _norm(F.col("_qv")))
        .select(
            q_id, "_qv", "_qn", F.posexplode(dists).alias("cid", "_d")
        )
    )
    wq = Window.partitionBy(q_id).orderBy(
        F.col("_d").asc(), F.col("cid").asc()
    )
    probes = (
        qd.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= n_probe)
        .select(q_id, "_qv", "_qn", "cid")
    )
    scored = (
        F.broadcast(probes)
        .join(cb, "cid")
        .select(
            q_id,
            c_id,
            F.round(
                _dot(F.col("_qv"), F.col("_cv"))
                / (F.col("_qn") * F.col("_cn")),
                6,
            ).alias("cosine"),
        )
        .dropDuplicates([q_id, c_id])
    )
    w = Window.partitionBy(q_id).orderBy(F.col("cosine").desc(), F.col(c_id))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "_ed",
    out_cluster: str = "cluster",
    out_dist: str = "dist2",
) -> DataFrame:
    """Assign every row to its nearest centroid — entirely JVM-side.

    The centroid list is tiny (k x dim) so it rides into the plan as
    literals: the assignment is a map-only projection (no shuffle, no
    broadcast join, no UDF), which is the 100 TB-correct shape — the
    scan is the only cost. Distances are rounded to 6 dp BEFORE the
    argmin and ties break on the lowest centroid index, so an
    independent engine (the DuckDB oracle) makes bit-identical
    decisions despite float fold-order drift."""
    return _assign_from(
        df,
        F.expr(_sq_dist_array_sql(f"`{vec_col}`", centroids)),
        out_cluster,
        out_dist,
    )


def _assign_from(
    df: DataFrame, dists: Column, out_cluster: str, out_dist: str
) -> DataFrame:
    """Argmin (lowest index on ties) and min of a per-row distance
    array: the decision shared by every cell-assignment path."""
    return df.withColumn("_dists", dists).select(
        "*",
        (F.array_position("_dists", F.array_min("_dists")) - 1)
        .cast("int")
        .alias(out_cluster),
        F.array_min("_dists").alias(out_dist),
    ).drop("_dists")


# above this many centroids the k-separate-literal-trees plan shape is
# compile-bound; the flat single-array-literal formulation takes over
# (decision-EXACT parity between the two — tests/test_semantic.py)
FLAT_ASSIGN_K = 96


def _sq_dist_array_flat(vec_col: str, centroids: list[list[float]]) -> Column:
    """All-centroid squared-distance array from ONE flat array literal:
    the k-independent plan core of :func:`kmeans_assign_flat` and the
    large-k branch of :func:`_cell_dists`. Same left fold, same 6 dp
    round as :func:`_sq_dist_array_sql` per element."""
    k = len(centroids)
    dim = len(centroids[0])
    cells = F.expr(_sql_double_array([v for c in centroids for v in c]))
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda j: F.round(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.slice(cells, j * dim + 1, dim),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        ),
    )


def kmeans_assign_flat(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "_ed",
    out_cluster: str = "cluster",
    out_dist: str = "dist2",
) -> DataFrame:
    """Large-k sibling of :func:`kmeans_assign` with the IDENTICAL
    decision contract (left-folded squared distance over the same
    double literals, 6 dp round BEFORE the argmin, ties to the lowest
    centroid index — parity is asserted exactly in
    ``tests/test_semantic.py``), but a plan whose size is O(1) in k.

    :func:`kmeans_assign` inlines k separate aggregate/zip_with trees,
    which is the right shape up to a few hundred centroids and a
    plan-compile ceiling beyond (SCALING.md). Here the whole centroid
    table rides as ONE flat ``array<double>`` literal — parsed in a
    single call and constant-folded by Catalyst to a single ArrayData
    before codegen — and the per-centroid distances come from one
    ``transform`` over cell indices with ``slice`` picking each
    centroid's window. Still map-only: no shuffle, no broadcast join,
    no UDF; use it when the coarse quantizer grows past the literal
    path's ceiling (e.g. sqrt(N) IVF cells at large corpus sizes)."""
    return _assign_from(
        df, _sq_dist_array_flat(vec_col, centroids), out_cluster, out_dist
    )


def _cell_dists(vec_col: str, centroids: list[list[float]]) -> Column:
    """6 dp-rounded squared distances from ``vec_col`` to every
    centroid: the literal-tree form up to :data:`FLAT_ASSIGN_K`
    centroids, the flat form past it (identical values, O(1) plan in
    k). The threshold is read per call."""
    if len(centroids) > FLAT_ASSIGN_K:
        return _sq_dist_array_flat(vec_col, centroids)
    return F.expr(_sq_dist_array_sql(f"`{vec_col}`", centroids))


def _assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "_ed",
    out_cluster: str = "cluster",
    out_dist: str = "dist2",
) -> DataFrame:
    """:func:`kmeans_assign` or, past :data:`FLAT_ASSIGN_K` centroids,
    :func:`kmeans_assign_flat` (see :func:`_cell_dists`)."""
    return _assign_from(
        df, _cell_dists(vec_col, centroids), out_cluster, out_dist
    )


def _fit_cached(emb: DataFrame, k: int, iters: int) -> list[list[float]]:
    """Lloyd loop over an already-cached (_id, _ed) projection."""
    init = (
        emb.orderBy("_id")
        .limit(k)
        # round in-engine: F.round (HALF_UP) matches the oracle's ROUND,
        # Python's round() is banker's and would diverge on exact halves
        .select("_id", F.transform("_ed", lambda x: F.round(x, 6)).alias("_ed"))
        .orderBy("_id")
        .collect()
    )
    centroids = [[float(v) for v in r["_ed"]] for r in init]
    for _ in range(iters):
        assigned = _assign_cells(emb, centroids)
        means = (
            assigned.select("cluster", F.posexplode("_ed").alias("i", "x"))
            .groupBy("cluster", "i")
            .agg(F.round(F.avg("x"), 6).alias("v"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("i", "v"))).alias("s"))
            .collect()
        )
        new_c = {r["cluster"]: [p["v"] for p in r["s"]] for r in means}
        centroids = [new_c.get(c, centroids[c]) for c in range(k)]
    return centroids


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
) -> list[list[float]]:
    """Deterministic Lloyd's k-means: init = the k rows with the smallest
    ids, then ``iters`` assign/update rounds. Every update is one keyed
    shuffle (posexplode -> groupBy(cluster, dim) -> avg) and the only
    driver-side state is the k x dim centroid table (the IVF-centroid
    pattern — at 100 TB that is still a few KB). Centroid means are
    rounded to 6 dp each round so independent engines converge to
    bit-identical centroids; empty clusters keep their previous
    centroid."""
    emb = df.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_ed"),
    ).cache()
    try:
        return _fit_cached(emb, k, iters)
    finally:
        emb.unpersist()


def _within_cluster_dup_ids(assigned: DataFrame, threshold: float) -> DataFrame:
    """Ids that have a LOWER-id neighbor with cosine >= threshold in the
    same cluster. Per-cluster chunked BLAS (the l19 idea with the cluster
    as the block key): each group sorts by id, normalizes once, then
    walks 1024-row chunks of the similarity matrix — task memory is
    O(chunk x block), never block². Zero-norm rows are clamped to eps so
    they produce 0-cosines instead of NaNs (they can still BE duplicates
    of nothing, but never silently poison the mask)."""
    import pandas as pd  # noqa: F811 — keep the worker import explicit

    def find_dups(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_id").reset_index(drop=True)
        m = np.asarray(pdf["_ed"].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(m, axis=1)
        m = m / np.maximum(nrm, 1e-12)[:, None]
        n = len(pdf)
        dup = np.zeros(n, dtype=bool)
        chunk = 1024
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            s = m[lo:hi] @ m.T  # (chunk, n)
            # pair (i, j) counts iff i < j: mask out j <= i
            cols = np.arange(n)[None, :]
            rows = np.arange(lo, hi)[:, None]
            hits = (s >= threshold) & (cols > rows)
            dup |= hits.any(axis=0)
        return pdf.loc[dup, ["_id"]]

    return assigned.select("cluster", "_id", "_ed").groupBy("cluster").applyInPandas(
        find_dups, schema="_id long"
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space with k-means, then mark near-duplicates WITHIN each
    cluster — a row is kept iff no lower-id row in its cluster has
    cosine >= threshold. The cluster key turns the quadratic all-pairs
    scan into per-cluster blocks scored by chunked BLAS
    (one Arrow group per cluster; task memory O(chunk x block)); at
    100 TB k scales with n (SemDeDup uses n/1000-ish) so blocks stay
    bounded, and an oversized block falls back to l19's tiled-BLAS
    formulation. Returns (id, cluster, dist2, kept)."""
    emb = df.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_ed"),
    ).cache()
    centroids = _fit_cached(emb, k, iters)
    assigned = kmeans_assign(emb, centroids)
    dup_ids = _within_cluster_dup_ids(assigned, threshold).withColumn(
        "_dup", F.lit(True)
    )
    return assigned.join(dup_ids, "_id", "left").select(
        F.col("_id").alias(id_col),
        "cluster",
        F.round("dist2", 6).alias("dist2"),
        F.coalesce(~F.col("_dup"), F.lit(True)).alias("kept"),
    )


# ---------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN
# ---------------------------------------------------------------------


def pq_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
) -> list[list[list[float]]]:
    """Train a product-quantization codebook (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    vector into ``m`` contiguous subspaces and run the DETERMINISTIC
    k-means (:func:`kmeans_fit` — init = k smallest ids, 6 dp-rounded
    means, lowest-index tie-break) independently per subspace.

    Returns ``m`` codebooks of ``k`` centroids each — driver state is
    m × k × (dim/m) floats (~4 KB at 64-dim), the IVF-centroid pattern.
    Cost: m × iters keyed shuffles over the corpus, each a
    posexplode → groupBy(cluster, dim) mean — all map-combinable.

    ``dim`` must be divisible by ``m``: the subspaces are contiguous
    equal-width slices, and a remainder would silently drop the
    trailing dimensions from training and ADC scoring while
    :func:`pq_rerank` scores full vectors — inconsistent distances
    with no error. Misuse fails loudly instead."""
    dim = df.select(F.size(F.col(vec_col)).alias("d")).head()["d"]
    if dim % m != 0:
        raise ValueError(
            f"pq_fit: dim={dim} is not divisible by m={m} subspaces — "
            "the trailing dim % m dimensions would be silently dropped "
            "from the codebooks and ADC distances. Pick m | dim (or pad "
            "the vectors)."
        )
    sub = dim // m
    books = []
    for i in range(m):
        sliced = df.select(
            F.col(id_col).alias("_pid"),
            F.slice(F.col(vec_col), i * sub + 1, sub).alias("_sub"),
        )
        books.append(kmeans_fit(sliced, "_pid", "_sub", k=k, iters=iters))
    return books


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """Encode every vector to ``m`` small-int codes (nearest centroid
    per subspace, 6 dp-rounded distances, lowest-index tie-break —
    bit-identical decisions to the SQL oracle). Map-only: the codebook
    rides as literals, no shuffle, no UDF. Adds columns ``_c0.._c{m-1}``.

    At 100 TB this is THE point of PQ: the corpus persists as
    (id, m bytes) instead of (id, dim floats) — a 64× compression that
    turns the ANN scan into a compressed-domain linear pass."""
    out = df
    m = len(codebooks)
    sub = len(codebooks[0][0])
    for i, book in enumerate(codebooks):
        # one SQL parser call per subspace instead of k×sub py4j literal
        # calls — expression-identical, construction-time only (see
        # _sq_dist_array_sql)
        dists = F.expr(
            _sq_dist_array_sql(
                f"slice(`{vec_col}`, {i * sub + 1}, {sub})",
                book,
                cast_x=True,
            )
        )
        out = out.withColumn(f"_pqd{i}", dists).withColumn(
            f"_c{i}",
            (F.array_position(f"_pqd{i}", F.array_min(f"_pqd{i}")) - 1)
            .cast("int"),
        ).drop(f"_pqd{i}")
    return out


def _pq_query_luts(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """(query_id, _qv, _lut0.._lut{m-1}): per-query ADC lookup tables —
    the m × k subspace distances to every centroid, 6 dp-rounded,
    map-only (codebooks ride as literals). Shared by :func:`pq_topk`
    and :func:`ivfadc_topk`."""
    sub = len(codebooks[0][0])
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    for i, book in enumerate(codebooks):
        # one SQL parser call per subspace LUT instead of k×sub py4j
        # literal calls — expression-identical (see _sq_dist_array_sql)
        q = q.withColumn(
            f"_lut{i}",
            F.expr(
                _sq_dist_array_sql(
                    f"slice(`_qv`, {i * sub + 1}, {sub})",
                    book,
                    cast_x=True,
                )
            ),
        )
    return q


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: per query build the m × k
    lookup table of subspace distances to every centroid (map-only on
    the query side, 6 dp-rounded entries), broadcast the queries, and
    score every corpus code as LUT0[c0] + LUT1[c1] + ... — a FIXED
    left-associated sum so an independent engine folds identically.
    One broadcast nested-loop over the compressed codes + one per-query
    top-k window (WindowGroupLimit prunes map-side).

    Scale: the scan reads m bytes per candidate (never the vectors);
    query count is workload-sized (broadcast); the window is per-query.
    Returns (query_id, cand_id, rank, adist)."""
    m = len(codebooks)
    enc = pq_encode(corpus, vec_col, codebooks).select(
        F.col(id_col).alias("cand_id"), *[f"_c{i}" for i in range(m)]
    )
    q = _pq_query_luts(queries, id_col, vec_col, codebooks).drop("_qv")
    joined = enc.join(F.broadcast(q))
    scored = joined.select("query_id", "cand_id", _adc_dist(m).alias("adist"))
    w = Window.partitionBy("query_id").orderBy("adist", "cand_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "adist")
    )


def pq_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact re-rank of a PQ (or any) candidate shortlist — the "R" of
    IVFADC-R (Jégou et al. 2011 §V): compressed-domain ADC recalls a
    shortlist, then TRUE squared distances are computed for shortlist
    members only and the top-k re-ranked. Raw vectors are read for
    |shortlist| rows instead of the corpus — at 100 TB the expensive
    column is touched for Q × shortlist rows only (a keyed join against
    the vector store), which is what makes high recall affordable.

    ``shortlist``: (query_id, cand_id). Returns
    (query_id, cand_id, rank, dist2) with 6 dp-rounded exact distances
    (fixed-fold via the same zip_with/aggregate shape as encoding)."""
    cv = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_cv"),
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_qv"),
    )
    j = (
        shortlist.select("query_id", "cand_id")
        .join(cv, "cand_id")
        .join(F.broadcast(qv), "query_id")
    )
    dist2 = F.round(
        F.aggregate(
            F.zip_with(
                F.col("_qv"), F.col("_cv"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    w = Window.partitionBy("query_id").orderBy("dist2", "cand_id")
    return (
        j.select("query_id", "cand_id", dist2.alias("dist2"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "dist2")
    )


def split_hot_cells(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    max_cell_frac: float = 0.1,
    split_iters: int = 2,
    max_rounds: int = 4,
) -> list[list[float]]:
    """HOT-CELL mitigation for skew-populated corpora (the Zipf
    fixture's case): real embedding clusters are Zipf-sized, and under
    a √N quantizer one hot cell can hold 20%+ of the corpus — then
    every query that probes it scans that whole share (the probed
    fraction stops being ~n_probe/k), and the PQ codebook trains
    mostly on that one cell's geometry.

    The fix is the quantizer-side one production IVF uses (cell split,
    e.g. FAISS IndexIVF's imbalance handling): any cell holding more
    than ``max_cell_frac`` of the corpus is REPLACED by two
    sub-centroids trained on ITS members only (deterministic Lloyd —
    :func:`kmeans_fit`'s smallest-id init, 6 dp means), re-assigning
    and re-checking up to ``max_rounds`` times, so the centroid list
    grows exactly where the data is dense. Downstream is unchanged:
    the quantizer is still just a centroid list — probe and encode
    exactly as before, with k' ≥ k cells. Staged codes are rebuilt
    against the split quantizer by :func:`split_and_rebuild_codes`,
    which derives the split-keyed cache path itself — use it rather
    than calling this directly when codes are staged.

    Degenerate splits are detected, not retried: a cell dominated by
    identical/duplicate vectors makes the k=2 sub-fit return two equal
    sub-centroids (the whole population would land back on one) — the
    original centroid is kept and the cell marked unsplittable, and a
    round that lowers no splittable population stops the loop, so the
    quantizer never grows dead duplicate centroids.

    Cost: per round, one map-only assignment over centroid literals +
    one k-sized count, plus one Lloyd fit per hot cell over only that
    cell's members. Convergence is not guaranteed for adversarial
    ``max_cell_frac`` (a cap below the corpus's duplicate mass can't
    be met) — the loop stops after ``max_rounds`` and returns the
    best quantizer it reached; callers that need the cap as a hard
    contract should re-measure.

    MEASURED on the Zipf corpus at sf0.1 (planted hot cluster = 21%
    of mass; tests/test_r13_ops.py pins all of this): a quantizer
    TRAINED on the skewed corpus needs no split — Lloyd allocates
    centroids ∝ density and the cap already holds (the call is a
    no-op returning the input). The split earns its keep in the
    FROZEN-quantizer deployment (train once, distribution drifts —
    the x20 pattern): there the hot cluster lands in one cell holding
    0.202 of the corpus; the split caps it at 0.066 (k 64→68) with
    recall unchanged and mean/tail scanned fraction not worse — at
    100 TB that capped cell is the difference between balanced
    ADC-join tasks and a straggler partition holding 20% of the
    index. See IVFADC_DECADE.json ``zipf_*`` rows for the trained-
    quantizer ladder (skew costs recall there, not balance)."""
    if not 0 < max_cell_frac <= 1:
        raise ValueError("split_hot_cells: max_cell_frac must be in (0, 1]")
    v = vectors.select(
        F.col(id_col).alias("_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_v"),
    ).cache()
    try:
        n = v.count()
        cents = [list(c) for c in centroids]
        # cells proven unsplittable (a duplicate-dominated cell makes
        # kmeans_fit(k=2) return two identical sub-centroids and the
        # whole population lands back on one of them — re-splitting it
        # every round just appends dead duplicate centroids until
        # max_rounds); keyed by the centroid VALUE because indices
        # shift as the list grows
        no_split: set[tuple[float, ...]] = set()
        prev_max: int | None = None
        for _ in range(max_rounds):
            assigned = _assign_cells(
                v, cents, vec_col="_v", out_cluster="_cell", out_dist="_d"
            ).drop("_d")
            counts = {
                r["_cell"]: r["count"]
                for r in assigned.groupBy("_cell").count().collect()
            }
            hot = {
                c
                for c, cnt in counts.items()
                if cnt > max_cell_frac * n
                and tuple(cents[c]) not in no_split
            }
            if not hot:
                break
            # global no-progress guard: a round that neither split a
            # cell nor lowered the max SPLITTABLE population cannot
            # converge — stop instead of re-running the identical
            # round (unsplittable cells are excluded so one stuck
            # duplicate-dominated cell doesn't mask progress on others)
            cur_max = max(
                (
                    counts.get(c, 0)
                    for c in range(len(cents))
                    if tuple(cents[c]) not in no_split
                ),
                default=0,
            )
            if prev_max is not None and cur_max >= prev_max:
                break
            prev_max = cur_max
            new_cents: list[list[float]] = []
            for ci, cen in enumerate(cents):
                if ci in hot:
                    subs = kmeans_fit(
                        assigned.filter(F.col("_cell") == ci),
                        "_id",
                        "_v",
                        k=2,
                        iters=split_iters,
                    )
                    if len(subs) < 2 or subs[0] == subs[1]:
                        # degenerate split (duplicate-dominated cell):
                        # keep the original centroid, never retry it
                        no_split.add(tuple(cen))
                        new_cents.append(cen)
                    else:
                        new_cents.extend(subs)
                else:
                    new_cents.append(cen)
            cents = new_cents
        return cents
    finally:
        v.unpersist()


def split_and_rebuild_codes(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]] | None = None,
    cache_root: str | None = None,
    fingerprint: str | None = None,
    max_cell_frac: float = 0.1,
    split_iters: int = 2,
    max_rounds: int = 4,
    residual: bool = False,
    pq_k: int = 16,
    pq_iters: int = 2,
    m: int | None = None,
) -> tuple[list[list[float]], list[list[list[float]]], DataFrame]:
    """:func:`split_hot_cells` as an ENFORCED composition (round-13
    verdict #4): the split, the split-keyed cache path and the code
    rebuild travel together, so a frozen-quantizer deployment (the
    x20 train-once-then-drift pattern — exactly where the split earns
    its keep) cannot split the quantizer and then serve codes staged
    against the UNSPLIT one. The cache suffix is an md5 of the split
    centroid list derived HERE — there is no key for the caller to
    remember or forget — and a no-op split (cap already held) reuses
    the unsplit path unchanged.

    Returns ``(split_centroids, codebooks, codes)``. Plain codebooks
    (``residual=False``) are quantizer-independent and pass through;
    residual codebooks are RETRAINED on residuals against the split
    quantizer (cell centers moved, so residual geometry did too) under
    their own split-keyed cache path. Measured on the Zipf corpus at
    sf0.1 (tests/test_r14_ops.py): the frozen-quantizer hot cell
    0.202 -> capped, recall within noise of the unsplit dial, every
    code row carrying a valid split-quantizer cell id."""
    import hashlib

    cents = split_hot_cells(
        vectors, id_col, vec_col, centroids,
        max_cell_frac=max_cell_frac, split_iters=split_iters,
        max_rounds=max_rounds,
    )
    did_split = cents != [list(c) for c in centroids]
    suffix = ""
    if did_split:
        sig = hashlib.md5(
            repr([[round(x, 6) for x in c] for c in cents]).encode()
        ).hexdigest()[:8]
        suffix = f"_split{sig}"
    if residual:
        if m is None:
            m = len(codebooks) if codebooks else 4
        rv = residual_vectors(vectors, id_col, vec_col, cents)
        books = load_or_train_pq_books(
            rv, id_col, "_rv", m=m, k=pq_k, iters=pq_iters,
            cache_path=(
                os.path.join(
                    cache_root, f"books_residual_m{m}_k{pq_k}{suffix}"
                )
                if cache_root
                else None
            ),
            fingerprint=fingerprint,
        )
    else:
        if codebooks is None:
            raise ValueError(
                "split_and_rebuild_codes: plain codebooks must be "
                "passed in (they are quantizer-independent); only "
                "residual=True retrains them"
            )
        books = codebooks
        m = len(books)
    code_type = "residual" if residual else "plain"
    codes = load_or_build_ivfadc_codes(
        vectors, id_col, vec_col, cents, books,
        cache_path=(
            os.path.join(
                cache_root, f"codes_{code_type}_k{len(cents)}_m{m}{suffix}"
            )
            if cache_root
            else None
        ),
        residual=residual,
        fingerprint=(
            (fingerprint + suffix) if fingerprint is not None else None
        ),
    )
    return cents, books, codes


def ivfadc_params(n: int, dim: int, pq_k: int = 16) -> dict:
    """Density-driven IVFADC budget dial — k_coarse, m, n_probe and
    shortlist as a FUNCTION of corpus size, replacing the hand-picked
    per-density dials the round-12 verdict flagged (a 100×-scale user
    got the collapsing m=4 default: recall 0.448 at struct-sf10 where
    the sized dial reads 0.798 — IVFADC_DECADE.json / SCALING.md).

    The rule, calibrated on the planted-cluster decade grid
    (tools/ivfadc_decade.py; pinned in tests/test_recall_sf01.py):

    - ``k_coarse`` = largest power of two ≤ 1.5·√N, floor 16 — the √N
      convention (Jégou TPAMI 2011 §V uses k_coarse ∝ √N so cell scan
      cost and probe cost balance), power-of-two so cache keys and the
      FLAT_ASSIGN_K boundary stay stable across nearby N. Reproduces
      the measured ladder: N=2k→64, 8k→128, 80k→256.
    - ``points_per_cell`` = N / k_coarse decides the code budget.
      Measured: m=4 (16-dim subspaces at dim 64) HOLDS recall
      0.855/0.858 at ppc 31/62 and COLLAPSES to 0.448 at ppc 312 —
      with ~300 near-identical neighbors per cell the 4×16-code ADC
      distortion exceeds true-neighbor gaps, and finer codes, not more
      probes, recover it (n_probe 24/shortlist 800 at m=4 reads only
      0.680; m=8 at half that probe budget reads 0.798).
    - escalation ``level`` = ceil(log8(ppc/128)) past ppc=128: each 8×
      of cell population doubles m (code bits per vector), n_probe and
      shortlist. Level 0 is the measured-safe zone (ppc ≤ 128); level
      1 is the measured struct-sf10 dial (m=8, n_probe=12,
      shortlist=400); levels beyond extrapolate the same geometric
      response with the rationale above.
    - ``m`` is clamped to divide ``dim`` with ≥2-dim subspaces;
      ``n_probe`` is clamped to k_coarse.

    Returns {k_coarse, m, n_probe, shortlist, pq_k, points_per_cell,
    level}. Callers: the l46 catalog family pins its import-time
    constants to this rule at declared reference densities, and
    tools/ivfadc_decade.py sizes every struct/zipf row with it.

    Code TYPE is outside this rule's inputs (it sees only n and dim):
    on corpora with SKEWED cluster populations, RESIDUAL codes at the
    same sized dial are the measured default — 0.842 vs plain 0.656
    at zipf-sf10 (IVFADC_DECADE ``zipf_10_res``; rare clusters stop
    paying the codebook-starvation tax because residuals concentrate
    around 0 regardless of cluster population). Detecting skew needs
    a corpus statistic (e.g. coarse-cell population entropy), not a
    row count — callers that know their data chooses for them."""
    import math

    if n < 1:
        raise ValueError("ivfadc_params: need n >= 1")
    k_coarse = max(
        16, 2 ** int(math.floor(math.log2(max(16.0, 1.5 * math.sqrt(n)))))
    )
    ppc = n / k_coarse
    level = (
        int(math.ceil(math.log(ppc / 128.0, 8.0))) if ppc > 128.0 else 0
    )
    target_m = 4 * (2 ** level)
    m = target_m
    while m > 1 and (dim % m != 0 or dim // m < 2):
        m //= 2
    # the divisibility clamp can UNDO the escalation the rule exists
    # for (dim=100 at level 1 drops m 8 -> 4 — exactly the
    # collapse-to-0.448 regime on non-power-of-two dims): every halving
    # of m the clamp costs is compensated by one further doubling of
    # n_probe and shortlist (more cells scanned + a wider exact re-rank
    # buy back recall the coarser codes lose — the measured level-0
    # response: n_probe 24 / shortlist 800 at m=4 read 0.680 where
    # m=8 at half that probe budget read 0.798, so the compensation is
    # partial, which is why it is also SURFACED via ``m_clamped``)
    lost = 0
    mm = m
    while mm < target_m:
        lost += 1
        mm *= 2
    if lost:
        import warnings

        warnings.warn(
            f"ivfadc_params: dim={dim} cannot carry the level-{level} "
            f"code budget m={target_m} (clamped to m={m}); "
            f"compensating with {2 ** lost}x n_probe/shortlist — "
            "recall at this dial is below the escalated-m dial "
            "(measured: wider probes recover only part of the code-"
            "distortion loss); prefer a dim divisible by the target m",
            stacklevel=2,
        )
    return {
        "k_coarse": k_coarse,
        "m": m,
        "n_probe": min(k_coarse, 6 * (2 ** (level + lost))),
        "shortlist": 200 * (2 ** (level + lost)),
        "pq_k": pq_k,
        "points_per_cell": ppc,
        "level": level,
        "m_clamped": lost > 0,
    }


# Residual-vs-plain code selection (round-14: the last manual ANN
# knob). Threshold on the trained quantizer's nearest-neighbor centroid
# spacing, min/median — measured gap between the balanced and
# Zipf-populated planted-cluster corpora at RULE-SIZED k across every
# scale (sf0.01/0.1/1/10: balanced 0.817/0.875/0.869/0.816, Zipf
# 0.639/0.712/0.689/0.718): 0.765 is the midpoint of the worst-case
# gap [0.718, 0.816], margins >= 0.047 on either side. Pinned in
# tests/test_recall_sf01.py.
SKEW_NN_RATIO = 0.765
# frozen-quantizer hot-cell detector: top cell share x k (a TRAINED
# quantizer reads <= 2.6 even on the Zipf corpus at small
# points-per-cell — Lloyd allocates centroids with density, which is
# exactly why cell counts CANNOT detect trained-quantizer skew and
# the spacing statistic exists; a frozen quantizer on drifted data
# reads 0.202 x 64 ≈ 13)
SKEW_TOPXK = 4.0


def quantizer_spacing_skew(centroids: list[list[float]]) -> dict:
    """Skew statistic over a TRAINED coarse quantizer, computed purely
    driver-side from the k-sized centroid list (no corpus pass — the
    statistic is free at any corpus scale): each centroid's distance
    to its nearest neighbor, summarized as min/median ratio and
    coefficient of variation.

    Why spacing and not cell POPULATION counts (the obvious
    statistic): Lloyd allocates centroids proportional to density, so
    a quantizer TRAINED on a skew-populated corpus shows near-balanced
    cell counts — measured at sf0.01 the top-share/entropy of the
    coarse-assignment count are statistically indistinguishable
    between the balanced and Zipf corpora (top x k 2.30 vs 2.62,
    entropy deficit 0.104 vs 0.116 — Poisson noise at small
    points-per-cell swamps the signal). The skew survives in WHERE the
    centroids sit: density-proportional allocation crowds centroids
    inside hot clusters, so the tightest centroid pair's spacing
    collapses relative to the median. Measured (rule-sized k, every
    scale): balanced >= 0.816, Zipf <= 0.718 — a clean gap no corpus
    statistic matched. Pure-Python exact arithmetic (fixed
    left-to-right sums) so the value is bit-reproducible for the
    oracle branch pin. Only meaningful at RULE-SIZED k
    (:func:`ivfadc_params`): an over-parameterized quantizer (k >>
    1.5 sqrt N) crowds centroids everywhere and washes out the signal
    (measured: k=64 on 500 points reads 0.713 on the BALANCED
    corpus)."""
    import math

    k = len(centroids)
    if k < 3:
        return {"nn_min_over_med": 1.0, "nn_cv": 0.0, "k": k}
    nn = []
    for i in range(k):
        best = None
        ci = centroids[i]
        for j in range(k):
            if i == j:
                continue
            cj = centroids[j]
            s = 0.0
            for d in range(len(ci)):
                t = ci[d] - cj[d]
                s += t * t
            if best is None or s < best:
                best = s
        nn.append(math.sqrt(best))
    srt = sorted(nn)
    med = srt[k // 2]
    mean = sum(nn) / k
    var = sum((x - mean) * (x - mean) for x in nn) / k
    return {
        "nn_min_over_med": (srt[0] / med) if med > 0 else 1.0,
        "nn_cv": (math.sqrt(var) / mean) if mean > 0 else 0.0,
        "k": k,
    }


def choose_code_type(
    centroids: list[list[float]],
    cell_counts: list[int] | None = None,
) -> dict:
    """The residual-vs-plain PQ code decision, from MEASURED corpus
    statistics instead of the caller's judgment (the round-13
    verdict's top gap: on skew-populated corpora residual codes at
    the identical sized dial are worth +0.19 recall — zipf-sf10
    0.842 vs 0.656, IVFADC_DECADE.json — and nothing chose them
    automatically).

    Two detectors, either fires -> ``'residual'``:

    - **Trained-quantizer skew** (:func:`quantizer_spacing_skew`):
      nearest-centroid spacing min/median < :data:`SKEW_NN_RATIO`.
      Free (k-sized, driver-side).
    - **Frozen-quantizer hot cell**: ``cell_counts`` (the k-sized
      coarse-assignment count the codes build already produces)
      top share x k > :data:`SKEW_TOPXK` — a quantizer frozen from a
      drifted distribution shows the skew in POPULATION (one cell at
      0.202 of the corpus reads 13 x here) even though its spacing
      was trained balanced. Optional because the trained path decides
      before any corpus assignment exists.

    Returns {code_type, nn_min_over_med, nn_cv, top_share_x_k,
    reason}. On corpora where neither fires, plain codes win the
    build cost back: residual LUTs multiply per-query work by n_probe
    and buy ~0 on unclustered data (round-11 measurement)."""
    sp = quantizer_spacing_skew(centroids)
    topxk = None
    if cell_counts:
        tot = sum(cell_counts)
        if tot > 0:
            topxk = max(cell_counts) * len(centroids) / tot
    if sp["nn_min_over_med"] < SKEW_NN_RATIO:
        code_type, reason = "residual", (
            f"nn_min_over_med {sp['nn_min_over_med']:.3f} < "
            f"{SKEW_NN_RATIO} (trained-quantizer skew)"
        )
    elif topxk is not None and topxk > SKEW_TOPXK:
        code_type, reason = "residual", (
            f"top_share_x_k {topxk:.2f} > {SKEW_TOPXK} "
            "(frozen-quantizer hot cell)"
        )
    else:
        code_type, reason = "plain", "no skew detector fired"
    return {
        "code_type": code_type,
        "nn_min_over_med": sp["nn_min_over_med"],
        "nn_cv": sp["nn_cv"],
        "top_share_x_k": topxk,
        "reason": reason,
    }


def ivfadc_plan(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    cache_root: str | None = None,
    fingerprint: str | None = None,
    iters: int = 3,
    pq_k: int = 16,
    pq_iters: int = 2,
    n: int | None = None,
) -> dict:
    """The COMPLETE sized-and-typed IVFADC build — what a 100x-scale
    caller gets by default, with no hand-chosen dial anywhere:
    corpus count -> :func:`ivfadc_params` (k_coarse/m/n_probe/
    shortlist) -> deterministic coarse training -> residual-vs-plain
    code selection from the trained quantizer's measured skew
    (:func:`choose_code_type`) -> the matching codebooks and staged
    codes. Closes the round-13 verdict's "the measured 0.656 -> 0.842
    win lives in docstrings, not in code a caller gets by default".

    Returns a dict with the dial (k_coarse, m, n_probe, shortlist,
    level, n), the decision (code_type + skew statistics), and the
    built state (centroids, codebooks, codes DataFrame). Pass the
    result to :func:`ivfadc_plan_topk` to query.

    Caching: with ``cache_root``, every derived artifact persists as
    dataset state keyed by the dial AND the code type —
    ``{cache_root}/coarse_k{k}_i{iters}``,
    ``{cache_root}/books_{type}_m{m}_k{pq_k}``,
    ``{cache_root}/codes_{type}_k{k}_m{m}`` — all carrying the source
    ``fingerprint`` guard, so a corpus regeneration rebuilds instead
    of serving stale state and a decision flip (corpus drifted into
    skew) re-trains the right codebooks under its own key."""
    if n is None:
        n = vectors.count()
    dial = ivfadc_params(n, dim, pq_k=pq_k)
    k, m = dial["k_coarse"], dial["m"]

    def _path(name):
        return os.path.join(cache_root, name) if cache_root else None

    cents = load_or_train_centroids_det(
        vectors, id_col, vec_col, dim=dim, n_centroids=k, iters=iters,
        cache_path=_path(f"coarse_k{k}_i{iters}"),
        fingerprint=fingerprint,
    )
    decision = choose_code_type(cents)
    code_type = decision["code_type"]
    if code_type == "residual":
        rv = residual_vectors(vectors, id_col, vec_col, cents)
        books = load_or_train_pq_books(
            rv, id_col, "_rv", m=m, k=pq_k, iters=pq_iters,
            cache_path=_path(f"books_residual_m{m}_k{pq_k}"),
            fingerprint=fingerprint,
        )
    else:
        books = load_or_train_pq_books(
            vectors, id_col, vec_col, m=m, k=pq_k, iters=pq_iters,
            cache_path=_path(f"books_plain_m{m}_k{pq_k}"),
            fingerprint=fingerprint,
        )
    codes = load_or_build_ivfadc_codes(
        vectors, id_col, vec_col, cents, books,
        cache_path=_path(f"codes_{code_type}_k{k}_m{m}"),
        residual=(code_type == "residual"),
        fingerprint=fingerprint,
    )
    return {
        **dial,
        **decision,
        "n": n,
        "centroids": cents,
        "codebooks": books,
        "codes": codes,
    }


def ivfadc_plan_topk(
    plan: dict,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
) -> DataFrame:
    """Query through an :func:`ivfadc_plan` result — dispatches to the
    code-type-matched scorer (:func:`ivfadc_residual_topk` decodes
    residual codes against per-(query, cell) LUTs; :func:`ivfadc_topk`
    plain codes against one LUT set) at the plan's sized dial."""
    fn = (
        ivfadc_residual_topk
        if plan["code_type"] == "residual"
        else ivfadc_topk
    )
    return fn(
        corpus, queries, id_col, vec_col,
        plan["centroids"], plan["codebooks"],
        n_probe=plan["n_probe"], shortlist=plan["shortlist"], k=k,
        codes=plan["codes"],
    )


def ivfadc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    n_probe: int = 6,
    shortlist: int = 200,
    k: int = 10,
    codes: DataFrame | None = None,
) -> DataFrame:
    """True IVFADC with exact re-rank (Jégou et al., TPAMI 2011 §V) —
    the 100 TB ANN shape that was missing between :func:`pq_topk`
    (linear ADC scan over EVERY corpus code per query) and
    :func:`ivf_knn_det` (cell pruning over RAW vectors): corpus vectors
    are assigned once to a coarse IVF cell (map-only centroid literals,
    :func:`kmeans_assign`) AND PQ-encoded to m small-int codes
    (:func:`pq_encode`); each query probes its ``n_probe`` nearest
    cells and ADC-scores ONLY the codes inside probed cells — the scan
    prunes to ~n_probe/k_coarse of the corpus instead of reading every
    code — then the shortlist re-ranks on true distances
    (:func:`pq_rerank`).

    Plan shape: both corpus stages are map-only projections (no
    shuffle); the probe table (queries × n_probe rows carrying the m
    LUT arrays) broadcasts into ONE BroadcastHashJoin on cell id, so
    scanned candidates = Σ_q Σ_{probed cells} |cell|; the top-shortlist
    window is per-query (WindowGroupLimit prunes map-side); the exact
    column is touched for Q × shortlist rows only.

    Dials (measured at sf0.1, tools/sim_ivfadc.py): cell pruning at
    n_probe=6/16 cells *raises* recall at a fixed shortlist vs the full
    ADC scan (0.605 vs 0.43 at shortlist=200/100) — pruning removes
    far-away candidates that lossy ADC ranks spuriously high. At scale
    k_coarse grows ~√N (the IVF sizing rule) with n_probe fixed, so the
    scanned fraction FALLS with corpus size.

    Determinism: every decision (cell assign, probe order, ADC fold,
    rerank) is 6 dp-rounded with lowest-index tie-breaks — the DuckDB
    oracle (queries/ann.py l45c) unrolls both Lloyd trainings and makes
    bit-identical choices. Returns (query_id, cand_id, rank, dist2).

    ``codes``: a pre-built (cand_id, _cell, _c0.._c{m-1}) table — pass
    :func:`load_or_build_ivfadc_codes`'s staged output so the corpus
    assignment + PQ encoding run ONCE at ingest (at 100 TB the codes
    ARE the index; re-deriving them per query batch re-reads the raw
    vectors, which is exactly what PQ exists to avoid). Omitted, both
    stages run inline (map-only; correct but ingest-cost-per-query)."""
    m = len(codebooks)
    enc = (
        codes
        if codes is not None
        else build_ivfadc_codes(corpus, id_col, vec_col, centroids, codebooks)
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias(vec_col),
    )
    q = _pq_query_luts(qv, "query_id", vec_col, codebooks)
    qp = _probe_cells(q, centroids, n_probe, [f"_lut{i}" for i in range(m)])
    return _adc_shortlist_rerank(
        enc, qp, m, shortlist, corpus, queries, id_col, vec_col, k
    )


def _probe_cells(
    q: DataFrame,
    centroids: list[list[float]],
    n_probe: int,
    keep: list[str],
) -> DataFrame:
    """(query_id, *keep, cid): each query's ``n_probe`` nearest coarse
    cells by 6 dp-rounded distance from ``_qv``, lowest index on ties."""
    qp = q.select(
        "query_id",
        *keep,
        F.posexplode(_cell_dists("_qv", centroids)).alias("cid", "_d"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_d").asc(), F.col("cid").asc()
    )
    return (
        qp.withColumn("_rk", F.row_number().over(wq))
        .filter(F.col("_rk") <= n_probe)
        .drop("_d", "_rk")
    )


def _adc_dist(m: int) -> Column:
    """LUT0[c0] + LUT1[c1] + ... as a fixed left-associated sum, 6 dp
    rounded — the ADC score every PQ scan ranks by."""
    adist = F.element_at("_lut0", F.col("_c0") + 1)
    for i in range(1, m):
        adist = adist + F.element_at(f"_lut{i}", F.col(f"_c{i}") + 1)
    return F.round(adist, 6)


def _adc_shortlist_rerank(
    enc: DataFrame,
    qp: DataFrame,
    m: int,
    shortlist: int,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """The IVFADC tail: ADC-score the codes ``enc`` inside each query's
    probed cells against the LUTs ``qp`` carries (one broadcast join on
    cell id), keep the ``shortlist`` best per query, then re-rank them on
    true distances (:func:`pq_rerank`)."""
    joined = enc.join(F.broadcast(qp), enc["_cell"] == qp["cid"])
    scored = joined.select("query_id", "cand_id", _adc_dist(m).alias("adist"))
    ws = Window.partitionBy("query_id").orderBy("adist", "cand_id")
    short = (
        scored.withColumn("_srk", F.row_number().over(ws))
        .where(F.col("_srk") <= shortlist)
        .select("query_id", "cand_id")
    )
    return pq_rerank(short, corpus, queries, id_col, vec_col, k=k)


def load_or_train_pq_books(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    cache_path: str | None = None,
    fingerprint: str | None = None,
) -> list[list[list[float]]]:
    """Dataset-state caching for PQ codebooks (the
    :func:`load_or_train_centroids_det` contract): the m × k × (dim/m)
    codebook is trained once per corpus version by :func:`pq_fit`
    (deterministic, so the cache changes nothing semantically — it
    removes the m × iters fit shuffles from every query that encodes
    or scores) and persisted as a tiny parquet. ``fingerprint``: the
    source-corpus stamp (see :func:`load_or_train_centroids_det`) —
    a stale codebook after a testdata regeneration must retrain."""
    spark = vectors.sparkSession

    def read():
        rows = spark.read.parquet(cache_path).collect()
        if len(rows) != m * k:
            return None
        books: list[list[list[float]]] = [
            [None] * k for _ in range(m)  # type: ignore
        ]
        for r in rows:
            books[r.sub][r.cid] = list(r.vec)
        if all(c is not None for b in books for c in b):
            return books
        return None

    def build(path):
        books = pq_fit(vectors, id_col, vec_col, m=m, k=k, iters=iters)
        if path is not None:
            spark.createDataFrame(
                [
                    (s, i, c)
                    for s, b in enumerate(books)
                    for i, c in enumerate(b)
                ],
                "sub int, cid int, vec array<double>",
            ).coalesce(1).write.mode("overwrite").parquet(path)
        return books

    return load_or_build(cache_path, fingerprint, build, read)


def build_ivfadc_codes(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """The IVFADC index-build stage as a standalone map-only plan:
    every corpus vector → its coarse cell (:func:`kmeans_assign`, flat
    formulation past :data:`FLAT_ASSIGN_K`) + m PQ codes
    (:func:`pq_encode`). Returns (cand_id, _cell, _c0.._c{m-1}) —
    the table that IS the ANN index at scale: m+~1 small ints per
    vector, the raw vectors untouched afterward except by the exact
    re-rank."""
    m = len(codebooks)
    enc = pq_encode(corpus, vec_col, codebooks)
    return _assign_cells(
        enc.select(
            F.col(id_col).alias("cand_id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("_cv"),
            *[f"_c{i}" for i in range(m)],
        ),
        centroids,
        vec_col="_cv",
        out_cluster="_cell",
        out_dist="_cd",
    ).select("cand_id", "_cell", *[f"_c{i}" for i in range(m)])


def load_or_build_ivfadc_codes(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    cache_path: str | None = None,
    residual: bool = False,
    fingerprint: str | None = None,
) -> DataFrame:
    """Ingest-time persistence for the IVFADC corpus codes — the
    round-11 verdict's #2: the quantizer and codebooks were already
    cached dataset state (:func:`load_or_train_centroids_det`,
    :func:`load_or_train_pq_books`) but every run re-assigned and
    re-encoded the corpus (at sf10 that re-encode dominated the decade
    row). The codes table is staged ONCE per (corpus, params) as
    parquet — the caller keys ``cache_path`` by corpus + params, the
    l3_ivf centroid contract — and every query run reads m+1 small
    ints per vector instead of re-deriving them from raw vectors.

    ``residual=True`` stages :func:`build_ivfadc_residual_codes`
    (codes of x − centroid[cell]) instead — same schema, same cache
    contract. Deterministic build ⇒ the cache changes nothing
    semantically (oracle hashes unchanged, asserted in tests).

    ``fingerprint`` (recommended): a stamp of the SOURCE corpus (e.g.
    ``operators.scale.source_fingerprint`` over its parquet files), so
    regenerated testdata rebuilds the corpus-sized codes instead of
    serving the old corpus's index. Cache rules:
    :func:`caching.load_or_build`."""
    spark = corpus.sparkSession
    m = len(codebooks)
    cols = ["cand_id", "_cell"] + [f"_c{i}" for i in range(m)]
    builder = (
        build_ivfadc_residual_codes if residual else build_ivfadc_codes
    )

    def read():
        cached = spark.read.parquet(cache_path)
        if sorted(cached.columns) == sorted(cols):
            return cached.select(*cols)
        return None

    def build(path):
        enc = builder(corpus, id_col, vec_col, centroids, codebooks)
        if path is None:
            return enc
        enc.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path).select(*cols)

    return load_or_build(cache_path, fingerprint, build, read)


def _centroid_df(spark, centroids: list[list[float]]) -> DataFrame:
    """(cid int, cen array<double>) — the coarse centroid table as a
    broadcastable k-row DataFrame (for residual arithmetic, where the
    centroid must be selected BY the row's cell id: a join against k
    rows beats an element_at over a k × dim literal in plan size)."""
    return spark.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
        "cid int, cen array<double>",
    )


def residual_vectors(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    out_vec: str = "_rv",
    out_cell: str = "_cell",
) -> DataFrame:
    """(id, _cell, _rv): every vector's coarse cell plus its RESIDUAL
    x − centroid[cell] — the quantity Jégou's IVFADC actually encodes
    (TPAMI 2011 §III.C): residuals concentrate around 0 regardless of
    which cell a vector lives in, so one shared codebook quantizes them
    with far less distortion than it quantizes raw positions — IF the
    corpus is clustered (on structure-free vectors the residual is just
    a shifted copy and buys nothing, measured in round 11). Assignment
    is the pinned 6 dp/lowest-index contract; the subtraction itself is
    exact IEEE, identical cross-engine, so no extra rounding."""
    assigned = _assign_cells(
        corpus.select(
            F.col(id_col),
            F.transform(vec_col, lambda x: x.cast("double")).alias("_cv"),
        ),
        centroids,
        vec_col="_cv",
        out_cluster=out_cell,
        out_dist="_cd",
    )
    cents = _centroid_df(corpus.sparkSession, centroids)
    return (
        assigned.join(
            F.broadcast(cents), F.col(out_cell) == F.col("cid")
        )
        .select(
            id_col,
            out_cell,
            F.zip_with("_cv", "cen", lambda x, c: x - c).alias(out_vec),
        )
    )


def build_ivfadc_residual_codes(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    res_codebooks: list[list[list[float]]],
) -> DataFrame:
    """Residual-PQ index build: cell assignment, then PQ codes of the
    RESIDUAL x − centroid[cell] against residual-trained codebooks.
    Same output schema as :func:`build_ivfadc_codes` (cand_id, _cell,
    _c0..) — the ADC scan downstream is identical; only what the codes
    MEAN changes."""
    m = len(res_codebooks)
    rv = residual_vectors(corpus, id_col, vec_col, centroids)
    return pq_encode(rv, "_rv", res_codebooks).select(
        F.col(id_col).alias("cand_id"),
        "_cell",
        *[f"_c{i}" for i in range(m)],
    )


def ivfadc_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    res_codebooks: list[list[list[float]]],
    n_probe: int = 6,
    shortlist: int = 50,
    k: int = 10,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVFADC **with residual refinement** (Jégou et al., TPAMI 2011
    §III.C — the paper's actual construction): PQ codes quantize the
    residual x − centroid[cell] instead of x, and each query builds a
    SEPARATE ADC lookup table per probed cell from its own residual
    q − centroid[cell]. Cost vs plain :func:`ivfadc_topk`: the LUT
    work multiplies by n_probe (m × k × n_probe entries per query) and
    the probe table carries one row per (query, cell) with its LUT
    arrays — still a broadcast (workload × n_probe rows). Benefit:
    on a CLUSTERED corpus the residual distribution is tight around 0,
    so the same m × k codebook budget spends its precision where the
    data actually is — measured on the planted-cluster corpus
    (queries/ann.py l46b): +17 pp recall at shortlist=50 over plain PQ at
    the identical probe/rerank budget; on structure-free embeddings it
    buys ~0 (round-11 measurement, the reason it was deferred then).

    Same determinism contract as the plain path (6 dp rounds,
    lowest-index ties, fixed ADC fold, exact re-rank on raw vectors);
    ``codes`` accepts the staged residual codes table
    (:func:`load_or_build_ivfadc_codes` with ``residual=True``).
    Returns (query_id, cand_id, rank, dist2)."""
    m = len(res_codebooks)
    sub = len(res_codebooks[0][0])
    enc = (
        codes
        if codes is not None
        else build_ivfadc_residual_codes(
            corpus, id_col, vec_col, centroids, res_codebooks
        )
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_qv"),
    )
    qp = _probe_cells(qv, centroids, n_probe, ["_qv"])
    # per-(query, probed cell) residual → per-cell LUTs (the refinement)
    cents = _centroid_df(corpus.sparkSession, centroids)
    qp = qp.join(F.broadcast(cents), "cid").withColumn(
        "_qr", F.zip_with("_qv", "cen", lambda x, c: x - c)
    )
    for i, book in enumerate(res_codebooks):
        # one SQL parser call per subspace LUT (no cast: _qr is already
        # double) — expression-identical (see _sq_dist_array_sql)
        qp = qp.withColumn(
            f"_lut{i}",
            F.expr(
                _sq_dist_array_sql(
                    f"slice(`_qr`, {i * sub + 1}, {sub})", book
                )
            ),
        )
    qp = qp.select("query_id", "cid", *[f"_lut{i}" for i in range(m)])
    return _adc_shortlist_rerank(
        enc, qp, m, shortlist, corpus, queries, id_col, vec_col, k
    )
