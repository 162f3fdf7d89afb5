"""Approximate and exact nearest-neighbour search over the embeddings:
brute-force, sign-LSH and IVF kNN, blocked all-pairs cosine, semantic
dedup, product quantization (PQ, PQ + re-rank) and IVFADC on the
uniform, planted-cluster and Zipf-populated corpora.

It also holds the shared ANN fixture layer: the planted-cluster and
Zipf corpora, the dial constants and the DuckDB Lloyd/PQ oracle
builders. Every ANN query is deterministic (md5-seeded training), so
each one has a full value-hash oracle.
"""

from __future__ import annotations

import hashlib
import math
import os

from pyspark.sql import functions as F

from finporter_spark.operators.scale import source_fingerprint
from finporter_spark.operators.similarity import (
    blocked_allpairs_cosine,
    brute_force_knn,
    ivf_knn_det,
    ivfadc_params,
    ivfadc_plan,
    ivfadc_plan_topk,
    ivfadc_residual_topk,
    ivfadc_topk,
    load_or_build_ivfadc_codes,
    load_or_train_centroids_det,
    load_or_train_pq_books,
    lsh_bucket_knn_exact_probe,
    lsh_exact_probe_oracle_sql,
    pq_rerank,
    pq_topk,
    residual_vectors,
    semantic_dedup,
)
from finporter_spark.queries.catalog import _t, query
from finporter_spark.queries.staging import (
    io_dir as _io_dir,
    src_fp as _src_fp,
    stage_once as _stage_once,
)


@query(
    "l3_knn_cosine",
    """
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings)
    SELECT q_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT q_id, vec_id, cosine,
             row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
      FROM (
        SELECT q.q_id, c.vec_id,
               round(list_dot_product(qv, cv) /
                     (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6)
                 AS cosine
        FROM q CROSS JOIN c
      )
    ) WHERE rank <= 5
    """,
)
def l3_knn_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return brute_force_knn(q, emb, k=5)


def _l3_lsh_oracle() -> str:
    return lsh_exact_probe_oracle_sql(
        dim=64, k=5, n_planes=9, n_tables=7, n_probes=26
    )


@query("l3_lsh_knn", _l3_lsh_oracle())
def l3_lsh_knn(spark, sf_dir):
    """Margin-ordered multi-probe, multi-table sign-LSH (9 planes ×
    7 tables × 26 probes): measured 0.89 recall@5 at a ~0.32 candidate
    fraction on sf0.1 — the best point of the round-7 equal-budget
    sweep (0.90 needs fraction 0.35, over the ≤0.33 budget; the exact
    l19 path covers higher-recall needs). tests/test_recall_sf01.py
    pins both the recall floor and the candidate-fraction ceiling.

    Probe selection runs as deterministic JVM expressions
    (operators/similarity.lsh_bucket_knn_exact_probe) whose double sums
    are sequential folds a DuckDB oracle restates verbatim — the
    approximate operator is graded by FULL value hash (the a19
    pattern), with no Python stage."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return lsh_bucket_knn_exact_probe(
        q, emb, dim=64, k=5, n_planes=9, n_tables=7, n_probes=26
    )

def _ivf_dist_cte(src_c: str, d_name: str, a_name: str) -> str:
    """One unrolled Lloyd assignment round (the l22 oracle pattern):
    6 dp-rounded squared distances + lowest-index-tie argmin, mirroring
    operators.similarity.kmeans_assign."""
    return f"""
    {d_name} AS (SELECT e.vec_id, c.cid,
              ROUND(list_sum(list_transform(list_zip(e.emb, c.cen),
                    z -> (z[1] - z[2])*(z[1] - z[2]))), 6) AS d
       FROM e CROSS JOIN {src_c} c),
    {a_name} AS (SELECT vec_id, cid FROM (
         SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid)
                  AS rk
         FROM {d_name}) WHERE rk = 1)"""


def _ivf_mean_cte(a_name: str, prev_c: str, m_name: str, c_name: str) -> str:
    """One centroid-update round: per-(cluster, dim) mean rounded to
    6 dp (matching kmeans_fit); empty clusters keep their previous
    centroid."""
    return f"""
    {m_name} AS (SELECT {a_name}.cid, g.i, ROUND(AVG(e.emb[g.i]), 6) AS v
       FROM {a_name} JOIN e USING (vec_id)
            CROSS JOIN generate_series(1, 64) AS g(i)
       GROUP BY {a_name}.cid, g.i),
    {c_name} AS (SELECT {prev_c}.cid, COALESCE(mm.cen, {prev_c}.cen) AS cen
       FROM {prev_c} LEFT JOIN (SELECT cid, array_agg(v ORDER BY i) AS cen
                          FROM {m_name} GROUP BY cid) mm USING (cid))"""


# The embeddings table as the oracles' corpus CTE ``e``.
_EMB_E = """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings)"""


def _ivf_ctes(k, iters: int) -> str:
    """The coarse IVF quantizer over ``e`` as CTEs: seeds ``c0`` = the
    ``k`` smallest vec_ids (``k`` may be a SQL scalar), ``iters`` Lloyd
    rounds ending in ``c{iters}``, then the final assignment df/af."""
    rounds = ",".join(
        _ivf_dist_cte(f"c{r - 1}", f"d{r}", f"a{r}")
        + ","
        + _ivf_mean_cte(f"a{r}", f"c{r - 1}", f"m{r}", f"c{r}")
        for r in range(1, iters + 1)
    )
    return f"""c0 AS (SELECT CAST(vec_id AS INT) AS cid,
                  list_transform(emb, x -> ROUND(x, 6)) AS cen
           FROM e WHERE vec_id < {k}),
    {rounds},
    {_ivf_dist_cte(f'c{iters}', 'df', 'af')}"""


_PQ_M = 4       # subspaces
_PQ_K = 16      # centroids per subspace
_PQ_SUB = 16    # dims per subspace (4 x 16 = the 64-dim space)
_PQ_TOPK = 10
_PQ_QMOD = 101
# The query WORKLOAD is fixed-size by contract (the ANN-benchmark
# shape): vec_id % 101 == 0 AND vec_id < 101*50 — at most 50 queries at
# ANY corpus size. Round-10 decade sweep caught the unbounded form
# (every 101st vector) going 21x super-linear at sf10: Q scaled with N
# and the ADC scan became QxN quadratic (2.5e9 pairs, 220 s). A
# corpus-scaled query set is a batch self-join workload, not ANN.
_PQ_QMAX = _PQ_QMOD * 50


def _pq_sub_ctes(
    i: int, sub: int = _PQ_SUB, p: str = "", src: str = "e", lut: bool = True
) -> str:
    """Unrolled deterministic k-means for subspace ``i`` (``sub`` dims)
    of ``src``, every CTE name prefixed ``p`` (the l22 CTE pattern,
    applied to the slice): init = slices of the _PQ_K smallest vec_ids,
    two assign/update rounds, final assignment ``{p}a3_i`` = the code;
    with ``lut``, the per-query distance table ``{p}lut_i``."""
    lo = i * sub

    def dist(src_c: str, d: str, a: str) -> str:
        return f"""
    {d} AS (SELECT s.vec_id, c.cid,
              ROUND(list_sum(list_transform(list_zip(s.s, c.cen),
                    z -> (z[1] - z[2])*(z[1] - z[2]))), 6) AS d
       FROM {p}s{i} s CROSS JOIN {src_c} c),
    {a} AS (SELECT vec_id, cid, d FROM (
         SELECT vec_id, cid, d,
                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         FROM {d}) WHERE rk = 1)"""

    def mean(a: str, prev_c: str, mname: str, cname: str) -> str:
        return f"""
    {mname} AS (SELECT {a}.cid, g.i, ROUND(AVG(s.s[g.i]), 6) AS v
       FROM {a} JOIN {p}s{i} s USING (vec_id)
            CROSS JOIN generate_series(1, {sub}) AS g(i)
       GROUP BY {a}.cid, g.i),
    {cname} AS (SELECT {prev_c}.cid, COALESCE(mm.cen, {prev_c}.cen) AS cen
       FROM {prev_c} LEFT JOIN (SELECT cid, array_agg(v ORDER BY i) AS cen
                          FROM {mname} GROUP BY cid) mm USING (cid))"""

    ctes = f"""
    {p}s{i} AS (SELECT vec_id, emb[{lo + 1}:{lo + sub}] AS s FROM {src}),
    {p}c0_{i} AS (SELECT CAST(vec_id AS INT) AS cid,
                  list_transform(s, x -> ROUND(x, 6)) AS cen
           FROM {p}s{i} WHERE vec_id < {_PQ_K}),
    {dist(f'{p}c0_{i}', f'{p}d1_{i}', f'{p}a1_{i}')},
    {mean(f'{p}a1_{i}', f'{p}c0_{i}', f'{p}m1_{i}', f'{p}c1_{i}')},
    {dist(f'{p}c1_{i}', f'{p}d2_{i}', f'{p}a2_{i}')},
    {mean(f'{p}a2_{i}', f'{p}c1_{i}', f'{p}m2_{i}', f'{p}c2_{i}')},
    {dist(f'{p}c2_{i}', f'{p}d3_{i}', f'{p}a3_{i}')}"""
    if not lut:
        return ctes
    return ctes + f""",
    {p}lut_{i} AS (SELECT q.vec_id AS query_id, c.cid,
              ROUND(list_sum(list_transform(
                    list_zip(q.emb[{lo + 1}:{lo + sub}], c.cen),
                    z -> (z[1] - z[2])*(z[1] - z[2]))), 6) AS d
       FROM e q CROSS JOIN {p}c2_{i} c
       WHERE q.vec_id % {_PQ_QMOD} = 0 AND q.vec_id < {_PQ_QMAX})"""


def _pq_codes(m: int = _PQ_M, p: str = "") -> str:
    """The ``codes`` CTE: each vector's ``m`` subspace codes c0..c{m-1}
    from the final assignments ``{p}a3_i``."""
    cols = ", ".join(f"{p}a3_{i}.cid AS c{i}" for i in range(m))
    joins = " ".join(
        f"JOIN {p}a3_{i} USING (vec_id)" if i else f"FROM {p}a3_0"
        for i in range(m)
    )
    return f"codes AS (SELECT {p}a3_0.vec_id, {cols} {joins})"


def _adc_sum(m: int = _PQ_M) -> str:
    """The asymmetric distance: the sum of the ``m`` joined LUT rows."""
    return " + ".join(f"l{i}.d" for i in range(m))


def _probe(n_probe: int) -> str:
    """Each fixed-workload query's ``n_probe`` nearest coarse cells
    (query_id, cid), read off the final assignment distances ``df``."""
    return f"""(SELECT vec_id AS query_id, cid FROM (
         SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid)
                  AS rk
         FROM df WHERE vec_id % {_PQ_QMOD} = 0 AND vec_id < {_PQ_QMAX})
       WHERE rk <= {n_probe})"""


def _rerank(shortlist: int) -> str:
    """The tail of every re-ranking ANN oracle: the ``shortlist`` best
    ADC candidates per query (from ``score``), re-ranked by exact
    squared distance, top _PQ_TOPK kept."""
    return f"""short AS (SELECT query_id, cand_id FROM (
      SELECT query_id, cand_id,
             row_number() OVER (
               PARTITION BY query_id ORDER BY adist, cand_id) AS rk
      FROM score) WHERE rk <= {shortlist}),
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


def _ivfadc_oracle(
    corpus_cte: str,
    k: int,
    iters: int,
    n_probe: int,
    shortlist: int,
    m: int = _PQ_M,
    p: str = "",
) -> str:
    """Plain IVFADC over the corpus CTE ``e``: the coarse Lloyd unroll
    (``k`` cells, ``iters`` rounds), ``m`` per-subspace PQ unrolls (CTE
    prefix ``p``), ADC scored only inside each query's ``n_probe``
    probed cells, then the exact re-rank of the ``shortlist``."""
    subs = ",".join(_pq_sub_ctes(i, 64 // m, p) for i in range(m))
    lut_joins = " ".join(
        f"JOIN {p}lut_{i} l{i} ON l{i}.cid = codes.c{i}"
        f" AND l{i}.query_id = qp.query_id"
        for i in range(m)
    )
    return f"""
    WITH {corpus_cte},
    {_ivf_ctes(k, iters)},
    qp AS {_probe(n_probe)},
    {subs},
    {_pq_codes(m, p)},
    score AS (SELECT qp.query_id, codes.vec_id AS cand_id,
                     ROUND({_adc_sum(m)}, 6) AS adist
              FROM codes
              JOIN af ON af.vec_id = codes.vec_id
              JOIN qp ON qp.cid = af.cid
              {lut_joins}),
    {_rerank(shortlist)}"""


def _pq_books(spark, sf_dir, emb):
    """Codebooks as cached dataset state (ingest-time cost, the IVF
    centroid contract) — trained once per corpus, shared by l45/l45b."""
    return load_or_train_pq_books(
        emb, "vec_id", "embedding", m=_PQ_M, k=_PQ_K, iters=2,
        cache_path=_io_dir(
            sf_dir, f"l45_pq_books_m{_PQ_M}_k{_PQ_K}_i2"
        ),
        fingerprint=_src_fp(sf_dir, "embeddings"),
    )

_L46_REF_N = 2000    # struct-sf0.1 corpus rows (the pinned density)
_L46_DIAL = ivfadc_params(_L46_REF_N, 64)
_L46_K = _L46_DIAL["k_coarse"]       # 64 (== planted-cluster count)
_L46_ITERS = 3
_L46_NPROBE = _L46_DIAL["n_probe"]   # 6
_L46_SHORT = _L46_DIAL["shortlist"]  # 200 (recall 0.855 at sf0.1)
_L46B_SHORT = 50     # residual-PQ budget (recall 0.785 vs plain 0.615)
_L46_CLUSTERS = 64
_L46_SCALE = 150     # center amplitude, per-mille
# the l46/l46b oracles unroll _PQ_M (=4) subspace
# trainings — fail LOUDLY at import if the rule ever disagrees with
# the oracle construction instead of hash-diffing later
if _L46_DIAL["m"] != 4:
    raise RuntimeError(
        f"l46 oracle unrolls m=4 subspaces but ivfadc_params sizes "
        f"m={_L46_DIAL['m']} at the reference density — regenerate "
        "the oracle CTEs to match the rule"
    )

# the planted-center table CTE, shared by the struct AND zipf corpus
# oracles (the zipf corpus reuses it with a skewed cluster draw)
_CL_CTE = f"""
    cl AS (SELECT c.c AS cid,
                  list((CAST('0x' || substr(md5('cl' || CAST(c.c AS VARCHAR)
                         || '_' || CAST(d.d AS VARCHAR)), 1, 8) AS BIGINT)
                        % {2 * _L46_SCALE + 1} - {_L46_SCALE}) / 1000.0
                       ORDER BY d.d) AS cen
           FROM generate_series(0, {_L46_CLUSTERS - 1}) c(c)
           CROSS JOIN generate_series(0, 63) d(d)
           GROUP BY c.c)"""

# center table + structured-embedding CTEs, shared by both l46 oracles
# (DuckDB mirror of _staged_structured_embeddings)
_STRUCT_E = f"""{_CL_CTE},
    e AS MATERIALIZED (SELECT r.vec_id,
                 list_transform(list_zip(CAST(r.embedding AS DOUBLE[]),
                                         cl.cen),
                                z -> ROUND(z[1] + z[2], 6)) AS emb
          FROM embeddings r
          JOIN cl ON cl.cid = CAST(r.vec_id % {_L46_CLUSTERS} AS INT))"""


def _struct_centroid_rows():
    """Driver-side mirror of the oracle's ``cl`` CTE: hashlib md5 ==
    SQL md5, so both engines derive the identical center table."""
    return [
        (
            c,
            [
                (
                    int(
                        hashlib.md5(f"cl{c}_{d}".encode()).hexdigest()[:8],
                        16,
                    )
                    % (2 * _L46_SCALE + 1)
                    - _L46_SCALE
                )
                / 1000.0
                for d in range(64)
            ],
        )
        for c in range(_L46_CLUSTERS)
    ]


def _emb_fingerprint(sf_dir):
    """Source stamp for the l46 quantizer/codebook/codes caches. Those
    caches are derived from the STAGED structured corpus, whose
    identity is (embeddings parquet) × (planted-cluster recipe) — so
    the stamp folds the recipe tag in: a testdata regeneration AND a
    recipe bump (_L46_CLUSTERS/_L46_SCALE/version) each invalidate the
    derived caches, not just the staged parquet they feed from."""
    return (
        source_fingerprint(os.path.join(sf_dir, "embeddings.parquet"))
        + f"|planted{_L46_CLUSTERS}-s{_L46_SCALE}-v1"
    )


def _staged_structured_embeddings(spark, sf_dir):
    """The planted-cluster corpus as staged dataset state (vec_id,
    embedding array<double>), once per testdata version."""
    def _write(p):
        cdf = spark.createDataFrame(
            _struct_centroid_rows(), "cid int, cen array<double>"
        )
        emb = _t(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "_e"
            ),
            (F.col("vec_id") % _L46_CLUSTERS).cast("int").alias("cid"),
        )
        (
            emb.join(F.broadcast(cdf), "cid")
            .select(
                "vec_id",
                F.zip_with(
                    "_e", "cen", lambda x, c: F.round(x + c, 6)
                ).alias("embedding"),
            )
            .repartition(8)
            .write.mode("overwrite")
            .parquet(p)
        )

    path = _stage_once(
        sf_dir, "struct_emb", _write, "embeddings",
        extra_fingerprint=f"planted{_L46_CLUSTERS}-s{_L46_SCALE}-v1",
    )
    return spark.read.parquet(path)


def _l46_oracle(corpus_cte: str = _STRUCT_E) -> str:
    """Plain IVFADC on a planted-cluster corpus with k_coarse=64: the
    l45c composition on ``corpus_cte`` (default: the balanced structured
    corpus; l47 passes the Zipf-skewed one)."""
    return _ivfadc_oracle(
        corpus_cte, _L46_K, _L46_ITERS, _L46_NPROBE, _L46_SHORT
    )


def _l46b_oracle(
    corpus_cte: str = _STRUCT_E,
    k_sql: str = str(_L46_K),
    shortlist: int = _L46B_SHORT,
) -> str:
    """Residual IVFADC: coarse Lloyd (k=64), residual table
    r = e − centroid[cell], per-subspace PQ Lloyd unrolls ON r,
    per-(query, probed cell) residual LUTs, ADC over residual codes,
    exact rerank on the structured vectors.

    Parameterized for reuse (the _l46_oracle contract): ``corpus_cte``
    swaps the corpus (l49 passes the Zipf CTE + a corpus-sized ``kk``
    dial CTE), ``k_sql`` the coarse seeding bound (a literal or a
    scalar subquery over ``kk``), ``shortlist`` the re-rank budget.
    Defaults reproduce the l46b text exactly."""
    subs = ",".join(
        _pq_sub_ctes(i, p="r", src="r", lut=False) for i in range(_PQ_M)
    )
    sub = _PQ_SUB
    rluts = ",".join(
        f"""
    rlut_{i} AS (SELECT qp.query_id, qp.cid AS cell, b.cid AS code,
              ROUND(list_sum(list_transform(list_zip(
                    list_transform(list_zip(
                        q.emb[{i * sub + 1}:{i * sub + sub}],
                        cc.cen[{i * sub + 1}:{i * sub + sub}]),
                      z -> z[1] - z[2]),
                    b.cen),
                    z -> (z[1] - z[2])*(z[1] - z[2]))), 6) AS d
       FROM qp
       JOIN e q ON q.vec_id = qp.query_id
       JOIN cfm cc ON cc.cid = qp.cid
       CROSS JOIN rc2_{i} b)"""
        for i in range(_PQ_M)
    )
    lut_joins = " ".join(
        f"JOIN rlut_{i} l{i} ON l{i}.code = codes.c{i}"
        f" AND l{i}.query_id = qp.query_id AND l{i}.cell = qp.cid"
        for i in range(_PQ_M)
    )
    return f"""
    WITH {corpus_cte},
    {_ivf_ctes(k_sql, _L46_ITERS)},
    afm AS MATERIALIZED (SELECT * FROM af),
    cfm AS MATERIALIZED (SELECT * FROM c{_L46_ITERS}),
    r AS MATERIALIZED (SELECT e.vec_id,
                 list_transform(list_zip(e.emb, cc.cen),
                                z -> z[1] - z[2]) AS emb
          FROM e JOIN afm ON afm.vec_id = e.vec_id
          JOIN cfm cc ON cc.cid = afm.cid),
    qp AS MATERIALIZED {_probe(_L46_NPROBE)},
    {subs},
    {rluts},
    {_pq_codes(p="r")},
    score AS (SELECT qp.query_id, codes.vec_id AS cand_id,
                     ROUND({_adc_sum()}, 6) AS adist
              FROM codes
              JOIN afm ON afm.vec_id = codes.vec_id
              JOIN qp ON qp.cid = afm.cid
              {lut_joins}),
    {_rerank(shortlist)}"""


_ZIPF_RES = 1_000_000  # draw resolution (md5 % RES against int bounds)


def _zipf_bounds() -> list[tuple[int, int, int]]:
    """Integer threshold table [(cid, lo, hi)): cluster c owns the
    draws u ∈ [lo, hi) with width ∝ 1/(c+1) (Zipf s=1 — hottest
    cluster ≈ 21% of the corpus at 64 clusters, a real hot cell).
    Computed ONCE here in Python and inlined as integer LITERALS into
    both engines' assignment, so no cross-engine float arithmetic
    exists anywhere in the draw."""
    w = [1.0 / (c + 1) for c in range(_L46_CLUSTERS)]
    tot = sum(w)
    bounds, acc, lo = [], 0.0, 0
    for c in range(_L46_CLUSTERS):
        acc += w[c]
        hi = (
            _ZIPF_RES
            if c == _L46_CLUSTERS - 1
            else int(math.floor(_ZIPF_RES * acc / tot))
        )
        bounds.append((c, lo, hi))
        lo = hi
    return bounds


# md5-deterministic draw, identical text both engines mirror:
# u = int(md5('zc' || vec_id)[:8], 16) % RES, cluster = the bounds row
_ZIPF_U_SQL = (
    "(CAST('0x' || substr(md5('zc' || CAST(r.vec_id AS VARCHAR)), 1, 8)"
    f" AS BIGINT) % {_ZIPF_RES})"
)

_ZIPF_E = f"""{_CL_CTE},
    zt(zcid, lo, hi) AS (VALUES {", ".join(f"({c}, {lo}, {hi})" for c, lo, hi in _zipf_bounds())}),
    e AS MATERIALIZED (SELECT r.vec_id,
                 list_transform(list_zip(CAST(r.embedding AS DOUBLE[]),
                                         cl.cen),
                                z -> ROUND(z[1] + z[2], 6)) AS emb
          FROM embeddings r
          JOIN zt ON {_ZIPF_U_SQL} >= zt.lo AND {_ZIPF_U_SQL} < zt.hi
          JOIN cl ON cl.cid = zt.zcid)"""


def _zipf_fingerprint(sf_dir):
    """Source stamp for the l47 caches: embeddings parquet identity ×
    the Zipf recipe (clusters, amplitude, thresholds version)."""
    return (
        source_fingerprint(os.path.join(sf_dir, "embeddings.parquet"))
        + f"|zipf{_L46_CLUSTERS}-s{_L46_SCALE}-r{_ZIPF_RES}-v1"
    )


def _staged_zipf_embeddings(spark, sf_dir):
    """The Zipf-populated planted-cluster corpus as staged dataset
    state (vec_id, embedding array<double>) — same centers as the
    balanced struct fixture, cluster membership drawn against the
    Zipf(1) thresholds."""
    def _write(p):
        cdf = spark.createDataFrame(
            _struct_centroid_rows(), "cid int, cen array<double>"
        )
        bdf = spark.createDataFrame(
            _zipf_bounds(), "zcid int, lo bigint, hi bigint"
        )
        u = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("zc"), F.col("vec_id").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % _ZIPF_RES
        )
        emb = _t(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "_e"
            ),
            u.alias("_u"),
        )
        (
            emb.join(
                F.broadcast(bdf),
                (F.col("_u") >= F.col("lo")) & (F.col("_u") < F.col("hi")),
            )
            .join(F.broadcast(cdf), F.col("cid") == F.col("zcid"))
            .select(
                "vec_id",
                F.zip_with(
                    "_e", "cen", lambda x, c: F.round(x + c, 6)
                ).alias("embedding"),
            )
            .repartition(8)
            .write.mode("overwrite")
            .parquet(p)
        )

    path = _stage_once(
        sf_dir, "zipf_emb", _write, "embeddings",
        extra_fingerprint=(
            f"zipf{_L46_CLUSTERS}-s{_L46_SCALE}-r{_ZIPF_RES}-v1"
        ),
    )
    return spark.read.parquet(path)


@query(
    "l19_blocked_allpairs",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings)
    SELECT id_l, id_r, round(cosine, 6) AS cosine FROM (
      SELECT a.vec_id AS id_l, b.vec_id AS id_r,
             list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e))) AS cosine
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    ) WHERE cosine >= 0.4
    """,
)
def l19_blocked_allpairs(spark, sf_dir):
    """Exact embedding-cosine near-dup pairs (threshold 0.4), produced
    the way a 100 TB corpus would: block-matrix tiling + one BLAS matmul
    per tile (see operators/similarity.blocked_allpairs_cosine). Shuffle
    ∝ n·B, task memory = two blocks. Also registered as the alias
    l10_embedding_near_dup."""
    emb = _t(spark, sf_dir, "embeddings")
    return blocked_allpairs_cosine(emb, threshold=0.4, n_blocks=8)


def _l3_ivf_oracle(
    n_centroids: int = 16, iters: int = 3, n_probe: int = 4, k: int = 5
) -> str:
    return f"""
    WITH {_EMB_E},
    {_ivf_ctes(n_centroids, iters)},
    qp AS (SELECT vec_id AS q_id, cid FROM (
         SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid)
                  AS rk
         FROM df WHERE vec_id < 10) WHERE rk <= {n_probe}),
    cand AS (SELECT DISTINCT qp.q_id, af.vec_id
             FROM qp JOIN af ON af.cid = qp.cid),
    nr AS (SELECT vec_id, emb,
                  sqrt(list_dot_product(emb, emb)) AS nn FROM e),
    scored AS (SELECT cand.q_id, cand.vec_id,
               round(list_dot_product(q.emb, c.emb) / (q.nn * c.nn), 6)
                 AS cosine
               FROM cand
               JOIN nr q ON q.vec_id = cand.q_id
               JOIN nr c ON c.vec_id = cand.vec_id)
    SELECT q_id, vec_id, cosine, CAST(rank AS INT) AS rank FROM (
      SELECT q_id, vec_id, cosine,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@query("l3_ivf_knn", _l3_ivf_oracle())
def l3_ivf_knn(spark, sf_dir):
    """L3 scale path #2: IVF (inverted-file) approximate kNN — coarse
    k-means quantizer + probe-nearest-lists (see operators/similarity.py).

    The quantizer is trained once per (dataset, params) and persisted as
    a tiny parquet; repeat invocations skip the Lloyd rounds and go
    straight to assign+probe (the production shape: centroids are
    dataset state, like the bucketed tables of z1).

    Round 9: the quantizer is the kmeans_fit deterministic trainer
    (smallest-id init, 6 dp-rounded distances and means — the l22
    pattern) and assign/probe run as rounded JVM expressions
    (ivf_knn_det), so the oracle unrolls the SAME Lloyd rounds as CTEs
    and the approximate operator is graded by full value hash. Recall
    stays pytest's concern (tests/test_recall_sf01.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cents = load_or_train_centroids_det(
        emb, "vec_id", "embedding", dim=64, n_centroids=16, iters=3,
        cache_path=_io_dir(sf_dir, "l3_ivf_centroids_det_k16_d64_i3"),
        fingerprint=_src_fp(sf_dir, "embeddings"),
    )
    return ivf_knn_det(
        q, emb, dim=64, k=5, n_centroids=16, n_probe=4, centroids=cents
    )


def _l22_dist_cte(src_e: str, src_c: str, d_name: str, a_name: str) -> str:
    """One unrolled Lloyd assignment round of the l22 oracle: distances
    (6 dp-rounded, matching the Spark side's pre-argmin rounding) and
    lowest-index-tie-break argmin."""
    return f"""
    {d_name} AS (SELECT e.vec_id, c.cid,
              ROUND(list_sum(list_transform(list_zip(e.emb, c.cen),
                    z -> (z[1] - z[2])*(z[1] - z[2]))), 6) AS d
       FROM e CROSS JOIN {src_c} c),
    {a_name} AS (SELECT vec_id, cid, d FROM (
         SELECT vec_id, cid, d,
                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk
         FROM {d_name}) WHERE rk = 1)"""


_L22_ORACLE = f"""
    WITH {_EMB_E},
    c0 AS (SELECT CAST(vec_id AS INT) AS cid,
                  list_transform(emb, x -> ROUND(x, 6)) AS cen
           FROM e WHERE vec_id < 8),
    {_l22_dist_cte('e', 'c0', 'd1', 'a1')},
    {_ivf_mean_cte('a1', 'c0', 'm1', 'c1')},
    {_l22_dist_cte('e', 'c1', 'd2', 'a2')},
    {_ivf_mean_cte('a2', 'c1', 'm2', 'c2')},
    {_l22_dist_cte('e', 'c2', 'd3', 'a3')},
    dup AS (SELECT DISTINCT y.vec_id
            FROM a3 x JOIN a3 y ON x.cid = y.cid AND x.vec_id < y.vec_id
                 JOIN e ex ON ex.vec_id = x.vec_id
                 JOIN e ey ON ey.vec_id = y.vec_id
            WHERE list_dot_product(ex.emb, ey.emb)
                  / (sqrt(list_dot_product(ex.emb, ex.emb))
                     * sqrt(list_dot_product(ey.emb, ey.emb))) >= 0.4)
    SELECT a3.vec_id, CAST(a3.cid AS INT) AS cluster,
           ROUND(a3.d, 6) AS dist2,
           a3.vec_id NOT IN (SELECT vec_id FROM dup) AS kept
    FROM a3
"""


@query("l22_semantic_dedup", _L22_ORACLE)
def l22_semantic_dedup(spark, sf_dir):
    """L22: SemDeDup (Abbas et al. 2023) — semantic near-dup removal:
    deterministic k-means over the embedding space (init = k smallest
    ids, 2 Lloyd rounds, 6 dp-rounded centroids/distances so an
    independent engine makes bit-identical decisions), then a row is
    kept iff no lower-id row in its CLUSTER has cosine >= 0.4. The
    cluster key blocks the quadratic pair scan; the k-means itself is
    one map-only assignment + one keyed mean shuffle per round with
    k x dim driver state (the IVF-centroid pattern). The oracle unrolls
    both Lloyd rounds as SQL CTEs (the l18 PageRank pattern)."""
    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, "vec_id", "embedding", k=8, iters=2, threshold=0.4
    )


def _l45_core() -> str:
    """Shared oracle core: per-subspace Lloyd unrolls + codes + ADC
    scores (``score(query_id, cand_id, adist)``)."""
    lut_joins = " ".join(
        f"JOIN lut_{i} l{i} ON l{i}.cid = codes.c{i}"
        + ("" if i == 0 else " AND l{i}.query_id = l0.query_id".format(i=i))
        for i in range(_PQ_M)
    )
    return f"""
    WITH {_EMB_E},
    {",".join(_pq_sub_ctes(i) for i in range(_PQ_M))},
    {_pq_codes()},
    score AS (SELECT l0.query_id, codes.vec_id AS cand_id,
                     ROUND({_adc_sum()}, 6) AS adist
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
    {_rerank(_PQ_SHORTLIST)}"""


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
# L45c — true IVFADC: coarse-cell pruning + PQ ADC + exact re-rank
# =====================================================================

_IVFADC_NPROBE = 6
_IVFADC_SHORTLIST = 200
_IVF_K = 16       # coarse cells (shares l3_ivf's cached quantizer)
_IVF_ITERS = 3


def _l45c_oracle() -> str:
    """Compose the two Lloyd unrolls: the coarse 16-cell IVF quantizer
    (l3_ivf's CTEs — same params, so Spark shares the SAME cached
    centroids) and l45's per-subspace PQ codebooks, then score ADC only
    where the candidate's cell is probed."""
    return _ivfadc_oracle(
        _EMB_E, _IVF_K, _IVF_ITERS, _IVFADC_NPROBE, _IVFADC_SHORTLIST
    )


@query("l45c_ivfadc_topk", _l45c_oracle())
def l45c_ivfadc_topk(spark, sf_dir):
    """L45c: TRUE IVFADC (Jégou et al., TPAMI 2011) — the composition
    the round-10 verdict named as the missing 100 TB ANN shape: l45's
    ADC scan reads EVERY corpus code per query (linear per batch);
    here the corpus is additionally assigned to a coarse IVF cell
    (l3_ivf's deterministic 16-means quantizer — the SAME cached
    centroids, dataset state shared across operators) and each query
    ADC-scores only codes inside its {n_probe} nearest cells, then the
    {short}-candidate shortlist re-ranks on true distances.

    Scanned-candidate fraction ~n_probe/k_coarse (~0.38 here); at
    scale k_coarse grows ~√N with n_probe fixed, so the fraction FALLS
    with corpus size — the property neither l45 (full code scan) nor
    l45b (full-scan shortlist) has. Measured recall (tools/
    sim_ivfadc.py, vs exact top-10): 0.76 at sf0.01 / 0.605 at sf0.1 —
    ABOVE the full-scan l45b (0.74 / 0.43) at the same rerank budget,
    because cell pruning removes far-away candidates that lossy ADC
    ranks spuriously high.

    Plan: cell assign + PQ encode are map-only literal projections; the
    probe table (Q × n_probe rows carrying the LUT arrays) broadcasts
    into ONE BroadcastHashJoin on cell id; per-query windows prune
    map-side (WindowGroupLimit); the raw-vector column is touched for
    Q × shortlist rows only. Jégou's residual refinement (PQ on
    x − centroid, per-cell query LUTs) was SIMULATED and deferred in
    round 11: +0–5 pp recall on THIS corpus (tools/sim_ivfadc
    .residual_variant — random embeddings carry no cluster structure
    for residuals to exploit) does not buy the m×k×n_probe LUT blowup.
    Round 12 re-validated the decision on the planted-cluster corpus
    and REVERSED it there: +17 pp at the same budget — see
    ``l46b_ivfadc_residual``; the split stands (plain PQ
    for structureless data, residual for clustered). Round 12 also
    staged the corpus codes as ingest-time dataset state
    (``load_or_build_ivfadc_codes`` — the codes ARE the index; staged
    ≡ inline asserted in tests/test_recall_sf01.py). Full value-hash
    oracle: BOTH Lloyd
    trainings unrolled as CTEs (the l3_ivf + l45 generators composed),
    probe/assign/ADC/rerank decisions all 6 dp-rounded with
    lowest-index tie-breaks — bit-identical cross-engine."""
    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir, emb)

    cents = load_or_train_centroids_det(
        emb, "vec_id", "embedding", dim=64,
        n_centroids=_IVF_K, iters=_IVF_ITERS,
        cache_path=_io_dir(sf_dir, "l3_ivf_centroids_det_k16_d64_i3"),
        fingerprint=_src_fp(sf_dir, "embeddings"),
    )
    # the codes table IS the index: assignment + PQ encoding are staged
    # once per (corpus, params) like the quantizer/codebooks themselves
    # (round-11 verdict #2 — at sf10 the per-run re-encode dominated)

    codes = load_or_build_ivfadc_codes(
        emb, "vec_id", "embedding", cents, books,
        cache_path=_io_dir(
            sf_dir, f"l45c_codes_k{_IVF_K}_m{_PQ_M}"
        ),
        fingerprint=source_fingerprint(
            os.path.join(sf_dir, "embeddings.parquet")
        ),
    )
    queries = emb.where(
        (F.col("vec_id") % _PQ_QMOD == 0) & (F.col("vec_id") < _PQ_QMAX)
    )
    out = ivfadc_topk(
        emb, queries, "vec_id", "embedding", cents, books,
        n_probe=_IVFADC_NPROBE, shortlist=_IVFADC_SHORTLIST, k=_PQ_TOPK,
        codes=codes,
    )
    return out.select(
        "query_id", "cand_id", F.col("rank").cast("int").alias("rank"),
        "dist2",
    )


@query("l46_ivfadc_structured", _l46_oracle())
def l46_ivfadc_structured(spark, sf_dir):
    """L46: IVFADC re-pinned on the PLANTED-CLUSTER corpus — the
    round-11 verdict's top ask: every prior ANN recall number
    (l3_lsh 0.87, l45b 0.74, l45c 0.605) was measured on structure-free
    random embeddings, PQ/IVF's worst case, so nothing in the repo
    predicted behavior on real (clustered) embeddings. The structured
    corpus (module header: 64 planted md5-derived centers, overlap by
    construction) is staged dataset state; coarse k=64 (≈√N at sf0.1 —
    the IVF sizing rule, vs l45c's k=16 on the random corpus), PQ
    m=4 × 16 codes, n_probe=6, shortlist=200, exact top-10 rerank.

    MEASURED at sf0.1 (tests/test_recall_sf01.py pins the floor):
    recall 0.855 vs exact top-10 at scanned fraction 0.094 — vs 0.605
    for the SAME machinery on the random corpus (l45c) and 1.000 when
    the planted centers are 2× farther apart (trivial corpus, rejected:
    a benchmark the operator cannot fail measures nothing). Index
    state (quantizer, codebooks, codes) staged once per corpus version
    — query runs touch m+1 small ints per candidate + Q×200 raw rows.

    Full value-hash oracle: the structured-embedding construction, BOTH
    Lloyd trainings (coarse 64×3, PQ 4×(16×2)), probe, ADC and rerank
    all unrolled in DuckDB over the same parquet — bit-identical
    decisions via the 6 dp/lowest-index contract."""
    se = _staged_structured_embeddings(spark, sf_dir)
    cents = load_or_train_centroids_det(
        se, "vec_id", "embedding", dim=64,
        n_centroids=_L46_K, iters=_L46_ITERS,
        cache_path=_io_dir(sf_dir, f"l46_coarse_k{_L46_K}_i{_L46_ITERS}"),
        fingerprint=_emb_fingerprint(sf_dir),
)
    books = load_or_train_pq_books(
        se, "vec_id", "embedding", m=_PQ_M, k=16, iters=2,
        cache_path=_io_dir(sf_dir, f"l46_books_m{_PQ_M}_k16"),
        fingerprint=_emb_fingerprint(sf_dir),
)
    codes = load_or_build_ivfadc_codes(
        se, "vec_id", "embedding", cents, books,
        cache_path=_io_dir(sf_dir, f"l46_codes_k{_L46_K}_m{_PQ_M}"),
        fingerprint=_emb_fingerprint(sf_dir),
    )
    queries = se.where(
        (F.col("vec_id") % _PQ_QMOD == 0) & (F.col("vec_id") < _PQ_QMAX)
    )
    out = ivfadc_topk(
        se, queries, "vec_id", "embedding", cents, books,
        n_probe=_L46_NPROBE, shortlist=_L46_SHORT, k=_PQ_TOPK,
        codes=codes,
    )
    return out.select(
        "query_id", "cand_id", F.col("rank").cast("int").alias("rank"),
        "dist2",
    )


@query("l46b_ivfadc_residual", _l46b_oracle())
def l46b_ivfadc_residual(spark, sf_dir):
    """L46b: IVFADC with RESIDUAL REFINEMENT (Jégou TPAMI 2011 §III.C
    — the paper's actual construction) on the planted-cluster corpus —
    the decision round 11 deferred, RE-VALIDATED and REVERSED on
    structured data: PQ codes quantize x − centroid[cell] and each
    query ADC-scores against a per-probed-cell LUT built from its own
    residual. On the random corpus this bought +0–5 pp (residuals of
    structure-free points are just shifted copies — round-11
    measurement, correctly rejected THERE); on the structured corpus
    residuals concentrate around 0 and the same 4×16 codebook budget
    yields **recall 0.785 vs plain PQ's 0.615 at the identical
    shortlist=50 / n_probe=6 budget** (+17 pp, tests/test_recall_sf01
    pins the gap), letting a 4× smaller rerank budget match plain
    PQ's shortlist=200 quality class. Cost: LUT work × n_probe per
    query (still broadcast-sized: Q × n_probe rows), the blowup that
    made it a bad trade on data it couldn't help.

    Index state (quantizer, residual codebooks, residual codes) staged
    once; full value-hash oracle unrolls coarse Lloyd, the residual
    table, FOUR residual-PQ Lloyd trainings, per-cell LUTs, ADC and
    rerank — bit-identical cross-engine."""
    se = _staged_structured_embeddings(spark, sf_dir)
    cents = load_or_train_centroids_det(
        se, "vec_id", "embedding", dim=64,
        n_centroids=_L46_K, iters=_L46_ITERS,
        cache_path=_io_dir(sf_dir, f"l46_coarse_k{_L46_K}_i{_L46_ITERS}"),
        fingerprint=_emb_fingerprint(sf_dir),
)
    rv = residual_vectors(se, "vec_id", "embedding", cents)
    rbooks = load_or_train_pq_books(
        rv, "vec_id", "_rv", m=_PQ_M, k=16, iters=2,
        cache_path=_io_dir(sf_dir, f"l46b_res_books_m{_PQ_M}_k16"),
        fingerprint=_emb_fingerprint(sf_dir),
)
    rcodes = load_or_build_ivfadc_codes(
        se, "vec_id", "embedding", cents, rbooks,
        cache_path=_io_dir(sf_dir, f"l46b_res_codes_k{_L46_K}_m{_PQ_M}"),
        residual=True,
        fingerprint=_emb_fingerprint(sf_dir),
    )
    queries = se.where(
        (F.col("vec_id") % _PQ_QMOD == 0) & (F.col("vec_id") < _PQ_QMAX)
    )
    out = ivfadc_residual_topk(
        se, queries, "vec_id", "embedding", cents, rbooks,
        n_probe=_L46_NPROBE, shortlist=_L46B_SHORT, k=_PQ_TOPK,
        codes=rcodes,
    )
    return out.select(
        "query_id", "cand_id", F.col("rank").cast("int").alias("rank"),
        "dist2",
    )


# =====================================================================
# L46c — the PQ code-budget dial (m=8) with a full oracle
# =====================================================================

# the m=8 dial is DERIVED, not hand-picked: it is what the sizing
# rule returns at the struct-sf10 density (N=80k, points-per-cell
# ~312 — the density where the m=4 codes collapse to 0.448 and this
# dial reads 0.798); the oracle below is parametric in _L46C_M, so
# the entry certifies the rule's level-1 output end-to-end
_L46C_REF_N = 80_000
_L46C_M = ivfadc_params(_L46C_REF_N, 64)["m"]


def _l46c_oracle() -> str:
    return _ivfadc_oracle(
        _STRUCT_E, _L46_K, _L46_ITERS, _L46_NPROBE, _L46B_SHORT,
        m=_L46C_M, p="m",
    )


@query("l46c_ivfadc_m8", _l46c_oracle())
def l46c_ivfadc_m8(spark, sf_dir):
    """L46c: the PQ CODE-BUDGET dial (m=8, 8-dim subspaces) with a
    full oracle — the dial the struct-sf10 decade row showed is the
    binding one at corpus growth: at 1250 points per planted cluster
    the fixed m=4 codes read recall 0.448 and doubling the code budget
    (m=8, same k=16 per subspace — 8 bytes/vector instead of 4)
    recovers 0.798 at the same probe budget (IVFADC_DECADE sweep +
    SCALING.md one-offs). This entry certifies the m=8 COMPOSITION
    end-to-end (eight per-subspace Lloyd unrolls in the oracle) at the
    TIGHT shortlist=50 budget where code quality, not rerank slack,
    decides the answer — the same budget where l46b's residual codes
    are pinned, so the catalog carries all three points of the design
    space at one budget (sf0.1, measured): plain m=4 **0.615**,
    plain m=8 **0.66** (this entry), residual m=4 **0.785**. The
    ordering is density-dependent and both sides of it are now
    evidence: at sf0.1's ~31 points/cluster the binding error is
    WHICH cells get probed (residual LUTs fix more of it than finer
    codes), while at struct-sf10's ~1250 points/cluster code
    resolution binds and m=8 is the winning dial (0.798 vs m=4's
    0.574 at n_probe=12/shortlist=400 — IVFADC_DECADE + SCALING.md).
    tests/test_recall_sf01.py pins m=8 > m=4 at this budget.

    Same staged-state contract (books/codes keyed by corpus + m);
    same 6 dp/lowest-index determinism; scale shape identical to l46
    with codes twice as wide — still m+1 small ints per candidate."""
    se = _staged_structured_embeddings(spark, sf_dir)
    cents = load_or_train_centroids_det(
        se, "vec_id", "embedding", dim=64,
        n_centroids=_L46_K, iters=_L46_ITERS,
        cache_path=_io_dir(sf_dir, f"l46_coarse_k{_L46_K}_i{_L46_ITERS}"),
        fingerprint=_emb_fingerprint(sf_dir),
)
    books = load_or_train_pq_books(
        se, "vec_id", "embedding", m=_L46C_M, k=16, iters=2,
        cache_path=_io_dir(sf_dir, f"l46_books_m{_L46C_M}_k16"),
        fingerprint=_emb_fingerprint(sf_dir),
)
    codes = load_or_build_ivfadc_codes(
        se, "vec_id", "embedding", cents, books,
        cache_path=_io_dir(sf_dir, f"l46c_codes_k{_L46_K}_m{_L46C_M}"),
        fingerprint=_emb_fingerprint(sf_dir),
    )
    queries = se.where(
        (F.col("vec_id") % _PQ_QMOD == 0) & (F.col("vec_id") < _PQ_QMAX)
    )
    out = ivfadc_topk(
        se, queries, "vec_id", "embedding", cents, books,
        n_probe=_L46_NPROBE, shortlist=_L46B_SHORT, k=_PQ_TOPK,
        codes=codes,
    )
    return out.select(
        "query_id", "cand_id", F.col("rank").cast("int").alias("rank"),
        "dist2",
    )


@query("l47_ivfadc_zipf", _l46_oracle(_ZIPF_E))
def l47_ivfadc_zipf(spark, sf_dir):
    """L47: IVFADC on the ZIPF-POPULATED planted-cluster corpus — the
    skew case the balanced l46 fixture could not stress (round-12
    verdict #2): cluster membership is an md5-deterministic draw
    against Zipf(1) integer thresholds, so the hottest planted cluster
    holds ≈21% of the corpus (vs exactly 1/64 in l46). Identical
    machinery and rule-sized dial as l46 (k=64 at the reference
    density, m=4, n_probe=6, shortlist=200; every cache keyed by the
    zipf recipe fingerprint).

    What the skew does, MEASURED at sf0.1/1/10 (IVFADC_DECADE
    ``zipf_*`` rows + tests/test_r13_ops.py) — two distinct regimes:

    - Quantizer TRAINED on the skewed corpus (this entry): Lloyd
      allocates centroids ∝ density, so cell populations stay under
      ~10% (split_hot_cells at cap 0.1 is a measured NO-OP) and the
      scanned fraction matches the balanced corpus (0.100 vs 0.094).
      The cost is RECALL at the fixed budget — 0.81 vs 0.855 at
      sf0.1, 0.76 vs 0.858 at sf1, 0.656 vs 0.798 at struct-sf10
      (rare-cluster starvation: the tail clusters get fewer centroids
      and coarser effective codes). Measured mitigation: RESIDUAL
      codes at the identical dial read 0.842 at zipf-sf10
      (IVFADC_DECADE zipf_10_res; pinned in tests) — residuals
      concentrate around 0 regardless of cluster population.
    - Quantizer FROZEN from a different distribution (the x20
      train-once-then-drift deployment): the hot planted cluster
      lands in ONE cell holding 20% of the corpus (measured 0.202) —
      a straggler partition in the ADC join at 100 TB.
      ``operators.similarity.split_hot_cells`` (cells above a
      declared population cap replaced by sub-centroids trained on
      their own members — the FAISS-style imbalance fix) restores
      balance: max cell 0.066, k 64→68, recall unchanged (0.84),
      mean/tail scanned fraction not worse. Pinned in
      tests/test_r13_ops.py, not in this entry, because the split
      count is data-dependent (a conditional oracle unroll would pin
      the fixture, not the operator).

    Full value-hash oracle: the Zipf draw (integer thresholds inlined
    as literals in BOTH engines — no cross-engine float arithmetic in
    the draw), the center shift, both Lloyd trainings, probe, ADC and
    rerank, all unrolled in DuckDB over the same parquet."""
    ze = _staged_zipf_embeddings(spark, sf_dir)
    fp = _zipf_fingerprint(sf_dir)
    cents = load_or_train_centroids_det(
        ze, "vec_id", "embedding", dim=64,
        n_centroids=_L46_K, iters=_L46_ITERS,
        cache_path=_io_dir(sf_dir, f"l47_coarse_k{_L46_K}_i{_L46_ITERS}"),
        fingerprint=fp,
    )
    books = load_or_train_pq_books(
        ze, "vec_id", "embedding", m=_PQ_M, k=16, iters=2,
        cache_path=_io_dir(sf_dir, f"l47_books_m{_PQ_M}_k16"),
        fingerprint=fp,
    )
    codes = load_or_build_ivfadc_codes(
        ze, "vec_id", "embedding", cents, books,
        cache_path=_io_dir(sf_dir, f"l47_codes_k{_L46_K}_m{_PQ_M}"),
        fingerprint=fp,
    )
    queries = ze.where(
        (F.col("vec_id") % _PQ_QMOD == 0) & (F.col("vec_id") < _PQ_QMAX)
    )
    out = ivfadc_topk(
        ze, queries, "vec_id", "embedding", cents, books,
        n_probe=_L46_NPROBE, shortlist=_L46_SHORT, k=_PQ_TOPK,
        codes=codes,
    )
    return out.select(
        "query_id", "cand_id", F.col("rank").cast("int").alias("rank"),
        "dist2",
    )

# =====================================================================
# L49 — automatic sized-and-typed IVFADC on the Zipf corpus
# =====================================================================

# the oracle mirrors ivfadc_params' k_coarse rule in SQL so the same
# text is valid at ANY level-0 density (sf0.01/0.1/1): k = largest
# power of two <= 1.5 * sqrt(N), floor 16
_L49_K_CTE = """
    kk AS (SELECT GREATEST(16, CAST(POWER(2, FLOOR(LOG2(
                    GREATEST(16.0, 1.5 * SQRT(COUNT(*)))))) AS BIGINT))
                  AS k
           FROM e)"""

# level-0 dial constants (ivfadc_params: points-per-cell <= 128 at
# every oracle-checked density — sf0.01 ppc 15.6, sf0.1 31, sf1 62.5)
_L49_NPROBE = 6
_L49_SHORT = 200


def _l49_oracle() -> str:
    """The residual-IVFADC unroll (``_l46b_oracle``) on the Zipf corpus
    with the coarse k computed IN SQL from the corpus count — the DuckDB
    mirror of the ivfadc_plan flow for the branch the entry pins (level
    0, m=4, residual codes)."""
    return _l46b_oracle(
        corpus_cte=_ZIPF_E + "," + _L49_K_CTE,
        k_sql="(SELECT k FROM kk)",
        shortlist=_L49_SHORT,
    )


@query("l49_ivfadc_auto", _l49_oracle())
def l49_ivfadc_auto(spark, sf_dir):
    """L49: IVFADC with the dial SIZED and the code type CHOSEN by
    measurement — :func:`finporter_spark.operators.similarity
    .ivfadc_plan` end-to-end on the Zipf-populated planted-cluster
    corpus. l47 runs the same corpus with the caller choosing plain
    codes (and documents the 0.656-vs-0.842 cost of that choice at
    zipf-sf10); here nothing is chosen: the corpus count sets
    k_coarse/m/n_probe/shortlist (``ivfadc_params``), and the trained
    quantizer's nearest-centroid spacing statistic
    (``quantizer_spacing_skew``; min/median < 0.765, the measured gap
    between the balanced and Zipf corpora at every scale) selects
    RESIDUAL codes — the measured right default on skew-populated
    corpora (+0.19 recall at zipf-sf10, IVFADC_DECADE.json), now the
    actual default.

    Oracle branch pin: the DuckDB oracle unrolls the residual level-0
    branch with k computed in SQL from the corpus count (the same
    1.5·√N rule), so the entry RAISES loudly if the plan ever decides
    differently (plain codes / an escalated level) instead of
    hash-diffing — the l46 import-raise pattern at runtime. The
    balanced-corpus counterpart (plan chooses PLAIN on l46's fixture)
    is pinned in tests/test_r14_ops.py, not as a second entry.

    Scale: everything the plan builds is fingerprint-guarded dataset
    state keyed by dial AND code type; the query side is l46b's shape
    (broadcast probe LUTs per (query, cell), ADC over staged residual
    codes, exact re-rank on Q × shortlist raw rows)."""
    ze = _staged_zipf_embeddings(spark, sf_dir)
    plan = ivfadc_plan(
        ze, "vec_id", "embedding", 64,
        cache_root=_io_dir(sf_dir, "l49_plan"),
        fingerprint=_zipf_fingerprint(sf_dir),
    )
    if (
        plan["code_type"] != "residual"
        or plan["level"] != 0
        or plan["m"] != 4
        or plan["n_probe"] != _L49_NPROBE
        or plan["shortlist"] != _L49_SHORT
    ):
        raise RuntimeError(
            "l49_ivfadc_auto: the measured plan "
            f"(code_type={plan['code_type']}, level={plan['level']}, "
            f"m={plan['m']}, n_probe={plan['n_probe']}, "
            f"shortlist={plan['shortlist']}, "
            f"nn_min_over_med={plan['nn_min_over_med']:.3f}) left the "
            "branch the oracle unrolls (residual, level 0, m=4, "
            "n_probe=6, shortlist=200) — this corpus/density is "
            "outside the entry's pinned regime; the operator itself "
            "is fine, regenerate the oracle for the new branch"
        )
    queries = ze.where(
        (F.col("vec_id") % _PQ_QMOD == 0) & (F.col("vec_id") < _PQ_QMAX)
    )
    out = ivfadc_plan_topk(
        plan, ze, queries, "vec_id", "embedding", k=_PQ_TOPK
    )
    return out.select(
        "query_id", "cand_id", F.col("rank").cast("int").alias("rank"),
        "dist2",
    )
