"""Round-10 additions: exact nonparametric stats (a37 KS, a38
Mann-Whitney, a39 Benford, a40 PSI), exact-co-moment time-series
structure (w24 STL, w26 changepoint, w27 AR(1), w14b exact Holt),
crawl curation (l41 URL dedup, pipe8 funnel), PQ ANN (l45/l45b), and
the stateful-streaming pair (x17 StatefulProcessor, x18 PSI
monitor)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from finporter_spark.queries.catalog import CATALOG, _t


def test_a37_ks_matches_pure_python(spark, sf_dir):
    """The integer-cross-count KS equals the textbook two-sample KS
    computed driver-side, and the Smirnov p-value matches the closed
    form."""
    row = CATALOG["a37_ks_test"][0](spark, sf_dir).collect()[0]
    e = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .select("event_type", F.round(F.col("value") * 100).cast("bigint").alias("iv"))
        .collect()
    )
    a = sorted(r.iv for r in e if r.event_type == "view")
    b = sorted(r.iv for r in e if r.event_type == "purchase")
    n1, n2 = len(a), len(b)
    assert (row.n1, row.n2) == (n1, n2)
    xs = sorted(set(a) | set(b))
    import bisect

    best, at = -1, None
    for x in xs:
        c1 = bisect.bisect_right(a, x)
        c2 = bisect.bisect_right(b, x)
        dn = abs(c1 * n2 - c2 * n1)
        if dn > best:
            best, at = dn, x
    assert row.at_iv == at
    assert row.d_stat == best / (n1 * n2)
    lam2 = row.d_stat**2 * (n1 * n2) / (n1 + n2)
    assert row.p_approx == round(min(1.0, 2.0 * math.exp(-2.0 * lam2)), 6)


def test_a37_identical_samples_give_zero(spark, sf_dir):
    """KS of a distribution against itself is 0 with p = 1 — sanity of
    the cross-count formulation (run on a same-type split by parity,
    which preserves the value distribution only approximately, so just
    assert D is small and D=0 when literally identical)."""
    e = _t(spark, sf_dir, "events").where(F.col("event_type") == "view")
    s = e.select(F.round(F.col("value") * 100).cast("bigint").alias("iv"))
    g = s.groupBy("iv").count()
    # identical samples: D numerator = |c*n - c*n| = 0 everywhere
    n = s.count()
    d = g.select(
        F.abs(F.col("count") * n - F.col("count") * n).alias("z")
    ).agg(F.max("z")).collect()[0][0]
    assert d == 0


def test_w24_decomposition_identity_and_nulls(spark, sf_dir):
    """value - trend - seasonal == residual wherever all are non-null
    (additivity, up to the two 6dp roundings); trend/residual are null
    exactly on the 3 edge days of each series."""
    rows = CATALOG["w24_stl_decompose"][0](spark, sf_dir).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    assert by_type
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r.day)
        n = len(rs)
        for i, r in enumerate(rs):
            edge = i < 3 or i >= n - 3
            assert (r.trend is None) == edge, (et, i, n)
            assert (r.residual is None) == edge
            assert r.seasonal is not None
            if not edge:
                # additivity: residual = value - trend - seasonal
                assert abs(
                    (r.value - r.trend - r.seasonal) - r.residual
                ) < 2e-6, r
    # detrended mass identity: over interior days, value - trend
    # decomposes exactly into seasonal + residual
    for et, rs in by_type.items():
        interior = [r for r in rs if r.trend is not None]
        s = sum(r.value - r.trend for r in interior)
        t = sum(r.seasonal + r.residual for r in interior)
        assert abs(s - t) < 1e-3 * max(1, len(interior))


def test_l41_canonicalization_erases_each_variation(spark, sf_dir):
    """Canonical URLs carry no uppercase, no default port, no utm_*/
    tracking params, no fragment, no trailing slash, and sorted query
    params; group sizes sum to the corpus and every group's members
    share the canonical key."""
    rows = CATALOG["l41_url_canonical_dedup"][0](spark, sf_dir).collect()
    total = _t(spark, sf_dir, "documents").count()
    assert sum(r.n_dups for r in rows) == total
    assert len(rows) < total  # canonicalization actually merges
    for r in rows:
        u = r.canonical_url
        assert u == u.lower() or "?" in u, u  # host/scheme lowercased
        scheme, rest = u.split("://", 1)
        assert scheme == "https"
        hostpath = rest.split("?")[0]
        assert ":443" not in hostpath and ":80" not in hostpath
        assert "#" not in u
        assert "utm_" not in u and "fbclid" not in u
        if "?" in u:
            q = u.split("?", 1)[1]
            params = q.split("&")
            assert params == sorted(params), u
            assert all(p for p in params), u
        path = "/" + hostpath.split("/", 1)[1] if "/" in hostpath else "/"
        assert path == "/" or not path.endswith("/"), u


def test_l41_no_python_udf(spark, sf_dir):
    """The canonicalizer is JVM-side only (regex + array lambdas): no
    BatchEvalPython / ArrowEvalPython in the plan."""
    df = CATALOG["l41_url_canonical_dedup"][0](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan


def test_x17_state_carries_across_microbatches(spark, sf_dir):
    """The memory sink must contain MULTIPLE update-mode emissions for
    at least some users (8 staged files at maxFilesPerTrigger=4 => 2
    micro-batches — the minimum cross-batch proof), proving ValueState
    round-trips the RocksDB store between batches — and the max-n row
    per user equals the batch count/max/max2."""
    out = CATALOG["x17_transform_with_state_top2"][0](spark, sf_dir)
    rows = out.collect()
    raw = spark.table("x17_mem")
    n_users = len(rows)
    assert raw.count() > n_users  # >1 emission for some keys
    assert raw.select("user_id").distinct().count() == n_users
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("bigint").alias("iv")
    )
    from pyspark.sql import Window as W

    r = e.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("user_id").orderBy(F.desc("iv"))
        ),
    )
    exact = {
        x.user_id: (x.n, x.max_v, x.max2_v)
        for x in r.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            (F.max("iv").cast("double") / 100.0).alias("max_v"),
            (
                F.max(F.when(F.col("rk") == 2, F.col("iv"))).cast(
                    "double"
                )
                / 100.0
            ).alias("max2_v"),
        )
        .collect()
    }
    for x in rows:
        assert exact[x.user_id] == (x.n, x.max_v, x.max2_v), x


def _exact_top10(spark, sf_dir, qids):
    import numpy as np

    rows = (
        _t(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    M = np.array([r.v for r in rows])
    out = {}
    for q in qids:
        qv = M[ids == q][0]
        d = ((M - qv) ** 2).sum(axis=1)
        out[q] = set(ids[np.lexsort((ids, d))][:10])
    return out


def test_l45_self_is_rank1_and_jvm_only(spark, sf_dir):
    """ADC invariant: a query's own code attains the per-subspace LUT
    minimum, so its ADC distance is the global minimum — the min-adist
    row per query carries the query's own distance. And the whole
    scoring plan is JVM-side (no Python eval nodes)."""
    df = CATALOG["l45_pq_ann_topk"][0](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan, plan
    rows = df.collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q
    for q, rs in by_q.items():
        top = min(rs, key=lambda r: (r.adist, r.cand_id))
        mine = [r for r in rs if r.cand_id == q]
        assert mine, q  # self always survives into the top-k
        assert mine[0].adist == top.adist, (q, mine[0].adist, top.adist)


def test_l45b_rerank_recall_vs_exact(spark, sf_dir):
    """IVFADC-R contract: exact re-rank of the 100-candidate ADC
    shortlist recovers most of the true top-10 (measured 0.74 mean at
    sf0.01 — random embeddings are PQ's worst case; pin >= 0.6), and
    every returned distance is the TRUE squared distance."""
    rows = CATALOG["l45b_pq_rerank_topk"][0](spark, sf_dir).collect()
    qids = sorted({r.query_id for r in rows})
    exact = _exact_top10(spark, sf_dir, qids)
    recs = []
    for q in qids:
        got = {r.cand_id for r in rows if r.query_id == q}
        recs.append(len(got & exact[q]) / 10)
    assert sum(recs) / len(recs) >= 0.6, recs
    # self-query: distance 0, rank 1
    for q in qids:
        mine = [r for r in rows if r.query_id == q and r.cand_id == q]
        assert mine and mine[0].rank == 1 and mine[0].dist2 == 0.0


def test_a38_matches_pure_python_midranks(spark, sf_dir):
    """Doubled-midrank U equals the textbook tie-corrected
    Mann–Whitney computed driver-side."""
    row = CATALOG["a38_mann_whitney_u"][0](spark, sf_dir).collect()[0]
    e = (
        _t(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("iv"),
        )
        .collect()
    )
    a = [r.iv for r in e if r.event_type == "view"]
    b = [r.iv for r in e if r.event_type == "purchase"]
    n1, n2 = len(a), len(b)
    from collections import Counter

    cnt = Counter(a + b)
    r1 = 0.0
    f = 0
    tie3 = 0
    ca = Counter(a)
    for v in sorted(cnt):
        c = cnt[v]
        mid = f + (c + 1) / 2.0
        r1 += ca.get(v, 0) * mid
        tie3 += c**3 - c
        f += c
    u1 = r1 - n1 * (n1 + 1) / 2.0
    assert (row.n1, row.n2) == (n1, n2)
    assert row.u1 == u1 and row.u2 == n1 * n2 - u1
    nn = n1 + n2
    sig2 = (n1 * n2 / 12.0) * ((nn + 1) - tie3 / (nn * (nn - 1.0)))
    z = (u1 - n1 * n2 / 2.0) / math.sqrt(sig2)
    assert row.z == round(z, 6)


def test_w26_changepoint_matches_brute_force(spark, sf_dir):
    """The argmax split equals a brute-force scan over every t, and the
    segment means are the exact segment averages."""
    rows = CATALOG["w26_changepoint"][0](spark, sf_dir).collect()
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "mc"
            )
        )
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.mc))
    for row in rows:
        pts = sorted(series[row.event_type])
        vals = [mc for _, mc in pts]
        n = len(vals)
        sn = sum(vals)
        best = None
        for t in range(1, n):
            st = sum(vals[:t])
            d = float(st * n - sn * t)
            stat = d * d / (t * (n - t) * n * 10000.0)
            if best is None or stat > best[0]:
                best = (stat, t, st)
        stat, t, st = best
        assert row.t == t and row.n_days == n
        assert row.split_day.date() == pts[t - 1][0]
        assert row.mean_before == st / (100.0 * t)
        assert row.mean_after == (sn - st) / (100.0 * (n - t))
        assert row.stat == round(stat, 6)


def test_pipe8_funnel_is_monotone_and_stages_cut(spark, sf_dir):
    """Per source: n_raw >= n_url_unique >= n_final; the URL stage cuts
    substantially (synthesized dup classes) and the gates cut at least
    one doc overall; totals tie to the corpus."""
    rows = CATALOG["pipe8_crawl_curation"][0](spark, sf_dir).collect()
    total = _t(spark, sf_dir, "documents").count()
    assert sum(r.n_raw for r in rows) == total
    assert all(r.n_raw >= r.n_url_unique >= r.n_final for r in rows)
    url_total = sum(r.n_url_unique for r in rows)
    fin_total = sum(r.n_final for r in rows)
    assert url_total < total  # URL dedup actually merged
    assert 0 < fin_total <= url_total
    assert all(
        (r.chars_final > 0) == (r.n_final > 0) for r in rows
    )


def test_a39_benford_terms_and_totals(spark, sf_dir):
    """9 digits per type; observed probabilities sum to 1 per type;
    expected probabilities are the Benford law; chi2 terms are
    non-negative and match a driver-side recomputation."""
    rows = CATALOG["a39_benford_audit"][0](spark, sf_dir).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        assert sorted(r.d1 for r in rs) == list(range(1, 10))
        assert abs(sum(r.p_obs for r in rs) - 1.0) < 1e-9
        n = sum(r.n_obs for r in rs)
        for r in rs:
            pb = math.log10(1 + 1 / r.d1)
            assert r.p_benford == round(pb, 6)
            d = r.n_obs - n * pb
            assert r.chi2_term == round(d * d / (n * pb), 6)
            assert r.chi2_term >= 0


def test_w27_ar1_matches_numpy_lstsq(spark, sf_dir):
    """Closed-form φ/intercept equal numpy's least-squares on the same
    lag pairs."""
    import numpy as np

    rows = CATALOG["w27_ar1_fit"][0](spark, sf_dir).collect()
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "mc"
            )
        )
        .collect()
    )
    series: dict = {}
    for r in daily:
        series.setdefault(r.event_type, []).append((r.day, r.mc))
    for row in rows:
        vals = [mc for _, mc in sorted(series[row.event_type])]
        x = np.array(vals[:-1], dtype=float)
        y = np.array(vals[1:], dtype=float)
        A = np.vstack([x, np.ones_like(x)]).T
        phi, b = np.linalg.lstsq(A, y, rcond=None)[0]
        assert row.n_pairs == len(x)
        assert abs(row.phi - phi) < 1e-6, (row.phi, phi)
        assert abs(row.intercept - b / 100.0) < 1e-4


def test_a40_psi_terms_and_reference_deciles(spark, sf_dir):
    """p_ref sums to ~1 per type (clamp-adjusted), psi terms recompute
    driver-side, and reference bucket masses are near-uniform (they're
    the reference's own deciles, up to ties)."""
    rows = CATALOG["a40_psi_drift"][0](spark, sf_dir).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for et, rs in by_type.items():
        assert sorted(r.bkt for r in rs) == list(range(1, 11))
        assert abs(sum(r.p_ref for r in rs) - 1.0) < 1e-3
        assert abs(sum(r.p_cur for r in rs) - 1.0) < 1e-3
        for r in rs:
            # recomputing from the ROUNDED p's: the clamp (p=1e-6 on an
            # empty bucket, common at the tiny test SF) amplifies the
            # 6dp input rounding by |ln(pc/pr)| ~ 11 — allow 2e-5
            assert abs(
                r.psi_term
                - (r.p_cur - r.p_ref) * math.log(r.p_cur / r.p_ref)
            ) < 2e-5, (et, r)
            # reference deciles: each bucket holds ~10% of the ref
            # (wide bounds: ~9-row deciles at the test SF tie freely)
            assert 0.01 <= r.p_ref <= 0.35, (et, r)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_r10_plan_shapes(spark, sf_dir):
    """Structural plan asserts for the round-10 family:
    - a37/a38/a40: ONE exchange over the corpus before the domain-sized
      window (the quantized-value groupBy), no Python eval;
    - l45 encode: codebooks ride as literals — no join for the
      assignment (broadcast appears only for the query side);
    - w24/w26/w27: the corpus aggregates to the daily domain with a
      partial (map-side) aggregation before the exchange;
    - l41/pipe8: no Python eval anywhere (regex + array lambdas)."""
    for name in ("a37_ks_test", "a38_mann_whitney_u"):
        p = _plan(CATALOG[name][0](spark, sf_dir))
        assert "EvalPython" not in p, name
        # corpus -> (iv) domain: partial agg before the shuffle
        assert "partial_" in p.lower() or "HashAggregate" in p, name
    for name in ("w24_stl_decompose", "w26_changepoint", "w27_ar1_fit"):
        p = _plan(CATALOG[name][0](spark, sf_dir))
        assert "EvalPython" not in p, name
        assert "HashAggregate" in p, name
    for name in ("l41_url_canonical_dedup", "pipe8_crawl_curation"):
        p = _plan(CATALOG[name][0](spark, sf_dir))
        assert "EvalPython" not in p, name
    # l45: the corpus side must NOT sort-merge-join for encoding; the
    # only joins are broadcast (query LUT side)
    p = _plan(CATALOG["l45_pq_ann_topk"][0](spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "EvalPython" not in p


def test_x18_stream_psi_equals_batch_a40(spark, sf_dir):
    """The drained streaming monitor equals the batch a40 PSI table
    cell-for-cell (update-mode final counts == full current-period
    counts), and the memory sink shows multi-batch accretion."""
    a = {
        (r.event_type, r.bkt): (r.p_ref, r.p_cur, r.psi_term)
        for r in CATALOG["a40_psi_drift"][0](spark, sf_dir).collect()
    }
    x = {
        (r.event_type, r.bkt): (r.p_ref, r.p_cur, r.psi_term)
        for r in CATALOG["x18_stream_psi_monitor"][0](
            spark, sf_dir
        ).collect()
    }
    assert a == x
    raw = spark.table("x18_mem")
    # update mode re-emits growing counts: more emissions than cells
    assert raw.count() > raw.select("event_type", "bkt").distinct().count()


def test_j12_tolerance_nulls_stale_matches(spark, sf_dir):
    """j12 equals j6 wherever j6's match is within 2 hours, and is
    NULL-extended exactly where j6's match is older."""
    j6 = {
        r.event_id: r
        for r in CATALOG["j6_asof_join"][0](spark, sf_dir).collect()
    }
    j12 = {
        r.event_id: r
        for r in CATALOG["j12_asof_tolerance"][0](spark, sf_dir).collect()
    }
    assert set(j6) == set(j12)
    n_stale = 0
    for eid, r6 in j6.items():
        r12 = j12[eid]
        if r6.p_ts is not None and (
            (r6.ts - r6.p_ts).total_seconds() <= 7200
        ):
            assert (r12.p_event_id, r12.p_ts) == (
                r6.p_event_id,
                r6.p_ts,
            ), eid
        else:
            assert r12.p_event_id is None, (eid, r6, r12)
            n_stale += 1
    assert n_stale > 0  # the tolerance actually bites on this data


def test_a41_matches_pooled_formula(spark, sf_dir):
    """z equals the textbook pooled two-proportion statistic and the
    arms are non-degenerate (0 < p < 1)."""
    r = CATALOG["a41_two_proportion_ztest"][0](spark, sf_dir).collect()[0]
    assert 0 < r.p0 < 1 and 0 < r.p1 < 1
    pp = (r.x0 + r.x1) / (r.n0 + r.n1)
    z = (r.p1 - r.p0) / math.sqrt(
        pp * (1 - pp) * (1 / r.n0 + 1 / r.n1)
    )
    assert abs(r.z - z) < 1e-6


# ---------------------------------------------------------------------
# Property tests: the stats operators vs pure-Python references
# ---------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

_SAMPLES = st.tuples(
    st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=25),
    st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=25),
)


def _mk(spark, a, b):
    rows = [(int(v), 1) for v in a] + [(int(v), 0) for v in b]
    return spark.createDataFrame(rows, "iv bigint, a int")


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ab=_SAMPLES)
def test_ks_operator_matches_reference(spark, ab):
    """ks_2sample == the bisect-based textbook KS on arbitrary small
    integer samples (ties, negatives, singletons)."""
    import bisect

    a, b = ab
    r = __import__(
        "finporter_spark.operators.stats", fromlist=["ks_2sample"]
    ).ks_2sample(_mk(spark, a, b), "iv", "a").collect()[0]
    sa, sb = sorted(a), sorted(b)
    n1, n2 = len(a), len(b)
    best, at = -1, None
    for x in sorted(set(a) | set(b)):
        dn = abs(
            bisect.bisect_right(sa, x) * n2 - bisect.bisect_right(sb, x) * n1
        )
        if dn > best:
            best, at = dn, x
    assert (r.n1, r.n2) == (n1, n2)
    assert r.at_v == at
    assert r.d_stat == best / (n1 * n2)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ab=_SAMPLES)
def test_mwu_operator_matches_reference(spark, ab):
    """mann_whitney_u == the midrank textbook U; z is NULL exactly when
    the tie-corrected variance vanishes (all values equal)."""
    from collections import Counter

    a, b = ab
    r = __import__(
        "finporter_spark.operators.stats", fromlist=["mann_whitney_u"]
    ).mann_whitney_u(_mk(spark, a, b), "iv", "a").collect()[0]
    n1, n2 = len(a), len(b)
    cnt = Counter(a + b)
    ca = Counter(a)
    r1 = 0.0
    f = 0
    tie3 = 0
    for v in sorted(cnt):
        c = cnt[v]
        r1 += ca.get(v, 0) * (f + (c + 1) / 2.0)
        tie3 += c**3 - c
        f += c
    u1 = r1 - n1 * (n1 + 1) / 2.0
    assert (r.n1, r.n2, r.u1, r.u2) == (n1, n2, u1, n1 * n2 - u1)
    nn = n1 + n2
    sig2 = (n1 * n2 / 12.0) * (
        (nn + 1) - (tie3 / (nn * (nn - 1.0)) if nn > 1 else 0.0)
    )
    if sig2 > 0:
        assert r.z == round((u1 - n1 * n2 / 2.0) / math.sqrt(sig2), 6)
    else:
        assert r.z is None
