"""Round-8 operator tests: triangle counting, interval coverage, the
KMV intersection sketch's accuracy contract, and CUPED's variance
claim. Catalog-query VALUE correctness is the DuckDB oracle gate
(tools/oracle_check.py); these tests pin the semantic properties the
oracle can't express."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from finporter_spark.queries.catalog import CATALOG


def test_triangle_count_known_graphs(spark):
    """Degree-ordered triangle counting on graphs with known answers:
    K4 (4 triangles), a 4-cycle (0), and a hub star plus one chord
    (exactly 1 triangle — the hub-adversarial case the orientation
    exists for)."""
    from finporter_spark.queries.graph import _count_triangles

    def run(edges):
        df = spark.createDataFrame(edges, "u bigint, v bigint")
        return _count_triangles(df).collect()[0]["n_triangles"]

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert run(k4) == 4
    cycle = [(0, 1), (1, 2), (2, 3), (0, 3)]
    assert run(cycle) == 0
    # star: hub 0 to 1..9; chord (1,2) closes exactly one triangle
    star = [(0, i) for i in range(1, 10)] + [(1, 2)]
    assert run(star) == 1


def test_interval_coverage_merging_and_islands(spark, sf_dir):
    """w15 on a hand-built fixture: overlapping intervals merge,
    touching intervals (end == next start) merge (s > rm breaks, equal
    does not), disjoint ones split islands."""
    rows = [
        # user 1: [0,10], [5,20] overlap; [20,30] touches -> ONE island
        (1, 0.0, 10.0), (1, 5.0, 20.0), (1, 20.0, 30.0),
        # user 2: [0,1] and [5,6] -> two islands, coverage 2
        (2, 0.0, 1.0), (2, 5.0, 6.0),
    ]
    from pyspark.sql import Window

    df = spark.createDataFrame(rows, "user_id int, s double, e double")
    wp = Window.partitionBy("user_id").orderBy("s", "e")
    rm = F.max("e").over(wp.rowsBetween(Window.unboundedPreceding, -1))
    z = df.withColumn(
        "brk",
        F.when(rm.isNull() | (F.col("s") > rm), F.lit(1)).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("brk").over(wp.rowsBetween(Window.unboundedPreceding, 0)),
    )
    g = (
        z.groupBy("user_id", "island")
        .agg((F.max("e") - F.min("s")).alias("cov"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("cov").alias("cov"))
    )
    out = {r["user_id"]: (r["n"], r["cov"]) for r in g.collect()}
    assert out == {1: (1, 30.0), 2: (2, 2.0)}


def test_kmv_intersection_accuracy_vs_exact(spark, sf_dir):
    """a19's estimates vs EXACT pairwise intersection counts at sf0.1
    (1500 users: sketches truncate to k=256, so the estimator is
    actually estimating). KMV relative error concentrates around
    1/sqrt(k) ≈ 0.0625; assert every pair within 5/sqrt(k) = 31% and
    the MEAN error within 2/sqrt(k) = 12.5%."""
    sf01 = "/root/testdata/sf0.1"
    est = {
        (r["type_a"], r["type_b"]): r["est_common_users"]
        for r in CATALOG["a19_kmv_intersection"][0](spark, sf01).collect()
    }
    ev = (
        spark.read.parquet(f"{sf01}/events.parquet")
        .select(F.col("event_type").alias("t"), "user_id")
        .distinct()
    )
    a, b = ev.alias("a"), ev.alias("b")
    exact = {
        (r["ta"], r["tb"]): r["n"]
        for r in (
            a.join(
                b,
                (F.col("a.user_id") == F.col("b.user_id"))
                & (F.col("a.t") < F.col("b.t")),
            )
            .groupBy(
                F.col("a.t").alias("ta"), F.col("b.t").alias("tb")
            )
            .agg(F.count("*").alias("n"))
        ).collect()
    }
    assert set(est) == set(exact)
    k = 256
    rels = []
    for pair, e in est.items():
        x = exact[pair]
        rel = abs(e - x) / max(x, 1)
        rels.append(rel)
        assert rel <= 5 / math.sqrt(k), (pair, e, x)
    assert sum(rels) / len(rels) <= 2 / math.sqrt(k), rels


def test_cuped_reduces_variance_and_preserves_mean(spark):
    """CUPED's contract on a synthetic corpus with a strong pre/post
    correlation: the adjusted per-user metric has (1) the same overall
    mean as the raw metric (adjustment is mean-zero) and (2) strictly
    smaller variance — by ~corr² = 64% here."""
    rng = random.Random(7)
    rows = []
    for uid in range(2000):
        base = rng.gauss(100, 30)          # user-level propensity
        x = base + rng.gauss(0, 10)        # pre-period
        y = base + rng.gauss(0, 10) + 5.0  # post-period + lift
        rows.append((uid, float(x), float(y)))
    m = spark.createDataFrame(rows, "user_id long, x double, y double")
    g = m.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).collect()[0]
    n = g["n"]
    xbar, ybar = g["sx"] / n, g["sy"] / n
    theta = (g["sxy"] / n - xbar * ybar) / (g["sxx"] / n - xbar * xbar)
    adj = m.select(
        "y", (F.col("y") - theta * (F.col("x") - xbar)).alias("yc")
    )
    s = adj.agg(
        F.avg("y").alias("my"),
        F.avg("yc").alias("myc"),
        F.var_pop("y").alias("vy"),
        F.var_pop("yc").alias("vyc"),
    ).collect()[0]
    assert s["myc"] == pytest.approx(s["my"], rel=1e-12)
    # corr(x,y) ≈ 900/1000 -> variance shrinks to ~1 - 0.81 = 19%
    assert s["vyc"] < 0.4 * s["vy"], (s["vy"], s["vyc"])


def test_stream_interval_join_rejects_unknown_how(spark):
    """Unknown join types are refused loudly. (left_outer became a
    SUPPORTED shape in round 9 via the x15 forced-mtime sentinel
    harness — its drain-equals-batch contract is gated by the x15
    oracle and tests/test_streaming.py::test_x15_outer_join_emits_null_side.)"""
    from finporter_spark.streaming.pipeline import stream_interval_join

    with pytest.raises(ValueError, match="unsupported stream join"):
        stream_interval_join(
            spark.range(1), spark.range(1), "id", "a", "b",
            how="full_outer",
        )


def test_ohlc_witness_determinism_and_single_shuffle(spark, sf_dir):
    """w16: open/close pick the value at the min/max (ts, event_id)
    witness — cross-checked against a row_number formulation — and the
    whole query is ONE keyed aggregation (exactly one shuffle
    exchange: partial agg before it, final after)."""
    from pyspark.sql import Window

    out = CATALOG["w16_ohlc_bars"][0](spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    from finporter_spark.queries.catalog import _t

    e = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    wa = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    wz = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ref = (
        e.withColumn("rna", F.row_number().over(wa))
        .withColumn("rnz", F.row_number().over(wz))
        .groupBy("event_type", "day")
        .agg(
            F.max(F.when(F.col("rna") == 1, F.col("value"))).alias("open"),
            F.max(F.when(F.col("rnz") == 1, F.col("value"))).alias("close"),
        )
    )
    got = {
        (r.event_type, r.day): (r.open, r.close) for r in out.collect()
    }
    want = {
        (r.event_type, r.day): (r.open, r.close) for r in ref.collect()
    }
    assert got == want


def test_max_drawdown_matches_literal_simulation(spark, sf_dir):
    """f3: per-user max drawdown equals a literal python walk of the
    (ts, event_id)-ordered cash flows, and the two stacked windows plus
    the final agg reuse ONE exchange (single sort partitioning)."""
    from decimal import Decimal

    out = CATALOG["f3_max_drawdown"][0](spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    from finporter_spark.queries.catalog import _t

    rows = (
        _t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    per_user: dict = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.ts, r.event_id)):
        eq, peak, mdd, n = per_user.get(
            r.user_id, (Decimal(0), None, Decimal(0), 0)
        )
        eq += Decimal(f"{r.value:.6f}")
        peak = eq if peak is None else max(peak, eq)
        mdd = max(mdd, peak - eq)
        per_user[r.user_id] = (eq, peak, mdd, n + 1)
    got = {r.user_id: (r.n_events, r.max_drawdown) for r in out.collect()}
    for u, (_, peak, mdd, n) in per_user.items():
        assert got[u][0] == n
        assert abs(got[u][1] - float(mdd)) < 1e-6


def test_grouped_ols_matches_numpy_fit(spark, sf_dir):
    """a21: closed-form decimal-sum OLS equals numpy's least-squares
    fit per group (same centered-x parameterization)."""
    import numpy as np

    from finporter_spark.queries.catalog import _t

    out = {
        r.event_type: (r.slope, r.intercept)
        for r in CATALOG["a21_grouped_ols"][0](spark, sf_dir).collect()
    }
    rows = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(
                    F.lit("2024-01-01 00:00:00").cast("timestamp")
                )
            ).alias("x"),
            "value",
        )
        .collect()
    )
    groups: dict = {}
    for r in rows:
        groups.setdefault(r.event_type, ([], []))
        groups[r.event_type][0].append(float(r.x))
        groups[r.event_type][1].append(r.value)
    for et, (xs, ys) in groups.items():
        slope, intercept = np.polyfit(np.array(xs), np.array(ys), 1)
        assert abs(out[et][0] - slope) < 1e-9 * max(1.0, abs(slope))
        assert abs(out[et][1] - intercept) < 1e-6


def test_contamination_matrix_matches_python_sets(spark):
    """l32 on a tiny planted corpus: shared-shingle counts and
    containment equal exact python set arithmetic; only a<b pairs with
    nonzero overlap appear."""
    import itertools

    docs = [
        (1, "a b c d e f g h i j", "s1"),
        (2, "a b c d e f g h x y", "s1"),
        (3, "a b c d e f g h i j k", "s2"),
        (4, "p q r s t u v w x y z", "s3"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            (r.source_a, r.source_b): (r.n_shared, r.containment)
            for r in CATALOG["l32_contamination_matrix"][0](
                spark, td
            ).collect()
        }
    def grams(text):
        t = text.split()
        return {tuple(t[i : i + 8]) for i in range(len(t) - 7)}
    by_src: dict = {}
    for _, text, src in docs:
        by_src.setdefault(src, set()).update(grams(text))
    want = {}
    for a, b in itertools.combinations(sorted(by_src), 2):
        shared = len(by_src[a] & by_src[b])
        if shared:
            want[(a, b)] = (
                shared,
                shared / min(len(by_src[a]), len(by_src[b])),
            )
    assert {k: v[0] for k, v in out.items()} == {
        k: v[0] for k, v in want.items()
    }
    for k in want:
        assert abs(out[k][1] - want[k][1]) < 1e-12


def test_skew_report_uses_distributed_topk(spark, sf_dir):
    """z5: orderBy().limit(k) must lower to TakeOrderedAndProject
    (per-partition heaps + driver merge), never a global sort or a
    single-partition window."""
    out = CATALOG["z5_skew_report"][0](spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    rows = out.collect()
    assert len(rows) == 10
    cnts = [r.cnt for r in rows]
    assert cnts == sorted(cnts, reverse=True)
    assert abs(sum(r.share for r in rows)) <= 1.0 + 1e-9


def test_hierarchical_rollup_equals_raw_aggregation(spark, sf_dir):
    """a22: weekly-from-daily-partials == weekly-from-raw computed in
    Spark itself (the oracle proves it cross-engine; this pins the
    partial-composition algebra within the engine, including decimal
    sum exactness)."""
    from finporter_spark.queries.catalog import _t

    out = {
        (r.event_type, r.week): (r.n, r.total, r.lo, r.hi, r.mean)
        for r in CATALOG["a22_hierarchical_rollup"][0](
            spark, sf_dir
        ).collect()
    }
    e = _t(spark, sf_dir, "events")
    raw = (
        e.groupBy(
            "event_type",
            F.date_format(
                F.date_trunc("week", F.col("ts").cast("date")), "yyyy-MM-dd"
            ).alias("week"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
        .collect()
    )
    for r in raw:
        n, total, lo, hi, mean = out[(r.event_type, r.week)]
        assert (n, lo, hi) == (r.n, r.lo, r.hi)
        assert abs(total - r.total) < 1e-9
        assert abs(mean - r.total / r.n) < 1e-9


def test_length_histogram_buckets_are_bit_lengths(spark, sf_dir):
    """l33: bucket == n.bit_length() for every doc, and per-bucket
    bounds sit inside [2^(b-1), 2^b - 1]."""
    rows = CATALOG["l33_length_histogram"][0](spark, sf_dir).collect()
    assert rows
    for r in rows:
        lo_bound = 1 << (r.bucket - 1)
        hi_bound = (1 << r.bucket) - 1
        assert lo_bound <= r.min_tokens <= r.max_tokens <= hi_bound
        assert r.min_tokens.bit_length() == r.bucket


def test_global_rank_is_parallel_and_correct(spark, sf_dir):
    """z6: the corpus-sized window partitions by _pid (32 parallel
    sorts), never an empty-partition global window; ranks equal the
    naive global row_number."""
    from pyspark.sql import Window

    out = CATALOG["z6_global_rank"][0](spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(_pid" in plan
    assert "Exchange SinglePartition" not in plan
    from finporter_spark.queries.catalog import _t

    want = {
        r.event_id: i + 1
        for i, r in enumerate(
            _t(spark, sf_dir, "events")
            .select("event_id", "value")
            .orderBy("value", "event_id")
            .collect()
        )
    }
    got = {r.event_id: r.rnk for r in out.collect()}
    assert got == want


def test_jaccard_prefix_filter_is_complete(spark):
    """l34's prefix filter on a planted corpus: every pair with
    J >= tau survives (completeness is the PPJoin lemma — this pins
    it against brute force), and nothing below tau leaks through."""
    import itertools
    import os
    import tempfile

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    docs = [
        (1, base, "en", "s", 1),
        (2, base + " w13", "en", "s", 1),          # near-dup of 1
        (3, "w5 w6 w7 w8 w9 w10 w11 w12 w14 w15", "en", "s", 1),
        (4, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10", "en", "s", 1),
        (5, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z11", "en", "s", 1),  # near-dup of 4
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        got = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in CATALOG["l34_jaccard_join"][0](spark, td).collect()
        }

    def shingles(text):
        t = text.split()
        return {tuple(t[i : i + 5]) for i in range(len(t) - 4)}

    sets = {i: shingles(t) for i, t, *_ in docs}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= 0.6:
                want[(a, b)] = j
    assert set(got) == set(want)
    for k, j in want.items():
        assert abs(got[k] - j) < 1e-12


def test_markov_rows_are_distributions(spark, sf_dir):
    """a23: outgoing probabilities sum to 1 per prev state; counts
    equal a literal python pass over the ordered sequences."""
    from collections import Counter

    from finporter_spark.queries.catalog import _t

    rows = CATALOG["a23_markov_transitions"][0](spark, sf_dir).collect()
    by_prev: dict = {}
    for r in rows:
        by_prev.setdefault(r.prev_type, 0.0)
        by_prev[r.prev_type] += r.prob
    for p, s in by_prev.items():
        assert abs(s - 1.0) < 1e-9
    ev = (
        _t(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    want: Counter = Counter()
    by_user: dict = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        prev = by_user.get(r.user_id)
        if prev is not None:
            want[(prev, r.event_type)] += 1
        by_user[r.user_id] = r.event_type
    got = {(r.prev_type, r.next_type): r.n for r in rows}
    assert got == dict(want)


def test_dedup_keep_best_survivor_policy(spark, sf_dir):
    """l35: the survivor is the longest variant (max n_chars, min
    doc_id tie) of each stopword-stripped content group, and exactly
    one survivor exists per group."""
    out = CATALOG["l35_dedup_keep_best"][0](spark, sf_dir).collect()
    survivors = {r.survivor_id for r in out}
    assert {r.doc_id for r in out if r.is_survivor} == survivors
    by_surv: dict = {}
    for r in out:
        by_surv.setdefault(r.survivor_id, []).append(r.doc_id)
    from finporter_spark.queries.catalog import _t

    n_chars = {
        r.doc_id: r.n_chars
        for r in _t(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    for surv, members in by_surv.items():
        best = max(members, key=lambda d: (n_chars[d], -d))
        assert surv == best


def test_chi_square_contribs_match_python(spark, sf_dir):
    """a24: cells reconstruct the contingency table exactly and the
    summed statistic matches a literal python chi-square."""
    from finporter_spark.queries.catalog import _t

    rows = CATALOG["a24_chi_square"][0](spark, sf_dir).collect()
    import hashlib

    ev = _t(spark, sf_dir, "events").select("user_id", "event_type").collect()
    obs: dict = {}
    for r in ev:
        h = hashlib.md5(str(r.user_id).encode()).hexdigest()
        v = "A" if int(h[:8], 16) % 2 == 0 else "B"
        obs[(r.event_type, v)] = obs.get((r.event_type, v), 0) + 1
    assert {(r.event_type, r.variant): r.n for r in rows} == obs
    tot = sum(obs.values())
    row_n: dict = {}
    col_n: dict = {}
    for (t, v), n in obs.items():
        row_n[t] = row_n.get(t, 0) + n
        col_n[v] = col_n.get(v, 0) + n
    chi2 = sum(
        (n - row_n[t] * col_n[v] / tot) ** 2 / (row_n[t] * col_n[v] / tot)
        for (t, v), n in obs.items()
    )
    assert abs(sum(r.contrib for r in rows) - chi2) < 1e-9


def test_pipe6_stages_shrink_monotonically(spark, sf_dir):
    """pipe6: the curated corpus is a subset of the keep-best
    survivors, which are a subset of the documents; every kept doc
    respects the length gate."""
    from finporter_spark.queries.catalog import _t

    out = CATALOG["pipe6_corpus_curation"][0](spark, sf_dir).collect()
    n_docs = _t(spark, sf_dir, "documents").count()
    n_surv = (
        CATALOG["l35_dedup_keep_best"][0](spark, sf_dir)
        .filter("is_survivor")
        .count()
    )
    kept = sum(r.n_docs for r in out)
    assert 0 < kept <= n_surv <= n_docs
    # tokens per kept doc respect the [16, 127] gate on average bounds
    toks = sum(r.total_tokens for r in out)
    assert 16 * kept <= toks <= 127 * kept


def test_bfs_distances_on_known_graph(spark, tmp_path):
    """l36's frontier loop on a hand-built chain + branch: exact
    min-hop distances, unreachable nodes absent, 3-hop cutoff
    enforced."""
    import os

    # orders: parts co-occurring >= 2x form edges.
    # chain: 100-1-2-3-4 (100 is a seed: % 100 == 0), plus island 7-8
    rows = []
    oid = 0
    for a, b in [(100, 1), (1, 2), (2, 3), (3, 4), (7, 8)]:
        for _ in range(2):  # min-support 2
            oid += 1
            rows += [(oid, a), (oid, b)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    path = os.path.join(str(tmp_path), "lineitem.parquet")
    df.write.parquet(path)
    got = {
        r.node: r.dist
        for r in CATALOG["l36_bfs_reachability"][0](
            spark, str(tmp_path)
        ).collect()
    }
    # seed 100 at dist 0; 1,2,3 at 1,2,3; 4 beyond cutoff; 7,8 unreachable
    assert got == {100: 0, 1: 1, 2: 2, 3: 3}


def test_mad_anomaly_matches_python_robust_stats(spark, sf_dir):
    """w17: median, MAD, and anomaly counts equal a literal python
    computation (statistics.median uses the same interpolation-free
    semantics for odd n; quantile_cont for even n — replicate it)."""
    from finporter_spark.queries.catalog import _t

    def qc_median(vals):
        vs = sorted(vals)
        n = len(vs)
        p = 0.5 * (n - 1)
        k = int(p)
        d = p - k
        return vs[k] + d * (vs[min(k + 1, n - 1)] - vs[k])

    rows = _t(spark, sf_dir, "events").select("event_type", "value").collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r.value)
    out = {
        r.event_type: r
        for r in CATALOG["w17_mad_anomaly"][0](spark, sf_dir).collect()
    }
    for et, vals in by_type.items():
        med = qc_median(vals)
        mad = qc_median([abs(v - med) for v in vals])
        anom = sum(1 for v in vals if abs(v - med) > 3 * 1.4826 * mad)
        r = out[et]
        assert r.med == pytest.approx(med, abs=1e-9)
        assert r.mad == pytest.approx(mad, abs=1e-9)
        assert (r.n, r.n_anomalies) == (len(vals), anom)


def test_conversion_latency_percentiles_match_python(spark, sf_dir):
    """a25: cohort latency percentiles equal a literal python
    quantile_cont over the same first-view→first-purchase deltas."""
    import hashlib

    from finporter_spark.queries.catalog import _t

    ev = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_type", F.unix_timestamp("ts").alias("s"))
        .collect()
    )
    fv: dict = {}
    for r in ev:
        if r.event_type == "view":
            fv[r.user_id] = min(fv.get(r.user_id, r.s), r.s)
    fp: dict = {}
    for r in ev:
        if r.event_type == "purchase" and r.user_id in fv and r.s >= fv[r.user_id]:
            fp[r.user_id] = min(fp.get(r.user_id, r.s), r.s)
    lat: dict = {"A": [], "B": []}
    for u, p in fp.items():
        h = hashlib.md5(str(u).encode()).hexdigest()
        v = "A" if int(h[:8], 16) % 2 == 0 else "B"
        lat[v].append(float(p - fv[u]))

    def qc(vals, q):
        vs = sorted(vals)
        n = len(vs)
        p = q * (n - 1)
        k = int(p)
        d = p - k
        return vs[k] + d * (vs[min(k + 1, n - 1)] - vs[k])

    got = {
        (r.variant, r.fraction): r.latency_s
        for r in CATALOG["a25_conversion_latency"][0](spark, sf_dir).collect()
    }
    for v in ("A", "B"):
        for q in (0.5, 0.9, 0.99):
            assert got[(v, q)] == pytest.approx(qc(lat[v], q), abs=1e-9)
