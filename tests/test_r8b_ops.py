"""Round-8 late-addition tests: FastSS edit-distance join semantics,
retention cohort binning, autocorrelation vs numpy, and basket-lift
arithmetic. Catalog-query VALUE correctness is the DuckDB oracle gate
(tools/oracle_check.py); these pin the properties the oracle can't
express."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from finporter_spark.queries.catalog import CATALOG


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_edit_distance_join_complete_and_exact(spark, tmp_path):
    """l37's deletion-neighborhood candidates on a planted vocabulary:
    every distance-1 pair appears (substitution, insertion, deletion —
    including length-changing pairs), distance-2 candidate collisions
    (del_i(a) == del_j(b), i != j) are filtered, and multiplicities
    count underlying rows. Verified against a literal Levenshtein over
    all pairs."""
    names = [
        "alpha", "alpho",          # substitution (ed 1)
        "alph", "alphax",          # deletion / double-insert vs alpha
        "beta", "bta",             # "bta" = del(beta); ed 1
        "ab", "ba",                # ed 2 BUT del_1(ab)="b"=del_2?... a
                                   # classic false-positive candidate:
                                   # del variants collide ("a"/"b")
        "gamma",
    ]
    rows = [(n,) for n in names] + [("alpha",)]  # alpha twice -> n_a=2
    df = spark.createDataFrame(rows, "c_name string")
    p = str(tmp_path / "customer.parquet")
    df.write.mode("overwrite").parquet(p)
    got = {
        (r["name_a"], r["name_b"]): (r["dist"], r["n_a"], r["n_b"])
        for r in CATALOG["l37_edit_distance_join"][0](
            spark, str(tmp_path)
        ).collect()
    }
    vocab = sorted(set(names))
    want = {
        (a, b)
        for i, a in enumerate(vocab)
        for b in vocab[i + 1:]
        if _lev(a, b) == 1
    }
    assert set(got) == want
    # the planted pairs all verified at distance exactly 1
    assert all(v[0] == 1 for v in got.values())
    # ("ab","ba") is distance 2: candidate generation may surface it,
    # the verify stage must drop it
    assert ("ab", "ba") not in got
    # multiplicity: "alpha" appears twice in the underlying rows
    (na,) = {v[1] for k, v in got.items() if k[0] == "alpha"}
    assert na == 2


def test_retention_cohort_binning(spark, tmp_path):
    """a26 on a hand fixture: a user whose first event is mid-week is
    binned to that week's MONDAY cohort; day 6 after the week start is
    offset 0, day 7 is offset 1; retention divides by cohort size."""
    rows = [
        # user 1: first event Wed 2024-01-03 -> cohort Mon 2024-01-01;
        # active again Sun 2024-01-07 (offset 0) and Mon 2024-01-08
        # (offset 1)
        (1, "2024-01-03 10:00:00"),
        (1, "2024-01-07 23:00:00"),
        (1, "2024-01-08 00:30:00"),
        # user 2: same cohort week, never returns
        (2, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts string").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.lit(1).alias("event_id"),
        F.lit("view").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        (r["cohort_week"], r["week_offset"]): (
            r["n_active"],
            r["cohort_size"],
            r["retention"],
        )
        for r in CATALOG["a26_retention_cohorts"][0](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        ("2024-01-01", 0): (2, 2, 1.0),
        ("2024-01-01", 1): (1, 2, 0.5),
    }


def test_autocorrelation_matches_numpy(spark, sf_dir):
    """w18's closed-form decimal-sum acf1 equals numpy's corrcoef of
    the lagged daily-sum series, per event type."""
    np = pytest.importorskip("numpy")
    got = {
        r["event_type"]: (r["n_pairs"], r["acf1"])
        for r in CATALOG["w18_autocorrelation"][0](spark, sf_dir).collect()
    }
    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("s"))
        .orderBy("event_type", "d")
        .collect()
    )
    series: dict[str, list[float]] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append(float(r["s"]))
    for et, xs in series.items():
        x, y = np.array(xs[:-1]), np.array(xs[1:])
        n_pairs, acf1 = got[et]
        assert n_pairs == len(x)
        assert math.isclose(
            acf1, float(np.corrcoef(x, y)[0, 1]), rel_tol=1e-9
        )


def test_basket_affinity_known_counts(spark, tmp_path):
    """a27 on a 3-order fixture with hand-countable co-occurrence:
    lift = n_ab * N / (n_a * n_b) over distinct (order, brand)."""
    # order 1: brands A,B; order 2: brands A,B (B twice -> distinct);
    # order 3: brand A only. N=3, n_A=3, n_B=2, n_AB=2.
    li = [
        (1, 10), (1, 20),
        (2, 11), (2, 21), (2, 22),
        (3, 12),
    ]
    parts = [
        (10, "A"), (11, "A"), (12, "A"),
        (20, "B"), (21, "B"), (22, "B"),
    ]
    spark.createDataFrame(
        [(o, p, 1.0) for o, p in li],
        "l_orderkey bigint, l_partkey bigint, l_quantity double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        parts, "p_partkey bigint, p_brand string"
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    rows = CATALOG["a27_basket_affinity"][0](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["brand_a"], r["brand_b"], r["n_ab"]) == ("A", "B", 2)
    assert math.isclose(r["lift"], 2 * 3 / (3 * 2))


def test_band_count_boundary_semantics(spark, tmp_path):
    """j9's band is half-open (s - d, s + d]: a customer exactly at
    s - d is EXCLUDED, one exactly at s + d is INCLUDED (delta = 50)."""
    spark.createDataFrame(
        [(1, 1000.0)], "s_suppkey bigint, s_acctbal double"
    ).write.mode("overwrite").parquet(str(tmp_path / "supplier.parquet"))
    spark.createDataFrame(
        [(950.0,), (950.0000001,), (1050.0,), (1050.0000001,), (700.0,)],
        "c_acctbal double",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    rows = CATALOG["j9_band_count"][0](spark, str(tmp_path)).collect()
    assert len(rows) == 1
    # 950.0 out (strict lower), 950.0000001 in, 1050.0 in (inclusive
    # upper), 1050.0000001 out, 700.0 out
    assert rows[0]["n_in_band"] == 2


def test_welch_ttest_matches_numpy(spark, sf_dir):
    """a28's moment-sum t and Welch df equal the literal per-arm
    numpy mean/var computation on the same per-user totals and md5
    split."""
    np = pytest.importorskip("numpy")
    r = CATALOG["a28_welch_ttest"][0](spark, sf_dir).collect()[0]
    m = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("y")
        )
        .withColumn(
            "variant",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % 2,
        )
        .collect()
    )
    a = np.array([x["y"] for x in m if x["variant"] == 0])
    b = np.array([x["y"] for x in m if x["variant"] == 1])
    assert (r["n_a"], r["n_b"]) == (len(a), len(b))
    va, vb = a.var(ddof=1) / len(a), b.var(ddof=1) / len(b)
    t = (a.mean() - b.mean()) / math.sqrt(va + vb)
    df = (va + vb) ** 2 / (
        va**2 / (len(a) - 1) + vb**2 / (len(b) - 1)
    )
    assert math.isclose(r["mean_a"], a.mean(), rel_tol=1e-9)
    assert math.isclose(r["t_stat"], t, rel_tol=1e-6)
    assert math.isclose(r["welch_df"], df, rel_tol=1e-6)


def test_seasonal_profile_weekday_binning(spark, tmp_path):
    """w19 bins Monday to dow 0 and Sunday to dow 6, and shares sum
    to 1 per event type."""
    rows = [
        (1, "2024-01-01 10:00:00", 10.0),  # Monday
        (2, "2024-01-07 10:00:00", 30.0),  # Sunday
    ]
    spark.createDataFrame(
        rows, "user_id bigint, ts_s string, value double"
    ).select(
        F.lit(1).alias("event_id"),
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        F.lit("view").alias("event_type"),
        "value",
        F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r["dow"]: (r["n_days"], r["mean_daily"], r["share"])
        for r in CATALOG["w19_seasonal_profile"][0](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {0: (1, 10.0, 0.25), 6: (1, 30.0, 0.75)}


def test_window_rms_partial_window_and_nonsquare():
    """m14's RMS helper drops a trailing partial window and computes
    the literal sqrt-mean-square on a non-constant window."""
    np = pytest.importorskip("numpy")
    from finporter_spark.queries.multimodal import _window_rms

    x = np.concatenate([np.full(256, 3.0), np.full(256, 4.0),
                        np.full(100, 99.0)])
    r = _window_rms(x, 256)
    assert r.tolist() == [3.0, 4.0]  # partial 100-sample tail dropped
    assert _window_rms(np.arange(10), 256).size == 0
    mixed = np.array([3.0] * 128 + [4.0] * 128)
    assert math.isclose(
        _window_rms(mixed, 256)[0], math.sqrt((9 + 16) / 2), rel_tol=1e-12
    )


def test_sorted_neighborhood_window_bound(spark, tmp_path):
    """l38 compares only within the w=3 positional window: a
    distance-1 pair at sorted gap 4 must NOT appear, pairs within the
    window appear with their gap, and dist > 2 neighbors are gated."""
    # sorted order: aa1, aa2, bb9, zz1, zz2 (gap aa1->zz1 is 3; plant
    # aa-vs-zz across gap 4 via an extra row)
    names = ["aa1", "aa2", "bb8", "bb9", "aa3"]
    # sorted: aa1 aa2 aa3 bb8 bb9 -> (aa1,aa3) gap 2 dist 1 in;
    # (aa1,bb9) gap 4 excluded even though dist 3 > 2 anyway;
    # (aa2,bb8) gap 2 dist 3 -> gated by MAX_DIST
    spark.createDataFrame(
        [(n,) for n in names], "c_name string"
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    got = {
        (r["name_a"], r["name_b"]): (r["gap"], r["dist"])
        for r in CATALOG["l38_sorted_neighborhood"][0](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {
        ("aa1", "aa2"): (1, 1),
        ("aa1", "aa3"): (2, 1),
        ("aa2", "aa3"): (1, 1),
        ("bb8", "bb9"): (1, 1),
    }


def test_decile_boundary_and_partition(spark, sf_dir):
    """a29: decile = count of strict-greater boundaries (a value EQUAL
    to a boundary lands in the lower decile), deciles partition the
    corpus (counts sum to the type's row count), and each decile's
    [min, max] nests inside the boundary band."""
    rows = CATALOG["a29_decile_stats"][0](spark, sf_dir).collect()
    per_type: dict[str, int] = {}
    for r in rows:
        per_type[r["event_type"]] = per_type.get(r["event_type"], 0) + r["n"]
        assert 0 <= r["decile"] <= 9
        assert r["min_value"] <= r["mean_value"] <= r["max_value"]
    totals = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per_type == totals
    # boundary tie rule on a planted frame: with values 1..10, the
    # 0.1-quantile boundary is 1.9; value 1 (== below) -> decile 0,
    # and exactly n/10 rows land in decile 0
    import tempfile, os

    td = tempfile.mkdtemp()
    spark.createDataFrame(
        [(i, float(i), "t", 1, "2024-01-01", "{}") for i in range(1, 11)],
        "event_id bigint, value double, event_type string, "
        "user_id bigint, ts_s string, props string",
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    ).write.mode("overwrite").parquet(os.path.join(td, "events.parquet"))
    small = {
        (r["decile"]): (r["n"], r["min_value"], r["max_value"])
        for r in CATALOG["a29_decile_stats"][0](spark, td).collect()
    }
    assert small[0] == (1, 1.0, 1.0)
    assert small[9] == (1, 10.0, 10.0)
    assert sum(v[0] for v in small.values()) == 10


def test_cusum_matches_literal_recurrence(spark, sf_dir):
    """w20's prefix-trick CUSUM equals the literal
    S_t = max(0, S_{t-1} + y_t) walk over the per-type daily series
    (scaled by n_days exactly as the query does)."""
    got = {
        (r["event_type"], r["day"]): r["cusum"]
        for r in CATALOG["w20_cusum_drift"][0](spark, sf_dir).collect()
    }
    daily = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("s"))
        .orderBy("event_type", "d")
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["d"], r["s"]))
    for et, pts in series.items():
        n = len(pts)
        total = sum(s for _, s in pts)
        s_run = 0
        for d, s in pts:
            y = s * n - total  # exact Decimal arithmetic
            s_run = max(0, s_run + y)
            assert math.isclose(
                got[(et, d.strftime("%Y-%m-%d"))],
                float(s_run) / n,
                rel_tol=1e-9,
                abs_tol=1e-9,
            )


from hypothesis import HealthCheck, given, settings, strategies as st

_SHORT = st.text(alphabet="ab", min_size=0, max_size=4)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(names=st.lists(_SHORT, min_size=1, max_size=8, unique=True))
def test_fastss_pairs_equal_brute_force(spark, names):
    """FastSS candidate generation + verify == the literal all-pairs
    Levenshtein over adversarial short strings on a 2-letter alphabet
    (maximal deletion-variant collisions: inserts, deletes, empty
    strings, shared variants between distance-2 pairs)."""
    from finporter_spark.queries.text_prep import _ed1_name_pairs

    c = spark.createDataFrame(
        [(n, 1) for n in names], "c_name string, n_rows bigint"
    )
    got = {
        (r["name_a"], r["name_b"])
        for r in _ed1_name_pairs(c).collect()
    }
    vocab = sorted(names)
    want = {
        (x, y)
        for i, x in enumerate(vocab)
        for y in vocab[i + 1:]
        if _lev(x, y) == 1
    }
    assert got == want


from tests.test_plans import plan as _plan  # noqa: E402  (shared helper)


def test_l38_no_single_task_global_sort(spark, sf_dir):
    """l38's positions come from the global_rank ladder: every window
    in the plan is partitioned (by _pid), never a bare ORDER BY over
    the whole vocabulary on one task."""
    import re

    p = _plan(CATALOG["l38_sorted_neighborhood"][0](spark, sf_dir))
    wins = re.findall(
        r"\(\d+\) Window[\s\S]*?(?=\n\(\d+\)|\Z)", p
    )
    assert wins, p
    for w in wins:
        assert "partitionBy" in w.replace(" ", "") or "_pid" in w, w


def test_a29_no_per_group_percentile_buffer(spark, sf_dir):
    """a29's boundaries come from the rank-select ladder: the plan
    must contain no `percentile(` aggregate (the per-group value
    buffer) and no cartesian product."""
    p = _plan(CATALOG["a29_decile_stats"][0](spark, sf_dir))
    assert "percentile(" not in p
    assert "CartesianProduct" not in p


def test_a26_and_j9_no_pair_materialization(spark, sf_dir):
    """a26 is keyed joins + aggs only (no cartesian/NLJ); j9 inherits
    j5's no-pair plan — no SortMergeJoin of two corpus-sized sides
    carrying an inequality condition, no cartesian."""
    import re

    for name in ("a26_retention_cohorts", "j9_band_count"):
        p = _plan(CATALOG[name][0](spark, sf_dir))
        assert "CartesianProduct" not in p, name
        nlj = re.findall(
            r"\(\d+\) BroadcastNestedLoopJoin[\s\S]*?(?=\n\(\d+\)|\Z)", p
        )
        for d in nlj:
            assert "acctbal" not in d, (name, d)


def test_master_data_dedup_survivorship(spark, tmp_path):
    """pipe7 on a planted cluster: {cat, bat, bit} chain into ONE
    component (cat-bat, bat-bit are ed-1; cat-bit is ed-2 but
    connected transitively); the survivor is the highest-multiplicity
    spelling, ties broken by min name; singletons self-canonicalize."""
    rows = (
        [("cat",)] * 3 + [("bat",)] * 5 + [("bit",)] * 2
        + [("zebra",)]
        + [("dog",)] * 2 + [("dot",)] * 2   # tie at 2 -> min name "dog"
    )
    spark.createDataFrame(rows, "c_name string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "customer.parquet"))
    out = {
        r["name"]: (r["canonical"], r["cluster_size"], r["n_rows"])
        for r in CATALOG["pipe7_master_data_dedup"][0](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        "cat": ("bat", 3, 3),
        "bat": ("bat", 3, 5),
        "bit": ("bat", 3, 2),
        "zebra": ("zebra", 1, 1),
        "dog": ("dog", 2, 2),
        "dot": ("dog", 2, 2),
    }


def test_rolling_median_odd_even_windows(spark, tmp_path):
    """w21 on a planted 4-day series: day 1 median = the value itself,
    day 2 = mean of two, day 3 = middle of three, day 4 = mean of the
    two middles of four."""
    rows = [
        ("t", "2024-01-01 00:00:00", 10.0),
        ("t", "2024-01-02 00:00:00", 30.0),
        ("t", "2024-01-03 00:00:00", 20.0),
        ("t", "2024-01-04 00:00:00", 100.0),
    ]
    spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).select(
        F.lit(1).alias("event_id"),
        F.col("ts_s").cast("timestamp").alias("ts"),
        F.lit(1).alias("user_id"),
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r["day"]: r["rolling_median"]
        for r in CATALOG["w21_rolling_median"][0](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        "2024-01-01": 10.0,
        "2024-01-02": 20.0,   # (10+30)/2
        "2024-01-03": 20.0,   # middle of 10,20,30
        "2024-01-04": 25.0,   # (20+30)/2 of 10,20,30,100
    }


def test_constrained_funnel_deadline_boundaries(spark, tmp_path):
    """a30's gap bounds are exact microsecond integers: a click at
    EXACTLY view+1h converts, one microsecond later does not; a
    purchase before the click never counts."""
    rows = [
        # user 1: click exactly at +1h -> counts; purchase at +24h
        # after click -> counts
        (1, "view", "2024-01-01 00:00:00"),
        (1, "click", "2024-01-01 01:00:00"),
        (1, "purchase", "2024-01-02 01:00:00"),
        # user 2: click 1 microsecond past the deadline -> out
        (2, "view", "2024-01-01 00:00:00"),
        (2, "click", "2024-01-01 01:00:00.000001"),
        # user 3: purchase BEFORE its click -> click counts, buy not
        (3, "view", "2024-01-01 00:00:00"),
        (3, "purchase", "2024-01-01 00:10:00"),
        (3, "click", "2024-01-01 00:30:00"),
    ]
    spark.createDataFrame(
        rows, "user_id bigint, event_type string, ts_s string"
    ).select(
        F.lit(1).alias("event_id"),
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    r = CATALOG["a30_constrained_funnel"][0](spark, str(tmp_path)).collect()[0]
    assert (r["n_view"], r["n_click_1h"], r["n_purchase_24h"]) == (3, 2, 1)


def test_seasonal_anomaly_flags_planted_day(spark, tmp_path):
    """w22 flags a 10x-volume day against its own weekday's mean and
    leaves the normal weeks unflagged."""
    rows = []
    # four normal Saturdays at 100, one blown-out Saturday at 1000
    for day, val in [
        ("2024-01-06", 100.0), ("2024-01-13", 100.0),
        ("2024-01-20", 100.0), ("2024-01-27", 100.0),
        ("2024-02-03", 1000.0),
    ]:
        rows.append(("t", f"{day} 12:00:00", val))
    spark.createDataFrame(
        rows, "event_type string, ts_s string, value double"
    ).select(
        F.lit(1).alias("event_id"),
        F.col("ts_s").cast("timestamp").alias("ts"),
        F.lit(1).alias("user_id"),
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r["day"]: (round(r["seasonal_ratio"], 6), r["is_anomaly"])
        for r in CATALOG["w22_seasonal_anomaly"][0](
            spark, str(tmp_path)
        ).collect()
    }
    # dow mean = 1400/5 = 280; normal ratio 100/280, planted 1000/280
    assert out["2024-02-03"] == (round(1000 / 280, 6), True)
    assert out["2024-01-06"] == (round(100 / 280, 6), True)  # < 0.5 side
    assert all(d in out for d in (
        "2024-01-13", "2024-01-20", "2024-01-27"))


def test_image_histogram_invariants(spark, sf_dir):
    """m15: sparse bins only (n > 0), bins in [0, 16), and every
    (doc, channel)'s counts sum to the full 256-pixel image."""
    rows = CATALOG["m15_image_histogram"][0](spark, sf_dir).collect()
    assert rows
    sums: dict[tuple, int] = {}
    for r in rows:
        assert 0 <= r["bin"] < 16 and r["n"] > 0
        k = (r["doc_id"], r["channel"])
        sums[k] = sums.get(k, 0) + r["n"]
    assert set(sums.values()) == {256}


def test_hhi_known_portfolio(spark, tmp_path):
    """f4 on a hand portfolio: 75/25 split -> HHI 0.625; single brand
    -> exactly 1.0."""
    li = [
        (1, 10, 75.0), (1, 20, 25.0),   # cust A via order 1
        (2, 10, 50.0),                   # cust B: one brand -> 1.0
    ]
    spark.createDataFrame(
        li, "l_orderkey bigint, l_partkey bigint, l_extendedprice double"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(1, 100), (2, 200)], "o_orderkey bigint, o_custkey bigint"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(10, "A"), (20, "B")], "p_partkey bigint, p_brand string"
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    out = {
        r["o_custkey"]: (r["n_brands"], r["hhi"])
        for r in CATALOG["f4_portfolio_concentration"][0](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[100] == (2, 0.625)  # 0.75^2 + 0.25^2
    assert out[200] == (1, 1.0)


def test_cohort_ltv_accumulates(spark, tmp_path):
    """a31 on a hand fixture: purchases accumulate across offsets and
    normalize by cohort size; non-purchase events count toward the
    cohort but not the revenue."""
    rows = [
        (1, "view", "2024-01-01 08:00:00", 999.0),      # cohort, no rev
        (1, "purchase", "2024-01-02 08:00:00", 10.0),    # wk 0
        (1, "purchase", "2024-01-09 08:00:00", 30.0),    # wk 1
        (2, "view", "2024-01-03 08:00:00", 999.0),       # same cohort
    ]
    spark.createDataFrame(
        rows, "user_id bigint, event_type string, ts_s string, value double"
    ).select(
        F.lit(1).alias("event_id"),
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
        F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        (r["cohort_week"], r["week_offset"]): (
            r["revenue"], r["cum_revenue"], r["ltv_per_user"]
        )
        for r in CATALOG["a31_cohort_ltv"][0](spark, str(tmp_path)).collect()
    }
    assert out == {
        ("2024-01-01", 0): (10.0, 10.0, 5.0),
        ("2024-01-01", 1): (30.0, 40.0, 20.0),
    }


def test_day_coverage_counts_gaps(spark, tmp_path):
    """w23 on a planted series with two missing days inside the span:
    expected = span length, missing = 2, coverage = 3/5."""
    rows = [
        ("t", "2024-01-01 10:00:00"), ("t", "2024-01-02 10:00:00"),
        # 01-03 and 01-04 missing
        ("t", "2024-01-05 10:00:00"),
        ("u", "2024-02-01 00:00:00"),  # single-day type: full coverage
    ]
    spark.createDataFrame(
        rows, "event_type string, ts_s string"
    ).select(
        F.lit(1).alias("event_id"),
        F.col("ts_s").cast("timestamp").alias("ts"),
        F.lit(1).alias("user_id"),
        "event_type",
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r["event_type"]: (
            r["n_expected"], r["n_present"], r["n_missing"], r["coverage"]
        )
        for r in CATALOG["w23_day_coverage"][0](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {"t": (5, 3, 2, 0.6), "u": (1, 1, 0, 1.0)}


def test_path_trigrams_ordering_and_count(spark, tmp_path):
    """a32 walks each user's events in (ts, event_id) order: a 4-event
    user yields exactly two overlapping trigrams; same-ts events break
    ties by event_id."""
    rows = [
        (1, 1, "a", "2024-01-01 00:00:01"),
        (1, 2, "b", "2024-01-01 00:00:02"),
        (1, 3, "c", "2024-01-01 00:00:03"),
        (1, 4, "d", "2024-01-01 00:00:03"),   # same ts as 3 -> after it
        (2, 5, "x", "2024-01-01 00:00:01"),   # 1 event: no trigram
    ]
    spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, event_type string, ts_s string"
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type",
        F.lit(1.0).alias("value"), F.lit("{}").alias("props"),
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r["path"]: r["n"]
        for r in CATALOG["a32_path_trigrams"][0](spark, str(tmp_path)).collect()
    }
    assert out == {"a>b>c": 1, "b>c>d": 1}


def test_char_entropy_known_values(spark, tmp_path):
    """l39 on hand strings: a single repeated char has entropy 0; a
    perfectly uniform 2-char string has exactly 1 bit."""
    rows = [(1, "aaaa", "en", "s", 4), (2, "abab", "en", "s", 4)]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: (r["n_chars"], r["n_distinct"], r["entropy_bits"])
        for r in CATALOG["l39_char_entropy"][0](spark, str(tmp_path)).collect()
    }
    assert out == {1: (4, 1, 0.0), 2: (4, 2, 1.0)}


def test_global_order_ffill_carries_across_partitions(spark):
    """global_order_ffill: with 8 range partitions over 200 rows and
    only ONE non-null value near the start, every later row — in every
    later partition — must receive the carried value, and rows before
    it stay null. Equivalent single-partition window oracle inline."""
    from finporter_spark.operators.scale import global_order_ffill

    rows = [(i, 42.0 if i == 10 else None) for i in range(200)]
    df = spark.createDataFrame(rows, "k bigint, x double")
    out = {
        r["k"]: r["_ffill"]
        for r in global_order_ffill(df, ["k"], "x", nparts=8).collect()
    }
    assert all(out[k] is None for k in range(10))
    assert all(out[k] == 42.0 for k in range(10, 200))
    # denser case: every 17th row non-null, value = its index
    rows = [(i, float(i) if i % 17 == 0 else None) for i in range(200)]
    df = spark.createDataFrame(rows, "k bigint, x double")
    out = {
        r["k"]: r["_ffill"]
        for r in global_order_ffill(df, ["k"], "x", nparts=8).collect()
    }
    for k in range(200):
        assert out[k] == float(k - k % 17)


def test_nearest_below_tie_and_empty(spark, tmp_path):
    """j11: a customer balance EQUAL to the supplier's counts
    (<= contract); a supplier below every customer gets NULL."""
    spark.createDataFrame(
        [(1, 500.0), (2, 100.0), (3, 2000.0)],
        "s_suppkey bigint, s_acctbal double",
    ).write.mode("overwrite").parquet(str(tmp_path / "supplier.parquet"))
    spark.createDataFrame(
        [(500.0,), (450.0,), (1500.0,)], "c_acctbal double"
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    out = {
        r["s_suppkey"]: r["nearest_below"]
        for r in CATALOG["j11_nearest_below_join"][0](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {1: 500.0, 2: None, 3: 1500.0}


def test_gini_known_distributions(spark, tmp_path):
    """a33 on hand distributions: equal spends -> Gini 0; the exact
    rank-weighted value for a known unequal split."""
    import os, tempfile

    def run(spends):
        td = tempfile.mkdtemp()
        spark.createDataFrame(
            [(i, i, float(s)) for i, s in enumerate(spends)],
            "o_orderkey bigint, o_custkey bigint, o_totalprice double",
        ).write.mode("overwrite").parquet(os.path.join(td, "orders.parquet"))
        return CATALOG["a33_gini_coefficient"][0](spark, td).collect()[0]

    r = run([100.0, 100.0, 100.0, 100.0])
    assert r["n_customers"] == 4 and abs(r["gini"]) < 1e-12
    # x = [1,2,3,4]: G = 2*(1+4+9+16)/(4*10) - 5/4 = 0.25
    r = run([1.0, 2.0, 3.0, 4.0])
    assert math.isclose(r["gini"], 0.25, rel_tol=1e-12)


def test_silence_bounds_trims_correctly(spark, sf_dir):
    """m16: bounds sit inside the window range, first <= last, and the
    loud count never exceeds the clip's window count (4 + doc_id%3)."""
    rows = CATALOG["m16_silence_bounds"][0](spark, sf_dir).collect()
    assert rows
    for r in rows:
        nw = 4 + r["doc_id"] % 3
        assert 0 <= r["first_loud"] <= r["last_loud"] < nw
        assert 1 <= r["n_loud"] <= nw
        # staged pattern: exactly the windows with (doc+w) % 4 != 0
        want = [w for w in range(nw) if (r["doc_id"] + w) % 4 != 0]
        assert (r["first_loud"], r["last_loud"], r["n_loud"]) == (
            want[0], want[-1], len(want)
        )


def test_j11_and_a33_plan_shapes(spark, sf_dir):
    """j11's merge plan has no cartesian/correlated scan and no
    unpartitioned window; a33's rank windows all partition by _pid
    (the global_rank ladder, never a single-task global sort)."""
    import re

    for name in ("j11_nearest_below_join", "a33_gini_coefficient"):
        p = _plan(CATALOG[name][0](spark, sf_dir))
        assert "CartesianProduct" not in p, name
        wins = re.findall(r"\(\d+\) Window[\s\S]*?(?=\n\(\d+\)|\Z)", p)
        assert wins, (name, p)
        for w in wins:
            assert "_pid" in w, (name, w)


def test_pipe7_stages_after_vocab_are_small(spark, sf_dir):
    """pipe7's output is one row per distinct name with a canonical
    from INSIDE its own component, the survivor has maximal
    multiplicity within the cluster, and cluster sizes are
    consistent."""
    rows = CATALOG["pipe7_master_data_dedup"][0](spark, sf_dir).collect()
    by_canon: dict[str, list] = {}
    n_rows = {r["name"]: r["n_rows"] for r in rows}
    for r in rows:
        by_canon.setdefault(r["canonical"], []).append(r)
    for canon, members in by_canon.items():
        # canonical is itself a member of the cluster it canonicalizes
        assert canon in {m["name"] for m in members}
        (size,) = {m["cluster_size"] for m in members}
        assert size == len(members)
        best = max(n_rows[m["name"]] for m in members)
        assert n_rows[canon] == best


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    lefts=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=1,
        max_size=12,
    ),
    rights=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=0,
        max_size=20,
    ),
)
def test_count_exceeding_matches_brute_force(spark, lefts, rights):
    """The j5/j9 rank-merge primitive == the literal strict-greater
    count on adversarial floats (duplicates, all-equal, empty right,
    negative values spanning the band grid)."""
    from finporter_spark.operators.joins import count_exceeding

    l = spark.createDataFrame(
        [(i, v) for i, v in enumerate(lefts)], "k bigint, v double"
    )
    r = spark.createDataFrame(
        [(v,) for v in rights], "w double"
    ) if rights else spark.createDataFrame([], "w double")
    got = {
        row["k"]: row["n_greater"]
        for row in count_exceeding(l, ["k"], "v", r, "w", bands=4).collect()
    }
    for i, v in enumerate(lefts):
        assert got[i] == sum(1 for w in rights if w > v), (i, v, rights)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    vals=st.lists(
        st.one_of(
            st.none(),
            st.floats(min_value=-1000, max_value=1000, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_global_order_ffill_matches_sequential_walk(spark, vals):
    """global_order_ffill == the literal in-order forward-fill walk on
    random null patterns (all-null, null-prefix, alternating) across
    more partitions than rows."""
    from finporter_spark.operators.scale import global_order_ffill

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k bigint, x double"
    )
    got = {
        r["k"]: r["_ffill"]
        for r in global_order_ffill(df, ["k"], "x", nparts=7).collect()
    }
    last = None
    for i, v in enumerate(vals):
        if v is not None:
            last = v
        assert got[i] == last, (i, vals)


def test_duplication_rate_cross_source_charging(spark, tmp_path):
    """l40 charges BOTH sides of a cross-source copy: a doc duplicated
    only in another source still counts as duped in its own source."""
    rows = [
        (1, "same text", "a"), (2, "same text", "b"),   # cross-source dup
        (3, "unique a", "a"),
        (4, "twin", "b"), (5, "twin", "b"),             # within-source dup
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    ).select(
        "doc_id", "text",
        F.lit("en").alias("lang"), "source",
        F.length("text").alias("n_chars"),
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["source"]: (r["n_docs"], r["n_duped"], r["dup_rate"])
        for r in CATALOG["l40_duplication_by_source"][0](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {"a": (2, 1, 0.5), "b": (3, 3, 1.0)}


def test_ed1_cc_edges_component_equivalent(spark, sf_dir):
    """The pipe7 round-9 edge sparsification (_ed1_cc_edges: positioned-
    deletion clique stars + direct ins/del edges, zero levenshtein)
    yields EXACTLY the components of the full verified ed-1 pair graph
    (_ed1_name_pairs) — the per-subgraph sparsification argument,
    checked on real data."""
    from pyspark.sql import functions as F

    from finporter_spark.operators.graph import connected_components_star
    from finporter_spark.queries.catalog import _t
    from finporter_spark.queries.graph import _ed1_cc_edges
    from finporter_spark.queries.text_prep import _ed1_name_pairs

    n = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_name")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )
    full = connected_components_star(
        _ed1_name_pairs(n).select("name_a", "name_b"), "name_a", "name_b"
    )
    sparse = connected_components_star(
        _ed1_cc_edges(n), "name_a", "name_b"
    )
    a = {(r.node, r.component) for r in full.collect()}
    b = {(r.node, r.component) for r in sparse.collect()}
    assert a == b


def test_ed1_cc_edges_are_all_distance_one(spark, sf_dir):
    """Every sparsified edge really is an ed-1 pair (the clique/insdel
    construction claims exactness with no verify step — hold it to
    that), and no self-edges leak."""
    from pyspark.sql import functions as F

    from finporter_spark.queries.catalog import _t
    from finporter_spark.queries.graph import _ed1_cc_edges

    n = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_name")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )
    bad = (
        _ed1_cc_edges(n)
        .withColumn("d", F.levenshtein("name_a", "name_b"))
        .filter(F.col("d") != 1)
        .count()
    )
    assert bad == 0
