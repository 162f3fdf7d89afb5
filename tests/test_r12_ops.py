"""Round-12 operator tests.

- kruskal_wallis must equal a pure-Python midrank reference (exact
  formula, tie-corrected) on adversarial small samples, reduce to the
  Mann–Whitney z² identity at k = 2, and surface degenerate inputs as
  NULLs, never errors.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from finporter_spark.queries.catalog import CATALOG


def kw_ref(arms: list[list[int]]) -> float | None:
    """Textbook tie-corrected Kruskal–Wallis H (midranks, exact)."""
    k = len(arms)
    allv = sorted(v for arm in arms for v in arm)
    n_tot = len(allv)
    if any(len(a) == 0 for a in arms) or n_tot < 2:
        return None
    ranks: dict[int, float] = {}
    tie3 = 0
    i = 0
    while i < n_tot:
        j = i
        while j < n_tot and allv[j] == allv[i]:
            j += 1
        t = j - i
        ranks[allv[i]] = (i + 1 + j) / 2.0
        tie3 += t * t * t - t
        i = j
    rsum = [sum(ranks[v] for v in arm) for arm in arms]
    n = [len(arm) for arm in arms]
    h = (
        12.0 / (n_tot * (n_tot + 1))
        * sum(rsum[g] ** 2 / n[g] for g in range(k))
        - 3.0 * (n_tot + 1)
    )
    corr = 1.0 - tie3 / float(n_tot**3 - n_tot)
    if corr == 0.0:
        return None
    return h / corr


def _run_kw(spark, arms: list[list[int]]):
    from finporter_spark.operators.stats import kruskal_wallis

    rows = [
        (int(v), g) for g, arm in enumerate(arms) for v in arm
    ]
    df = spark.createDataFrame(rows, "iv bigint, arm int")
    return kruskal_wallis(
        df, "iv", "arm", list(range(len(arms)))
    ).collect()[0]


CASES = [
    # heavy ties, unbalanced arms
    [[1, 1, 2, 3], [1, 2, 2], [3, 3, 3, 3, 1]],
    # disjoint ranges (max separation)
    [[1, 2, 3], [10, 11, 12], [100, 101]],
    # singleton arm
    [[5], [1, 2, 3, 4], [6, 7]],
    # identical arms (H = 0)
    [[1, 2, 3], [1, 2, 3], [1, 2, 3]],
    # negative values
    [[-5, -1, 0], [-3, 2, 2], [7, -5]],
]


@pytest.mark.parametrize("arms", CASES)
def test_kruskal_wallis_matches_reference(spark, arms):
    row = _run_kw(spark, arms)
    ref = kw_ref(arms)
    assert row.h == pytest.approx(round(ref, 6), abs=2e-6)
    # df = 2: survival is exactly exp(-H/2)
    assert row.p_approx == pytest.approx(
        round(min(1.0, math.exp(-ref / 2.0)), 6), abs=2e-6
    )
    for g, arm in enumerate(arms):
        assert row[f"n{g}"] == len(arm)


def test_kruskal_wallis_k2_equals_mwu_z_squared(spark):
    """With k = 2 the tie-corrected H is EXACTLY the Mann–Whitney
    normal z squared (Lehmann) — the algebraic bridge to a38/a44."""
    from finporter_spark.operators.stats import (
        kruskal_wallis,
        mann_whitney_u,
    )

    vals = [(1, 1), (2, 1), (2, 0), (3, 0), (3, 1), (7, 0), (9, 1)]
    df = spark.createDataFrame(vals, "iv bigint, a int")
    h = kruskal_wallis(df, "iv", "a", [1, 0]).collect()[0].h
    z = mann_whitney_u(df, "iv", "a").collect()[0].z
    assert h == pytest.approx(z * z, abs=2e-6)


def test_kruskal_wallis_degenerate_null_not_error(spark):
    from finporter_spark.operators.stats import kruskal_wallis

    # all-tied: zero tie-correction denominator -> NULL h and p
    df = spark.createDataFrame(
        [(5, 0), (5, 1), (5, 2)], "iv bigint, arm int"
    )
    row = kruskal_wallis(df, "iv", "arm", [0, 1, 2]).collect()[0]
    assert row.h is None and row.p_approx is None
    # empty arm (label 2 never appears) -> NULL, counts still exact
    df2 = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1)], "iv bigint, arm int"
    )
    row2 = kruskal_wallis(df2, "iv", "arm", [0, 1, 2]).collect()[0]
    assert row2.h is None
    assert (row2.n0, row2.n1, row2.n2) == (2, 1, 0)


def test_kruskal_wallis_domain_guard(spark):
    from finporter_spark.operators.stats import kruskal_wallis

    df = spark.range(0, 500).selectExpr(
        "id AS iv", "CAST(id % 3 AS INT) AS arm"
    )
    with pytest.raises(ValueError, match="kruskal_wallis"):
        kruskal_wallis(df, "iv", "arm", [0, 1, 2], max_domain=100)


def test_a46_catalog_entry_runs(spark, sf_dir):
    row = CATALOG["a46_kruskal_wallis"][0](spark, sf_dir).collect()[0]
    assert row.n0 > 0 and row.n1 > 0 and row.n2 > 0
    assert row.h is not None and 0.0 <= row.p_approx <= 1.0


# ---------------------------------------------------------------------
# vacuum_versions (o19)
# ---------------------------------------------------------------------


def _build_chain(spark, root, n_versions=4):
    from finporter_spark.streaming.pipeline import (
        versioned_keep_first_sink,
    )

    merge, read_final = versioned_keep_first_sink(
        root, key_col="k", order_col="o"
    )
    for i in range(n_versions):
        df = spark.createDataFrame(
            [(j % 5, i * 100 + j) for j in range(20)], "k int, o int"
        )
        merge(df, i)
    return read_final


def test_vacuum_keeps_final_state_identical(spark, tmp_path):
    import os

    from finporter_spark.operators.scale import vacuum_versions

    root = str(tmp_path / "sink")
    read_final = _build_chain(spark, root)
    before = sorted(
        (r.k, r.o) for r in read_final(spark).collect()
    )
    stats = vacuum_versions(root, keep=2)
    assert stats["removed"] == [0, 1] and stats["kept"] == [2, 3]
    # file-count: exactly the two newest version dirs remain
    dirs = [d for d in os.listdir(root) if d.startswith("state_v")]
    assert sorted(dirs) == ["state_v2", "state_v3"]
    assert not [d for d in os.listdir(root) if d.startswith("_vacuum_")]
    after = sorted((r.k, r.o) for r in read_final(spark).collect())
    assert after == before
    # idempotent: a second vacuum removes nothing
    assert vacuum_versions(root, keep=2)["removed"] == []


def test_vacuum_crash_midway_leaves_readable_table(spark, tmp_path):
    """A tombstone left by a crash (rename done, rmtree not) must be
    invisible to version discovery and reclaimed by the next run."""
    import os

    from finporter_spark.operators.scale import vacuum_versions

    root = str(tmp_path / "sink")
    read_final = _build_chain(spark, root)
    before = sorted((r.k, r.o) for r in read_final(spark).collect())
    # simulate the crash point: v0 renamed to its tombstone, not deleted
    os.rename(
        os.path.join(root, "state_v0"),
        os.path.join(root, "_vacuum_state_v0"),
    )
    after = sorted((r.k, r.o) for r in read_final(spark).collect())
    assert after == before  # discovery ignores the tombstone
    stats = vacuum_versions(root, keep=2)
    assert stats["removed"] == [1]
    assert not [d for d in os.listdir(root) if d.startswith("_vacuum_")]
    assert sorted(
        (r.k, r.o) for r in read_final(spark).collect()
    ) == before


def test_vacuum_replay_after_vacuum_finds_parent(spark, tmp_path):
    """keep=2's reason: a crash-replayed FINAL batch must merge onto
    the second-newest version, so the replayed result equals the
    original final state."""
    from finporter_spark.operators.scale import vacuum_versions
    from finporter_spark.streaming.pipeline import (
        versioned_keep_first_sink,
    )

    root = str(tmp_path / "sink")
    read_final = _build_chain(spark, root, n_versions=4)
    before = sorted((r.k, r.o) for r in read_final(spark).collect())
    vacuum_versions(root, keep=2)
    merge, read_final2 = versioned_keep_first_sink(
        root, key_col="k", order_col="o"
    )
    # replay batch 3 (same id, same data) onto the vacuumed sink
    df = spark.createDataFrame(
        [(j % 5, 300 + j) for j in range(20)], "k int, o int"
    )
    merge(df, 3)
    after = sorted((r.k, r.o) for r in read_final2(spark).collect())
    assert after == before


def test_vacuum_guards(tmp_path):
    import pytest

    from finporter_spark.operators.scale import vacuum_versions

    with pytest.raises(ValueError, match="keep"):
        vacuum_versions(str(tmp_path), keep=0)
    # absent root is a no-op, not an error
    assert vacuum_versions(str(tmp_path / "nope")) == {
        "kept": [], "removed": []
    }


def test_x20_streaming_codes_equal_batch_build(spark, sf_dir):
    """The drained streaming index must equal the one-shot batch
    build row-for-row (same frozen quantizer/codebooks) — incremental
    ingest changes WHEN vectors are encoded, never HOW."""
    from pyspark.sql import functions as F

    from finporter_spark.operators.similarity import (
        build_ivfadc_codes,
        load_or_train_centroids_det,
    )
    from finporter_spark.queries.catalog import _t
    from finporter_spark.queries.staging import io_dir as _io_dir
    from finporter_spark.queries.ann import _PQ_M, _pq_books

    streamed = sorted(
        tuple(r)
        for r in CATALOG["x20_stream_ann_ingest"][0](
            spark, sf_dir
        ).collect()
    )
    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir, emb)
    cents = load_or_train_centroids_det(
        emb, "vec_id", "embedding", dim=64, n_centroids=16, iters=3,
        cache_path=_io_dir(sf_dir, "l3_ivf_centroids_det_k16_d64_i3"),
    )
    batch = sorted(
        tuple(r)
        for r in build_ivfadc_codes(
            emb, "vec_id", "embedding", cents, books
        )
        .select(
            "cand_id",
            F.col("_cell").cast("int"),
            *[F.col(f"_c{i}").cast("int") for i in range(_PQ_M)],
        )
        .collect()
    )
    assert streamed == batch and len(streamed) > 0


# ---------------------------------------------------------------------
# dunn_posthoc (a47)
# ---------------------------------------------------------------------


def dunn_ref(arms: list[list[int]]):
    """Textbook Dunn z per pair from the joint midranking."""
    allv = sorted(v for arm in arms for v in arm)
    n_tot = len(allv)
    ranks: dict[int, float] = {}
    tie3 = 0
    i = 0
    while i < n_tot:
        j = i
        while j < n_tot and allv[j] == allv[i]:
            j += 1
        t = j - i
        ranks[allv[i]] = (i + 1 + j) / 2.0
        tie3 += t * t * t - t
        i = j
    out = {}
    for a in range(len(arms)):
        for b in range(a + 1, len(arms)):
            na, nb = len(arms[a]), len(arms[b])
            if na == 0 or nb == 0:
                out[(a, b)] = None
                continue
            ma = sum(ranks[v] for v in arms[a]) / na
            mb = sum(ranks[v] for v in arms[b]) / nb
            sig2 = (
                n_tot * (n_tot + 1) / 12.0
                - tie3 / (12.0 * (n_tot - 1))
            ) * (1.0 / na + 1.0 / nb)
            out[(a, b)] = (
                (ma - mb) / math.sqrt(sig2) if sig2 > 0 else None
            )
    return out


@pytest.mark.parametrize("arms", CASES)
def test_dunn_matches_reference(spark, arms):
    from finporter_spark.operators.stats import dunn_posthoc

    rows = [(int(v), g) for g, arm in enumerate(arms) for v in arm]
    df = spark.createDataFrame(rows, "iv bigint, arm int")
    got = {
        (int(r.arm_i), int(r.arm_j)): r.z
        for r in dunn_posthoc(
            df, "iv", "arm", list(range(len(arms))), z_crit=2.393980
        ).collect()
    }
    ref = dunn_ref(arms)
    assert set(got) == set(ref)
    for pair, zr in ref.items():
        if zr is None:
            assert got[pair] is None
        else:
            assert got[pair] == pytest.approx(round(zr, 6), abs=2e-6)


def test_dunn_degenerate_and_flag(spark):
    from finporter_spark.operators.stats import dunn_posthoc

    # all-tied -> sig2 = 0 -> NULL z, NULL flag (never an error)
    df = spark.createDataFrame(
        [(5, 0), (5, 1), (5, 2)], "iv bigint, arm int"
    )
    for r in dunn_posthoc(df, "iv", "arm", [0, 1, 2], 2.39398).collect():
        assert r.z is None and r.significant is None
    # far-separated arms -> every pair significant
    df2 = spark.createDataFrame(
        [(v, g) for g in range(3) for v in range(g * 1000, g * 1000 + 12)],
        "iv bigint, arm int",
    )
    rows = dunn_posthoc(df2, "iv", "arm", [0, 1, 2], 2.39398).collect()
    assert all(r.significant for r in rows)


def test_kruskal_wallis_by_matches_global_per_key(spark):
    """Grouped KW must equal the global operator run per key."""
    from finporter_spark.operators.stats import (
        kruskal_wallis,
        kruskal_wallis_by,
    )

    rows = []
    for key, arms in enumerate(CASES[:3]):
        for g, arm in enumerate(arms):
            rows.extend((key, int(v), g) for v in arm)
    df = spark.createDataFrame(rows, "k int, iv bigint, arm int")
    grouped = {
        r.k: (r.h, r.p_approx)
        for r in kruskal_wallis_by(
            df, "iv", "arm", [0, 1, 2], ["k"]
        ).collect()
    }
    for key in range(3):
        solo = kruskal_wallis(
            df.where(F.col("k") == key), "iv", "arm", [0, 1, 2]
        ).collect()[0]
        assert grouped[key] == (solo.h, solo.p_approx), key


# ---------------------------------------------------------------------
# Property tests: KW / Dunn vs the pure-Python references (the
# a37/a38 hypothesis discipline — arbitrary small integer samples:
# ties, negatives, singletons, heavy imbalance)
# ---------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

_ARMS3 = st.tuples(
    st.lists(st.integers(min_value=-30, max_value=30), min_size=1, max_size=15),
    st.lists(st.integers(min_value=-30, max_value=30), min_size=1, max_size=15),
    st.lists(st.integers(min_value=-30, max_value=30), min_size=1, max_size=15),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(arms=_ARMS3)
def test_kruskal_wallis_property(spark, arms):
    arms = [list(a) for a in arms]
    row = _run_kw(spark, arms)
    ref = kw_ref(arms)
    if ref is None:
        assert row.h is None
    else:
        assert row.h == pytest.approx(round(ref, 6), abs=2e-6)
        assert row.p_approx == pytest.approx(
            round(min(1.0, math.exp(-ref / 2.0)), 6), abs=2e-6
        )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(arms=_ARMS3)
def test_dunn_property(spark, arms):
    from finporter_spark.operators.stats import dunn_posthoc

    arms = [list(a) for a in arms]
    rows = [(int(v), g) for g, arm in enumerate(arms) for v in arm]
    df = spark.createDataFrame(rows, "iv bigint, arm int")
    got = {
        (int(r.arm_i), int(r.arm_j)): r.z
        for r in dunn_posthoc(
            df, "iv", "arm", [0, 1, 2], z_crit=2.393980
        ).collect()
    }
    for pair, zr in dunn_ref(arms).items():
        if zr is None:
            assert got[pair] is None
        else:
            assert got[pair] == pytest.approx(round(zr, 6), abs=2e-6)


def test_codes_cache_fingerprint_invalidates(spark, sf_dir):
    """The codes cache is corpus-DERIVED and corpus-sized: a stale
    cache after a testdata regeneration must rebuild (fingerprint
    mismatch), and a matching fingerprint must serve the cache."""
    import os

    from finporter_spark.operators.similarity import (
        load_or_build_ivfadc_codes,
        load_or_train_centroids_det,
    )
    from finporter_spark.queries.catalog import _t
    from finporter_spark.queries.staging import io_dir as _io_dir
    from finporter_spark.queries.ann import _pq_books

    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir, emb)
    cents = load_or_train_centroids_det(
        emb, "vec_id", "embedding", dim=64, n_centroids=16, iters=3,
        cache_path=_io_dir(sf_dir, "l3_ivf_centroids_det_k16_d64_i3"),
    )
    import tempfile

    cache = os.path.join(tempfile.mkdtemp(), "codes")
    c1 = load_or_build_ivfadc_codes(
        emb, "vec_id", "embedding", cents, books,
        cache_path=cache, fingerprint="fpA",
    )
    n1 = c1.count()
    marker = os.path.join(cache, "_codes_fingerprint")
    assert open(marker).read() == "fpA"
    mtime = os.path.getmtime(marker)
    # same fingerprint: served from cache (marker untouched)
    c2 = load_or_build_ivfadc_codes(
        emb, "vec_id", "embedding", cents, books,
        cache_path=cache, fingerprint="fpA",
    )
    assert c2.count() == n1
    assert os.path.getmtime(marker) == mtime
    # changed fingerprint (regenerated corpus): rebuilt, marker updated
    c3 = load_or_build_ivfadc_codes(
        emb, "vec_id", "embedding", cents, books,
        cache_path=cache, fingerprint="fpB",
    )
    assert c3.count() == n1
    assert open(marker).read() == "fpB"


def test_vacuum_reclaims_stray_file_tombstone(spark, tmp_path):
    """A stray regular FILE on a tombstone name must be reclaimed (or
    fail loudly), never silently skipped to wedge the later rename."""
    import os

    from finporter_spark.operators.scale import vacuum_versions

    root = str(tmp_path / "sink")
    read_final = _build_chain(spark, root)
    # a file (not a dir) squatting on the v0 tombstone name
    with open(os.path.join(root, "_vacuum_state_v0"), "w") as fh:
        fh.write("junk")
    stats = vacuum_versions(root, keep=2)
    assert stats["removed"] == [0, 1]
    assert not [d for d in os.listdir(root) if d.startswith("_vacuum_")]
    assert len(read_final(spark).collect()) > 0
