"""Unit tests for custom operators: as-of join, dedup family, similarity,
text analysis. Recall thresholds per BASELINE.md (≥0.9 vs brute force)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from finporter_spark.operators import (
    asof_join,
    brute_force_knn,
    exact_dedup,
    keep_latest,
    minhash_near_duplicates,
)
from finporter_spark.operators.dedup import ngram_jaccard_pairs, shingles


def ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_backward(spark):
    trades = spark.createDataFrame(
        [
            (1, "A", ts("2021-01-01 10:00:00")),
            (2, "A", ts("2021-01-01 12:00:00")),
            (3, "B", ts("2021-01-01 10:30:00")),
            (4, "C", ts("2021-01-01 09:00:00")),  # no quote before
        ],
        "trade_id int, sym string, t timestamp",
    )
    quotes = spark.createDataFrame(
        [
            ("A", ts("2021-01-01 09:59:00"), 10.0),
            ("A", ts("2021-01-01 11:00:00"), 11.0),
            ("B", ts("2021-01-01 10:30:00"), 20.0),  # exact tie with trade ts
            ("C", ts("2021-01-01 10:00:00"), 30.0),  # only after
        ],
        "sym string, qt timestamp, price double",
    )
    out = asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="qt",
        right_cols=["qt", "price"], left_id=["trade_id"],
    )
    got = {r.trade_id: r.price for r in out.collect()}
    assert got == {1: 10.0, 2: 11.0, 3: 20.0, 4: None}
    assert out.count() == 4  # left-preserving


def test_asof_join_forward_and_tolerance(spark):
    left = spark.createDataFrame(
        [(1, "A", ts("2021-01-01 10:00:00"))], "id int, k string, t timestamp"
    )
    right = spark.createDataFrame(
        [
            ("A", ts("2021-01-01 10:05:00"), "near"),
            ("A", ts("2021-01-01 12:00:00"), "far"),
        ],
        "k string, rt timestamp, tag string",
    )
    fwd = asof_join(
        left, right, on=["k"], left_ts="t", right_ts="rt",
        right_cols=["tag"], direction="forward", left_id=["id"],
    )
    assert fwd.first().tag == "near"
    tol = asof_join(
        left, right, on=["k"], left_ts="t", right_ts="rt", right_cols=["tag"],
        direction="forward", tolerance=F.expr("INTERVAL 1 MINUTE"),
        left_id=["id"],
    )
    assert tol.first().tag is None  # nothing within 1 minute


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "unrelated")],
        "doc_id long, text string",
    )
    out = exact_dedup(df)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 3]  # 2 is a normalized dup of 1


def test_keep_latest_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 30.0)],
        "k string, v int, x double",
    )
    out = keep_latest(df, ["k"], [F.col("v").desc()])
    got = {r.k: r.v for r in out.collect()}
    assert got == {"a": 2, "b": 1}


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    found = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates(
            docs, jaccard_threshold=0.4
        ).collect()
    }
    assert truth, "synthetic corpus should contain near-duplicates"
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"minhash recall {recall} < 0.9 (|truth|={len(truth)})"


def test_simhash_recall_vs_exact_jaccard(spark, sf_dir):
    """Recall vs the exact 3-gram Jaccard baseline at the unit SF
    (sibling of test_recall_sf01.py::test_simhash_recall_at_sf01;
    measured 0.61 with shingle features)."""
    from finporter_spark.operators.dedup import simhash_near_duplicates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    found = {
        (r.id_a, r.id_b)
        for r in simhash_near_duplicates(docs, max_hamming=3).collect()
    }
    assert truth
    recall = len(truth & found) / len(truth)
    assert recall >= 0.5, f"simhash recall {recall} (|truth|={len(truth)})"


def test_minhash_signature_cache_stages_once(spark, sf_dir, tmp_path):
    """load_or_build_signatures is pay-once dataset state: a second call
    with the same fingerprint serves the parquet untouched; a changed
    fingerprint rebuilds; LSH pairs over cached signatures are identical
    to the inline-signature path."""
    import os

    from finporter_spark.operators.dedup import load_or_build_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "sigs")

    s1 = load_or_build_signatures(docs, path, fingerprint="fp1")
    mtimes = {
        f: os.stat(os.path.join(path, f)).st_mtime_ns
        for f in os.listdir(path) if f.endswith(".parquet")
    }
    assert mtimes
    s2 = load_or_build_signatures(docs, path, fingerprint="fp1")
    assert {
        f: os.stat(os.path.join(path, f)).st_mtime_ns
        for f in os.listdir(path) if f.endswith(".parquet")
    } == mtimes, "same fingerprint must not rewrite the signature table"
    assert s1.count() == s2.count() == docs.count()

    inline = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates(docs, jaccard_threshold=0.4).collect()
    }
    cached = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates(
            docs, jaccard_threshold=0.4, signatures=s2
        ).collect()
    }
    assert inline == cached

    load_or_build_signatures(docs, path, fingerprint="fp2")
    assert {
        f: os.stat(os.path.join(path, f)).st_mtime_ns
        for f in os.listdir(path) if f.endswith(".parquet")
    } != mtimes, "changed fingerprint must rebuild"


def test_brute_force_knn_self_is_top1(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    top1 = brute_force_knn(q, emb, k=1).collect()
    assert all(r.q_id == r.vec_id for r in top1)
    assert all(abs(r.cosine - 1.0) < 1e-6 for r in top1)


def test_shingles_edge_cases(spark):
    df = spark.createDataFrame(
        [("a b",), ("a b c",), ("",)], "text string"
    )
    rows = df.select(shingles(F.col("text"), 3).alias("sh")).collect()
    assert rows[0].sh == []          # shorter than n
    assert rows[1].sh == ["a b c"]   # exactly n
    assert rows[2].sh == []          # empty


def _poisoned(monkeypatch, module, name):
    """Make ``module.name`` raise: a cache hit must never call it."""
    def boom(*args, **kw):
        raise AssertionError(f"cache miss: {name} called")

    monkeypatch.setattr(module, name, boom)


def test_centroid_cache_roundtrip_and_reuse(spark, sf_dir, tmp_path, monkeypatch):
    """load_or_train_centroids_det persists once and the second call
    reads the parquet back (proved by poisoning kmeans_fit after the
    first call — a cache hit never retrains); the cached values equal
    the trained."""
    import finporter_spark.operators.similarity as sim
    from finporter_spark.queries.catalog import _t

    emb = _t(spark, sf_dir, "embeddings")
    path = str(tmp_path / "cents")
    a = sim.load_or_train_centroids_det(
        emb, "vec_id", "embedding", 64, n_centroids=4, iters=1,
        cache_path=path, fingerprint="fp1",
    )
    _poisoned(monkeypatch, sim, "kmeans_fit")
    b = sim.load_or_train_centroids_det(
        emb, "vec_id", "embedding", 64, n_centroids=4, iters=1,
        cache_path=path, fingerprint="fp1",
    )
    assert a == b


def test_pq_books_cache_roundtrip_and_reuse(spark, sf_dir, tmp_path, monkeypatch):
    """Same hit contract for load_or_train_pq_books: pq_fit is poisoned
    after the first call, and the second call serves equal codebooks."""
    import finporter_spark.operators.similarity as sim
    from finporter_spark.queries.catalog import _t

    emb = _t(spark, sf_dir, "embeddings")
    path = str(tmp_path / "books")
    a = sim.load_or_train_pq_books(
        emb, "vec_id", "embedding", m=4, k=4, iters=1,
        cache_path=path, fingerprint="fp1",
    )
    _poisoned(monkeypatch, sim, "pq_fit")
    b = sim.load_or_train_pq_books(
        emb, "vec_id", "embedding", m=4, k=4, iters=1,
        cache_path=path, fingerprint="fp1",
    )
    assert a == b


def test_ann_cache_logs_hit_and_rebuild_reason(spark, sf_dir, tmp_path, caplog):
    """A matching fingerprint logs a hit; a changed one rebuilds and
    logs why, on the package logger."""
    import logging

    import finporter_spark.operators.similarity as sim
    from finporter_spark.queries.catalog import _t

    emb = _t(spark, sf_dir, "embeddings")
    path = str(tmp_path / "cents")

    def load(fp):
        return sim.load_or_train_centroids_det(
            emb, "vec_id", "embedding", 64, n_centroids=4, iters=1,
            cache_path=path, fingerprint=fp,
        )

    caplog.set_level(logging.INFO, logger="finporter_spark")
    load("fp1")
    assert f"ANN cache rebuild: {path} (no _SUCCESS)" in caplog.messages
    caplog.clear()
    load("fp1")
    assert caplog.messages == [f"ANN cache hit: {path}"]
    caplog.clear()
    load("fp2")
    assert caplog.messages == [
        f"ANN cache rebuild: {path} (fingerprint changed)"
    ]
    with open(os.path.join(path, "_fp")) as fh:
        assert fh.read() == "fp2"


def test_ann_cache_without_success_marker_is_rebuilt(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A cache directory whose write never committed (no _SUCCESS) is
    rebuilt, not read."""
    import finporter_spark.operators.similarity as sim
    from finporter_spark.queries.catalog import _t

    emb = _t(spark, sf_dir, "embeddings")
    path = str(tmp_path / "codes")
    cents = sim.kmeans_fit(emb, "vec_id", "embedding", k=4, iters=1)
    books = sim.pq_fit(emb, "vec_id", "embedding", m=4, k=4, iters=1)

    def load():
        return sim.load_or_build_ivfadc_codes(
            emb, "vec_id", "embedding", cents, books,
            cache_path=path, fingerprint="fp1",
        )

    want = sorted(map(tuple, load().collect()))
    os.remove(os.path.join(path, "_SUCCESS"))
    calls = []
    build = sim.build_ivfadc_codes
    monkeypatch.setattr(
        sim, "build_ivfadc_codes",
        lambda *a, **kw: calls.append(1) or build(*a, **kw),
    )
    assert sorted(map(tuple, load().collect())) == want
    assert calls == [1]
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_ann_cache_unreadable_part_file_raises(spark, sf_dir, tmp_path, monkeypatch):
    """A committed cache (``_SUCCESS`` and a matching fingerprint) whose
    part file Spark cannot read raises instead of silently retraining."""
    import glob

    import finporter_spark.operators.similarity as sim
    from finporter_spark.queries.catalog import _t

    emb = _t(spark, sf_dir, "embeddings")
    path = str(tmp_path / "cents")

    def load():
        return sim.load_or_train_centroids_det(
            emb, "vec_id", "embedding", 64, n_centroids=4, iters=1,
            cache_path=path, fingerprint="fp1",
        )

    load()
    parts = glob.glob(os.path.join(path, "part-*.parquet"))
    assert parts
    for part in parts:
        with open(part, "wb") as fh:
            fh.write(b"not a parquet file")
    _poisoned(monkeypatch, sim, "kmeans_fit")
    with pytest.raises(Exception) as err:
        load()
    assert "cache miss" not in str(err.value)


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """a3 (≈ operator): HLL estimate within 5% of exact."""
    from pyspark.sql import functions as F
    from finporter_spark.queries.catalog import _t

    e = _t(spark, sf_dir, "events")
    approx = e.agg(F.approx_count_distinct("user_id", 0.02)).first()[0]
    exact = e.agg(F.countDistinct("user_id")).first()[0]
    assert abs(approx - exact) / exact < 0.05


def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3 collapses to one cluster even though (1,3) was never a
    pair; isolated pair forms its own; diameter > 1 needs iterations."""
    from finporter_spark.operators import connected_components_star

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_l long, id_r long",
    )
    got = {
        r.node: r.component
        for r in connected_components_star(pairs, "id_l", "id_r").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_hll_sketch_within_tolerance(spark, sf_dir):
    """a10 (≈ operator): mergeable HLL sketch estimate within 5% of the
    exact per-group distinct count."""
    from pyspark.sql import functions as F

    from finporter_spark.queries.catalog import _t
    from finporter_spark.queries.stats import a10_hll_sketch

    approx = {
        r.event_type: r.approx_users
        for r in a10_hll_sketch(spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r.n
        for r in _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) / n < 0.05, (k, approx[k], n)


def test_kll_quantiles_within_rank_tolerance(spark, sf_dir):
    """a11 (≈ operator): KLL p50/p95 fall within the exact value at
    rank±2% (rank error is the sketch's contract, not value error)."""
    from pyspark.sql import functions as F

    from finporter_spark.queries.catalog import _t
    from finporter_spark.queries.stats import a11_kll_quantiles

    got = {
        r.event_type: (r.p50, r.p95)
        for r in a11_kll_quantiles(spark, sf_dir).collect()
    }
    bounds = {
        r.event_type: r.qs
        for r in _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr(
                "percentile(value, array(0.48, 0.52, 0.93, 0.97))"
            ).alias("qs")
        )
        .collect()
    }
    assert set(got) == set(bounds)
    for k, (p50, p95) in got.items():
        lo50, hi50, lo95, hi95 = bounds[k]
        assert lo50 <= p50 <= hi50, (k, p50, (lo50, hi50))
        assert lo95 <= p95 <= hi95, (k, p95, (lo95, hi95))


def test_count_min_error_bounds(spark, sf_dir):
    """CMS guarantee: est >= true always; est <= true + eps*N at the
    sketch's confidence (asserted with 3x slack on the whole key set)."""
    from finporter_spark.queries.catalog import CATALOG

    est = {
        r.user_id: r.est_count
        for r in CATALOG["a12_count_min"][0](spark, sf_dir).collect()
    }
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {
        r.user_id: r.c
        for r in e.groupBy("user_id").agg(F.count("*").alias("c")).collect()
    }
    n = sum(exact.values())
    assert set(est) == set(exact)
    for k, t in exact.items():
        assert est[k] >= t
        assert est[k] - t <= 3 * 0.001 * n


def test_pagerank_semantics(spark):
    """Conservation (sum pr == 1), authority ordering (a sink pointed at
    by everyone outranks the pointers), and dangling-mass handling (a
    node with no out-edges redistributes; totals still conserve)."""
    from finporter_spark.operators.graph import pagerank

    verts = spark.createDataFrame([(i,) for i in range(4)], "id long")
    # 1,2,3 all point at 0; 0 points nowhere (dangling)
    edges = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0)], "src long, dst long"
    )
    pr = {r.id: r.pr for r in pagerank(edges, verts, n_iter=20).collect()}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    assert pr[0] > pr[1] == pr[2] == pr[3]

    # a ring conserves and equalizes
    ring = spark.createDataFrame(
        [(i, (i + 1) % 4) for i in range(4)], "src long, dst long"
    )
    pr2 = {r.id: r.pr for r in pagerank(ring, verts, n_iter=10).collect()}
    assert abs(sum(pr2.values()) - 1.0) < 1e-9
    assert max(pr2.values()) - min(pr2.values()) < 1e-12


def test_blocked_allpairs_matches_brute_force(spark, sf_dir):
    """Tiled BLAS all-pairs is EXACT: identical pair set and 6dp cosines
    vs the broadcast-NLJ baseline, for a divisor and a non-divisor block
    count and for the degenerate single-block case."""
    from finporter_spark.operators.similarity import blocked_allpairs_cosine

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    a = e.select(F.col("vec_id").alias("id_l"), F.col("e").alias("ea"))
    b = e.select(F.col("vec_id").alias("id_r"), F.col("e").alias("eb"))
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.zip_with(c, c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    exact = {
        (r.id_l, r.id_r, round(r.cosine, 6))
        for r in F.broadcast(a)
        .join(b, F.col("id_l") < F.col("id_r"))
        .select(
            "id_l",
            "id_r",
            (dot / (nrm(F.col("ea")) * nrm(F.col("eb")))).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.4)
        .collect()
    }
    for n_blocks in (1, 3, 8):
        tiled = {
            (r.id_l, r.id_r, r.cosine)
            for r in blocked_allpairs_cosine(
                emb, threshold=0.4, n_blocks=n_blocks
            ).collect()
        }
        assert tiled == exact, f"n_blocks={n_blocks}"


def test_apply_changelog_final_op_wins(spark):
    """CDC ordering semantics: only the NEWEST op per key decides —
    U-then-D deletes, D-then-U resurrects with the later payload,
    I on a key ABSENT from the base is a true WHEN-NOT-MATCHED insert
    (base columns null, key populated from the changelog), D on an
    absent key is a no-op, untouched base rows survive with null
    payload."""
    from finporter_spark.operators.dedup import apply_changelog

    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (9, "nine")],
        "id bigint, name string",
    )
    log = spark.createDataFrame(
        [
            # key 1: U@t1 then D@t2  -> deleted
            (1, 1, "U", 10.0), (1, 2, "D", None),
            # key 2: D@t1 then U@t2  -> resurrected with v=22
            (2, 1, "D", None), (2, 2, "U", 22.0),
            # key 3: single I, NOT in base -> inserted with payload 33
            (3, 1, "I", 33.0),
            # key 4: single D, NOT in base -> no-op (nothing to delete)
            (4, 1, "D", None),
            # key 5: I@t1 then D@t2, NOT in base -> insert then delete
            (5, 1, "I", 55.0), (5, 2, "D", None),
        ],
        "key bigint, t int, op string, v double",
    )
    rows = apply_changelog(
        base,
        log,
        base_key="id",
        log_key="key",
        op_col="op",
        order_by=[F.col("t").desc()],
        payload_cols=["v"],
    ).collect()
    out = {r.id: (r.op, r.v) for r in rows}
    names = {r.id: r.name for r in rows}
    assert set(out) == {2, 3, 9}          # 1 deleted, 4/5 never land, 9 untouched
    assert out[2] == ("U", 22.0)          # resurrection takes the later U
    assert out[3] == ("I", 33.0)          # inserted: key from changelog,
    assert names[3] is None               #   base columns null
    assert names[2] == "two"
    assert out[9] == (None, None)         # pass-through row, null op/payload


def test_blocked_allpairs_zero_vector_safe(spark):
    """An all-zero embedding must score cosine 0 with everything (clamped
    norm) — never NaN — and must not suppress other pairs in its tile."""
    from finporter_spark.operators.similarity import blocked_allpairs_cosine

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.0]),
            (3, [0.0, 0.0]),  # zero vector
            (4, [0.0, 1.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    rows = blocked_allpairs_cosine(
        emb, threshold=0.5, n_blocks=2, id_col="vec_id"
    ).collect()
    got = {(r.id_l, r.id_r): r.cosine for r in rows}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == 1.0


def test_logreg_gd_learns_separable_signal(spark):
    """On a linearly separable feature the learned weight must move in
    the separating direction, training must be rerun-deterministic
    (6 dp-rounded gradients), and scoring must rank positives above
    negatives."""
    from pyspark.sql import Row

    from finporter_spark.operators.ml import logreg_fit, logreg_score

    rows = [
        Row(x0=1.0, x1=float(v), y=1.0 if v > 0 else 0.0)
        for v in (-4, -3, -2, -1, 1, 2, 3, 4)
    ]
    feat = spark.createDataFrame(rows)
    w = logreg_fit(feat, ["x0", "x1"], "y", lr=0.5, iters=10)
    assert w[1] > 0.5  # separating slope, clearly positive
    assert w == logreg_fit(feat, ["x0", "x1"], "y", lr=0.5, iters=10)
    probs = {
        r["x1"]: r["prob"]
        for r in logreg_score(feat, w, ["x0", "x1"]).collect()
    }
    assert min(probs[v] for v in (1, 2, 3, 4)) > max(
        probs[v] for v in (-1, -2, -3, -4)
    )


def test_rolling_hll_rollup_within_tolerance(spark, sf_dir):
    """a14 (≈ operator): trailing-7-day distinct-user estimates from
    merged per-day sketches within 5% of the exact trailing distinct,
    for every anchor day."""
    from pyspark.sql import functions as F

    from finporter_spark.queries.catalog import _t
    from finporter_spark.queries.stats import a14_rolling_hll_rollup

    approx = {
        r.day: r.approx_users_7d
        for r in a14_rolling_hll_rollup(spark, sf_dir).collect()
    }
    e = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    days = e.select(F.col("day").alias("anchor")).distinct()
    exact = {
        r.anchor: r.n
        for r in days.join(
            e,
            (F.col("day") <= F.col("anchor"))
            & (F.col("day") >= F.date_sub(F.col("anchor"), 6)),
        )
        .groupBy("anchor")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, n in exact.items():
        assert abs(approx[k] - n) / n < 0.05, (k, approx[k], n)


def _union_find_components(edges):
    """Reference labels on the driver: (node, min node id of its
    component) for every node on a non-self-loop edge."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # the smaller id stays root, so a root is its component min
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


def test_star_cc_matches_min_label_cc_on_random_graphs(spark):
    """large-star/small-star contraction must produce the same
    (node, min-id component) labels as a union-find reference on
    arbitrary graphs — random sparse graphs with several components,
    parallel edges, self loops, and reversed duplicates."""
    import random

    from finporter_spark.operators.graph import connected_components_star

    random.seed(11)
    for trial in range(3):
        n = 300
        edges = []
        for _ in range(260):
            a, b = random.randrange(n), random.randrange(n)
            edges.append((a, b))
            if random.random() < 0.2:
                edges.append((b, a))  # reversed duplicate
        edges.append((5, 5))  # self loop
        df = spark.createDataFrame(edges, "src long, dst long")
        # node 5 appears only if a random edge touches it: star CC
        # drops self-loops, and so does the reference
        want = _union_find_components(edges)
        got = {
            (r.node, r.component)
            for r in connected_components_star(df, "src", "dst").collect()
        }
        assert got == want, f"trial {trial}"


def test_star_cc_chain_converges_in_log_rounds(spark):
    """The reason the operator exists: a CHAIN of 4096 nodes has
    diameter 4096 — min-label propagation needs ~4096 rounds; star
    contraction must finish in O(log n) alternations and label every
    node with the chain head."""
    from pyspark.sql import functions as F

    from finporter_spark.operators.graph import connected_components_star

    n = 4096
    chain = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    stats: dict = {}
    out = connected_components_star(chain, stats=stats)
    rows = out.collect()
    assert len(rows) == n
    assert {r.component for r in rows} == {0}
    # path halving (round 15) composes targets through the round's own
    # min-forest, so depth shrinks faster than the pure alternation's
    # halving: measured 6 rounds on this chain (was 12). The bound
    # locks the optimization in — pure alternation cannot meet it.
    assert stats["rounds"] <= 8, stats


def test_star_cc_raises_when_not_converged(spark):
    """Unconverged labels never come back silently: a chain that needs
    several rounds, capped at one, raises instead of returning."""
    from finporter_spark.operators.graph import connected_components_star

    chain = spark.range(63).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    stats: dict = {}
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components_star(chain, max_iter=1, stats=stats)
    assert stats == {"rounds": 1, "converged": False}


def test_star_cc_fixed_point_detected_immediately(spark):
    """A graph that is ALREADY a min-rooted star forest must converge
    in exactly one round: the disjoint-star convergence test (round 15)
    detects the fixed point the round it is observed, not one
    signature-repeat round later."""
    from pyspark.sql import functions as F  # noqa: F401

    from finporter_spark.operators.graph import connected_components_star

    stars = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (11, 10), (12, 10)], "src long, dst long"
    )
    stats: dict = {}
    out = connected_components_star(stars, "src", "dst", stats=stats)
    got = {(r.node, r.component) for r in out.collect()}
    assert got == {
        (0, 0), (1, 0), (2, 0), (3, 0), (10, 10), (11, 10), (12, 10)
    }
    assert stats["converged"] and stats["rounds"] == 1, stats


def test_count_exceeding_ties_nulls_sparse_bands(spark):
    """count_exceeding: strict inequality on ties, NULLs excluded both
    sides (SQL comparison semantics), and a left band with zero right
    rows still inherits the higher bands' counts through the densified
    spine (with few bands the value grid leaves most bands empty)."""
    from finporter_spark.operators.joins import count_exceeding

    left = spark.createDataFrame(
        [(1, 5.0), (2, 10.0), (3, 10.0), (4, 0.0), (5, None), (6, 99.0)],
        "id int, v double",
    )
    right = spark.createDataFrame(
        [(10.0,), (10.0,), (7.0,), (0.5,), (None,), (100.0,)], "v double"
    )
    out = {
        r["id"]: r["n_greater"]
        for r in count_exceeding(
            left, ["id"], "v", right, "v", bands=8
        ).collect()
    }
    # brute force: count of right v' > left v, nulls out
    assert out == {1: 4, 2: 1, 3: 1, 4: 5, 6: 1}
