"""Round-13 operator tests.

- normal_sf_two_sided: the A&S 7.1.26 erfc polynomial that gives the
  z-statistic family (a38/a41/a44/a47) real p-values — accuracy vs
  math.erfc, BIT-identical cross-engine parity of the Column vs the
  SQL mirror, NULL propagation, and the Dunn alpha/z_crit decision
  equivalence.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------
# normal_sf_two_sided (the z-family p-value)
# ---------------------------------------------------------------------


def _py_p2(z: float) -> float:
    """Pure-Python mirror of the fixed expression tree (same literals,
    same association) — the reference both engines must match."""
    from finporter_spark.operators.stats import _ERF_A, _ERF_P, _INV_SQRT2

    a1, a2, a3, a4, a5 = _ERF_A
    y = abs(z) * _INV_SQRT2
    t = 1.0 / (1.0 + _ERF_P * y)
    poly = t * (a1 + t * (a2 + t * (a3 + t * (a4 + t * a5))))
    return poly * math.exp(-(y * y))


def test_erf_polynomial_accuracy_vs_math():
    """|p - erfc(|z|/sqrt2)| <= 1.5e-7 (the published A&S 7.1.26
    bound) over a dense grid covering the whole usable z range."""
    from finporter_spark.operators.stats import _INV_SQRT2

    worst = 0.0
    for i in range(-8000, 8001, 7):
        z = i / 1000.0
        exact = math.erfc(abs(z) * _INV_SQRT2)
        worst = max(worst, abs(_py_p2(z) - exact))
    assert worst <= 1.5e-7, worst


def test_erf_cross_engine_parity(spark):
    """Cross-engine contract of the p-value expression, measured on a
    grid: (1) DuckDB evaluates the SQL mirror BIT-identically to the
    pure-Python tree (both ride libm); (2) Spark agrees to within 1
    ulp — java.lang.Math.exp is allowed 1-ulp error where libm exp is
    correctly rounded, the SAME tolerance the long-green _kw_h_and_p
    p_approx family already absorbs — so (3) after the 6 dp round the
    engines are IDENTICAL, which is the hash contract the
    a38/a41/a44/a47 oracles actually depend on."""
    from finporter_spark.operators.stats import (
        normal_sf_two_sided,
        normal_sf_two_sided_sql,
    )

    zs = [round(i / 111.0, 6) for i in range(-900, 901, 13)] + [
        0.0, 1.959964, 2.393980, -2.393980, 7.5,
    ]
    sdf = spark.createDataFrame([(z,) for z in zs], "z double")
    got_spark = {
        r.z: r.p
        for r in sdf.select(
            "z", normal_sf_two_sided(F.col("z")).alias("p")
        ).collect()
    }
    con = duckdb.connect()
    got_duck = dict(
        con.execute(
            "SELECT z, "
            + normal_sf_two_sided_sql("z")
            + " AS p FROM (SELECT unnest(?::DOUBLE[]) AS z)",
            [zs],
        ).fetchall()
    )
    for z in zs:
        assert got_duck[z] == _py_p2(z), z  # bit-identical (libm)
        assert got_spark[z] == pytest.approx(
            got_duck[z], rel=1e-14, abs=1e-300
        ), z  # <= ~1 ulp (JVM exp)
        assert round(got_spark[z], 6) == round(got_duck[z], 6), z


def test_mwu_p_value_and_null_propagation(spark):
    from finporter_spark.operators.stats import mann_whitney_u

    # separated samples: z real, p_value == round(erfc(|z|/sqrt2), 6)
    rows = [(v, 1) for v in range(10)] + [(v, 0) for v in range(50, 60)]
    df = spark.createDataFrame(rows, "iv bigint, a int")
    r = mann_whitney_u(df, "iv", "a").collect()[0]
    assert r.z is not None
    assert r.p_value == round(_py_p2(r.z), 6)
    # all-tied: NULL z must propagate to NULL p_value
    df2 = spark.createDataFrame([(5, 1), (5, 0)], "iv bigint, a int")
    r2 = mann_whitney_u(df2, "iv", "a").collect()[0]
    assert r2.z is None and r2.p_value is None


def test_dunn_alpha_flag_matches_legacy_zcrit(spark):
    """p_adj <= 0.05 (the new default decision) must agree with the
    legacy |z| >= 2.393980 Bonferroni critical value — they are the
    same test stated in two coordinate systems."""
    from finporter_spark.operators.stats import dunn_posthoc

    rows = [
        (int(v) + 7 * g, g) for g in range(3) for v in range(25)
    ] + [(3, 0), (3, 1), (9, 2), (9, 2)]
    df = spark.createDataFrame(rows, "iv bigint, arm int")
    by_alpha = {
        (r.arm_i, r.arm_j): (r.significant, r.p_adj, r.z)
        for r in dunn_posthoc(df, "iv", "arm", [0, 1, 2]).collect()
    }
    by_crit = {
        (r.arm_i, r.arm_j): r.significant
        for r in dunn_posthoc(
            df, "iv", "arm", [0, 1, 2], z_crit=2.393980
        ).collect()
    }
    assert set(by_alpha) == set(by_crit) and len(by_alpha) == 3
    for pair, (sig, p_adj, z) in by_alpha.items():
        assert sig == by_crit[pair], (pair, p_adj, z)
        assert p_adj == round(min(1.0, 3.0 * _py_p2(z)), 6)


def test_dunn_p_adj_null_on_degenerate(spark):
    from finporter_spark.operators.stats import dunn_posthoc

    df = spark.createDataFrame(
        [(5, 0), (5, 1), (5, 2)], "iv bigint, arm int"
    )
    for r in dunn_posthoc(df, "iv", "arm", [0, 1, 2]).collect():
        assert r.z is None and r.p_adj is None and r.significant is None


# ---------------------------------------------------------------------
# read_version / list_versions (o20 time travel)
# ---------------------------------------------------------------------


def test_read_version_equals_prefix_recompute(spark, tmp_path):
    """read_version(k) == the keep-first merge recomputed over batches
    0..k (the snapshot construction), for EVERY k; after vacuum the
    surviving versions stay readable and the reclaimed ones fail
    loudly naming the surviving range."""
    from pyspark.sql import Window

    from finporter_spark.operators.scale import vacuum_versions
    from finporter_spark.streaming.pipeline import (
        list_versions,
        read_version,
        versioned_keep_first_sink,
    )

    root = str(tmp_path / "sink")
    merge, _ = versioned_keep_first_sink(root, key_col="k", order_col="o")
    df = spark.createDataFrame(
        [(i % 7, i, f"b{i % 4}") for i in range(40)],
        "k int, o int, tag string",
    )
    for b in range(4):
        merge(df.where(F.col("o") % 4 == b), b)
    assert list_versions(root) == [0, 1, 2, 3]
    w = Window.partitionBy("k").orderBy("o")
    for k in range(4):
        got = sorted(map(tuple, read_version(spark, root, k).collect()))
        exp = sorted(
            map(
                tuple,
                df.where(F.col("o") % 4 <= k)
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
                .collect(),
            )
        )
        assert got == exp, k
    stats = vacuum_versions(root, keep=2)
    assert stats["removed"] == [0, 1] and list_versions(root) == [2, 3]
    assert read_version(spark, root, 3).count() == 7
    with pytest.raises(FileNotFoundError, match="vacuum"):
        read_version(spark, root, 1)
    # a root that was never a sink lists empty and reads loud
    assert list_versions(str(tmp_path / "nope")) == []
    with pytest.raises(FileNotFoundError):
        read_version(spark, str(tmp_path / "nope"), 0)


# ---------------------------------------------------------------------
# l48 repeated_span_coverage (Lee et al. exact-substring shape)
# ---------------------------------------------------------------------


def test_l48_variable_length_span_fixture(spark):
    """The case the fixed-width l25 fraction mis-measures: a 20-token
    doc with an 11-token span copied from an earlier doc is 55%
    PLAGIARIZED BY TOKENS (l48 drops it) but only 4/13 of its anchors
    are duplicated (l25 keeps it). Also: scattered single-anchor
    repeats merge into separate spans with exact union lengths."""
    from finporter_spark.operators.prep import (
        repeated_span_coverage,
        span_dedup_stats,
    )

    base = [f"a{i}" for i in range(30)]
    fresh = [f"b{i}" for i in range(9)]
    doc1 = fresh + base[5:16]  # 9 fresh + 11 copied, 20 tokens
    df = spark.createDataFrame(
        [(0, " ".join(base)), (1, " ".join(doc1))],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: r for r in repeated_span_coverage(df, ngram_n=8).collect()
    }
    r1 = got[1]
    assert r1.n_tokens == 20
    assert r1.covered_tokens == 11 and r1.max_span == 11
    assert r1.n_spans == 1
    assert r1.coverage == pytest.approx(0.55)
    assert r1.keep is False  # 55% plagiarized -> dropped
    l25 = {
        r.doc_id: r for r in span_dedup_stats(df, ngram_n=8).collect()
    }
    assert l25[1].n_dup == 4 and l25[1].n_spans == 13
    assert l25[1].keep is True  # the fixed-width gate misses it
    # doc0 is the origin: zero coverage, kept
    assert got[0].covered_tokens == 0 and got[0].keep is True


def test_l48_matches_position_marking_reference(spark, sf_dir):
    """Independent pure-Python reference on the real sf0.001 corpus:
    mark every token position covered by a duplicated 8-gram anchor
    window (position-set marking — a DIFFERENT formulation than the
    operator's interval union) and compare covered counts, span
    counts, max spans and keep decisions for every document."""
    from finporter_spark.operators.prep import repeated_span_coverage

    docs = sorted(
        (r.doc_id, " ".join(r.text.lower().split()))
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    n = 8
    first: dict[tuple, int] = {}
    toks_by_doc = {}
    for did, text in docs:
        tk = text.split(" ") if text else []
        toks_by_doc[did] = tk
        for i in range(len(tk) - n + 1):
            g = tuple(tk[i : i + n])
            if g not in first:
                first[g] = did
    ref = {}
    for did, tk in toks_by_doc.items():
        if len(tk) < n:
            continue
        marked = set()
        for i in range(len(tk) - n + 1):
            if first[tuple(tk[i : i + n])] < did:
                marked.update(range(i, i + n))
        # contiguous runs of marked positions = merged spans
        spans = []
        run = 0
        for p in range(len(tk) + 1):
            if p in marked:
                run += 1
            elif run:
                spans.append(run)
                run = 0
        ref[did] = (
            len(tk),
            len(marked),
            len(spans),
            max(spans, default=0),
            len(marked) / len(tk) < 0.5,
        )
    got = repeated_span_coverage(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), ngram_n=8
    ).collect()
    assert len(got) == len(ref)
    n_dropped = 0
    for r in got:
        exp = ref[r.doc_id]
        assert (
            r.n_tokens,
            r.covered_tokens,
            r.n_spans,
            r.max_span,
            r.keep,
        ) == exp, r.doc_id
        n_dropped += not r.keep
    assert n_dropped > 0  # the corpus's planted dups are caught


# ---------------------------------------------------------------------
# Zipf corpus: skew facts + the frozen-quantizer hot cell and its fix
# ---------------------------------------------------------------------

SF01 = "/root/testdata/sf0.1"


@pytest.mark.skipif(
    not __import__("os").path.isdir(SF01), reason="sf0.1 absent"
)
def test_zipf_hot_cell_frozen_quantizer_and_split(spark):
    """The two measured skew facts (round-12 verdict #2), pinned:

    (1) A quantizer TRAINED on the Zipf corpus absorbs the population
    skew — Lloyd allocates centroids ∝ density, so no cell exceeds the
    0.1 cap and split_hot_cells is a measured no-op (k stays 64); the
    skew instead costs RECALL at the fixed budget (0.81 vs the
    balanced corpus's 0.855 — IVFADC_DECADE zipf rows).

    (2) The hot cell appears in the FROZEN-quantizer deployment (the
    x20 pattern: train once, distribution drifts): the balanced-corpus
    quantizer serving the Zipf corpus concentrates 20% of the corpus
    in one cell (measured 0.202). split_hot_cells(cap=0.1) replaces it
    with sub-centroids trained on its own members: every cell lands
    under the cap (measured max 0.066, k 64→68), recall is unchanged
    (0.84), and the mean scanned fraction does not grow — at 100 TB
    the capped cell is the difference between balanced ADC-join tasks
    and a straggler partition holding 20% of the index."""
    import numpy as np

    from finporter_spark.operators.similarity import (
        build_ivfadc_codes,
        ivfadc_topk,
        kmeans_assign,
        load_or_train_centroids_det,
        load_or_train_pq_books,
        split_hot_cells,
    )
    from finporter_spark.queries.staging import io_dir as _io_dir
    from finporter_spark.queries.ann import (
        _emb_fingerprint,
        _staged_structured_embeddings,
        _staged_zipf_embeddings,
        _zipf_fingerprint,
    )

    se = _staged_structured_embeddings(spark, SF01)
    ze = _staged_zipf_embeddings(spark, SF01)
    frozen = load_or_train_centroids_det(
        se, "vec_id", "embedding", dim=64, n_centroids=64, iters=3,
        cache_path=_io_dir(SF01, "l46_coarse_k64_i3"),
        fingerprint=_emb_fingerprint(SF01),
    )
    zv = ze.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("_v"),
    )
    n = ze.count()

    def cell_fracs(cs):
        a = kmeans_assign(zv, cs, vec_col="_v", out_cluster="c")
        return sorted(
            (r["count"] / n for r in a.groupBy("c").count().collect()),
            reverse=True,
        )

    # (2) frozen quantizer -> hot cell holding ~20% of the corpus
    fr = cell_fracs(frozen)
    assert fr[0] > 0.15, fr[:3]
    split = split_hot_cells(
        ze, "vec_id", "embedding", frozen, max_cell_frac=0.1
    )
    assert len(split) > len(frozen)
    fr2 = cell_fracs(split)
    assert fr2[0] <= 0.1, fr2[:3]

    # (1) trained-on-skew quantizer: split is a no-op at the same cap
    trained = load_or_train_centroids_det(
        ze, "vec_id", "embedding", dim=64, n_centroids=64, iters=3,
        cache_path=_io_dir(SF01, "l47_coarse_k64_i3"),
        fingerprint=_zipf_fingerprint(SF01),
    )
    assert (
        split_hot_cells(
            ze, "vec_id", "embedding", trained, max_cell_frac=0.1
        )
        == trained
    )

    # recall/scan contract across the split (exact numpy ground truth)
    books = load_or_train_pq_books(
        ze, "vec_id", "embedding", m=4, k=16, iters=2,
        cache_path=_io_dir(SF01, "l47_books_m4_k16"),
        fingerprint=_zipf_fingerprint(SF01),
    )
    pdf = ze.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).toPandas()
    ids = pdf["vec_id"].to_numpy()
    order = np.argsort(ids)
    ids, M = ids[order], np.stack(pdf["v"].to_numpy())[order]
    qids = [int(i) for i in ids if i % 101 == 0 and i < 101 * 50]
    truth = {}
    for q in qids:
        qi = int(np.searchsorted(ids, q))
        dq = ((M - M[qi]) ** 2).sum(axis=1)
        truth[q] = set(ids[np.lexsort((ids, dq))][:10].tolist())
    queries = ze.where(
        (F.col("vec_id") % 101 == 0) & (F.col("vec_id") < 101 * 50)
    )

    def measure(cs):
        codes = build_ivfadc_codes(
            ze, "vec_id", "embedding", cs, books
        ).localCheckpoint()
        rows = ivfadc_topk(
            ze, queries, "vec_id", "embedding", cs, books,
            n_probe=6, shortlist=200, k=10, codes=codes,
        ).collect()
        per = {}
        for r in rows:
            per.setdefault(r.query_id, set()).add(r.cand_id)
        rec = float(
            np.mean([len(per.get(q, set()) & t) / 10 for q, t in truth.items()])
        )
        C = np.array(cs)
        dc = np.round(((M[:, None, :] - C[None, :, :]) ** 2).sum(axis=2), 6)
        cell = dc.argmin(axis=1)
        fracs = [
            float(
                np.isin(
                    cell,
                    np.argsort(dc[int(np.searchsorted(ids, q))], kind="stable")[:6],
                ).mean()
            )
            for q in qids
        ]
        return rec, float(np.mean(fracs)), float(np.max(fracs))

    rec0, mean0, max0 = measure(frozen)
    rec1, mean1, max1 = measure(split)
    assert rec1 >= rec0 - 0.02, (rec0, rec1)  # recall held
    assert mean1 <= mean0 + 0.005, (mean0, mean1)  # mean scan not worse
    assert max1 <= max0, (max0, max1)  # the tail (hot) query improved
    assert rec1 >= 0.8, rec1


# ---------------------------------------------------------------------
# Odd-df chi-square survival for Kruskal-Wallis (a48)
# ---------------------------------------------------------------------


def _kw_ref(arms):
    """Pure-Python tie-corrected H over a joint midranking (any k)."""
    allv = sorted(v for arm in arms for v in arm)
    n = len(allv)
    ranks, tie3, i = {}, 0, 0
    while i < n:
        j = i
        while j < n and allv[j] == allv[i]:
            j += 1
        t = j - i
        ranks[allv[i]] = (i + 1 + j) / 2.0
        tie3 += t * t * t - t
        i = j
    ssum = sum(
        (sum(ranks[v] for v in arm)) ** 2 / len(arm) for arm in arms
    )
    h = 12.0 * ssum / (n * (n + 1)) - 3 * (n + 1)
    corr = 1.0 - tie3 / (n**3 - n)
    return h / corr if corr > 0 else None


def _chi2_sf_ref(x, df):
    """Reference chi-square survival via math.erfc / finite sums."""
    if df % 2 == 0:
        s, pw = 1.0, 1.0
        for j in range(1, df // 2):
            pw = pw * (x / 2) / j
            s += pw
        return min(1.0, math.exp(-x / 2) * s)
    q = math.erfc(math.sqrt(x / 2))
    for j in range(1, df // 2 + 1):
        q += (
            (x / 2) ** (j - 0.5)
            * math.exp(-x / 2)
            / math.gamma(j + 0.5)
        )
    return min(1.0, q)


def test_kw_k2_p_equals_mwu_two_sided_p(spark):
    """df = 1 identity: Kruskal-Wallis at k=2 is the square of the
    tie-corrected MWU z, and chi-square(1) survival of z^2 IS the
    two-sided normal p — so the new odd-df p_approx must equal
    mann_whitney_u's p_value on the same data (both ride the same
    erfc polynomial; fp association differs, so 6dp-level agreement)."""
    from finporter_spark.operators.stats import (
        kruskal_wallis,
        mann_whitney_u,
    )

    rows = (
        [(v, 1) for v in [3, 5, 5, 8, 12, 12, 12, 20]]
        + [(v, 0) for v in [4, 5, 9, 15, 15, 21, 30]]
    )
    df = spark.createDataFrame(rows, "iv bigint, a int")
    kw = kruskal_wallis(df, "iv", "a", [0, 1]).collect()[0]
    mw = mann_whitney_u(df, "iv", "a").collect()[0]
    assert kw.h == pytest.approx(mw.z * mw.z, abs=2e-5)
    assert kw.p_approx == pytest.approx(mw.p_value, abs=2e-5)


def test_kw_4arm_p_matches_reference(spark):
    """Odd df (k=4, df=3): H and p_approx equal the pure-Python
    reference (joint midrank H + math.erfc-based chi2(3) survival) on
    tied, skewed and separated arm sets."""
    from finporter_spark.operators.stats import kruskal_wallis

    cases = [
        [[1, 2, 2, 3], [2, 2, 4], [5, 6, 6, 7, 8], [1, 9]],
        [[10, 20, 30], [11, 21, 31], [12, 22, 32], [13, 23, 33]],
        [list(range(20)), list(range(15, 40)), [50] * 6, [2, 2, 2]],
    ]
    for arms in cases:
        rows = [(int(v), g) for g, arm in enumerate(arms) for v in arm]
        df = spark.createDataFrame(rows, "iv bigint, arm int")
        r = kruskal_wallis(df, "iv", "arm", [0, 1, 2, 3]).collect()[0]
        h_ref = _kw_ref(arms)
        assert r.h == pytest.approx(round(h_ref, 6), abs=2e-6)
        assert r.p_approx == pytest.approx(
            round(_chi2_sf_ref(h_ref, 3), 6), abs=2e-6
        ), arms


# ---------------------------------------------------------------------
# x21 streaming minhash dedup (ingest-gate semantics)
# ---------------------------------------------------------------------


def test_x21_exact_dup_guarantee(spark, sf_dir, tmp_path):
    """Guarantees on the ingest gate, on a constructed corpus with
    EXACT copies arriving OUT OF ORDER (the copy lands in an EARLIER
    batch than its lower-id original — the adversarial case for a
    first-seen store): the keep-first merge still yields the global
    minimum owner per bucket, so (1) the exact copy collides on ALL 8
    bands (identical signature) and is flagged; (2) the original
    (lowest doc_id of its text) is NOT flagged; (3) unrelated docs are
    NOT flagged. Also: the catalog entry at sf0.001 agrees with its
    own oracle (driver-checked) and flags the corpus's planted
    near-dups."""
    from finporter_spark.operators.dedup import (
        band_hash,
        minhash_signatures,
    )
    from finporter_spark.queries.catalog import CATALOG
    from finporter_spark.streaming.pipeline import (
        versioned_keep_first_sink,
    )

    words = [f"w{i}" for i in range(200)]
    mk = lambda lo: " ".join(words[lo : lo + 40])  # noqa: E731
    docs = {
        1: mk(0),      # original of the copy below
        2: mk(50),
        3: mk(100),
        10: mk(150),
        11: mk(0),     # EXACT copy of doc 1
    }

    def bands(df):
        sig = minhash_signatures(df, hash_family="md5")
        return sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_id"),
                            band_hash(b, 4, "md5").alias("bh"),
                        )
                        for b in range(8)
                    ]
                )
            ).alias("s"),
        ).select(
            F.concat_ws(
                ":", F.col("s.band_id").cast("string"), F.col("s.bh")
            ).alias("bkey"),
            "doc_id",
        )

    root = str(tmp_path / "x21")
    merge, read_final = versioned_keep_first_sink(
        root, key_col="bkey", order_col="doc_id"
    )
    batches = [[10, 11], [1, 2, 3]]  # copy (11) arrives BEFORE original (1)
    for bid, ids in enumerate(batches):
        bdf = spark.createDataFrame(
            [(i, docs[i]) for i in ids], "doc_id bigint, text string"
        )
        merge(bands(bdf), bid)
    first = read_final(spark).select(
        "bkey", F.col("doc_id").alias("first_doc")
    )
    alldf = spark.createDataFrame(
        sorted(docs.items()), "doc_id bigint, text string"
    )
    out = {
        r.doc_id: r
        for r in bands(alldf)
        .join(first, "bkey")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
            ).alias("n_dup_bands")
        )
        .collect()
    }
    assert out[11].n_dup_bands == 8      # exact copy: all bands collide
    assert out[1].n_dup_bands == 0       # original never self-flagged
    assert all(out[i].n_dup_bands == 0 for i in (2, 3, 10))

    # the real-corpus entry produces both verdicts (planted near-dups)
    rows = CATALOG["x21_stream_minhash_dedup"][0](spark, sf_dir).collect()
    assert any(r.is_dup for r in rows) and any(not r.is_dup for r in rows)


# ---------------------------------------------------------------------
# l48 property test (hypothesis): operator == position-marking ref
# ---------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

# tiny vocabulary + short docs force heavy shingle collisions, copies
# and boundary overlaps — the regimes where interval-union bookkeeping
# can silently drift from position marking
_DOCS = st.lists(
    st.lists(
        st.sampled_from([f"t{i}" for i in range(6)]),
        min_size=0,
        max_size=24,
    ),
    min_size=1,
    max_size=5,
)


def _l48_ref(doc_toks, n=4):
    first = {}
    for did, tk in enumerate(doc_toks):
        for i in range(len(tk) - n + 1):
            g = tuple(tk[i : i + n])
            if g not in first:
                first[g] = did
    out = {}
    for did, tk in enumerate(doc_toks):
        if len(tk) < n:
            continue
        marked = set()
        for i in range(len(tk) - n + 1):
            if first[tuple(tk[i : i + n])] < did:
                marked.update(range(i, i + n))
        spans, run = [], 0
        for p in range(len(tk) + 1):
            if p in marked:
                run += 1
            elif run:
                spans.append(run)
                run = 0
        out[did] = (
            len(tk),
            len(marked),
            len(spans),
            max(spans, default=0),
        )
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_DOCS)
def test_l48_property_vs_position_marking(spark, docs):
    from finporter_spark.operators.prep import repeated_span_coverage

    df = spark.createDataFrame(
        [(i, " ".join(tk)) for i, tk in enumerate(docs)],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.covered_tokens, r.n_spans, r.max_span)
        for r in repeated_span_coverage(df, ngram_n=4).collect()
    }
    assert got == _l48_ref(docs, n=4)
