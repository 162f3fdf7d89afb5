"""Round-14 operator tests: the automatic sized-and-typed IVFADC plan
(skew-statistic code-type selection), the enforced split+rebuild
composition, the degenerate-split guard, and the m-clamp compensation.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"


# ---------------------------------------------------------------------
# ivfadc_params: the divisibility clamp must not silently cancel the
# escalation (round-13 ADVICE)
# ---------------------------------------------------------------------


def test_ivfadc_params_clamp_compensation():
    """dim=100 at the level-1 density: the clamp drops m 8 -> 4
    (100 % 8 != 0), which previously returned the level-1
    n_probe/shortlist with the LEVEL-0 code budget — the
    collapse-to-0.448 regime with no signal. Now the lost m-doubling
    is compensated by one further n_probe/shortlist doubling, the
    clamp is surfaced in the dict, and a warning fires."""
    import warnings

    from finporter_spark.operators.similarity import ivfadc_params

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        p = ivfadc_params(80_000, 100)
    assert p["m"] == 4 and p["m_clamped"] is True
    # level 1 escalation preserved through the clamp: one extra
    # doubling vs the level-1 dial (12/400 -> 24/800)
    assert p["n_probe"] == 24 and p["shortlist"] == 800
    assert any("clamp" in str(x.message) for x in w)
    # divisible dims are untouched and unflagged
    p64 = ivfadc_params(80_000, 64)
    assert p64["m"] == 8 and p64["m_clamped"] is False
    assert p64["n_probe"] == 12 and p64["shortlist"] == 400


# ---------------------------------------------------------------------
# The skew statistic and the automatic code-type decision
# ---------------------------------------------------------------------


def _trained_cents(spark, sf_dir, kind):
    """Rule-sized coarse quantizer for either corpus, via the same
    cache roots ivfadc_plan uses."""
    from finporter_spark.operators.similarity import (
        ivfadc_params,
        load_or_train_centroids_det,
    )
    from finporter_spark.queries.staging import io_dir as _io_dir

    if kind == "zipf":
        from finporter_spark.queries.ann import (
            _staged_zipf_embeddings as stage,
            _zipf_fingerprint as fpf,
        )

        root = _io_dir(sf_dir, "l49_plan")
    else:
        from finporter_spark.queries.ann import (
            _emb_fingerprint as fpf,
            _staged_structured_embeddings as stage,
        )

        root = _io_dir(sf_dir, "l46auto_plan")
    e = stage(spark, sf_dir)
    k = ivfadc_params(e.count(), 64)["k_coarse"]
    return load_or_train_centroids_det(
        e, "vec_id", "embedding", dim=64, n_centroids=k, iters=3,
        cache_path=os.path.join(root, f"coarse_k{k}_i3"),
        fingerprint=fpf(sf_dir),
    )


@pytest.mark.skipif(
    not os.path.isdir(SF001), reason="sf0.01 testdata not present"
)
def test_spacing_skew_separates_corpora_sf001(spark):
    """The measured gap the threshold sits in (docstring table): at
    rule-sized k the balanced corpus reads >= 0.80 and the Zipf corpus
    <= 0.73 on nn_min_over_med (measured 0.817 / 0.639 at sf0.01) —
    while the cell-POPULATION statistics the verdict suggested are
    indistinguishable here (Lloyd absorbs trained-quantizer skew),
    which is exactly why the spacing statistic exists."""
    from finporter_spark.operators.similarity import (
        SKEW_NN_RATIO,
        quantizer_spacing_skew,
    )

    s = quantizer_spacing_skew(_trained_cents(spark, SF001, "struct"))
    z = quantizer_spacing_skew(_trained_cents(spark, SF001, "zipf"))
    assert s["nn_min_over_med"] >= 0.80, s
    assert z["nn_min_over_med"] <= 0.73, z
    assert z["nn_min_over_med"] < SKEW_NN_RATIO < s["nn_min_over_med"]


def test_choose_code_type_frozen_hot_cell():
    """The second detector: a frozen quantizer whose spacing looks
    balanced but whose COUNTS show one hot cell (the x20
    train-once-then-drift case, measured 0.202 x 64 ≈ 13) must still
    select residual codes."""
    from finporter_spark.operators.similarity import choose_code_type

    # a perfectly regular quantizer: 16 corners of a hypercube —
    # spacing ratio 1.0 (no trained-skew signal)
    cents = [
        [float((i >> b) & 1) for b in range(4)] + [0.0] * 4
        for i in range(16)
    ]
    balanced = choose_code_type(cents, cell_counts=[10] * 16)
    assert balanced["code_type"] == "plain"
    hot = choose_code_type(cents, cell_counts=[10] * 15 + [150])
    assert hot["code_type"] == "residual"
    assert "hot cell" in hot["reason"]


@pytest.mark.skipif(
    not os.path.isdir(SF001), reason="sf0.01 testdata not present"
)
def test_ivfadc_plan_auto_types_both_corpora(spark):
    """ivfadc_plan end-to-end at sf0.01: the balanced corpus gets
    PLAIN codes, the Zipf corpus RESIDUAL — no caller-side choice
    anywhere — and both plans return queryable staged codes."""
    from finporter_spark.operators.similarity import (
        ivfadc_plan,
        ivfadc_plan_topk,
    )
    from finporter_spark.queries.staging import io_dir as _io_dir
    from finporter_spark.queries.ann import (
        _emb_fingerprint,
        _staged_structured_embeddings,
        _staged_zipf_embeddings,
        _zipf_fingerprint,
    )

    se = _staged_structured_embeddings(spark, SF001)
    sp = ivfadc_plan(
        se, "vec_id", "embedding", 64,
        cache_root=_io_dir(SF001, "l46auto_plan"),
        fingerprint=_emb_fingerprint(SF001),
    )
    assert sp["code_type"] == "plain", sp["reason"]

    ze = _staged_zipf_embeddings(spark, SF001)
    zp = ivfadc_plan(
        ze, "vec_id", "embedding", 64,
        cache_root=_io_dir(SF001, "l49_plan"),
        fingerprint=_zipf_fingerprint(SF001),
    )
    assert zp["code_type"] == "residual", zp["reason"]
    # both plans are rule-sized and immediately queryable
    assert zp["k_coarse"] == sp["k_coarse"] == 32  # 1.5 * sqrt(500)
    q = ze.where(F.col("vec_id") % 101 == 0).limit(5)
    out = ivfadc_plan_topk(zp, ze, q, "vec_id", "embedding", k=5)
    rows = out.collect()
    assert len(rows) == 5 * q.count()
    assert {r.rank for r in rows} == {1, 2, 3, 4, 5}


# ---------------------------------------------------------------------
# split_hot_cells: degenerate-split guard (round-13 ADVICE)
# ---------------------------------------------------------------------


def test_split_no_progress_degenerate(spark):
    """A hot cell dominated by IDENTICAL vectors cannot be split —
    kmeans_fit(k=2) returns two equal sub-centroids and the whole
    population lands back on one. The guard must keep the original
    centroid and stop, never growing dead duplicate centroids."""
    from finporter_spark.operators.similarity import split_hot_cells

    rows = [(i, [0.5, 0.5]) for i in range(100)] + [
        (100, [10.0, 10.0]),
        (101, [10.0, 11.0]),
    ]
    df = spark.createDataFrame(rows, "id bigint, v array<double>")
    cents = [[0.5, 0.5], [10.0, 10.5]]
    out = split_hot_cells(
        df, "id", "v", cents, max_cell_frac=0.05, max_rounds=6
    )
    # cell 0 holds ~98% > cap but is unsplittable: quantizer unchanged
    assert out == cents
    # no duplicate centroids ever appear
    assert len({tuple(c) for c in out}) == len(out)


# ---------------------------------------------------------------------
# split_and_rebuild_codes: the enforced composition (verdict #4)
# ---------------------------------------------------------------------


@pytest.mark.skipif(
    not os.path.isdir(SF01), reason="sf0.1 testdata not present"
)
def test_split_and_rebuild_codes_frozen_quantizer(spark):
    """The x20 deployment done right: a quantizer FROZEN from the
    balanced corpus serves the Zipf corpus (hot planted cluster lands
    in one cell at ~0.20), split_and_rebuild_codes splits it AND
    rebuilds the staged codes against the split quantizer under a
    split-keyed cache path derived internally — the composition the
    round-13 docstring left to the caller's memory. Checks: the split
    actually fired, every code row carries a valid split-cell id,
    cells >= the original k are populated (codes are NOT the stale
    unsplit build), the hot-cell share is capped, and a second call
    serves the identical staged rows."""
    from finporter_spark.operators.similarity import (
        load_or_train_centroids_det,
        load_or_train_pq_books,
        split_and_rebuild_codes,
    )
    from finporter_spark.queries.staging import io_dir as _io_dir
    from finporter_spark.queries.ann import (
        _emb_fingerprint,
        _staged_structured_embeddings,
        _L46_ITERS,
        _L46_K,
        _staged_zipf_embeddings,
        _zipf_fingerprint,
    )

    se = _staged_structured_embeddings(spark, SF01)
    frozen = load_or_train_centroids_det(
        se, "vec_id", "embedding", dim=64,
        n_centroids=_L46_K, iters=_L46_ITERS,
        cache_path=_io_dir(SF01, f"l46_coarse_k{_L46_K}_i{_L46_ITERS}"),
        fingerprint=_emb_fingerprint(SF01),
    )
    ze = _staged_zipf_embeddings(spark, SF01)
    fp = _zipf_fingerprint(SF01)
    books = load_or_train_pq_books(
        ze, "vec_id", "embedding", m=4, k=16, iters=2,
        cache_path=_io_dir(SF01, "l47_books_m4_k16"),
        fingerprint=fp,
    )
    root = _io_dir(SF01, "r14_split_rebuild")
    cents, books2, codes = split_and_rebuild_codes(
        ze, "vec_id", "embedding", frozen, books,
        cache_root=root, fingerprint=fp, max_cell_frac=0.1,
    )
    assert len(cents) > _L46_K  # the split fired (measured 64 -> 68)
    assert books2 is books  # plain books are quantizer-independent
    n = ze.count()
    counts = {
        r["_cell"]: r["count"]
        for r in codes.groupBy("_cell").count().collect()
    }
    assert codes.count() == n
    # every cell id is valid for the SPLIT quantizer, and cells beyond
    # the frozen k are actually populated — stale unsplit codes would
    # fail both
    assert max(counts) < len(cents)
    assert any(c >= _L46_K for c in counts)
    # the hot share is capped (frozen quantizer read 0.202 before)
    assert max(counts.values()) / n <= 0.12
    # idempotent: the staged path round-trips identically
    _, _, codes2 = split_and_rebuild_codes(
        ze, "vec_id", "embedding", frozen, books,
        cache_root=root, fingerprint=fp, max_cell_frac=0.1,
    )
    assert codes2.exceptAll(codes).count() == 0
    assert codes.exceptAll(codes2).count() == 0


# ---------------------------------------------------------------------
# versioned_keep_latest_sink: CDC semantics (verdict #5)
# ---------------------------------------------------------------------


def _mk_sink(tmp_path):
    from finporter_spark.streaming.pipeline import (
        versioned_keep_latest_sink,
    )

    return versioned_keep_latest_sink(
        str(tmp_path / "state"),
        key_col="k",
        order_cols=["ts", "seq"],
        op_col="op",
    )


def _rows(df):
    return sorted(
        (r.k, r.ts, r.seq, r.op, r.v) for r in df.collect()
    )


def test_keep_latest_sink_out_of_order_and_tombstones(spark, tmp_path):
    """The CDC invariants a keep-first sink cannot give:
    - an UPDATE arriving in a LATER batch with an OLDER (ts, seq) must
      NOT override the newer state (late replay of history);
    - a delete tombstone survives in the snapshot so that late older
      update cannot resurrect the key;
    - a genuinely NEWER update after a delete DOES resurrect."""
    merge, read_final = _mk_sink(tmp_path)
    schema = "k bigint, ts bigint, seq bigint, op string, v double"
    # batch 0: k1 updated at ts=10; k2 deleted at ts=20; k3 inserted
    merge(
        spark.createDataFrame(
            [(1, 10, 1, "U", 1.0), (2, 20, 2, "D", None),
             (3, 5, 3, "I", 3.0)],
            schema,
        ),
        0,
    )
    # batch 1 (late arrivals, all OLDER than existing state):
    # k1 ts=5 must lose; k2 ts=15 must stay deleted (tombstone wins)
    merge(
        spark.createDataFrame(
            [(1, 5, 4, "U", 99.0), (2, 15, 5, "U", 98.0)], schema
        ),
        1,
    )
    live = read_final(spark)
    assert _rows(live) == [(1, 10, 1, "U", 1.0), (3, 5, 3, "I", 3.0)]
    raw = read_final(spark, with_tombstones=True)
    assert (2, 20, 2, "D", None) in _rows(raw)
    # batch 2: k2 NEWER update resurrects; k3 newer delete removes
    merge(
        spark.createDataFrame(
            [(2, 30, 6, "U", 7.0), (3, 99, 7, "D", None)], schema
        ),
        2,
    )
    assert _rows(read_final(spark)) == [
        (1, 10, 1, "U", 1.0),
        (2, 30, 6, "U", 7.0),
    ]


def test_keep_latest_sink_replay_idempotent(spark, tmp_path):
    """Crash-replay: re-merging the SAME batch_id re-merges onto the
    same parent and produces a byte-identical snapshot — and the final
    state equals a one-shot batch keep-latest over the full changelog
    regardless of how rows were batched."""
    merge, read_final = _mk_sink(tmp_path)
    schema = "k bigint, ts bigint, seq bigint, op string, v double"
    b0 = [(1, 10, 1, "U", 1.0), (2, 20, 2, "U", 2.0)]
    b1 = [(1, 30, 3, "U", 1.5), (2, 10, 4, "D", None)]
    merge(spark.createDataFrame(b0, schema), 0)
    merge(spark.createDataFrame(b1, schema), 1)
    final1 = _rows(read_final(spark))
    # replay batch 1 (same id, same rows) — state unchanged
    merge(spark.createDataFrame(b1, schema), 1)
    assert _rows(read_final(spark)) == final1
    # == one-shot keep-latest over b0 + b1 (k2's delete is OLDER than
    # its update, so k2 stays live)
    assert final1 == [(1, 30, 3, "U", 1.5), (2, 20, 2, "U", 2.0)]


# ---------------------------------------------------------------------
# l21b: the recursive-CTE BPE twin == the pure-Python reference trainer
# ---------------------------------------------------------------------


def test_l21b_equals_reference_trainer(spark, sf_dir):
    """The catalog recursion (Spark WITH RECURSIVE over single-row
    vocabulary state) must reproduce operators.tokenizer.train_bpe
    merge-for-merge for the same corpus and budget — the DuckDB side
    is certified by the oracle hash; this pins the third leg so the
    tokenizer family is reference-anchored end-to-end."""
    from finporter_spark.operators.tokenizer import train_bpe
    from finporter_spark.queries.catalog import CATALOG
    from finporter_spark.queries.text_prep import _L21B_MERGES

    rows = CATALOG["l21b_bpe_merges"][0](spark, sf_dir).collect()
    got = [
        (r.left_sym, r.right_sym)
        for r in sorted(rows, key=lambda r: r.rank)
    ]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wf = sorted(
        (r.word, r.cnt)
        for r in docs.selectExpr(
            "explode(split(trim(regexp_replace(lower(text), "
            "'\\\\s+', ' ')), ' ')) AS word"
        )
        .where("word <> ''")
        .groupBy("word")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    )
    ref = train_bpe(wf, _L21B_MERGES)
    assert got == ref
    assert [r.rank for r in sorted(rows, key=lambda r: r.rank)] == list(
        range(len(got))
    )
