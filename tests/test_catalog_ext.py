"""Semantic tests for the catalog extension (S/U/X/L9-L10/M entries).

The DuckDB hash-match itself runs in tools/oracle_check.py (and the
driver's t2 gate); these tests pin the semantics that the hash can't see
— quarantine routing, stream-vs-batch equality, UDF batch shapes — at
sf0.001 so the suite stays fast.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from finporter_spark.queries.catalog import CATALOG, _t, catalog_oracles, catalog_queries


def q(name):
    return CATALOG[name][0]


def test_catalog_covers_declared_surface():
    names = set(catalog_queries())
    for prefix in (
        "s1", "s2", "s3", "s7", "u1", "u2", "u3", "u4",
        "x1", "x5", "l9", "l10", "m1", "m2", "m3",
    ):
        assert any(n.startswith(prefix + "_") for n in names), prefix
    # every exact entry has an oracle with it
    oracles = catalog_oracles()
    approx_only = {n for n in names if n not in oracles}
    assert approx_only == {
        "a3_approx_count_distinct",
        "a10_hll_sketch",
        "a11_kll_quantiles",
        "a12_count_min",
        # l2_minhash/l2_simhash/l3_lsh_knn/l3_ivf_knn/l20 moved to
        # deterministic (md5 / rounded-Lloyd) formulations in round 9
        # and now carry full value-hash oracles
        "l21_bpe_tokenize",
        "a14_rolling_hll_rollup",
    }


def test_s7_quarantine_routes_only_corrupted_keys(spark, sf_dir):
    out = q("s7_quarantine_split")(spark, sf_dir).collect()
    keys = sorted(r.c_custkey for r in out)
    assert keys == sorted(
        r.c_custkey
        for r in _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .collect()
    )
    assert keys  # the corruption pattern must actually hit rows
    # both channels are persisted parquet sinks, not an in-memory cache
    from finporter_spark.queries.catalog_ext import _io_dir

    for channel in ("quarantine", "clean"):
        sink = os.path.join(_io_dir(sf_dir, "s7"), channel)
        files = [f for f in os.listdir(sink) if f.endswith(".parquet")]
        assert files, f"{channel} sink has no parquet files"
    clean = spark.read.parquet(os.path.join(_io_dir(sf_dir, "s7"), "clean"))
    assert "_corrupt" not in clean.columns
    assert clean.count() + len(keys) == _t(spark, sf_dir, "customer").count()


def test_u2_minmax_bounds(spark, sf_dir):
    row = (
        q("u2_grouped_minmax")(spark, sf_dir)
        .agg(F.min("qnorm"), F.max("qnorm"))
        .first()
    )
    assert row[0] == 0.0 and row[1] == 1.0


def test_u4_flatten_matches_builtin_split(spark, sf_dir):
    got = q("u4_flatten_tokens")(spark, sf_dir).groupBy().count().first()[0]
    want = (
        _t(spark, sf_dir, "documents")
        .select(
            F.size(
                F.split(
                    F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " "
                )
            ).alias("n")
        )
        .agg(F.sum("n"))
        .first()[0]
    )
    assert got == want


def test_x1_stream_equals_batch(spark, sf_dir):
    stream = q("x1_stream_file_source")(spark, sf_dir)
    batch = q("x2_tumbling_window")(spark, sf_dir)
    s = {tuple(r) for r in stream.collect()}
    b = {tuple(r) for r in batch.select("window_start", "event_type", "n", "total").collect()}
    assert s == b


def test_x5_stream_dedup_is_exact_distinct(spark, sf_dir):
    out = q("x5_stream_dedup")(spark, sf_dir)
    ids = [r.event_id for r in out.collect()]
    assert len(ids) == len(set(ids))
    want = {
        r.event_id for r in _t(spark, sf_dir, "events").select("event_id").collect()
    }
    assert set(ids) == want


def test_l9_jaccard_pairs_are_symmetric_free_and_thresholded(spark, sf_dir):
    rows = q("l9_ngram_jaccard")(spark, sf_dir).collect()
    for r in rows:
        assert r.id_l < r.id_r
        assert r.jaccard >= 0.5


def test_l10_threshold_and_ordering(spark, sf_dir):
    rows = q("l10_embedding_near_dup")(spark, sf_dir).collect()
    for r in rows:
        assert r.id_l < r.id_r
        assert r.cosine >= 0.4


def test_m1_metadata_roundtrip(spark, sf_dir):
    rows = q("m1_image_metadata")(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.format == "png"
        assert r.width == r.doc_id % 512 + 16
        assert r.height == r.doc_id % 384 + 16


def test_m3_frame_fanout_shape(spark, sf_dir):
    """m3 subsamples every 2nd frame of a doc_id%6+3-frame MJPEG stream:
    kept frame_idx are the even originals 0,2,...,2*(n-1)."""
    df = q("m3_frame_sample")(spark, sf_dir)
    per_doc = df.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.max("frame_idx").alias("mx")
    )
    bad = per_doc.filter(
        (F.col("mx") != (F.col("n") - 1) * 2)
        | (F.col("n") != F.floor((F.col("doc_id") % 6 + 4) / 2))
    ).count()
    assert bad == 0


def test_q1_decimal_twin_matches_double_route(spark, sf_dir):
    """The opt-in decimal-money path (dsum/davg money=True and the
    q1_pricing_summary_decimal twin) must agree with the double-route
    q1 at 9 dp, and the money=True helpers must yield exact decimal
    types (no silent double round-trip)."""
    from pyspark.sql.types import DecimalType

    from finporter_spark.queries.catalog import dsum, davg, _t

    dbl = {
        (r.l_returnflag, r.l_linestatus): r
        for r in q("q1_pricing_summary")(spark, sf_dir).collect()
    }
    dec = {
        (r.l_returnflag, r.l_linestatus): r
        for r in q("q1_pricing_summary_decimal")(spark, sf_dir).collect()
    }
    assert set(dbl) == set(dec)
    for key, d in dbl.items():
        e = dec[key]
        for col in ("sum_qty", "sum_base_price", "sum_disc_price",
                    "sum_charge", "avg_qty", "avg_price"):
            assert abs(getattr(d, col) - getattr(e, col)) <= 1e-9 * max(
                1.0, abs(getattr(d, col))
            ), (key, col, getattr(d, col), getattr(e, col))
        assert d.count_order == e.count_order

    money = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            dsum(F.col("l_extendedprice"), money=True).alias("s"),
            davg(F.col("l_extendedprice"), money=True).alias("a"),
        )
    )
    types = dict((f.name, f.dataType) for f in money.schema.fields)
    assert isinstance(types["s"], DecimalType) and types["s"].scale == 6
    assert isinstance(types["a"], DecimalType) and types["a"].scale == 10
