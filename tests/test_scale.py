"""Scale-path operators: salted aggregation correctness + bucketed joins
actually eliminating the exchange (plan-level, like tests/test_plans.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finporter_spark.operators.scale import (
    ensure_bucketed,
    salted_agg,
    source_fingerprint,
    write_bucketed,
)
from finporter_spark.queries.catalog import _t
from tests.test_plans import plan


def test_salted_agg_matches_plain_groupby(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    got = salted_agg(
        l,
        ["l_returnflag"],
        {
            "n": ("count", "l_quantity"),
            "qty": ("sum", "l_quantity"),
            "qmin": ("min", "l_quantity"),
            "qmax": ("max", "l_quantity"),
        },
        buckets=8,
    )
    want = l.groupBy("l_returnflag").agg(
        F.count("l_quantity").alias("n"),
        F.sum("l_quantity").alias("qty"),
        F.min("l_quantity").alias("qmin"),
        F.max("l_quantity").alias("qmax"),
    )
    g = {r.l_returnflag: r for r in got.collect()}
    w = {r.l_returnflag: r for r in want.collect()}
    assert set(g) == set(w)
    for k in w:
        assert g[k].n == w[k].n
        assert g[k].qty == pytest.approx(w[k].qty, abs=1e-6)
        assert (g[k].qmin, g[k].qmax) == (w[k].qmin, w[k].qmax)


def test_salted_agg_rejects_non_algebraic(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem")
    with pytest.raises(ValueError):
        salted_agg(l, ["l_returnflag"], {"bad": ("avg", "l_quantity")})


def test_salted_agg_is_deterministic_not_random(spark, sf_dir):
    l = _t(spark, sf_dir, "lineitem").limit(1000)
    a = salted_agg(l, ["l_returnflag"], {"qty": ("sum", "l_quantity")})
    b = salted_agg(l, ["l_returnflag"], {"qty": ("sum", "l_quantity")})
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """Both sides bucketed on the join key => SortMergeJoin with zero
    Exchange nodes: the 'pay the shuffle once at ingest' contract."""
    l = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed(l, "t_lineitem_b", ["l_orderkey"], n_buckets=8)
    write_bucketed(o, "t_orders_b", ["o_orderkey"], n_buckets=8)
    lb = spark.table("t_lineitem_b")
    ob = spark.table("t_orders_b")
    joined = lb.join(
        ob.hint("merge"), lb.l_orderkey == ob.o_orderkey
    ).groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    p = plan(joined)
    assert "SortMergeJoin" in p
    join_section = p.split("AdaptiveSparkPlan")[0]
    assert "Exchange" not in join_section.split("HashAggregate")[0]
    # and it computes the same thing as the unbucketed join
    want = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_z1_catalog_join_is_exchange_free(spark, sf_dir):
    """The z1_bucketed_join catalog entry keeps the zero-exchange
    contract: with broadcast off (forcing the merge path a 100 TB fact
    join would take), no Exchange appears before the join."""
    from finporter_spark.queries.catalog import CATALOG

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = CATALOG["z1_bucketed_join"][0](spark, sf_dir)
        p = plan(df)
        assert "SortMergeJoin" in p
        assert "Bucketed: true" in p
        # exactly ONE exchange in the whole plan — the final groupBy's;
        # the join consumes co-located buckets directly
        assert sum(
            1 for ln in p.splitlines() if ln.strip().startswith("(")
            and "Exchange" in ln
        ) == 1
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ensure_bucketed_stages_once_and_invalidates(spark, sf_dir, tmp_path):
    """Second call with the same fingerprint must NOT rewrite the data
    (bucketing is pay-once); a changed fingerprint must restage (stale
    buckets would silently desync from regenerated sources)."""
    import os

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = str(tmp_path / "b_orders")
    fp = source_fingerprint(os.path.join(sf_dir, "orders.parquet"))

    ensure_bucketed(o, "t_eb_orders", ["o_orderkey"], n_buckets=4, path=path)
    # no fingerprint recorded -> conservative restage on reuse attempts
    ensure_bucketed(
        o, "t_eb_orders", ["o_orderkey"], n_buckets=4, path=path,
        fingerprint=fp,
    )
    mtimes = {
        f: os.stat(os.path.join(path, f)).st_mtime_ns
        for f in os.listdir(path) if f.endswith(".parquet")
    }
    assert mtimes

    # same fingerprint: pure DDL reuse, data files untouched — even from
    # a catalog that has forgotten the table
    spark.sql("DROP TABLE IF EXISTS t_eb_orders")
    ensure_bucketed(
        o, "t_eb_orders", ["o_orderkey"], n_buckets=4, path=path,
        fingerprint=fp,
    )
    after = {
        f: os.stat(os.path.join(path, f)).st_mtime_ns
        for f in os.listdir(path) if f.endswith(".parquet")
    }
    assert after == mtimes
    got = sorted(map(tuple, spark.table("t_eb_orders").collect()))
    want = sorted(map(tuple, o.collect()))
    assert got == want

    # changed fingerprint: restage (files rewritten)
    spark.sql("DROP TABLE IF EXISTS t_eb_orders")
    ensure_bucketed(
        o, "t_eb_orders", ["o_orderkey"], n_buckets=4, path=path,
        fingerprint="different",
    )
    rewritten = {
        f: os.stat(os.path.join(path, f)).st_mtime_ns
        for f in os.listdir(path) if f.endswith(".parquet")
    }
    assert rewritten != mtimes


def test_z2_salted_agg_two_phase_plan(spark, sf_dir):
    """z2's physical plan is partial-on-salt then merge-on-key: two
    HashAggregate pairs, and the merge phase's exchange carries only
    #keys x buckets rows (asserted implicitly by the agg structure)."""
    from finporter_spark.queries.catalog import CATALOG

    df = CATALOG["z2_salted_agg"][0](spark, sf_dir)
    p = plan(df)
    assert p.count("HashAggregate") >= 4  # partial+final for both phases
    assert "_salt" not in df.columns


def test_compact_files_shrinks_and_preserves(spark, sf_dir, tmp_path):
    """o8: compaction cuts the file count to the byte-targeted number
    and loses/duplicates nothing."""
    from finporter_spark.operators.scale import compact_files

    small = str(tmp_path / "small")
    out = str(tmp_path / "compact")
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    e.repartition(32).write.parquet(small)
    import os

    n_in = sum(f.endswith(".parquet") for f in os.listdir(small))
    n_out = compact_files(spark, small, out, target_file_bytes=1 << 30)
    assert n_in == 32 and n_out == 1  # everything fits one 1GiB target
    a = e.orderBy("event_id").collect()
    b = spark.read.parquet(out).orderBy("event_id").collect()
    assert a == b


def test_aqe_skew_join_split(spark, sf_dir):
    """AQE splits a skewed shuffle-join partition at runtime (the
    complement of z2's manual salting: salting is for aggregations,
    skew-join handling is what a 1000-executor shuffle join gets for
    free when one key holds 90% of the rows). Thresholds are sized for
    real clusters, so this forces them down; the split granularity is
    map-output chunks, so the skewed side must come from >1 map task
    (here repartition(16) — a single small parquet file is one mapper
    and cannot be split). The split must not change the join result."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None

    def sides():
        l = (
            _t(spark, sf_dir, "lineitem")
            .repartition(16)
            .select(
                F.when(F.col("l_orderkey") % 10 < 9, F.lit(0))
                .otherwise(F.col("l_orderkey"))
                .alias("k"),
                "l_quantity",
            )
        )
        r = (
            _t(spark, sf_dir, "orders")
            .repartition(8)
            .select(F.col("o_orderkey").alias("k"), "o_totalprice")
        )
        return l, r

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        l, r = sides()
        j = l.join(r, "k").select("k", "l_quantity")
        got = sorted((row.k, row.l_quantity) for row in j.collect())
        executed = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed, executed[:3000]
        assert "AQEShuffleRead skewed" in executed
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    l, r = sides()
    base = sorted(
        (row.k, row.l_quantity)
        for row in l.join(F.broadcast(r), "k").select("k", "l_quantity").collect()
    )
    assert got == base


def test_zorder_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """The point of Z-order: rows matching a box predicate concentrate
    in few files ON EITHER DIMENSION. Against a layout range-sorted on
    user_id alone, a value-only predicate touches almost every file;
    the Z-ordered layout confines it — and content round-trips exactly."""
    from finporter_spark.operators.scale import write_zordered

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    n_files = 16
    zpath = str(tmp_path / "z")
    lpath = str(tmp_path / "linear")
    write_zordered(e, zpath, ["user_id", "value"], n_files=n_files)
    (
        e.repartitionByRange(n_files, "user_id")
        .sortWithinPartitions("user_id")
        .write.parquet(lpath)
    )

    def files_touched(path, pred):
        return (
            spark.read.parquet(path)
            .filter(pred)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    # a band holding ~10% of ROWS (quantile-chosen: `value` is skewed,
    # so a 10%-of-range band would cover half the table and no layout
    # could prune it)
    lo, hi = e.approxQuantile("value", [0.3, 0.4], 0.001)
    band = (F.col("value") >= lo) & (F.col("value") <= hi)
    z_files = files_touched(zpath, band)
    l_files = files_touched(lpath, band)
    assert l_files >= n_files * 0.8, "control layout should spread the band"
    assert z_files <= l_files / 2, (z_files, l_files)

    # lossless rewrite
    a = sorted(map(tuple, e.collect()))
    b = sorted(map(tuple, spark.read.parquet(zpath).collect()))
    assert a == b


def test_z4_salted_join_spreads_hot_key_and_matches_plain(spark, sf_dir):
    """salted_replicate_join under a FORCED shuffled join: the join
    partitioning must include _salt (the hot key spreads over buckets
    reducers), and the result must equal the plain unsalted join
    exactly — including a synthetic 90%-hot-key frame."""
    from finporter_spark.operators.scale import salted_replicate_join
    from pyspark.sql import functions as F

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # synthetic skew: 90% of fact rows share key 7
        big = spark.range(2000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7))
            .otherwise(F.col("id") % 50)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        small = spark.range(50).select(
            F.col("id").alias("sk"), (F.col("id") * 100).alias("dim_val")
        )
        out = salted_replicate_join(
            big, small, big_key="k", small_key="sk", buckets=8
        )
        p = plan(out)
        assert "_salt" in p and "hashpartitioning" in p.lower()
        assert "BroadcastHashJoin" not in p
        got = sorted((r.k, r.payload, r.dim_val) for r in out.collect())
        want = sorted(
            (r.k, r.payload, r.dim_val)
            for r in big.join(small, big.k == small.sk).drop("sk").collect()
        )
        assert got == want and len(got) == 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_rejects_small_side_preserving_how(spark):
    """Right/full-outer would emit each unmatched small row once per
    replica (buckets x inflation) — the operator must refuse, not
    silently inflate."""
    import pytest

    from finporter_spark.operators.scale import salted_replicate_join

    big = spark.range(10).select(F.col("id").alias("k"))
    small = spark.range(5).select(F.col("id").alias("sk"))
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="unsupported"):
            salted_replicate_join(big, small, "k", "sk", buckets=4, how=how)


def test_salted_join_keeps_big_key_on_name_collision(spark):
    """Both sides named 'k': the small side's key/salt must be dropped
    by DataFrame reference, keeping the big side's key column intact."""
    from finporter_spark.operators.scale import salted_replicate_join

    big = spark.range(100).select(
        (F.col("id") % 10).alias("k"), F.col("id").alias("payload")
    )
    small = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dim")
    )
    out = salted_replicate_join(big, small, big_key="k", small_key="k")
    assert out.columns == ["k", "payload", "dim"]
    rows = out.collect()
    assert len(rows) == 100
    assert all(r.k is not None and r.dim == r.k * 2 for r in rows)
    # left join: unmatched big rows survive exactly once with null dim
    big2 = spark.range(100).select(
        (F.col("id") % 20).alias("k"), F.col("id").alias("payload")
    )
    left = salted_replicate_join(big2, small, "k", "k", how="left").collect()
    assert len(left) == 100
    assert sum(r.dim is None for r in left) == 50


@pytest.fixture()
def hot_shingle_corpus(spark):
    """Adversarial dedup corpus: 90% of docs are the SAME boilerplate
    text (every band hashes them into one bucket), 10% are distinct
    tails including five planted near-dup pairs. This is the worst case
    for LSH banding — one bucket holding 0.9n docs re-creates the
    quadratic pair blowup banding exists to avoid."""
    boiler = "terms of service apply to all content on this page " * 6
    rows = []
    for i in range(2000):
        if i % 10 != 0:
            rows.append((i, boiler))
        else:
            base = f"document {i} talks about topic {i % 7} " + " ".join(
                f"w{(i * 13 + j) % 97}" for j in range(30)
            )
            rows.append((i, base))
    # five planted near-dup pairs among the minority docs (same text,
    # one word changed)
    for k in range(5):
        src = rows[k * 10 * 2][1]  # a minority doc's text
        rows.append((10_000 + k, src.replace("talks", "speaks")))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_minhash_bucket_cap_bounds_hot_bucket(spark, hot_shingle_corpus):
    """With max_bucket_size the banding must (a) actually bound every
    surviving bucket, (b) still recall the planted minority near-dup
    pairs, and (c) stay an equi-join plan (no nested loop)."""
    from finporter_spark.operators.dedup import (
        minhash_near_duplicates,
        minhash_signatures,
    )

    cap = 64
    pairs_df = minhash_near_duplicates(
        hot_shingle_corpus, jaccard_threshold=0.5, max_bucket_size=cap
    )
    p = plan(pairs_df)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    pairs = {(r.id_a, r.id_b) for r in pairs_df.collect()}
    planted = {(k * 20, 10_000 + k) for k in range(5)}
    assert planted <= pairs, f"missing planted pairs: {planted - pairs}"
    # the hot boilerplate group (0.9n docs) must NOT fan out: its
    # within-group pairs are capped away, so the total pair count stays
    # orders below the ~1.6M pairs the uncapped hot bucket implies
    assert len(pairs) < cap * cap * 8, len(pairs)

    # the fixture is genuinely adversarial: uncapped, the hottest bucket
    # holds ~90% of the corpus
    sig = minhash_signatures(hot_shingle_corpus)
    n_hashes = 32
    rows_per_band = n_hashes // 8
    banded = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.col(f"h{b * rows_per_band + j}")
                            for j in range(rows_per_band)
                        ]
                    )
                    for b in range(8)
                ]
            )
        ).alias("band_id", "band_hash"),
    )
    sizes = banded.groupBy("band_id", "band_hash").count()
    assert sizes.agg(F.max("count")).first()[0] >= 0.9 * 2000


def test_z4_splits_hot_shingle_induced_join_skew(spark, hot_shingle_corpus):
    """The dedup pipeline's downstream join shape under data skew: join
    docs to a per-fingerprint dim on the doc's exact-hash key, where 90%
    of rows share one key. salted_replicate_join must (a) spread the hot
    key across salt partitions in the PLAN and (b) return exactly the
    plain join's rows."""
    from finporter_spark.operators.scale import salted_replicate_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = hot_shingle_corpus.withColumn("h", F.sha2(F.col("text"), 256))
        dim = docs.select("h").distinct().withColumn(
            "cluster_id", F.xxhash64("h")
        )
        out = salted_replicate_join(
            docs, dim, big_key="h", small_key="h", buckets=8
        )
        p = plan(out)
        assert "_salt" in p and "BroadcastHashJoin" not in p
        got = sorted((r.doc_id, r.cluster_id) for r in out.collect())
        want = sorted(
            (r.doc_id, r.cluster_id)
            for r in docs.join(dim, "h").collect()
        )
        assert got == want and len(got) == hot_shingle_corpus.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_exact_percentiles_matches_percentile_agg(spark):
    """The distributed two-phase rank-select must equal F.percentile
    (quantile_cont semantics) exactly on adversarial shapes: multiple
    groups, heavy ties, n=1 groups, an all-equal group, nulls, and
    bucket counts smaller than the group size."""
    import random

    from finporter_spark.operators.scale import exact_percentiles

    random.seed(7)
    rows = []
    # group A: 1001 uniform values; B: heavy ties (85% the same value);
    # C: a single row; D: all rows equal; E: values + nulls
    rows += [("A", random.uniform(-50, 900)) for _ in range(1001)]
    rows += [
        ("B", 42.5 if random.random() < 0.85 else random.uniform(0, 100))
        for _ in range(800)
    ]
    rows += [("C", 3.14)]
    rows += [("D", 7.0) for _ in range(250)]
    rows += [("E", None), ("E", 1.0), ("E", None), ("E", 9.0), ("E", 5.0)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(8)
    qs = [0.0, 0.25, 0.5, 0.61, 0.75, 1.0]
    got = {
        (r.g, r.fraction): r.value
        for r in exact_percentiles(df, ["g"], "v", qs, buckets=16).collect()
    }
    want_rows = (
        df.where(F.col("v").isNotNull())
        .groupBy("g")
        .agg(F.percentile("v", F.lit(qs)).alias("ps"))
        .collect()
    )
    want = {
        (r.g, q): r.ps[i] for r in want_rows for i, q in enumerate(qs)
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12, abs=1e-12), k


def test_a7_plan_has_no_percentile_buffer(spark, sf_dir):
    """A7's plan must contain no `percentile` aggregate (the per-group
    value buffer + sort is the scale-killer the rank-select replaces)
    and no un-partitioned window (every window partitions by group or
    (group, bucket), so no task sees the whole corpus)."""
    from finporter_spark.queries.stats import a7_percentiles

    p = plan(a7_percentiles(spark, sf_dir))
    assert "percentile" not in p.lower()
    # the global-sort window shape would appear as a SinglePartition
    # exchange feeding a Window node
    assert "Exchange SinglePartition" not in p
