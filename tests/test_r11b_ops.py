"""Round-11 continuation operators: contracts the hash oracle can't see.

- w14c is an alias of w14b: the name runs w14b's evaluator against the
  same oracle, so its output is w14b's, bit for bit.
- a45's credit ledger must conserve: every journey's credits sum to
  exactly 10000 bp, so total credit = 10000 × journeys.
"""

from __future__ import annotations

from finporter_spark.queries.catalog import ALIASES, CATALOG


def test_w14c_bit_identical_to_w14b():
    assert ALIASES["w14c_holt_recursive"][0] == "w14b_holt_exact"
    assert CATALOG["w14c_holt_recursive"] == CATALOG["w14b_holt_exact"]


def _credit_bp(pos: int, n: int) -> int:
    """Pure-Python mirror of a45's credit CASE (same algebra both
    engines state in SQL)."""
    if n == 1:
        return 10000
    if n == 2:
        return 5000
    if pos == 1 or pos == n:
        return 4000
    return 2000 // (n - 2) + (2000 % (n - 2) if pos == 2 else 0)


def test_a45_credit_algebra_conserves_for_all_journey_sizes():
    from hypothesis import given, strategies as st

    @given(st.integers(min_value=1, max_value=500))
    def check(n):
        credits = [_credit_bp(p, n) for p in range(1, n + 1)]
        assert sum(credits) == 10000
        assert all(c >= 0 for c in credits)
        if n >= 3:
            # U-shape: ends get the 40% anchors, middles never exceed
            assert credits[0] == credits[-1] == 4000
            assert max(credits[1:-1]) <= 4000

    check()


def test_ivfadc_flat_switch_parity(spark, sf_dir, monkeypatch):
    """The k > FLAT_ASSIGN_K auto-switch inside ivfadc_topk (corpus
    assign AND query probe) must be result-invariant: run the SAME
    k=100 pipeline once through the flat path (default threshold 96)
    and once with the threshold raised so the literal path runs, and
    require identical (query, cand, rank) output."""
    import finporter_spark.operators.similarity as sim
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = sim.kmeans_fit(emb, "vec_id", "embedding", k=100, iters=1)
    books = sim.pq_fit(emb, "vec_id", "embedding", m=4, k=8, iters=1)
    q = emb.where(F.col("vec_id") % 50 == 0).limit(8)

    def run():
        return sorted(
            (r.query_id, r.cand_id, r.rank)
            for r in sim.ivfadc_topk(
                emb, q, "vec_id", "embedding", cents, books,
                n_probe=4, shortlist=50, k=5,
            ).collect()
        )

    assert sim.FLAT_ASSIGN_K < 100  # default: k=100 takes the flat path
    got_flat = run()
    monkeypatch.setattr(sim, "FLAT_ASSIGN_K", 10_000)
    got_literal = run()
    assert got_flat == got_literal
    assert len(got_flat) > 0


def test_observation_metrics_piggyback_on_one_pass(spark, sf_dir):
    """Spark's Observation API — the operational surface for pipeline
    invariants: row counts / sums ride on the SAME action as the real
    work (accumulator-style), no second scan. Pin that the observed
    metrics equal an independent aggregation."""
    from pyspark.sql import Observation, functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    obs = Observation("li_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
        F.count_if(F.col("l_discount") > 0.05).alias("discounted"),
    )
    # one action drives both the "pipeline" and the metrics
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    ref = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
        F.count_if(F.col("l_discount") > 0.05).alias("discounted"),
    ).collect()[0]
    assert got["n"] == ref["n"] > 0
    assert got["qty"] == ref["qty"]
    assert got["discounted"] == ref["discounted"]


def test_a45_credits_conserve(spark, sf_dir):
    rows = CATALOG["a45_attribution"][0](spark, sf_dir).collect()
    total_bp = sum(r.credit_bp_total for r in rows)
    # conservation: each credited journey's credits sum to exactly
    # 10000 bp (n=1 and n=2 by construction; n>=3 because
    # 4000 + 4000 + (n-2)*floor(2000/(n-2)) + remainder == 10000)
    assert total_bp % 10000 == 0
    n_journeys = total_bp // 10000
    assert n_journeys > 0
    # every channel's attributed revenue is non-negative and bounded by
    # 10000 bp x its journeys' cents — sanity, not tautology
    for r in rows:
        assert r.attributed_cents_bp >= 0
        assert r.touches >= r.purchases_touched


def test_a45_negative_amount_raises(spark, sf_dir, tmp_path):
    """The zero-padded ordering key is only valid for non-negative
    amounts; a negative cents value (refund/chargeback) must raise the
    named a45 error, never silently drop or corrupt the journey."""
    import pyspark.errors
    import pytest
    from pyspark.sql import functions as F

    from finporter_spark.queries.catalog import _t

    neg_dir = str(tmp_path / "sf_neg")
    for t in ("events",):
        df = _t(spark, sf_dir, t).limit(200)
        df = df.withColumn(
            "value",
            F.when(F.col("event_id") % 7 == 0, -F.col("value") - 1.0)
            .otherwise(F.col("value")),
        )
        df.write.mode("overwrite").parquet(f"{neg_dir}/{t}.parquet")
    with pytest.raises(Exception, match="a45_attribution: negative"):
        CATALOG["a45_attribution"][0](spark, neg_dir).collect()


def test_a45_null_amount_passes_through(spark, sf_dir, tmp_path):
    """A NULL amount is NOT negative: the non-negativity guard must
    let NULL cents flow through (pre-guard behavior), never abort the
    job with a NULL-collapsed error message."""
    from pyspark.sql import functions as F

    from finporter_spark.queries.catalog import _t

    nul_dir = str(tmp_path / "sf_null")
    df = _t(spark, sf_dir, "events").limit(200)
    df = df.withColumn(
        "value",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value")),
    )
    df.write.mode("overwrite").parquet(f"{nul_dir}/events.parquet")
    # must not raise; result is a well-formed per-type aggregate
    rows = CATALOG["a45_attribution"][0](spark, nul_dir).collect()
    assert all(r.touches > 0 for r in rows)
