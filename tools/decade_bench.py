"""Two-decade scale evidence: time a relational-core query subset at
sf0.1 (driver testdata), sf1 and sf10 (tools/gen_testdata.py — 6M and
60M-row lineitem), printing per-query ratios per decade.

The subset is the shuffle/join/window/agg core plus the flagship L ops —
the operators whose plans must survive scale-up. Streaming drains and
per-file media decode are excluded: their sf-flat (commit-bound) and
embarrassingly-parallel behavior is established in SCALING.md; this
sweep exists to catch super-linear RELATIONAL plans two decades out.

Each (query, sf) pair is one timed run after one untimed warm run
(tools/measure.py), so first-touch staging and compile stay out of the
number.

Usage: python tools/decade_bench.py [--skip-gen]
Writes DECADE_BENCH.json {query: {sf: sec}} and prints a table.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from finporter_spark.queries.catalog import catalog_queries
from tools.measure import measure_query, session

GEN_ROOT = "/tmp/finporter_testdata"
SFS = [
    ("0.1", "/root/testdata/sf0.1"),
    ("1", f"{GEN_ROOT}/sf1"),
    ("10", f"{GEN_ROOT}/sf10"),
]

QUERIES = [
    "q1_pricing_summary",
    "q1_pricing_summary_decimal",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q8_market_share",
    "q9_product_profit",
    "q13_customer_distribution",
    "q18_large_volume",
    "q21_waiting_supplier",
    "p1_projection",
    "p10_surrogate_id",
    "p16_fuzzy_join",
    "j1_join_agg",
    "j4_broadcast_dim",
    "j5_range_join",
    "j6_asof_join",
    "j6c_asof_highcard",
    "a2_count_distinct",
    "a4_cube",
    "a7_percentiles",
    "a16_event_value_percentiles",
    "w1_ranking",
    "w3_running_sum",
    "w4_range_frame",
    "w6_sessionize",
    "o5_dedup_latest",
    "o7_stratified_sample",
    "o11_per_key_cap",
    "o12_epoch_shuffle",
    "o13_source_mix",
    "l1_exact_dedup",
    "l2_minhash_near_dup",
    "l4_quality_score",
    "l8_tfidf_top_terms",
    "l12_chunk_documents",
    "l13_decontaminate",
    "l15_bigram_lm_score",
    "l16_repetition_profile",
    "l17_pack_sequences",
    "l18_pagerank",
    "l21_bpe_tokenize",
    "z1_bucketed_join",
    "z2_salted_agg",
    "z4_salted_join",
    # round-7: the ten steepest 0.1->1 entries from SCALING.md measured
    # one decade further (VERDICT r6 #5), plus the reworked f2
    "u5_udtf_bigrams",
    "j8_interval_join",
    "l25_span_dedup",
    "l5_language_id",
    "l6_fingerprint",
    "l6_rolling_hash",
    "p12_json",
    "f2_fifo_realized_gains",
    # round-8: the two rewritten-contract queries (verdict r7 asks #1/#2)
    "p16b_er_clusters",
    # round-8: sf10 decade evidence for the streaming family (verdict
    # r7 ask #8) — expected near-flat (micro-batch drain/commit-bound)
    "x7_stream_stream_join",
    "x11_stream_budget_gate",
    "x12_datasource_stream",
    "l31_triangle_count",
    "w15_interval_coverage",
    # round-8: running totals as a JVM built-in streaming agg — the
    # scale-path alternative to per-key Python callbacks
    "x6b_builtin_running_totals",
    # round-8 batch 2/3: new operators measured at both decades from
    # birth (the j8/l31 lesson: first sf10 measurement finds the
    # super-linear shapes)
    "w16_ohlc_bars",
    "f3_max_drawdown",
    "a21_grouped_ols",
    "l32_contamination_matrix",
    "a22_hierarchical_rollup",
    "z5_skew_report",
    "l33_length_histogram",
    "z6_global_rank",
    "l34_jaccard_join",
    "a23_markov_transitions",
    "l35_dedup_keep_best",
    "a24_chi_square",
    "pipe6_corpus_curation",
    "l36_bfs_reachability",
    "w17_mad_anomaly",
    "a25_conversion_latency",
    # round-8 batch 4: measured at both decades from birth
    "l37_edit_distance_join",
    "a26_retention_cohorts",
    "w18_autocorrelation",
    "a27_basket_affinity",
    "j9_band_count",
    "a28_welch_ttest",
    "w19_seasonal_profile",
    "l38_sorted_neighborhood",
    "a29_decile_stats",
    "w20_cusum_drift",
    "pipe7_master_data_dedup",
    "w21_rolling_median",
    "a30_constrained_funnel",
    "w22_seasonal_anomaly",
    "f4_portfolio_concentration",
    "a31_cohort_ltv",
    "w23_day_coverage",
    "a32_path_trigrams",
    "l39_char_entropy",
    "j11_nearest_below_join",
    "a33_gini_coefficient",
    "l40_duplication_by_source",
    # round-9: the rewired/converted queries re-measured (pipe7's edge
    # sparsification + star CC; the md5/deterministic families), plus
    # the new operators measured at both decades from birth
    "l2_simhash_near_dup",
    "l3_lsh_knn",
    "l3_ivf_knn",
    "l20_fuzzy_decontaminate",
    "x15_stream_outer_interval_join",
    "x16_stream_full_outer_interval_join",
    "a14b_rolling_kmv_rollup",
    "a35_poisson_bootstrap_ci",
    "a36_embedding_covariance",
    # round-10: new operators measured at both decades from birth
    "a37_ks_test",
    "a38_mann_whitney_u",
    "w24_stl_decompose",
    "w26_changepoint",
    "w14b_holt_exact",
    "l41_url_canonical_dedup",
    "l45_pq_ann_topk",
    "l45b_pq_rerank_topk",
    "x17_transform_with_state_top2",
    "pipe8_crawl_curation",
    "a39_benford_audit",
    "w27_ar1_fit",
    "a40_psi_drift",
    "x18_stream_psi_monitor",
    "j12_asof_tolerance",
    "a41_two_proportion_ztest",
    # round-11 additions
    "l45c_ivfadc_topk",
    "a42_psi_weekly",
    "x19_transform_with_state_timers",
    "x18b_stream_psi_weekly",
    "a43_ks_weekly",
    "a44_mwu_weekly",
    "s15_orc_pushdown",
    "p18_variant_extract",
    "s16_xml_roundtrip",
    "a45_attribution",
    "l42_label_propagation",
    "p19_lateral_topk",
    # round-12 additions
    "a46_kruskal_wallis",
    "s17_variant_roundtrip",
    "o19_vacuum_versions",
    "l46_ivfadc_structured",
    "l46b_ivfadc_residual",
    "l46c_ivfadc_m8",
    "x20_stream_ann_ingest",
    "a47_dunn_posthoc",
    "a46b_kw_weekly",
    # round-13 additions
    "o20_time_travel_read",
    "l47_ivfadc_zipf",
    "l48_repeated_span_coverage",
    "a48_kw_4arm",
    "x21_stream_minhash_dedup",
    "pipe9_stream_ingest_curation",
    # round-14 additions
    "l49_ivfadc_auto",
    "x22_stream_cdc_upsert",
    "l21b_bpe_merges",
    "pipe9b_stream_curation_quality",
]


def main() -> None:
    # big-SF streaming drains (60M events at sf10 through a stateful
    # stream) legitimately exceed the 120 s wedge guard —
    # raise it for the sweep so the cost is MEASURED, not errored
    os.environ.setdefault("SPARK_GRAFT_STREAM_TIMEOUT", "600")
    if "--skip-gen" not in sys.argv:
        for sf in ("1.0", "10.0"):
            d = f"{GEN_ROOT}/sf{sf.rstrip('0').rstrip('.') or sf}"
            if not os.path.isfile(os.path.join(d, "lineitem.parquet")):
                subprocess.run(
                    [sys.executable,
                     os.path.join(REPO, "tools", "gen_testdata.py"),
                     "--sf", sf],
                    check=True,
                )
    out_path = os.path.join(REPO, "DECADE_BENCH.json")
    results: dict[str, dict[str, float]] = {}
    if "--resume" in sys.argv and os.path.exists(out_path):
        with open(out_path) as f:
            results = json.load(f)
    # (query, sf) pairs outside an entry's declared oracle regime:
    # l49's catalog entry pins the level-0 residual branch its DuckDB
    # oracle unrolls and RAISES at densities that escalate the dial
    # (sf10 -> level 1, m=8); the operator's own sf10 scaling is
    # measured in IVFADC_DECADE.json (zipf_10 auto-residual row)
    skip = {("l49_ivfadc_auto", "10")}
    spark = session("decade-bench", SFS[0][1])
    qs = catalog_queries()
    for name in QUERIES:
        if name in results:
            continue
        results[name] = {}
        for sf, d in SFS:
            if (name, sf) in skip:
                continue
            rep = measure_query(spark, name, lambda: qs[name](spark, d), 1)
            results[name][sf] = round(rep[0].wall, 3)
        r = results[name]
        print(
            f"{name:32} {r.get('0.1', '-'):>8} {r.get('1', '-'):>8} "
            f"{r.get('10', '-'):>8}",
            flush=True,
        )
        # incremental write: a killed run resumes with --resume
        with open(out_path, "w") as f:
            json.dump(results, f, indent=1)
    print("wrote DECADE_BENCH.json")


if __name__ == "__main__":
    main()
