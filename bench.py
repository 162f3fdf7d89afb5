"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE COMPACT JSON line:
{"metric": ..., "value": secs, "unit": "sec", "queries": {...}, "sf": ...,
 "stats": {"n": ..., "median_s": ..., "p90_s": ...}, "full_map": path}

The stdout line is deliberately small: the suite is len(HEADLINE)
(~200) queries, and a per-query map that long makes the line long
enough that log-capture pipelines clip it mid-JSON (round-8's committed
artifact had "parsed": null for exactly this reason). So "queries" on
stdout carries only the TOP_N slowest queries; the COMPLETE per-query
map is written to $SPARK_GRAFT_BENCH_FULL (default
BENCH_FULL_r16_c<cores>.json next to this file, <cores> being the
session's local core count) and committed separately.

Each query executes end-to-end into the `noop` sink (full plan runs, no
driver collect), which is what a cluster deployment would measure.

Knobs: SPARK_GRAFT_BENCH_REPS (default 3, min-of-N per query — raised
from 2 in round 11: the two round-10 runs disagreed 17% on the median,
cross-run variance at 178 queries exceeds round-over-round deltas, and
min-of-3 tightens the estimator enough that ONE canonical artifact per
config is the protocol),
SPARK_GRAFT_BENCH_PROBE_REPS (default 4), SPARK_GRAFT_CODE_CACHE
(default "768m"; set to "default" to skip the ReservedCodeCacheSize
override — used to reproduce the JIT code-cache-exhaustion noise
measurement from round 8), SPARK_GRAFT_BENCH_LADDER_EVERY (default 20:
the probe query is interleaved every N suite entries as a LADDER, each
rung stamped with /proc/loadavg + process counts, so a cross-run
comparer can normalize per-query times against the nearest rung and
separate code regressions from machine load — the round-12 verdict's
protocol fix; the full ladder lives in the BENCH_FULL artifact).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from finporter_spark.queries.catalog import catalog_queries
from finporter_spark.session import get_session

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q2_min_cost_supplier",
    "q6_revenue_change",
    "q8_market_share",
    "q13_customer_distribution",
    "q18_large_volume",
    "q21_waiting_supplier",
    "p10_surrogate_id",
    "s7_quarantine_split",
    "j1_join_agg",
    "j4_broadcast_dim",
    "j6_asof_join",
    "a4_rollup",
    "a4_cube",
    "w3_running_sum",
    "w4_range_frame",
    "o5_dedup_latest",
    "u1_pandas_scalar",
    "u2_grouped_minmax",
    "x2_tumbling_window",
    "x3_session_window",
    "l1_exact_dedup",
    "l2_minhash_near_dup",
    "l3_knn_cosine",
    "l3_ivf_knn",
    "l8_tfidf_top_terms",
    "l9_ngram_jaccard",
    "l12_chunk_documents",
    "l13_decontaminate",
    "l15_bigram_lm_score",
    "p15_higher_order_funcs",
    "o7_stratified_sample",
    "s8_partitioned_prune",
    "z1_bucketed_join",
    "z2_salted_agg",
    "z3_zorder_scan",
    "z4_salted_join",
    "j6b_asof_forward",
    "l16_repetition_profile",
    "l17_pack_sequences",
    "m9_mkv_frames",
    "m5b_mp3_metadata",
    "pipe1_training_prep",
    "pipe2_llm_corpus",
    "l18_pagerank",
    # round-4 additions
    "l19_blocked_allpairs",
    "l20_fuzzy_decontaminate",
    "w6_sessionize",
    "o9_scd2_history",
    "o10_cdc_apply",
    "o11_per_key_cap",
    "p16_fuzzy_join",
    "s10_binaryfile_scan",
    "x7_stream_stream_join",
    "x10_stream_static_join",
    "pipe3_stream_corpus_ingest",
    # round-5 additions
    "q1_pricing_summary_decimal",
    "j6c_asof_highcard",
    "l3_lsh_knn",
    "m3_frame_sample",
    "l21_bpe_tokenize",
    "o12_epoch_shuffle",
    "o13_source_mix",
    "l22_semantic_dedup",
    "l23_curriculum_sample",
    "w7_streaks",
    "l24_bm25_rank",
    "l25_span_dedup",
    "o14_three_way_split",
    "a13_profile_columns",
    "pipe4_hybrid_retrieval",
    "w8_time_decay_score",
    "m11_image_dhash_dedup",
    "l26_quality_classifier",
    "x11_stream_budget_gate",
    "a14_rolling_hll_rollup",
    "s12_python_datasource",
    "s13_datasource_roundtrip",
    "x12_datasource_stream",
    "w9_ohlc_downsample",
    "o15_k_anonymity",
    "w10_max_drawdown",
    "o16_snapshot_diff",
    "l27_frequency_spectrum",
    "a15_grouping_sets",
    "l28_containment_pairs",
    "w11_ewma_daily",
    "l29_inverted_index",
    "j8_interval_join",
    "w12_rolling_zscore",
    "u7_iterator_model_score",
    "s14_dynamic_partition_overwrite",
    "m12_scene_cut",
    "pipe5_market_surveillance",
    "w11b_ewma_unbounded",
    "w13_compound_balance",
    "o18_weighted_sample",
    "f1_rebalance_drift",
    "f2_fifo_realized_gains",
    # round-7 additions
    "a7_percentiles",
    "a16_event_value_percentiles",
    "l30_chain_components",
    # round-8 additions
    "m13_spectral_peak",
    "a17_funnel_conversion",
    "a18_event_correlation",
    "p16b_er_clusters",
    "l31_triangle_count",
    "w15_interval_coverage",
    "x13_stream_semi_join",
    "a19_kmv_intersection",
    "a20_cuped_metric",
    "x6b_builtin_running_totals",
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
    "x14_datasource_stream_parallel",
    "l37_edit_distance_join",
    "a26_retention_cohorts",
    "w18_autocorrelation",
    "a27_basket_affinity",
    "j9_band_count",
    "a28_welch_ttest",
    "w19_seasonal_profile",
    "m14_rms_loudness",
    "l38_sorted_neighborhood",
    "a29_decile_stats",
    "w20_cusum_drift",
    "pipe7_master_data_dedup",
    "w21_rolling_median",
    "a30_constrained_funnel",
    "w22_seasonal_anomaly",
    "m15_image_histogram",
    "f4_portfolio_concentration",
    "a31_cohort_ltv",
    "w23_day_coverage",
    "a32_path_trigrams",
    "l39_char_entropy",
    "j11_nearest_below_join",
    "a33_gini_coefficient",
    "m16_silence_bounds",
    "l40_duplication_by_source",
    # round-9 additions
    "x15_stream_outer_interval_join",
    "x16_stream_full_outer_interval_join",
    "a14b_rolling_kmv_rollup",
    "a35_poisson_bootstrap_ci",
    "a36_embedding_covariance",
    # round-10 additions
    "a37_ks_test",
    "a38_mann_whitney_u",
    "a39_benford_audit",
    "a40_psi_drift",
    "w24_stl_decompose",
    "w26_changepoint",
    "w27_ar1_fit",
    "w14b_holt_exact",
    "l41_url_canonical_dedup",
    "l45_pq_ann_topk",
    "l45b_pq_rerank_topk",
    "x17_transform_with_state_top2",
    "pipe8_crawl_curation",
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
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    # 150+ distinct queries generate 150+ whole-stage-codegen classes;
    # the JVM's default 240 MB reserved code cache fills mid-suite, the
    # JIT stops compiling, and everything after runs slower (measured:
    # the q1 probe drifted 1.19 -> 1.55 s start-to-end once the suite
    # passed ~150 queries; spread 6% at 131 queries, 30% at 156).
    # A bigger code cache is the correct fix for a long-lived session
    # running a wide query catalog — same knob a production driver
    # would set. SPARK_GRAFT_CODE_CACHE=default skips the override so
    # the exhaustion effect itself is reproducible from artifacts.
    code_cache = os.environ.get("SPARK_GRAFT_CODE_CACHE", "768m")
    extra_conf = {}
    if code_cache != "default":
        extra_conf["spark.driver.extraJavaOptions"] = (
            f"-XX:ReservedCodeCacheSize={code_cache}"
        )
    spark = get_session("finporter-bench", extra_conf=extra_conf)
    qs = catalog_queries()
    timings: dict[str, float] = {}

    # one warm-up pass on a cheap query to absorb JVM/codegen warmup
    qs["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # ingest-time staging (not query time): the IVF coarse quantizer is
    # dataset state — trained once, persisted, reused by every l3_ivf
    # query (similarity.load_or_train_centroids_det since round 9).
    from finporter_spark.operators.similarity import (
        load_or_train_centroids_det,
    )
    from finporter_spark.queries.catalog import _t
    from finporter_spark.queries.staging import io_dir as _io_dir

    load_or_train_centroids_det(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        dim=64, n_centroids=16, iters=3,
        cache_path=_io_dir(sf_dir, "l3_ivf_centroids_det_k16_d64_i3"),
    )

    # Pre-stage queries whose first run writes a one-off input layout
    # (partitioned/bucketed tables, CSV stream backlogs). The staged
    # layout is dataset state — an ingest cost paid once per dataset —
    # so the timed loop below measures the steady-state plan, not a
    # restage triggered by regenerated testdata mtimes. One untimed
    # execution triggers each query's fingerprint-guarded stage path.
    STAGED = [
        "s8_partitioned_prune",
        "z1_bucketed_join",
        "z3_zorder_scan",
        "x2_tumbling_window",
        "x3_session_window",
        "l2_minhash_near_dup",
        "m9_mkv_frames",
        "m5b_mp3_metadata",
        "m3_frame_sample",
        "l21_bpe_tokenize",
        "l20_fuzzy_decontaminate",
        "s10_binaryfile_scan",
        "x7_stream_stream_join",
        "x10_stream_static_join",
        "x11_stream_budget_gate",
        "m11_image_dhash_dedup",
        "s12_python_datasource",
        "s14_dynamic_partition_overwrite",
        "m12_scene_cut",
        "s13_datasource_roundtrip",
        "l28_containment_pairs",
        "x13_stream_semi_join",
        "x14_datasource_stream_parallel",
        # round-10: codebook training + staged stream drop are
        # dataset-state (ingest-time), not query time
        "l45_pq_ann_topk",
        "x17_transform_with_state_top2",
        "x18_stream_psi_monitor",
        # round-12: structured corpus + quantizer/codebook/codes
        # staging is ingest-time dataset state
        "l46_ivfadc_structured",
        "l46b_ivfadc_residual",
        "l46c_ivfadc_m8",
        "s17_variant_roundtrip",
        "x20_stream_ann_ingest",
        # round-13: zipf corpus + quantizer/books/codes staging is
        # ingest-time dataset state
        "l47_ivfadc_zipf",
        "x21_stream_minhash_dedup",
        "pipe9_stream_ingest_curation",
        "l49_ivfadc_auto",
        "x22_stream_cdc_upsert",
        "pipe9b_stream_curation_quality",
    ]
    for name in STAGED:
        if name in HEADLINE:
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()

    def run_once(name: str) -> float:
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.time() - t0
        # release driver-side DataFrame refs promptly: the ladder ops
        # (global_rank / global_order_ffill / graph rounds) pin eager
        # localCheckpoint blocks until Python GC drops the frames, and
        # retained blocks evict the block cache under later queries
        # (measured as end-probe drift once the suite passed ~150
        # queries). GC runs OUTSIDE the timed span.
        import gc

        gc.collect()
        return dt

    # Each query is timed REPS times and the MINIMUM is reported: in a
    # shared JVM the 102-query catalog evicts block-cache/codegen state
    # between queries, so a single timing mixes plan cost with whatever
    # the previous queries evicted (the round-6 q1/l25 ±0.4 s phantom
    # regressions). The min of two back-to-back runs reloads any
    # evicted state on run 1 and measures the steady-state plan on run
    # 2 — round-over-round deltas then reflect plan changes, not cache
    # residency. A q1 probe at suite start/middle/end reports the
    # remaining noise floor.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    probe = "q1_pricing_summary"

    # per-query rep times are RECORDED, not just min-reduced: a
    # round-over-round comparer needs each query's own noise band to
    # tell a plan regression from cache-residency jitter (the r11
    # verdict's "177 queries moved 1.09x" unreadability)
    rep_times: dict[str, list[float]] = {}

    def measure(name: str) -> float:
        runs = [run_once(name) for _ in range(reps)]
        rep_times[name] = [round(r, 3) for r in runs]
        return min(runs)

    # the staging block above just evicted the scan/codegen state the
    # warm-up pass established — re-warm once untimed so the first
    # probe measures the same steady state as the mid/end probes
    run_once(probe)

    # the probe takes EXTRA reps (its own knob, default 4): the probe's
    # min estimator must be tighter than the per-query one, or the
    # reported "noise floor" mostly measures the probe's own sampling
    # error (round-7 spread was 16.7% with probe reps = query reps = 2;
    # the probe min-of-4 landed it under the 10% target)
    probe_reps = max(
        reps, int(os.environ.get("SPARK_GRAFT_BENCH_PROBE_REPS", "4"))
    )

    def measure_probe() -> float:
        return min(run_once(probe) for _ in range(probe_reps))

    def _load_stamp() -> dict:
        # 1/5/15-min load + runnable/total process counts: the
        # environment fingerprint that lets a cross-run comparer
        # separate code changes from machine load (round-12 verdict:
        # same-code runs disagreed 1.09x median / 3-5x per-query with
        # no recorded way to tell which cause moved a query)
        try:
            with open("/proc/loadavg") as fh:
                f = fh.read().split()
            running, total_p = f[3].split("/")
            return {
                "load1": float(f[0]),
                "load5": float(f[1]),
                "load15": float(f[2]),
                "runnable": int(running),
                "procs": int(total_p),
            }
        except Exception:
            return {}

    # PROBE LADDER: the probe is interleaved every LADDER_EVERY
    # queries (not just start/mid/end) and each rung carries a load
    # stamp — per-query times can then be normalized post-hoc against
    # the nearest rung, and a rung that moved WITH the load stamps is
    # environment, one that moved without them is code
    ladder_every = max(
        1, int(os.environ.get("SPARK_GRAFT_BENCH_LADDER_EVERY", "20"))
    )

    def rung(after: int) -> dict:
        return {
            "after": after,
            "t": round(measure_probe(), 3),
            **_load_stamp(),
        }

    probe_ladder = [rung(0)]
    total = 0.0
    for i, name in enumerate(HEADLINE):
        dt = measure(name)
        timings[name] = round(dt, 3)
        total += dt
        if (i + 1) % ladder_every == 0 and i + 1 < len(HEADLINE):
            probe_ladder.append(rung(i + 1))
    probe_ladder.append(rung(len(HEADLINE)))
    probe_runs = [r["t"] for r in probe_ladder]

    # ACT on the ladder (round-13 verdict #3: the r13 ladder diagnosed
    # probe spread 155% under machine load and the bench shipped the
    # contaminated numbers anyway). Any rung whose probe exceeds
    # HOT_FACTOR x the run's quiet floor marks the query span between
    # its neighboring rungs as load-contaminated; those queries get ONE
    # extra min-merged rep after the suite (by then the transient load
    # has usually passed — and if it hasn't, the post-rerun probe
    # recorded below says so). Off via SPARK_GRAFT_BENCH_RERUN_HOT=0.
    hot_factor = float(
        os.environ.get("SPARK_GRAFT_BENCH_HOT_FACTOR", "1.5")
    )
    rerun_hot = os.environ.get("SPARK_GRAFT_BENCH_RERUN_HOT", "1") != "0"
    quiet = min(probe_runs)
    hot_spans: list[tuple[int, int]] = []
    for j, r in enumerate(probe_ladder):
        if r["t"] > hot_factor * quiet:
            lo = probe_ladder[j - 1]["after"] if j > 0 else 0
            hi = r["after"] if j < len(probe_ladder) - 1 else len(HEADLINE)
            hot_spans.append((lo, hi))
    reran: list[str] = []
    post_rerun_probe = None
    if rerun_hot and hot_spans:
        for lo, hi in hot_spans:
            for name in HEADLINE[lo:hi]:
                if name in reran:
                    continue
                dt = run_once(name)
                rep_times[name].append(round(dt, 3))
                if dt < timings[name]:
                    total += dt - timings[name]
                    timings[name] = round(dt, 3)
                reran.append(name)
        post_rerun_probe = round(measure_probe(), 3)
    spread_pct = round(
        100.0 * (max(probe_runs) - min(probe_runs)) / min(probe_runs), 1
    )

    # LOAD-NORMALIZED per-query times (round-15, additions-only — the
    # round-14 verdict #5: the ladder + load stamps existed but nothing
    # consumed them). Each query's raw wall divides by its NEAREST
    # rung's probe ratio against the run's quiet floor, so a cross-run
    # comparer can diff `queries_norm` instead of raw walls from
    # 56-155%-spread windows. Queries re-measured by the hot-rung rerun
    # carry a post-load min already; their rung ratio then
    # over-corrects slightly toward faster — the comparer should treat
    # norm values as load-adjusted estimates, raw values as ground
    # truth.
    def _nearest_rung_ratio(pos: int) -> float:
        best = min(probe_ladder, key=lambda r: abs(r["after"] - pos))
        return (best["t"] / quiet) if quiet > 0 else 1.0

    timings_norm = {
        name: round(timings[name] / _nearest_rung_ratio(i + 1), 3)
        for i, name in enumerate(HEADLINE)
        if name in timings
    }

    vals = sorted(timings.values())
    n = len(vals)
    median = vals[n // 2] if n % 2 else (vals[n // 2 - 1] + vals[n // 2]) / 2
    p90 = vals[min(n - 1, int(0.9 * n))]
    # the full ladder (with load stamps) goes in the committed artifact;
    # stdout keeps the compact summary (log capture clips long lines).
    # NOTE: spread_pct is max-vs-min over ALL ladder rungs (~12), not
    # the pre-round-13 3-point probe — "rungs" records the sample count
    # so cross-round comparers don't mix the two definitions (more
    # samples catch wider extremes by construction).
    noise = {
        "probe": probe,
        "runs": probe_runs,
        "spread_pct": spread_pct,
        "rungs": len(probe_runs),
        "hot_rungs": len(hot_spans),
        "reran_queries": len(reran),
    }
    noise_full = {
        **noise,
        "ladder": probe_ladder,
        "ladder_every": ladder_every,
        "hot_factor": hot_factor,
        "reran": reran,
        "post_rerun_probe": post_rerun_probe,
    }

    # full per-query map -> committed artifact (too big for one stdout
    # line — log capture clips it)
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            f"BENCH_FULL_r16_c{spark.sparkContext.defaultParallelism}.json",
        ),
    )
    with open(full_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_suite_wall_seconds",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "queries_norm": timings_norm,
                "norm_quiet_probe_s": round(quiet, 3),
                "query_reps": rep_times,
                "sf": sf,
                "reps": reps,
                "code_cache": code_cache,
                "noise": noise_full,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")

    top_n = int(os.environ.get("SPARK_GRAFT_BENCH_TOP_N", "12"))
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:top_n]
    )
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_seconds",
                "value": round(total, 3),
                "unit": "sec",
                "queries": slowest,
                "sf": sf,
                "reps": reps,
                "stats": {
                    "n": n,
                    "median_s": round(median, 3),
                    "p90_s": round(p90, 3),
                    "code_cache": code_cache,
                },
                "noise": noise,
                "full_map": full_path,
            }
        )
    )


if __name__ == "__main__":
    main()
