"""Benchmark: every registered catalog query at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE COMPACT JSON line:
{"metric": ..., "value": secs, "unit": "sec", "queries": {...}, "sf": ...,
 "stats": {"n": ..., "median_s": ..., "p90_s": ...}, "full_map": path}

The timed set is the whole registry in registry order, minus the
aliases (``catalog.ALIASES``), which run a survivor's code. Each query
goes through ``tools.measure.measure_query``: one untimed warm run, then
REPS timed runs into the ``noop`` sink (the full plan runs, nothing is
collected to the driver), each under a Spark job group named for the
query. A query's time is the minimum of its runs.

The stdout line is deliberately small: a per-query map ~300 entries
long makes the line long enough that log-capture pipelines clip it
mid-JSON (round-8's committed artifact had "parsed": null for exactly
this reason). So "queries" on stdout carries only the TOP_N slowest
queries; the COMPLETE per-query map (walls, jobs, executed stages and
compiled classes of every rep, load-normalized times, the probe ladder)
is written to $SPARK_GRAFT_BENCH_FULL (default
BENCH_FULL_r16_c<cores>.json next to this file, <cores> being the
session's local core count).
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from finporter_spark.queries.catalog import ALIASES, catalog_queries
from tools.measure import CODE_CACHE, measure_query, session

# min-of-3 per query: two runs disagreed 17% on the median in round 10,
# and cross-run variance exceeded round-over-round deltas
REPS = 3
# the probe's min estimator must be tighter than the per-query one, or
# the reported noise floor mostly measures the probe's own sampling
# error (round-7 spread was 16.7% at probe reps = query reps = 2)
PROBE_REPS = 4
PROBE = "q1_pricing_summary"
LADDER_EVERY = 20
HOT_FACTOR = 1.5
TOP_N = 12


def timed_queries() -> list[str]:
    """The queries bench.py times: the registry, in registry order,
    without the aliases."""
    return [name for name in catalog_queries() if name not in ALIASES]


def _load_stamp() -> dict:
    # 1/5/15-min load + runnable/total process counts: the environment
    # fingerprint that lets a cross-run comparer separate code changes
    # from machine load (round-12: same-code runs disagreed 1.09x median
    # / 3-5x per-query with no recorded way to tell which cause moved a
    # query)
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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = session("finporter-bench", sf_dir)
    qs = catalog_queries()
    names = timed_queries()

    def measure(name: str, reps: int):
        return measure_query(spark, name, lambda: qs[name](spark, sf_dir), reps)

    timings: dict[str, float] = {}
    # every rep is RECORDED, not just min-reduced: a comparer needs each
    # query's own noise band to tell a plan regression from
    # cache-residency jitter; jobs, executed stages and compiled classes
    # are the part of a rep that machine noise does not move
    rep_times: dict[str, list[float]] = {}
    rep_jobs: dict[str, list[int]] = {}
    rep_executed: dict[str, list[int]] = {}
    rep_compiles: dict[str, list[int]] = {}

    def record(name: str, reps) -> float:
        rep_times.setdefault(name, []).extend(round(r.wall, 3) for r in reps)
        rep_jobs.setdefault(name, []).extend(r.jobs for r in reps)
        rep_executed.setdefault(name, []).extend(r.executed for r in reps)
        rep_compiles.setdefault(name, []).extend(r.compiles for r in reps)
        return min(r.wall for r in reps)

    # PROBE LADDER: the probe is interleaved every LADDER_EVERY queries
    # and each rung carries a load stamp, so per-query times can be
    # normalized post-hoc against the nearest rung; a rung that moved
    # WITH the load stamps is environment, one that moved without them
    # is code
    def rung(after: int) -> dict:
        t = min(r.wall for r in measure(PROBE, PROBE_REPS))
        return {"after": after, "t": round(t, 3), **_load_stamp()}

    probe_ladder = [rung(0)]
    total = 0.0
    for i, name in enumerate(names):
        dt = record(name, measure(name, REPS))
        timings[name] = round(dt, 3)
        total += dt
        if (i + 1) % LADDER_EVERY == 0 and i + 1 < len(names):
            probe_ladder.append(rung(i + 1))
    probe_ladder.append(rung(len(names)))
    probe_runs = [r["t"] for r in probe_ladder]

    # ACT on the ladder (round-13: the ladder diagnosed probe spread
    # 155% under machine load and the bench shipped the contaminated
    # numbers anyway). Any rung whose probe exceeds HOT_FACTOR x the
    # run's quiet floor marks the query span between its neighboring
    # rungs as load-contaminated; those queries get ONE extra
    # min-merged rep after the suite (by then the transient load has
    # usually passed — and if it hasn't, the post-rerun probe says so).
    quiet = min(probe_runs)
    hot_spans: list[tuple[int, int]] = []
    for j, r in enumerate(probe_ladder):
        if r["t"] > HOT_FACTOR * quiet:
            lo = probe_ladder[j - 1]["after"] if j > 0 else 0
            hi = r["after"] if j < len(probe_ladder) - 1 else len(names)
            hot_spans.append((lo, hi))
    reran: list[str] = []
    post_rerun_probe = None
    if hot_spans:
        for lo, hi in hot_spans:
            for name in names[lo:hi]:
                if name in reran:
                    continue
                dt = record(name, measure(name, 1))
                if dt < timings[name]:
                    total += dt - timings[name]
                    timings[name] = round(dt, 3)
                reran.append(name)
        post_rerun_probe = round(
            min(r.wall for r in measure(PROBE, PROBE_REPS)), 3
        )
    spread_pct = round(
        100.0 * (max(probe_runs) - min(probe_runs)) / min(probe_runs), 1
    )

    # LOAD-NORMALIZED per-query times: each query's raw wall divides by
    # its NEAREST rung's probe ratio against the run's quiet floor, so a
    # cross-run comparer can diff `queries_norm` instead of raw walls
    # from high-spread windows. Queries re-measured by the hot-rung
    # rerun carry a post-load min already; their rung ratio then
    # over-corrects slightly toward faster — treat norm values as
    # load-adjusted estimates, raw values as ground truth.
    def _nearest_rung_ratio(pos: int) -> float:
        best = min(probe_ladder, key=lambda r: abs(r["after"] - pos))
        return (best["t"] / quiet) if quiet > 0 else 1.0

    timings_norm = {
        name: round(timings[name] / _nearest_rung_ratio(i + 1), 3)
        for i, name in enumerate(names)
    }

    vals = sorted(timings.values())
    n = len(vals)
    median = vals[n // 2] if n % 2 else (vals[n // 2 - 1] + vals[n // 2]) / 2
    p90 = vals[min(n - 1, int(0.9 * n))]
    # spread_pct is max-vs-min over ALL ladder rungs; "rungs" records the
    # sample count so comparers don't mix it with the pre-round-13
    # 3-point probe (more samples catch wider extremes by construction)
    noise = {
        "probe": PROBE,
        "runs": probe_runs,
        "spread_pct": spread_pct,
        "rungs": len(probe_runs),
        "hot_rungs": len(hot_spans),
        "reran_queries": len(reran),
    }
    noise_full = {
        **noise,
        "ladder": probe_ladder,
        "ladder_every": LADDER_EVERY,
        "hot_factor": HOT_FACTOR,
        "reran": reran,
        "post_rerun_probe": post_rerun_probe,
    }

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
                "query_jobs": rep_jobs,
                "query_executed": rep_executed,
                "query_compiles": rep_compiles,
                "sf": sf,
                "reps": REPS,
                "code_cache": CODE_CACHE,
                "noise": noise_full,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")

    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:TOP_N])
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_seconds",
                "value": round(total, 3),
                "unit": "sec",
                "queries": slowest,
                "sf": sf,
                "reps": REPS,
                "stats": {
                    "n": n,
                    "median_s": round(median, 3),
                    "p90_s": round(p90, 3),
                    "code_cache": CODE_CACHE,
                },
                "noise": noise,
                "full_map": full_path,
            }
        )
    )


if __name__ == "__main__":
    main()
