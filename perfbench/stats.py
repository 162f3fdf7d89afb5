"""Metric names, units and the arithmetic that turns timings and spans
into them."""

from __future__ import annotations

import math
import statistics
from typing import Any, NamedTuple

from workloads import FAMILIES

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}
# wall-clock figures of the same passes: reported, but not bounded
PASS_WALLS = {
    "wall_s": "s",
    "rows_per_s": "1/s",
    "latency_p50_s": "s",
}

# leaf span name -> metric of its summed wall
SPAN_WALLS = {
    "sources.read_prefix": "sources.read_prefix_s",
    "importers.prospect": "importers.prospect_s",
    "importers.decode": "importers.decode_s",
    "encoder.export": "encoder.export_s",
    "caching.release": "caching.release_s",
    "handlers.detect": "handlers.detect_s",
    "handlers.transform": "handlers.transform_s",
    "queries.build": "queries.build_s",
    "spark.plan": "spark.plan_s",
}
# leaf span name -> metric of the Spark jobs it ran
SPAN_JOBS = {
    "importers.decode": "importers.decode_jobs",
    "encoder.export": "encoder.export_jobs",
    "queries.build": "queries.build_jobs",
}
# spans whose action writes the result: the ingest export, the catalog sink
SINK_SPANS = ("encoder.export", "spark.sink")
# span counter -> metric of its total over the pass
SPARK_TOTALS = {
    "jobs": ("spark.jobs", "count"),
    "stages": ("spark.stages", "count"),
    "tasks": ("spark.tasks", "count"),
    "run_s": ("spark.task_run_s", "s"),
    "cpu_s": ("spark.task_cpu_s", "s"),
    "gc_s": ("spark.gc_s", "s"),
    "shuffle_read_mb": ("spark.shuffle_read_mb", "MB"),
    "shuffle_write_mb": ("spark.shuffle_write_mb", "MB"),
    "spill_mb": ("spark.spill_mb", "MB"),
    "input_mb": ("spark.input_mb", "MB"),
    "output_mb": ("spark.output_mb", "MB"),
    "batches": ("streaming.batches", "count"),
    "batch_s": ("streaming.batch_s", "s"),
    "commit_s": ("streaming.commit_s", "s"),
}

PER_LAYER: dict[str, str] = {
    **{f"pass.{m}": u for m, u in PASS_WALLS.items()},
    "session.start_s": "s",
    "session.setup_wall_s": "s",
    "session.peak_rss_mb": "MB",
    **{m: "s" for m in SPAN_WALLS.values()},
    **{m: "count" for m in SPAN_JOBS.values()},
    "spark.sink_s": "s",
    **dict(SPARK_TOTALS.values()),
    "spark.busy_ratio": "ratio",
    **{
        f"queries.{f}.{m}": u
        for f in FAMILIES
        for m, u in (("wall_s", "s"), ("build_s", "s"), ("build_jobs", "count"))
    },
    **{f"spark.{f}.jobs": "count" for f in FAMILIES},
    "caching.live_caches": "count",
    "queries.staging_rebuilds": "count",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def tail_percentile(samples, q: float = 0.9, beyond: int = 10):
    """Nearest-rank ``q`` percentile, or None unless at least ``beyond``
    samples lie above it."""
    n = len(samples)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < beyond:
        return None
    return sorted(samples)[rank - 1]


class Sample(NamedTuple):
    """One timed call: its wall seconds, and the CPU seconds this process
    and every process under it spent meanwhile."""

    op: Any
    wall: float
    cpu: float


def pass_walls(passes) -> list[float]:
    return [sum(s.wall for s in p) for p in passes]


def best(passes, field: str = "wall") -> list[float]:
    """Each operation's least wall (or CPU) seconds over the passes."""
    return [min(v) for v in op_samples(passes, field).values()]


def end_to_end(passes, rows_per_pass: int) -> dict[str, float]:
    """Each operation's least cost over the timed passes stands for it.
    ``cpu_s`` is the CPU cost of one pass; the wall figures are the pass
    wall and the median latency of an operation."""
    lat = best(passes)
    wall = sum(lat)
    return {
        "cpu_s": sum(best(passes, "cpu")),
        "wall_s": wall,
        "rows_per_s": rows_per_pass / wall,
        "latency_p50_s": statistics.median(lat),
    }


def op_samples(passes, field: str = "wall") -> dict[str, list[float]]:
    """Wall (or CPU) seconds per operation name, in pass order."""
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for s in p:
            by_op.setdefault(s.op.name, []).append(getattr(s, field))
    return by_op


def latency_summary(passes) -> dict:
    lat = [s.wall for p in passes for s in p]
    return {
        "samples": len(lat),
        "passes": len(passes),
        "p50_s": statistics.median(lat),
        "p90_s": tail_percentile(lat),
    }


def per_layer(spans, ops_per_pass: int, untraced, traced, cores: int) -> dict[str, float]:
    """Per-layer metrics: each is summed over one traced pass, and the
    median over passes is reported. Family walls are sums of best
    latencies over the untraced passes; the tracing overhead is the traced
    minus the untraced wall, both as sums of best latencies."""
    by_id = {s.id: s for s in spans}

    def root_of(s):
        while s.parent is not None:
            s = by_id[s.parent]
        return s

    roots = [s for s in spans if s.parent is None]
    pass_of = {r.id: k // ops_per_pass for k, r in enumerate(roots)}
    per_pass = [dict.fromkeys(PER_LAYER, 0.0) for _ in traced]
    sink_wall = [0.0] * len(traced)
    sink_run = [0.0] * len(traced)
    for s in spans:
        root = root_of(s)
        m = per_pass[pass_of[root.id]]
        k = pass_of[root.id]
        family = root.attrs.get("family")
        if s is root:
            m["caching.live_caches"] = max(
                m["caching.live_caches"], root.attrs.get("live_caches", 0)
            )
            m["queries.staging_rebuilds"] += root.attrs.get("staging_rebuilds", 0)
            continue
        if s.name in SPAN_WALLS:
            m[SPAN_WALLS[s.name]] += s.wall
        c = s.counts
        if not c:
            continue
        if s.name in SPAN_JOBS:
            m[SPAN_JOBS[s.name]] += c["jobs"]
        for key, (metric, _unit) in SPARK_TOTALS.items():
            m[metric] += c[key]
        if s.name in SINK_SPANS:
            m["spark.sink_s"] += s.wall
            sink_wall[k] += s.wall
            sink_run[k] += c["run_s"]
        if family in FAMILIES:
            m[f"spark.{family}.jobs"] += c["jobs"]
            if s.name == "queries.build":
                m[f"queries.{family}.build_s"] += s.wall
                m[f"queries.{family}.build_jobs"] += c["jobs"]
    for k, m in enumerate(per_pass):
        m["spark.busy_ratio"] = sink_run[k] / (sink_wall[k] * cores) if sink_wall[k] else 0.0
    out = {name: statistics.median(m[name] for m in per_pass) for name in PER_LAYER}
    for f in FAMILIES:
        out[f"queries.{f}.wall_s"] = sum(best(
            [[s for s in p if s.op.family == f] for p in untraced]
        ))
    out["trace.wall_s"] = sum(best(traced))
    out["trace.overhead_s"] = out["trace.wall_s"] - sum(best(untraced))
    return out
