"""Repository benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest_files --seed 1 --seconds 4 --trace 0

Workloads: ``ingest_files`` and ``catalog_mix`` (see
BENCHMARK.json for why each exists). One client thread drives a closed loop
on ``local[nproc]``. A run:

1. generates its inputs from ``--seed`` (pure Python, untimed);
2. sets up ``SETUP_REPS`` times: start (or restart) the Spark session, stage
   the inputs the program needs, run the first operation once. ``setup_s``
   is the median CPU seconds of these;
3. runs one untimed warm-up pass that checks outputs (the catalog's
   queries are collected and compared with their DuckDB oracles);
4. runs passes over every operation until ``--seconds`` have passed (at
   least one), checking every output. ``cpu_s`` is the CPU seconds of a
   pass, each operation counted at its least over the passes;
5. with ``--trace 1``, interleaves untraced and traced passes (two of
   each, untraced-traced-traced-untraced) and reports per-layer metrics
   instead, plus the tracing overhead;
6. prints one JSON object as the last line of standard output.

Everything it writes goes under ``.perfbench/`` in the working directory:
inputs, outputs, Spark scratch, the stamped result file and the trace.
``--smoke`` is for the benchmark's own tests: one set-up and a drop folder
of two files; the catalog stays at sf0.001.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402
from spans import NullTracer, Tracer  # noqa: E402

SETUP_REPS = 3
WORKLOADS = ("ingest_files", "catalog_mix")
DROP_FILES = 8
CATALOG_SF = 0.001


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


def check_program() -> None:
    """Exit non-zero before any work when the program is not beside us."""
    missing = [
        p for p in ("finporter_spark/__init__.py", "tools/oracle_check.py",
                    "tools/gen_testdata.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        raise SystemExit(2)
    sys.path.insert(0, ROOT)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def steal_ticks() -> int:
    """CPU time stolen by the hypervisor since boot, in clock ticks."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it
    (the driver JVM and its Python workers), reaped children included."""
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        parent[int(pid)] = int(f[1])
        ticks[int(pid)] = sum(int(x) for x in f[11:15])
    tree, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        tree.add(p)
        todo.extend(c for c, pp in parent.items() if pp == p and c not in tree)
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def rss_peak_mb(spark) -> float:
    """Peak RSS of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def make_workload(name, work, seed, smoke):
    import workloads as w

    if name == "ingest_files":
        return w.IngestFiles(work, seed, 2 if smoke else DROP_FILES)
    return w.CatalogMix(work, seed, CATALOG_SF)


def start_session():
    from finporter_spark.session import get_session

    # console progress bars write \r lines into stdout
    return get_session(
        "perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )


class Result:
    """Attempted/failed counts over every checked operation."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def record(self, name: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{name}: {why or 'output check failed'}")


def run_op(op, spark, tracer, result, samples):
    """One operation, timed; its output is checked after the clock stops."""
    c0 = tree_cpu_s()
    with tracer.span("op", op=op.name, family=op.family):
        t0 = time.perf_counter()
        try:
            out, err = op.run(spark, tracer), None
        except Exception as e:  # a failed operation is counted, not fatal
            out, err = None, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        if tracer.enabled:
            tracer.annotate(
                "live_caches", len(spark.sparkContext._jsc.getPersistentRDDs())
            )
    samples.append(stats.Sample(op, dt, tree_cpu_s() - c0))
    if err is not None:
        result.record(op.name, False, err)
        return
    try:
        result.record(op.name, bool(op.check(out)))
    except Exception as e:
        result.record(op.name, False, f"check raised {type(e).__name__}: {e}")


def timed_passes(ops, spark, tracers, seconds, result, min_passes):
    """Closed loop of passes over the operations until ``seconds`` have
    passed and every tracer has run at least ``min_passes`` passes. Two
    tracers take turns in the order A B B A, so that neither gets the
    warmer passes. Returns the passes of each tracer."""
    order = [0] if len(tracers) == 1 else [0, 1, 1, 0]
    runs = [[] for _ in tracers]
    t_end = time.perf_counter() + seconds
    k = 0
    while k % len(order) or len(runs[-1]) < min_passes or time.perf_counter() < t_end:
        i = order[k % len(order)]
        samples = []
        for op in ops:
            run_op(op, spark, tracers[i], result, samples)
        runs[i].append(samples)
        k += 1
    return runs


def main(argv=None) -> int:
    args = parse_args(argv)
    check_program()

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 1
    tag = f"{args.workload}_c{cores}_seed{args.seed}_trace{args.trace}"
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    # keep Spark and Python scratch inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher too: no hsperfdata, scratch here
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cores": cores, "loadavg_before": loadavg(),
    }
    steal0 = steal_ticks()
    wl = make_workload(args.workload, work, args.seed, args.smoke)
    stamp.update({k: getattr(wl, k) for k in ("n_files", "sf") if hasattr(wl, k)})
    result = Result()
    off = NullTracer()

    t0 = time.perf_counter()
    wl.generate()
    stamp["gen_s"] = time.perf_counter() - t0

    spark = None
    setup_s, setup_cpu_s, start_s = [], [], []
    try:
        for _ in range(1 if args.smoke else SETUP_REPS):
            if spark is not None:
                spark.stop()
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            spark = start_session()
            start_s.append(time.perf_counter() - t0)
            wl.stage(spark)
            ops = wl.ops()
            run_op(ops[0], spark, off, result, [])
            setup_s.append(time.perf_counter() - t0)
            setup_cpu_s.append(tree_cpu_s() - c0)
        stamp["setup_reps_s"] = setup_s
        stamp["setup_cpu_s"] = setup_cpu_s

        # one untimed warm-up pass that also checks outputs: the catalog
        # collects every query and compares it with its DuckDB oracle; the
        # ingest operations check their own outputs on every call
        t0 = time.perf_counter()
        checks = wl.oracle_checks(spark)
        if checks is None:
            for op in ops:
                run_op(op, spark, off, result, [])
        for name, ok in (checks or {}).items():
            result.record(f"oracle:{name}", ok, "differs from its DuckDB oracle")
        stamp["warmup_s"] = time.perf_counter() - t0

        # traced runs interleave untraced and traced passes, so both see
        # the same JIT warmth and the overhead compares like with like
        tracers = [off, Tracer(spark)] if args.trace else [off]
        min_passes = 2 if args.trace else 1
        steal_t0 = steal_ticks()
        passes, *traced = timed_passes(
            ops, spark, tracers, args.seconds, result, min_passes
        )
        stamp["timed_steal_ticks"] = steal_ticks() - steal_t0
        stamp["pass_wall_s"] = stats.pass_walls(passes)
        stamp["pass_cpu_s"] = [sum(s.cpu for s in p) for p in passes]
        e2e = stats.end_to_end(passes, wl.rows_per_pass)
        e2e["setup_s"] = statistics.median(setup_cpu_s)
        stamp["latency"] = stats.latency_summary(passes)
        stamp["op_samples_s"] = stats.op_samples(passes)
        stamp["op_cpu_s"] = stats.op_samples(passes, "cpu")

        if args.trace:
            tracer = tracers[1]
            layers = stats.per_layer(tracer.spans, len(ops), passes, traced[0], cores)
            layers.update({f"pass.{k}": e2e[k] for k in stats.PASS_WALLS})
            layers["session.start_s"] = statistics.median(start_s)
            layers["session.setup_wall_s"] = statistics.median(setup_s)
            layers["session.peak_rss_mb"] = rss_peak_mb(spark)
            trace_path = os.path.join(base, "results", f"trace_{tag}.json")
            stamp["trace_file"] = os.path.relpath(trace_path)
            stamp["self_time_gap_s"] = tracer.write(trace_path, {"stamp": stamp})

        stamp["peak_rss_mb"] = rss_peak_mb(spark)
    finally:
        t0 = time.perf_counter()
        stop(spark)
        stamp["stop_s"] = time.perf_counter() - t0

    if args.trace:
        out = {k: {"value": layers[k], "unit": u} for k, u in stats.PER_LAYER.items()}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in stats.END_TO_END.items()}
    stamp["loadavg_after"] = loadavg()
    stamp["steal_ticks"] = steal_ticks() - steal0
    stamp["end_to_end"] = e2e
    stamp["failed_ratio"] = len(result.failures) / result.attempted
    stamp["failures"] = result.failures[:20]
    with open(os.path.join(base, "results", f"{tag}.json"), "w") as fh:
        json.dump({"stamp": stamp, "metrics": out}, fh, indent=1)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": not result.failures,
        "attempted": result.attempted,
        "failed": len(result.failures),
        "metrics": out,
    }))
    return 0


def stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    if spark is None:
        return
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    raise SystemExit(main())
