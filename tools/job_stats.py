"""Count the Spark jobs (and their stages) a catalog query launches,
plus min-of-N noop-sink wall — deterministic evidence for driver-barrier
optimizations (paired iterative rounds, lazy checkpoints): wall times on
a noisy host move 2-3x, job counts do not.

Usage:
  python tools/job_stats.py l30_chain_components l18_pagerank \
      [--sf SF_DIR] [--reps 2] [--plans-dir plans/after]

``--plans-dir DIR`` also writes each query's ``explain("formatted")``
plan to ``DIR/<query>.txt``; name the directory for the side of a
comparison (``plans/before``, ``plans/after``).

Runs go through ``tools.measure.measure_query``: one untimed warm run,
then ``--reps`` timed runs under the query's job tag. Two stage counts
are printed: ``stages`` sums the stage ids each job lists, so a stage
that a later job skips (its shuffle output is reused) counts once per
job that lists it; ``executed`` counts the distinct stages that
completed tasks, which is the work that actually ran. A streaming
entry's micro-batch jobs carry the tag too, so they are counted.
``compiles`` counts the generated classes a rep compiled; a timed rep
that still compiles generates source that differs from run to run.
``rebuilds`` counts the staged drops and dataset-state caches a rep
rebuilt; after the warm run it should read 0.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from finporter_spark.queries.catalog import catalog_queries
from tools.measure import measure_query, session


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--plans-dir", default=None)
    args = ap.parse_args()

    spark = session("job-stats", args.sf)
    qs = catalog_queries()
    for name in args.queries:
        if name not in qs:
            print(f"!! unknown query {name}")
            continue
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                qs[name](spark, args.sf).explain("formatted")
            p = os.path.join(args.plans_dir, f"{name}.txt")
            with open(p, "w") as fh:
                fh.write(buf.getvalue())
            print(f"plan -> {p}")
        reps = measure_query(
            spark, name, lambda: qs[name](spark, args.sf), args.reps
        )
        last = reps[-1]
        print(
            f"{name}: jobs={last.jobs} stages={last.stages} "
            f"executed={last.executed} "
            f"min={min(r.wall for r in reps):.3f}s runs="
            + ",".join(f"{r.wall:.3f}" for r in reps)
            + f" jobs_per_rep={[r.jobs for r in reps]}"
            + f" stages_per_rep={[r.stages for r in reps]}"
            + f" executed_per_rep={[r.executed for r in reps]}"
            + f" compiles_per_rep={[r.compiles for r in reps]}"
            + f" rebuilds_per_rep={[r.rebuilds for r in reps]}"
        )


if __name__ == "__main__":
    main()
