"""Count the Spark jobs (and their stages) a catalog query launches,
plus min-of-N noop-sink wall — deterministic evidence for driver-barrier
optimizations (paired iterative rounds, lazy checkpoints): wall times on
a noisy host move 2-3x, job counts do not.

Usage:
  python tools/job_stats.py l30_chain_components l18_pagerank \
      [--sf /root/testdata/sf0.1] [--reps 2]

Each run executes under its own job group; job ids are read back from
the status tracker. Two stage counts are printed: ``stages`` sums the
stage ids each job lists, so a stage that a later job skips (its
shuffle output is reused) counts once per job that lists it;
``executed`` counts the distinct stages that completed tasks, which is
the work that actually ran. Streaming entries launch micro-batch jobs from
scheduler threads outside the group — use tools/stream_probe.py for
those instead.
"""

from __future__ import annotations

import argparse
import gc
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from finporter_spark.queries.catalog import catalog_queries
from finporter_spark.session import get_session


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    extra = {
        "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=768m"
    }
    spark = get_session("job-stats", extra_conf=extra)
    sc = spark.sparkContext
    qs = catalog_queries()

    # warm-up (same as bench)
    qs["q1_pricing_summary"](spark, args.sf).write.format("noop").mode(
        "overwrite"
    ).save()

    for name in args.queries:
        if name not in qs:
            print(f"!! unknown query {name}")
            continue
        walls: list[float] = []
        # per-rep counts (not just the last rep's): rep 1 can include
        # extra warm-up/cache jobs, and the deterministic-evidence
        # claim needs the cross-rep variance visible
        jobs_per_rep: list[int] = []
        stages_per_rep: list[int] = []
        executed_per_rep: list[int] = []
        for r in range(args.reps):
            gc.collect()
            group = f"js-{name}-{r}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            qs[name](spark, args.sf).write.format("noop").mode(
                "overwrite"
            ).save()
            walls.append(time.time() - t0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = sc.statusTracker()
            ids = tracker.getJobIdsForGroup(group)
            infos = [tracker.getJobInfo(i) for i in ids]
            jobs_per_rep.append(len(ids))
            stage_ids = [s for i in infos if i is not None for s in i.stageIds]
            stages_per_rep.append(len(stage_ids))
            stage_infos = [tracker.getStageInfo(s) for s in set(stage_ids)]
            executed_per_rep.append(
                sum(1 for si in stage_infos if si and si.numCompletedTasks > 0)
            )
        print(
            f"{name}: jobs={jobs_per_rep[-1]} stages={stages_per_rep[-1]} "
            f"executed={executed_per_rep[-1]} "
            f"min={min(walls):.3f}s runs="
            + ",".join(f"{w:.3f}" for w in walls)
            + f" jobs_per_rep={jobs_per_rep}"
            + f" stages_per_rep={stages_per_rep}"
            + f" executed_per_rep={executed_per_rep}"
        )


if __name__ == "__main__":
    main()
