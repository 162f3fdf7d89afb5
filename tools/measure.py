"""One per-query measurement loop, shared by bench.py and the tools.

``session`` starts the measuring session and warms it up;
``measure_query`` times one query into the ``noop`` sink (the full plan
runs, nothing is collected to the driver) and counts the Spark jobs and
stages each run launched.
"""

from __future__ import annotations

import gc
import time
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from finporter_spark.queries.catalog import catalog_queries
from finporter_spark.session import get_session

# A wide catalog generates one whole-stage-codegen class per distinct
# plan. Past ~150 queries the JVM's default 240 MB code cache fills, the
# JIT stops compiling, and everything after runs slower (measured: the
# q1 probe drifted 1.19 -> 1.55 s over a 156-query suite, a 30% spread).
CODE_CACHE = "768m"
WARMUP = "q1_pricing_summary"


class Rep(NamedTuple):
    """One timed run: wall seconds, jobs in the query's job group, the
    stage ids those jobs list, and the distinct stages that ran tasks."""

    wall: float
    jobs: int
    stages: int
    executed: int


def session(app: str, sf_dir: str) -> SparkSession:
    """The measuring session, with its JVM/codegen warm-up already run
    (one untimed q1 at ``sf_dir``)."""
    spark = get_session(
        app,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-XX:ReservedCodeCacheSize={CODE_CACHE}"
        },
    )
    measure_query(
        spark, WARMUP, lambda: catalog_queries()[WARMUP](spark, sf_dir), 0
    )
    return spark


def measure_query(
    spark: SparkSession, name: str, build: Callable[[], DataFrame], reps: int
) -> list[Rep]:
    """Run ``build()`` into the noop sink once untimed, then ``reps``
    timed times; return one :class:`Rep` per timed run.

    The untimed run pays for first compile and for dataset state a
    query stages or caches on first touch (staged layouts, ANN
    quantizers and codes, signatures, buckets), so every timed run
    measures the steady-state plan. Each run, plan building included,
    is timed and executes under the Spark job group ``name``.
    ``gc.collect()`` runs after each run, outside the timed span: the
    iterative operators pin eager ``localCheckpoint`` blocks until
    Python drops their frames, and retained blocks evict the block
    cache under later queries.

    ``stages`` sums the stage ids each job lists, so a stage that a
    later job skips (its shuffle output is reused) counts once per job
    that lists it; ``executed`` counts the distinct stages that
    completed tasks, which is the work that actually ran. Streaming
    queries launch their micro-batch jobs from threads outside the
    group, so their counts miss those jobs.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    out: list[Rep] = []
    for r in range(reps + 1):
        before = set(tracker.getJobIdsForGroup(name))
        sc.setJobGroup(name, name)
        try:
            t0 = time.time()
            build().write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        gc.collect()
        if r == 0:
            continue
        ids = set(tracker.getJobIdsForGroup(name)) - before
        infos = [tracker.getJobInfo(i) for i in ids]
        stage_ids = [s for i in infos if i is not None for s in i.stageIds]
        stage_infos = [tracker.getStageInfo(s) for s in set(stage_ids)]
        executed = sum(
            1 for si in stage_infos if si and si.numCompletedTasks > 0
        )
        out.append(Rep(wall, len(ids), len(stage_ids), executed))
    return out
