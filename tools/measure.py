"""One per-query measurement loop, shared by bench.py and the tools.

``session`` starts the measuring session and warms it up;
``measure_query`` times one query into the ``noop`` sink (the full plan
runs, nothing is collected to the driver) and counts the Spark jobs and
stages each run launched, the generated classes it compiled and the
dataset state it rebuilt.
"""

from __future__ import annotations

import gc
import logging
import time
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from finporter_spark.queries.catalog import catalog_queries
from finporter_spark.session import get_session

# The JVM's code cache holds JIT-compiled machine code. A wide catalog
# generates one whole-stage-codegen class per distinct plan, and the JIT
# compiles the hot ones. Past ~150 queries the default 240 MB code cache
# fills, the JIT stops compiling, and everything after runs slower
# (measured: the q1 probe drifted 1.19 -> 1.55 s over a 156-query suite,
# a 30% spread). Spark's cache of the generated classes themselves is a
# different cache, sized in ``get_session``
# (``spark.sql.codegen.cache.maxEntries``).
CODE_CACHE = "768m"
WARMUP = "q1_pricing_summary"


class Rep(NamedTuple):
    """One timed run: wall seconds, jobs under the query's job tag, the
    stage ids those jobs list, the distinct stages that ran tasks, the
    generated classes Janino compiled (Spark's codegen class cache
    missed), and the staged drops and dataset-state caches rebuilt."""

    wall: float
    jobs: int
    stages: int
    executed: int
    compiles: int
    rebuilds: int


class RebuildCounter(logging.Handler):
    """Counts the ``staging rebuild`` records that
    ``caching.load_or_build`` logs while the ``with`` block runs
    (``count``). The ``finporter_spark`` logger is set to INFO for the
    block, so the records are emitted even where logging is not
    configured; its level is restored on exit."""

    _log = logging.getLogger("finporter_spark")

    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.count = 0

    def emit(self, record: logging.LogRecord) -> None:
        if record.getMessage().startswith("staging rebuild"):
            self.count += 1

    def __enter__(self) -> "RebuildCounter":
        self._level = self._log.level
        if not self._log.isEnabledFor(logging.INFO):
            self._log.setLevel(logging.INFO)
        self._log.addHandler(self)
        return self

    def __exit__(self, *exc) -> None:
        self._log.removeHandler(self)
        self._log.setLevel(self._level)


def compile_count(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far: the event count
    of Spark's ``CodegenMetrics`` compilation-time histogram, which
    ``CodeGenerator`` updates on every codegen class-cache miss. The
    counter is JVM-wide, so a delta over a run counts that run only
    while nothing else runs in the JVM."""
    return (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )


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
    is timed and executes under the Spark job group ``name`` (for the
    UI) and the job tag ``name`` (for the counts). A streaming query's
    micro-batch thread replaces the job group with the stream's run
    id but inherits the tag, so its jobs are counted too.
    ``gc.collect()`` runs after each run, outside the timed span: the
    iterative operators pin eager ``localCheckpoint`` blocks until
    Python drops their frames, and retained blocks evict the block
    cache under later queries.

    ``stages`` sums the stage ids each job lists, so a stage that a
    later job skips (its shuffle output is reused) counts once per job
    that lists it; ``executed`` counts the distinct stages that
    completed tasks, which is the work that actually ran. ``compiles``
    is the :func:`compile_count` delta over the run, read outside the
    timed span; a steady-state plan whose classes stay cached reads 0.
    ``rebuilds`` counts the dataset state the run rebuilt
    (:class:`RebuildCounter`); a steady-state run reads 0.
    """
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tagged = sc._jsc.sc().statusTracker().getJobIdsForTag
    out: list[Rep] = []
    for r in range(reps + 1):
        before = set(tagged(name))
        compiled = compile_count(spark)
        sc.setJobGroup(name, name)
        sc.addJobTag(name)
        try:
            with RebuildCounter() as rebuilt:
                t0 = time.time()
                build().write.format("noop").mode("overwrite").save()
                wall = time.time() - t0
        finally:
            sc.removeJobTag(name)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        compiles = compile_count(spark) - compiled
        gc.collect()
        if r == 0:
            continue
        ids = set(tagged(name)) - before
        infos = [tracker.getJobInfo(i) for i in ids]
        stage_ids = [s for i in infos if i is not None for s in i.stageIds]
        stage_infos = [tracker.getStageInfo(s) for s in set(stage_ids)]
        executed = sum(
            1 for si in stage_infos if si and si.numCompletedTasks > 0
        )
        out.append(
            Rep(
                wall, len(ids), len(stage_ids), executed, compiles,
                rebuilt.count,
            )
        )
    return out
