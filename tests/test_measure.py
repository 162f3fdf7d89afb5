"""The shared measurement loop: warm run, timed reps, job and compile
counts."""

from __future__ import annotations

import logging
import os

from pyspark.sql import functions as F

from finporter_spark.queries import staging
from finporter_spark.queries.catalog import catalog_queries
from tools.measure import RebuildCounter, measure_query


def test_measure_query_counts_jobs_per_rep_in_the_query_group(spark, sf_dir):
    q1 = catalog_queries()["q1_pricing_summary"]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup("q1_pricing_summary"))
    reps = measure_query(
        spark, "q1_pricing_summary", lambda: q1(spark, sf_dir), 2
    )
    assert len(reps) == 2
    for r in reps:
        assert r.wall > 0
        assert r.jobs >= 1
        assert r.executed <= r.stages
        # the warm run compiled q1's classes; the timed reps reuse them
        assert r.compiles == 0
    grouped = set(tracker.getJobIdsForGroup("q1_pricing_summary")) - before
    # the warm run's jobs are in the group too, but not in any rep
    assert len(grouped) > sum(r.jobs for r in reps)


def test_measure_query_counts_the_jobs_of_each_micro_batch(spark, sf_dir):
    """x4 drains three staged files, one per trigger, on the stream's
    own thread while it builds. Each micro-batch runs at least one job,
    so every rep counts three or more jobs beyond its sink's own."""
    x4 = catalog_queries()["x4_watermark_latedrop"]
    reps = measure_query(
        spark, "x4_watermark_latedrop", lambda: x4(spark, sf_dir), 2
    )
    (sink,) = measure_query(
        spark,
        "x4_sink_only",
        lambda: spark.table("x4_mem")
        .groupBy("window_start")
        .agg(F.max("n").alias("n")),
        1,
    )
    assert len(reps) == 2
    for r in reps:
        assert r.jobs >= sink.jobs + 3


def test_staging_happens_in_the_warm_run_only(
    spark, sf_dir, tmp_path, monkeypatch, caplog
):
    monkeypatch.setattr(staging, "IO_ROOT", str(tmp_path))
    s10 = catalog_queries()["s10_binaryfile_scan"]
    timed: list[list[str]] = []

    def build():
        timed.append([])
        caplog.clear()
        df = s10(spark, sf_dir)
        timed[-1].extend(
            r.getMessage() for r in caplog.records
            if r.getMessage().startswith("staging ")
        )
        return df

    with caplog.at_level(logging.INFO, logger="finporter_spark"):
        measured = measure_query(spark, "s10_binaryfile_scan", build, 2)
    warm, *reps = timed
    assert len(reps) == 2
    assert [m.split(":")[0] for m in warm] == ["staging rebuild"]
    for msgs in reps:
        assert msgs and all(m.startswith("staging hit") for m in msgs)
    assert [r.rebuilds for r in measured] == [0, 0]
    # the counter sees a rebuild with the logger left at its default level
    os.remove(
        os.path.join(
            staging.io_dir(sf_dir, "s10"), "_staged_fingerprint"
        )
    )
    with RebuildCounter() as rebuilt:
        s10(spark, sf_dir)
    assert rebuilt.count == 1
