"""The shared measurement loop: warm run, timed reps, job counts."""

from __future__ import annotations

import logging

from finporter_spark.queries import staging
from finporter_spark.queries.catalog import catalog_queries
from tools.measure import measure_query


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
    grouped = set(tracker.getJobIdsForGroup("q1_pricing_summary")) - before
    # the warm run's jobs are in the group too, but not in any rep
    assert len(grouped) > sum(r.jobs for r in reps)


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
        measure_query(spark, "s10_binaryfile_scan", build, 2)
    warm, *reps = timed
    assert len(reps) == 2
    assert [m.split(":")[0] for m in warm] == ["staging rebuild"]
    for msgs in reps:
        assert msgs and all(m.startswith("staging hit") for m in msgs)
