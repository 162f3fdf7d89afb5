"""Regenerate SCALING.md: every catalog query timed at sf0.001 / 0.01 /
0.1 (driver-shipped testdata) and sf1 (generated by
tools/gen_testdata.py — 10x sf0.1: 6M-row lineitem), with wall-time
ratios per data decade (data grows 10x per column; a ratio well under
10 means fixed overheads dominate and the operator has headroom;
near-linear ratios flag where a 100x scale-up needs partitioning work).

Usage: python tools/scaling_sweep.py
The sf1 dataset is generated deterministically under /tmp if missing.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from finporter_spark.queries.catalog import ALIASES, catalog_queries
from tools.measure import measure_query, session

SF1 = "/tmp/finporter_testdata/sf1"
SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
    SF1,
]


def main() -> None:
    if not os.path.isfile(os.path.join(SF1, "lineitem.parquet")):
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "gen_testdata.py"),
             "--sf", "1.0"],
            check=True,
        )
    spark = session("scaling-sweep", SFS[0])
    qs = catalog_queries()
    rows = []
    for name in sorted(set(qs) - set(ALIASES)):  # an alias runs its survivor
        times = [
            measure_query(spark, name, lambda: qs[name](spark, sf), 1)[0].wall
            for sf in SFS
        ]
        r01 = times[2] / times[1] if times[1] > 0 else float("nan")
        r1 = times[3] / times[2] if times[2] > 0 else float("nan")
        rows.append((name, *times, r01, r1))
        print(name, [round(t, 2) for t in times], round(r01, 1),
              round(r1, 1), flush=True)

    with open(os.path.join(REPO, "SCALING.md"), "w") as f:
        f.write(
            "# SCALING — per-query wall time across scale factors\n\n"
            "Generated by `python tools/scaling_sweep.py` (local[32], noop\n"
            "sink, one warm JVM). Data grows 10x per column (sf1 =\n"
            "6M-row lineitem, generated by tools/gen_testdata.py); the\n"
            "ratio columns are t(next)/t(prev) per decade — well under\n"
            "10 means fixed overheads dominate (headroom); near 10 is\n"
            "linear scaling; above 10 is super-linear and gets fixed\n"
            "(round 5: p16 26x -> sub-linear via distinct-pair scoring,\n"
            "m9 12x -> 1.3x via a parallel staged layout, l15 via a\n"
            "broadcast model join).\n\n"
            "Caveat: one timed run after one untimed warm run per\n"
            "(query, sf) pair, in ONE shared JVM (`tools/measure.py`);\n"
            "cross-query cache eviction inflates\n"
            "cache-reliant entries vs a solo warm run (e.g. l10 reads\n"
            "~1.7 s solo, simhash ~2.8 s). Treat ratios as signal and\n"
            "absolutes as upper bounds; BENCH_r*.json is the headline\n"
            "steady-state measurement.\n\n"
            "| query | sf0.001 s | sf0.01 s | sf0.1 s | sf1 s "
            "| 0.01→0.1 | 0.1→1 |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for name, a, b, c, d, r01, r1 in rows:
            f.write(
                f"| {name} | {a:.2f} | {b:.2f} | {c:.2f} | {d:.2f} "
                f"| {r01:.1f}x | {r1:.1f}x |\n"
            )
    print(f"wrote SCALING.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
