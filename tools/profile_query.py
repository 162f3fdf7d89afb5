"""Profile one or more catalog queries: min-of-N noop-sink wall time plus
optional .explain("formatted") dump to a file.

Usage:
  python tools/profile_query.py q1_pricing_summary l45_pq_ann_topk \
      [--sf /root/testdata/sf0.1] [--reps 3] [--plans-dir plans/r14] \
      [--suffix before]

Plans are written as <plans-dir>/<query>_<suffix>.txt. Timing goes
through ``tools.measure.measure_query``, the loop bench.py uses.
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
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument(
        "--no-time", action="store_true", help="plan dump only, no timing"
    )
    args = ap.parse_args()

    spark = session("profile-query", args.sf)
    qs = catalog_queries()

    for name in args.queries:
        if name not in qs:
            print(f"!! unknown query {name}")
            continue
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            df = qs[name](spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            p = os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt")
            with open(p, "w") as fh:
                fh.write(buf.getvalue())
            print(f"plan -> {p}")
        if args.no_time:
            continue
        runs = [
            r.wall
            for r in measure_query(
                spark, name, lambda: qs[name](spark, args.sf), args.reps
            )
        ]
        print(
            f"{name}: min={min(runs):.3f}s runs="
            + ",".join(f"{r:.3f}" for r in runs)
        )


if __name__ == "__main__":
    main()
