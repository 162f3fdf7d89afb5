"""Plan-shape sweep over every non-streaming catalog entry: dump
`.explain("formatted")` per query and rank by plan size, Exchange
count and repeated `Scan parquet` nodes — the detector behind the
round-14 batch-3 multi-reference fixes (Spark does not dedup
self-join / multi-ref subtrees, so a DataFrame referenced by k plan
branches is computed k times; big counts here mean repeated subtrees).

Usage: python tools/plan_sweep.py [sf_dir] [out.json]

Streaming entries (x*, pipe3/pipe9*, o19/o20) are skipped: their
builders EXECUTE a drain, so "dump the plan" would run the query.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from finporter_spark.queries.catalog import ALIASES, catalog_queries
from finporter_spark.session import get_session

SKIP_PREFIX = ("x", "pipe3", "pipe9", "o19", "o20")


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/plan_sweep.json"
    spark = get_session("plan-sweep")
    qs = catalog_queries()
    rows = []
    for name in sorted(qs):
        if name.startswith(SKIP_PREFIX) or name in ALIASES:
            continue
        try:
            df = qs[name](spark, sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            p = buf.getvalue()
            rows.append(
                (
                    p.count("\n"),
                    p.count("Exchange"),
                    len(re.findall(r"Scan parquet", p)),
                    name,
                )
            )
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            rows.append((-1, -1, -1, f"{name} ERR {str(ex)[:60]}"))
    rows.sort(reverse=True)
    for r in rows[:40]:
        print(r)
    with open(out, "w") as fh:
        json.dump(rows, fh)
    print(f"wrote {out} ({len(rows)} entries)")


if __name__ == "__main__":
    main()
