"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()`` entry
exists, the same-named SQL on DuckDB over the same parquet tables; compares
row count, column names/types, and an order-insensitive value hash with
doubles rounded to 9 dp (FIXTURES.md §5).

Usage: python tools/oracle_check.py [--json OUT.json] [sf_dir] [query ...]

With ``--json`` the per-query results are also written in the driver's
CORRECTNESS_r{N}.json shape (``{name: {rows_match, schema_match,
hash_match, spark_rows, oracle_rows, err}}``) so a full-catalog sweep can
be committed as a round artifact.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
import pandas as pd


def canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"  # pandas renders SQL NULL as NaN in float cols
        # 9 dp AND <=15 significant digits: a double carries ~15.95
        # decimal digits, so two engines converting the SAME exact
        # decimal (e.g. a DECIMAL(28,6) sum at sf1 magnitude, 17
        # digits) can legitimately differ by 1 ulp — beyond-precision
        # digits are conversion noise, not values (first seen on
        # q1's 2.8e10 sum_charge at sf1: ulp = 3.8e-6 > the 9 dp
        # quantum)
        r = round(v, 9)
        if abs(r) >= 1e6:
            return format(r, ".15g")
        return format(r, ".9f").rstrip("0").rstrip(".")
    if isinstance(v, bool):
        return "true" if v else "false"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = []
    for t in df[cols].itertuples(index=False, name=None):
        rows.append("\x1f".join(canon_value(v) for v in t))
    rows.sort()
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()


def spark_pdf(sdf) -> pd.DataFrame:
    return pd.DataFrame(
        [r.asDict(recursive=True) for r in sdf.collect()],
        columns=sdf.columns,
    )


def main():
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entry_mod
    from finporter_spark.queries.catalog import ALIASES
    from finporter_spark.session import get_session

    spark = get_session("oracle-check")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    from finporter_spark.model import TESTDATA_TABLES

    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    n_pass = n_fail = n_rows_only = 0
    failures = []
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        alias = f" alias of {ALIASES[name][0]}" if name in ALIASES else ""
        try:
            sdf = fn(spark, sf_dir)
            spdf = spark_pdf(sdf)
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            failures.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None, "err": f"spark error: {e}"[:500],
            }
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(spdf)} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            n_rows_only += 1
            results[name] = {
                "rows_match": None, "schema_match": None,
                "hash_match": None, "spark_rows": len(spdf),
                "oracle_rows": None, "err": "no_oracle",
            }
            continue
        try:
            opdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            failures.append(name)
            results[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(spdf),
                "oracle_rows": None, "err": f"duckdb error: {e}"[:500],
            }
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rows {len(spdf)} vs {len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(f"cols {sorted(spdf.columns)} vs {sorted(opdf.columns)}")
        if not problems:
            hs, ho = frame_hash(spdf), frame_hash(opdf)
            if hs != ho:
                problems.append("value-hash mismatch")
                # show first differing rows for debugging
                scols = sorted(spdf.columns)
                a = set(
                    "\x1f".join(canon_value(v) for v in t)
                    for t in spdf[scols].itertuples(index=False, name=None)
                )
                b = set(
                    "\x1f".join(canon_value(v) for v in t)
                    for t in opdf[scols].itertuples(index=False, name=None)
                )
                only_s = list(a - b)[:3]
                only_o = list(b - a)[:3]
                for r in only_s:
                    problems.append(f"  spark-only: {r[:200]}")
                for r in only_o:
                    problems.append(f"  oracle-only: {r[:200]}")
        rows_match = len(spdf) == len(opdf)
        schema_match = sorted(spdf.columns) == sorted(opdf.columns)
        hash_match = rows_match and schema_match and not problems
        results[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": len(spdf),
            "oracle_rows": len(opdf),
            "err": "; ".join(problems)[:500] if problems else None,
        }
        if problems:
            print(f"FAIL  {name}:{alias} " + "; ".join(problems))
            n_fail += 1
            failures.append(name)
        else:
            print(f"ok    {name}: {len(spdf)} rows "
                  f"[{time.time()-t0:.1f}s]{alias}")
            n_pass += 1

    print(
        f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAIL"
        + (f": {failures}" if failures else "")
    )
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out} ({len(results)} queries)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
