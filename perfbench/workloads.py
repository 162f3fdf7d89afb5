"""The workloads: their inputs, operations and output checks.

Every operation is one closed-loop call by a single client thread. Untraced,
an operation calls the program's public entry points exactly as a user
would; traced, the same work is split into one span per layer call, so the
per-layer numbers come from the benchmark's own files and nothing inside
the program is patched.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

import gen

# Catalog queries timed by catalog_mix, by family. Stream queries drain a
# file stream they stage on first use (stream comes first, so the set-up
# call stages it); iterative ones fire dozens of small driver jobs before
# their sink; relational ones are one planned job graph. A query's work
# must not depend on the seed: l11_dedup_clusters is left out because its
# round count follows the seeded duplicate graph.
CATALOG_FAMILIES = {
    "stream": ["x22_stream_cdc_upsert"],
    "iterative": ["l30_chain_components"],
    "relational": ["q1_pricing_summary", "q3_shipping_priority"],
}
FAMILIES = tuple(CATALOG_FAMILIES)


@dataclass
class Op:
    name: str
    family: str
    run: Callable[[Any, Any], Any]  # (spark, tracer) -> result
    check: Callable[[Any], bool]


def _force_plan(df) -> None:
    df._jdf.queryExecution().executedPlan()


# ------------------------------------------------------------ ingest_files

class IngestFiles:
    """A file-drop folder of small files: each goes through handle_detect
    and then handle_transform, with the output format rotating CSV, TSV,
    JSON; stray files must raise the taxonomy error."""

    def __init__(self, work: str, seed: int, n_files: int):
        self.work, self.seed, self.n_files = work, seed, n_files

    def generate(self):
        self.expected = gen.make_files(os.path.join(self.work, "drop"), self.seed, self.n_files)
        self.rows_per_pass = sum(e.n_rows for e in self.expected)

    def stage(self, spark):
        from finporter_spark.importers.prospector import default_prospector

        self.prospector = default_prospector()

    def ops(self) -> list[Op]:
        return [self._op(e) for e in self.expected]

    def oracle_checks(self, spark) -> None:
        """None: every operation checks its own output."""
        return None

    def _op(self, e) -> Op:
        from finporter_spark.caching import release_caches
        from finporter_spark.errors import FINporterError
        from finporter_spark.handlers import get_pair, handle_detect, handle_transform
        from finporter_spark.model import AllocFormat
        from finporter_spark.sources import read_prefix

        out_fmt = AllocFormat(e.out_fmt)

        def run(spark, tr):
            with tr.span("handlers.detect"):
                report = handle_detect(self.prospector, e.path)
            # handle_transform decodes as CSV unless told otherwise, so the
            # caller passes on the input format detect reported
            kw = {}
            if report and report[0].endswith(": tsv"):
                kw["input_format"] = AllocFormat.TSV
            try:
                if not tr.enabled:
                    return report, handle_transform(
                        spark, self.prospector, e.path, output_format=out_fmt, **kw
                    )
                with tr.span("handlers.transform"):
                    return report, _traced_transform(spark, tr, self.prospector, e.path, out_fmt, kw)
            except FINporterError as err:
                return report, err

        def _traced_transform(spark, tr, prospector, path, fmt, kw):
            # handle_transform's steps, one span per layer call
            with tr.span("sources.read_prefix"):
                prefix = read_prefix(path)
            with tr.span("importers.prospect"):
                imp, schema = get_pair(prospector, prefix)
            if hasattr(imp, "account_id"):
                captured = imp.account_id(prefix)
                if captured is not None:
                    kw["account_id"] = captured
            with tr.span("importers.decode", spark=True):
                good, bad = imp.decode(spark, path, output_schema=schema, **kw)
            try:
                with tr.span("spark.plan", spark=True):
                    _force_plan(good)
                with tr.span("encoder.export", spark=True):
                    return imp.export(good, fmt, schema)
            finally:
                with tr.span("caching.release"):
                    release_caches(good, bad)

        def check(result):
            report, out = result
            if report != e.detect:
                return False
            if e.error is not None:
                return type(out).__name__ == e.error
            return out == e.text

        return Op(os.path.basename(e.path), e.kind, run, check)


# ------------------------------------------------------------ catalog_mix

class CatalogMix:
    """Catalog queries over seeded catalog tables, each built and then run
    into the ``noop`` sink; stream staging happens in set-up."""

    def __init__(self, work: str, seed: int, sf: float):
        self.work, self.seed, self.sf = work, seed, sf

    def generate(self):
        import pyarrow.parquet as pq

        self.sf_dir = gen.make_catalog(os.path.join(self.work, "tables"), self.seed, self.sf)
        self.rows_per_pass = sum(
            pq.ParquetFile(os.path.join(self.sf_dir, f)).metadata.num_rows
            for f in sorted(os.listdir(self.sf_dir))
        )

    def stage(self, spark):
        """A fresh staging root: the set-up call to the first (stream)
        query stages its drop there."""
        import shutil

        from finporter_spark.queries import staging
        from finporter_spark.queries.catalog import catalog_queries

        self.io_root = os.path.join(self.work, "io")
        shutil.rmtree(self.io_root, ignore_errors=True)
        staging.IO_ROOT = self.io_root
        self.queries = catalog_queries()

    def staging_markers(self) -> dict[str, int]:
        """Staged-drop fingerprint file -> mtime; a changed or new entry
        means the operation restaged its input."""
        marks = {}
        for root, _dirs, files in os.walk(self.io_root):
            if "_staged_fingerprint" in files:
                p = os.path.join(root, "_staged_fingerprint")
                marks[p] = os.stat(p).st_mtime_ns
        return marks

    def ops(self) -> list[Op]:
        return [
            self._op(name, family)
            for family, names in CATALOG_FAMILIES.items()
            for name in names
        ]

    def _op(self, name, family) -> Op:
        fn = self.queries[name]

        def run(spark, tr):
            before = self.staging_markers() if tr.enabled else None
            with tr.span("queries.build", spark=True):
                df = fn(spark, self.sf_dir)
            if tr.enabled:
                with tr.span("spark.plan", spark=True):
                    _force_plan(df)
            with tr.span("spark.sink", spark=True):
                df.write.format("noop").mode("overwrite").save()
            if tr.enabled:
                after = self.staging_markers()
                tr.annotate(
                    "staging_rebuilds",
                    sum(1 for p, m in after.items() if before.get(p) != m),
                )

        return Op(name, family, run, lambda _none: True)

    def oracle_checks(self, spark) -> dict[str, bool]:
        """One collect per query, hashed against its DuckDB oracle with
        the canonical frame hash of tools/oracle_check.py."""
        import duckdb

        from finporter_spark.queries.catalog import catalog_oracles
        from tools.oracle_check import frame_hash, spark_pdf

        oracles = catalog_oracles()
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.sf_dir)):
                table = f.removesuffix(".parquet")
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM "
                    f"'{os.path.join(self.sf_dir, f)}'"
                )
            out = {}
            for family, names in CATALOG_FAMILIES.items():
                for name in names:
                    got = spark_pdf(self.queries[name](spark, self.sf_dir))
                    want = con.execute(oracles[name]).fetchdf()
                    out[name] = (
                        len(got) == len(want)
                        and sorted(got.columns) == sorted(want.columns)
                        and frame_hash(got) == frame_hash(want)
                    )
            return out
        finally:
            con.close()
