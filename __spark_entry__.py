"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1 shape) at sf0.001;
``queries()`` / ``oracle_sql()`` expose the full operator catalog from
``finporter_spark.queries.catalog`` (one entry per SURVEY.md §2B operator;
oracle omitted only for the ≈-marked approximate operators, which get
rows-only checks here and threshold checks in tests/).
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import sys
import tempfile
import zipfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from finporter_spark.queries.catalog import catalog_oracles, catalog_queries

_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``finporter_spark`` importable on executor Python workers.

    The catalog's pandas/mapInPandas stages pickle module-level
    functions BY REFERENCE, so workers must import the package. Once per
    SparkContext the package's ``.py`` files are zipped and shipped with
    ``addPyFile``, whether or not the repo is already on the workers'
    PYTHONPATH, so a driver-supplied session with a different cwd/env
    still works. The zip goes to a directory this process creates (and
    removes at exit), so concurrent processes never write one file. A
    failure to zip or ship is logged as a warning on the
    ``finporter_spark`` logger and the query goes on: workers that have
    the repo on PYTHONPATH do not need the zip.
    """
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    _SHIPPED.add(id(sc))
    zdir = tempfile.mkdtemp(prefix="finporter_spark_pkg_")
    atexit.register(shutil.rmtree, zdir, True)
    zpath = os.path.join(zdir, "finporter_spark_pkg.zip")
    try:
        with zipfile.ZipFile(zpath, "w") as zf:
            pkg = os.path.join(_REPO, "finporter_spark")
            for root, _dirs, files in os.walk(pkg):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(root, fn)
                        zf.write(full, os.path.relpath(full, _REPO))
        sc.addPyFile(zpath)
    except Exception as exc:
        logging.getLogger("finporter_spark").warning(
            "could not ship the package zip %s to the workers: %r", zpath, exc
        )


def _wrap(fn):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship_package(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _ship_package(spark)
    qs = catalog_queries()
    return qs["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2B."""
    return {name: _wrap(fn) for name, fn in catalog_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for ≈ ops)."""
    return catalog_oracles()


def baselines() -> dict[str, str]:
    """Declared small-SF baseline queries -> their scale-path twins.

    Entries listed here (e.g. p16_fuzzy_join, the l9 brute-force pair
    scan, the x17/x19 Python-state stream demos) are deliberately NOT
    100 TB operators: they validate or demo the twin named as the value.
    Production use should pick the twin. Retired twins that now run
    their survivor are aliases, not baselines (``catalog.ALIASES``)."""
    from finporter_spark.queries.catalog import catalog_baselines

    return catalog_baselines()
