"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` single-JVM, but every conf below is chosen to
also be the right default on a 1000-executor cluster reading 100 TB:

- AQE on (runtime coalescing, broadcast-conversion, skew-join splitting) so
  static shuffle-partition counts need not be perfect per stage.
- Arrow on for any pandas-UDF exchange (vectorized Python↔JVM).
- Session timezone pinned to UTC: the reference serializes timestamps as
  ISO8601 UTC (DelimitedEncoder.swift:30,130-131) and the DuckDB oracle
  compares naive UTC timestamps.
- ``spark.sql.shuffle.partitions`` defaults to cores locally; on a real
  cluster AQE coalesces from a high initial count, so we set an initial
  partition number instead of trusting one magic value.
- Spark's generated-class cache holds 1000 classes, not 100: a
  long-lived session serving a fixed query mix (bench.py, perfbench's
  catalog mix, a user's driver) then compiles each whole-stage-codegen
  class once. The catalog mix's working set is 121 classes per pass,
  and a class costs ~49 KB of Metaspace, so the cache pins at most
  ~49 MB. The cache key includes the compiling thread's classloader,
  and a new SparkContext brings new executor classloaders, so a session
  restart recompiles the executor-side classes whatever the size (x22:
  23 of its 36).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "finporter-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(cpus))
    )

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # 10 MB default broadcast threshold is fine; dims here are tiny.
        # Parquet vectorized reader + pushdown are on by default; keep them.
        .config("spark.sql.parquet.filterPushdown", "true")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos type — read as long and convert (see read_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Generated-class cache, LRU keyed on (classloader, source).
        # Spark's 100 is below one catalog_mix pass (x22, l30, q1, q3
        # compile 121 classes), so every repeated pass evicted and
        # recompiled 83-90 of them (Janino, then the JIT again). 1000
        # is ~8x that working set and ~8x the most one query compiles
        # (pipe7: 128 on its first run). At ~49 KB of Metaspace per
        # class it pins at most 1000 x 49 KB ~ 49 MB; a sweep of the
        # whole registry grew Metaspace by 155 MB at 100 and 162 MB at
        # 1000.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # managed tables (bucketed ingest) live outside the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/finporter_spark_warehouse"
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def load_testdata(spark: SparkSession, sf_dir: str, register_views: bool = True):
    """Load the driver's parquet tables; optionally register temp views.

    Returns dict name -> DataFrame. Schemas come from the parquet footers
    (FIXTURES.md §4) — column pruning + predicate pushdown reach the scan.
    """
    from finporter_spark.model import TESTDATA_TABLES

    dfs = {}
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        if register_views:
            df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs
