"""Query catalog: one entry per declared operator (SURVEY.md §2B), each with
a Spark DataFrame implementation and (where SQL-expressible) a DuckDB oracle.

Contract (driver's CORRECTNESS gate): the Spark result and the oracle result
must match on row count, schema, and order-insensitive value hash with
doubles rounded to 9 dp. Design rules that make that hold at any SF:

- **Aggregates of doubles go through DECIMAL(28,6)**: summing doubles in
  different orders (Spark partitions vs DuckDB vectors) drifts ~1e-6 at
  60k rows — past the 9 dp gate. Casting each addend to decimal makes the
  sum exact and bit-equal in both engines; the result is cast back to
  DOUBLE for schema parity.
- **Per-row arithmetic stays raw**: identical IEEE ops on identical parquet
  bits are bit-equal across engines; no rounding needed.
- **Every ranking/top-k has a total order**: explicit tiebreakers on unique
  keys so limit/rank results are set-deterministic.
- **Computed integer widths are aligned** (BIGINT) because Spark and DuckDB
  disagree on defaults (e.g. DuckDB count/len/row_number -> BIGINT|HUGEINT,
  Spark -> int/long).

Every callable takes (spark, sf_dir) and returns a DataFrame; oracles run
against the same parquet registered as DuckDB views.

The queries live in one module per domain (imported at the bottom of
this module); this module holds the registry and the helpers they share.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

# name -> (spark_fn, oracle_sql | None)
CATALOG: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {}

# baseline query name -> its scale-path twin. Entries here are
# DELIBERATELY not 100 TB operators: they exist as small-SF oracle
# baselines / semantics demos (e.g. an all-pairs join that validates
# the blocked formulation, a per-key Python state demo twinned with the
# JVM state store). Tooling (bench scale sweeps, docs) uses this to
# keep users from mistaking a baseline for a scale path.
BASELINES: dict[str, str] = {}

# alias name -> (survivor, reason). An alias is a retired twin whose
# answer is its survivor's: it stays registered under its old name with
# the survivor's callable and oracle, and carries no code of its own.
ALIASES: dict[str, tuple[str, str]] = {}


def query(name: str, oracle: str | None = None, baseline_of: str | None = None):
    """Register a catalog query. ``baseline_of`` marks the entry as a
    declared small-SF baseline whose production-scale twin is the named
    query (recorded in :data:`BASELINES`)."""

    def deco(fn):
        CATALOG[name] = (fn, oracle)
        if baseline_of is not None:
            BASELINES[name] = baseline_of
        return fn

    return deco


def alias(name: str, survivor: str, reason: str) -> None:
    """Register ``name`` as an alias of the registered query
    ``survivor`` (recorded in :data:`ALIASES` with ``reason``)."""
    CATALOG[name] = CATALOG[survivor]
    ALIASES[name] = (survivor, reason)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table, tolerating TIMESTAMP(NANOS) parquet.

    Spark has no nanosecond timestamp type; ``events.parquet`` stores one.
    With ``spark.sql.legacy.parquet.nanosAsLong`` the column arrives as
    nano-epoch long and is converted to a microsecond timestamp with exact
    integer division (``div``), matching DuckDB's ns->us truncation. The
    conf is set here too (it is runtime-settable) so this works under a
    driver-provided session as well.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # oracle comparisons are naive-UTC; pin the session zone even when
    # the driver supplies its own SparkSession (runtime-settable)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # us-precision NTZ parquet layout; session tz is pinned UTC above,
            # so the cast is value-preserving and yields the TIMESTAMP type
            # event-time operators (withWatermark) require.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def dsum(c: Column, money: bool = False) -> Column:
    """Exact cross-engine sum of a money double (see module docstring).

    ``money=True`` is the opt-in decimal-money path (SURVEY §1.2
    "revisit"): the exact DECIMAL(28,6)-summed result is KEPT as decimal
    (no double round-trip), for pipelines whose downstream consumers
    need exact money types. q1_pricing_summary_decimal proves the two
    routes agree at 9 dp against a DuckDB decimal oracle."""
    s = F.sum(c.cast("decimal(28,6)"))
    return s if money else s.cast("double")


def davg(c: Column, money: bool = False) -> Column:
    if money:
        return (dsum(c, money=True) / F.count(c)).cast("decimal(38,10)")
    return dsum(c) / F.count(c)


def DSUM(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(28,6))) AS DOUBLE)"


def DAVG(expr: str) -> str:
    return f"{DSUM(expr)} / COUNT({expr})"


# The DuckDB tokenizer every text oracle uses: lowercase, collapse
# whitespace, split on spaces (operators.text.tokens on the Spark side).
_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"


def catalog_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in CATALOG.items()}


def catalog_oracles() -> dict[str, str]:
    return {name: sql for name, (_, sql) in CATALOG.items() if sql is not None}


def catalog_baselines() -> dict[str, str]:
    """Declared small-SF baselines -> their scale-path twins (see
    :data:`BASELINES`). Consumers: docs, scale sweeps, and anyone
    choosing an operator for production — pick the twin."""
    return dict(BASELINES)


# One module per domain; each registers its queries on import.
from finporter_spark.queries import tpch  # noqa: E402,F401
from finporter_spark.queries import relational  # noqa: E402,F401
from finporter_spark.queries import ingest  # noqa: E402,F401
from finporter_spark.queries import text_prep  # noqa: E402,F401
from finporter_spark.queries import ann  # noqa: E402,F401
from finporter_spark.queries import graph  # noqa: E402,F401
from finporter_spark.queries import stats  # noqa: E402,F401
from finporter_spark.queries import timeseries  # noqa: E402,F401
from finporter_spark.queries import multimodal  # noqa: E402,F401
from finporter_spark.queries import streaming  # noqa: E402,F401

# Retired same-answer twins: each name now runs its survivor.
alias(
    "l10_embedding_near_dup",
    "l19_blocked_allpairs",
    "brute-force cross join of the exact pair set l19 computes blocked",
)
alias(
    "x6_stateful_running_totals",
    "x6b_builtin_running_totals",
    "per-key Python state for counts a built-in streaming agg keeps "
    "in the JVM state store; x17/x19 cover Python stream state",
)
alias(
    "x14_datasource_stream_parallel",
    "x12_datasource_stream",
    "the s12 drain through a second format name whose stream reader "
    "split byte-range slices on the executors; format('finport') "
    "streams that way itself",
)
alias(
    "w14_holt_trend",
    "w14b_holt_exact",
    "matrix-scan Holt for a single series longer than a task; no "
    "catalog table has one (events span 30 days per type at every sf)",
)
alias(
    "w14c_holt_recursive",
    "w14b_holt_exact",
    "recursive-CTE Holt, bit-identical to w14b and ~10x slower; "
    "l21b still runs a Spark WITH RECURSIVE",
)
