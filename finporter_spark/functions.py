"""Decode-toolkit functions: normalization, regex capture, surrogate IDs,
tolerant casts, and date parsing with default time-of-day / timezone.

All hot-path variants are Column expressions over built-in
``pyspark.sql.functions`` (JVM-side, whole-stage-codegen eligible). The
plain-Python twins exist for driver-side use (prefix sniffing operates on a
few KB on the driver — no Spark job needed) and for 1:1 golden tests against
the reference.
"""

from __future__ import annotations

import datetime as _dt
import re
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

# --------------------------------------------------------------------------
# R8 — line-ending normalization (FINporter+Utils.swift:22-32)
# --------------------------------------------------------------------------

def normalize_lines_str(s: str) -> str:
    """CRLF/CR -> LF. Driver-side twin of FINporter+Utils.swift:28-32."""
    return s.replace("\r\n", "\n").replace("\r", "\n")


def normalize_decode(data: bytes, encoding: str = "utf-8") -> str | None:
    """bytes -> normalized str; None if undecodable (FINporter+Utils.swift:22-26)."""
    try:
        return normalize_lines_str(data.decode(encoding))
    except UnicodeDecodeError:
        return None


def normalize_lines(col: Column) -> Column:
    """Column variant: one constant-folded regex pass."""
    return F.regexp_replace(col, "\r\n|\r", "\n")


# --------------------------------------------------------------------------
# R9 — regex capture groups (String+CaptureGroups.swift:23-37)
# --------------------------------------------------------------------------

def capture_groups_str(
    s: str, pattern: str, case_insensitive: bool = False
) -> list[str] | None:
    """First-match capture groups 1..n; None when no match; unmatched
    optional group -> '' (String+CaptureGroups.swift:28-36)."""
    if not pattern:
        return None
    flags = re.IGNORECASE if case_insensitive else 0
    try:
        m = re.search(pattern, s, flags)
    except re.error:
        return None
    if m is None:
        return None
    return ["" if g is None else g for g in m.groups()]


def capture_group(
    col: Column, pattern: str, group: int, case_insensitive: bool = False
) -> Column:
    """One capture group as a column; no-match -> '' (Spark semantics).

    Spark's ``regexp_extract`` returns one group per call; for all-groups
    extraction use ``capture_groups`` below.
    """
    pat = f"(?i){pattern}" if case_insensitive else pattern
    return F.regexp_extract(col, pat, group)


def capture_groups(
    col: Column, pattern: str, n_groups: int, case_insensitive: bool = False
) -> Column:
    """All n capture groups as ``array<string>`` in one expression.

    Composition of n ``regexp_extract`` calls — still JVM-side and cheap for
    the small n (2-4) the importers use; null row -> null array element
    semantics follow regexp_extract ('' on no match).
    """
    pat = f"(?i){pattern}" if case_insensitive else pattern
    return F.array(*[F.regexp_extract(col, pat, i + 1) for i in range(n_groups)])


# --------------------------------------------------------------------------
# R10 — surrogate transaction-ID generation (TxnIDGenerator.swift:20-33)
# --------------------------------------------------------------------------

def generate_transaction_id_str(
    prefix: str, transaction_date: _dt.date | _dt.datetime, transaction_no: int
) -> str:
    """Driver-side twin: golden ``("A", 2021-03-01, 325) -> "A2021030100325"``
    (TxnIDGenTests.swift:24-29)."""
    return f"{prefix}{transaction_date:%Y%m%d}{transaction_no:05d}"


def transaction_id_expr(
    prefix: str | Column, date_col: Column, row_no_col: Column
) -> Column:
    """Column variant: ``prefix + yyyyMMdd(date) + %05d(rowNo)``.

    Deterministic and sortable by construction (SURVEY §4). ``row_no_col``
    must come from an explicitly-ordered ``row_number`` window — NOT
    ``monotonically_increasing_id`` (partition-layout dependent).
    """
    p = F.lit(prefix) if isinstance(prefix, str) else prefix
    return F.concat(
        p, F.date_format(date_col, "yyyyMMdd"), F.lpad(row_no_col.cast("string"), 5, "0")
    )


def with_transaction_ids(
    df: DataFrame,
    prefix: str,
    date_col: str,
    order_by: Sequence[str],
    out_col: str = "txnID",
) -> DataFrame:
    """Assign surrogate txn IDs with a deterministic global row numbering.

    Scale note: a single global ``row_number`` forces all rows through one
    window partition. The reference numbers rows per input file
    (TransformHandler.swift:113 — one file, one counter), and file-grain
    numbering is what a 100 TB ingest should do too: number within each
    row's source file (:func:`with_transaction_ids_per_file`) and keep the
    prefix distinct per file. Global numbering is only for small exports.
    """
    w = Window.orderBy(*[F.col(c) for c in order_by])
    rn = F.row_number().over(w)
    return df.withColumn(
        out_col, transaction_id_expr(prefix, F.col(date_col), rn)
    )


def with_transaction_ids_per_file(
    df: DataFrame,
    prefix_col: Column,
    date_col: str,
    order_by: Sequence[str],
    out_col: str = "txnID",
) -> DataFrame:
    """Scalable variant: numbering restarts per source file (partitioned
    window => no global sort barrier).

    ``df`` carries each row's source path in ``_src_file``, captured at the
    scan (e.g. from ``_metadata.file_path``: ``input_file_name()`` is
    ``''`` above a cache or a shuffle); the column is dropped from the
    result.
    """
    w = Window.partitionBy("_src_file").orderBy(*[F.col(c) for c in order_by])
    rn = F.row_number().over(w)
    return df.withColumn(
        out_col, transaction_id_expr(prefix_col, F.col(date_col), rn)
    ).drop("_src_file")


# --------------------------------------------------------------------------
# P8/P9 — tolerant casts and defaulting (decode semantics, FINporter.swift:39-49)
# --------------------------------------------------------------------------

def try_cast(col: Column, dtype: str) -> Column:
    """Cast with failure -> null (decode's per-row tolerance, R5)."""
    return col.try_cast(dtype)


def parse_timestamp(
    col: Column,
    fmt: str = "MM/dd/yyyy",
    def_time_of_day: str | None = None,
    tz: str | None = None,
) -> Column:
    """Date parse with default time-of-day and timezone.

    Mirrors decode's ``defTimeOfDay`` / ``timeZone`` parameters
    (FINporter.swift:45-47): a bare date gets the default time of day in
    the given zone, then converts to the engine's UTC timeline.
    """
    ts = F.try_to_timestamp(
        F.concat_ws(" ", F.nullif(F.trim(col), F.lit("")), F.lit(def_time_of_day or "00:00:00")),
        F.lit(fmt + " HH:mm:ss"),
    )
    if tz:
        ts = F.to_utc_timestamp(ts, tz)
    return ts


def split_by_standard_assets(
    df: DataFrame, col: str = "assetID"
) -> tuple[DataFrame, DataFrame]:
    """R16 domain validation: split rows whose asset class is in the
    36-value standard vocabulary (MAsset+StandardID.swift:23-59) from
    those that are not.

    The vocabulary rides a broadcast semi/anti join rather than a
    36-literal ``isin``: same plan at this size, but the join formulation
    is the one that still works when the domain table is thousands of
    rows or comes from another DataFrame.
    """
    from finporter_spark.model import STANDARD_ASSET_IDS

    spark = df.sparkSession
    dim = spark.createDataFrame(
        [(a,) for a in STANDARD_ASSET_IDS], f"{col} string"
    )
    valid = df.join(F.broadcast(dim), col, "left_semi")
    invalid = df.join(F.broadcast(dim), col, "left_anti")
    return valid, invalid
