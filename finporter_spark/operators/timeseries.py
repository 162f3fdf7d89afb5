"""Time-series smoothing primitives (engine extension; the reference's
finance domain implies these but its row-at-a-time engine cannot
express them — SURVEY §2B-ext W11/PIPE5)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def ewma_closed_form(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[str | Column],
    value_col: str,
    alpha: float,
    out_name: str = "ewma",
) -> DataFrame:
    """Exact EWMA (seed y_1 = x_1; y_i = αx_i + (1-α)y_{i-1}) as pure
    window primitives — JVM-side, no sequential UDF.

    Derivation: with S_i = Σ_{j≤i} x_j (1-α)^{-j} (one ordered running
    sum), y_i = (1-α)^{i-1} x_1 + α (1-α)^i (S_i - x_1/(1-α)).

    NUMERIC CONTRACT: the (1-α)^{-i} weights grow with the partition's
    row count, so the CALLER must bound rows per partition far below
    log(DBL_MAX)/log(1/(1-α)) (α=0.2 → ~3500 rows; α=0.3 → ~2000).
    Bound it with a calendar key in ``partition_cols`` (a year for
    daily series, a day for intra-day bars); terms older than the
    partition carry < 1e-15 relative weight at those lengths, so the
    reset is numerically invisible beyond a short warm-up. Exponent
    underflow of very old in-partition terms is harmless (they vanish
    from S_i exactly as they vanish from y_i).
    """
    r = 1.0 - alpha
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = df.withColumn("_ewma_i", F.row_number().over(w)).withColumn(
        "_ewma_c1", F.first(value_col).over(wf)
    )
    staged = staged.withColumn(
        "_ewma_s",
        F.sum(
            F.col(value_col) * F.pow(F.lit(1.0 / r), F.col("_ewma_i"))
        ).over(wf),
    )
    y = (
        F.pow(F.lit(r), F.col("_ewma_i") - 1) * F.col("_ewma_c1")
        + F.lit(alpha)
        * F.pow(F.lit(r), F.col("_ewma_i"))
        * (F.col("_ewma_s") - F.col("_ewma_c1") / F.lit(r))
    )
    return staged.withColumn(out_name, y).drop(
        "_ewma_i", "_ewma_c1", "_ewma_s"
    )


def affine_scan(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[str | Column],
    a_col: str,
    b_col: str,
    epoch_rows: int = 512,
    out_name: str = "y",
    row_index_col: str | None = None,
) -> DataFrame:
    """Exact distributed prefix scan for the affine recurrence
    y_i = a_i·y_{i-1} + b_i (seed y_0 = 0; encode a different seed in
    b_1) — the Blelloch scan over the affine-map monoid, which no
    Spark built-in expresses:

    1. epoch the ordered series (fixed ``epoch_rows`` rows);
    2. per (key, epoch) one ``applyInPandas`` computes the exact LOCAL
       scan: P_k = Π a_j and Q_k (the fold from a zero carry), so each
       row's answer given the incoming carry c is P_k·c + Q_k —
       affine maps compose, which is what makes the scan parallel;
    3. the carry recursion runs over per-epoch summaries (last row's
       (P, Q) per epoch; rows/key = history/epoch_rows — vanishing)
       in one tiny grouped pass;
    4. carries join back on (key, epoch) and a JVM expression
       finishes every row.

    Covers EWMA (constant a — see ``ewma_unbounded``), compound
    interest/balance (a_i = 1 + rate_i), decayed counters, Kalman-style
    scalar filters. Task state = one epoch; every stage is a keyed
    shuffle or a vanishing-size pass — the unbounded-history scale
    path. The local-scan output is persisted (tagged releasable via
    ``caching.owns_cache``): it feeds both the carry branch and the
    final join, and without the persist the full-data Python scan
    would execute twice. Contracts: |Π a| within an epoch must stay
    inside double range (|a| ≈ 1 in every named use; bound epoch_rows
    accordingly for exotic coefficients); per-key history ≤ 2^31 rows
    (row_number's IntegerType — beyond that a window-ordered
    formulation is off the table in Spark anyway); partition keys may
    be NULL (treated as one group, matching groupBy/Window semantics);
    ``row_index_col`` may name a precomputed DENSE 1-based per-key
    index to avoid a redundant window pass.
    """
    import pandas as pd

    from finporter_spark.caching import owns_cache

    pcols = list(partition_cols)
    reserved = {"_g", "_epoch", "_P", "_Q", "_A", "_B", "_carry",
                "_last", out_name}
    clash = reserved.intersection(df.columns) - (
        {row_index_col} if row_index_col else set()
    )
    if clash:
        raise ValueError(
            f"affine_scan: input columns {sorted(clash)} collide with "
            "internal/output names — rename them first"
        )
    if row_index_col:
        staged = df.withColumn("_g", F.col(row_index_col).cast("long"))
    else:
        w = Window.partitionBy(*pcols).orderBy(*order_cols)
        staged = df.withColumn(
            "_g", F.row_number().over(w).cast("long")
        )
    staged = staged.withColumn(
        "_epoch", ((F.col("_g") - 1) / epoch_rows).cast("long")
    )
    row_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in staged.schema.fields
    ) + ", _P double, _Q double"

    def _local(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_g")
        P, Q = 1.0, 0.0
        Ps, Qs = [], []
        for a, b in zip(pdf[a_col], pdf[b_col]):
            P *= a
            Q = a * Q + b
            Ps.append(P)
            Qs.append(Q)
        pdf = pdf.copy()
        pdf["_P"] = Ps
        pdf["_Q"] = Qs
        return pdf

    # persisted: consumed by BOTH the summaries/carries branch and the
    # final join — without it the full-data Python scan runs twice
    local = staged.groupBy(*pcols, "_epoch").applyInPandas(
        _local, schema=row_schema
    ).persist()
    summaries = local.groupBy(*pcols, "_epoch").agg(
        F.max(F.struct("_g", "_P", "_Q")).alias("_last")
    ).select(
        *pcols,
        "_epoch",
        F.col("_last._P").alias("_A"),
        F.col("_last._Q").alias("_B"),
    )
    ftypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    carry_schema = ", ".join(
        f"`{c}` {ftypes[c]}" for c in pcols
    ) + ", _epoch long, _carry double"

    def _carries(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_epoch")
        outs, y = [], 0.0
        for A, B in zip(pdf["_A"], pdf["_B"]):
            outs.append(y)
            y = A * y + B
        res = pdf[pcols + ["_epoch"]].copy()
        res["_carry"] = outs
        return res

    carries = summaries.groupBy(*pcols).applyInPandas(
        _carries, schema=carry_schema
    )
    # null-SAFE join keys: groupBy/Window treat a NULL key as a real
    # group, and a plain equi-join would silently drop those rows
    cr = carries.select(
        *[F.col(c).alias(f"_cr_{c}") for c in pcols],
        F.col("_epoch").alias("_cr_epoch"),
        "_carry",
    )
    cond = F.col("_epoch") == F.col("_cr_epoch")
    for c in pcols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_cr_{c}"))
    out = (
        local.join(cr, cond)
        .withColumn(
            out_name, F.col("_P") * F.col("_carry") + F.col("_Q")
        )
        .drop(
            "_g", "_epoch", "_P", "_Q", "_carry", "_cr_epoch",
            *[f"_cr_{c}" for c in pcols],
        )
    )
    return owns_cache(out, local)


def ewma_unbounded(
    df: DataFrame,
    partition_cols: Sequence[str],
    order_cols: Sequence[str | Column],
    value_col: str,
    alpha: float,
    epoch_rows: int = 512,
    out_name: str = "ewma",
) -> DataFrame:
    """Exact EWMA over UNBOUNDED per-key history — the scale path when
    no calendar key can bound the series (``ewma_closed_form``'s
    (1-α)^{-i} weights overflow past ~log(DBL_MAX)/log(1/(1-α)) rows).

    A thin specialization of :func:`affine_scan`: y_i = (1-α)·y_{i-1}
    + α·x_i with the seed y_1 = x_1 encoded as b_1 = x_1 (a_1 applies
    to the zero carry, so the first row passes through). Exact to the
    sequential recursion at any length (test: 5,000-row series where
    the plain closed form is inf/NaN).
    """
    r = 1.0 - alpha
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    prepped = (
        df.withColumn("_ewma_i", F.row_number().over(w))
        .withColumn(
            "_ewma_b",
            F.when(
                F.col("_ewma_i") == 1, F.col(value_col)
            ).otherwise(F.lit(alpha) * F.col(value_col)),
        )
        .withColumn("_ewma_a", F.lit(r))
    )
    return affine_scan(
        prepped,
        partition_cols,
        order_cols,
        "_ewma_a",
        "_ewma_b",
        epoch_rows=epoch_rows,
        out_name=out_name,
        row_index_col="_ewma_i",  # reuse the one window pass
    ).drop("_ewma_a", "_ewma_b", "_ewma_i")
