"""Custom join compositions Spark lacks as single operators (SURVEY §2B J5/J6).

Both are pure DataFrame compositions — Catalyst plans them with standard
join strategies; no UDFs, no collect.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F


def count_exceeding(
    left: DataFrame,
    left_keys: Sequence[str],
    left_val: str,
    right: DataFrame,
    right_val: str,
    bands: int = 1024,
) -> DataFrame:
    """For every left row, the COUNT of right rows whose ``right_val`` is
    strictly greater than the left row's ``left_val`` — the rank/CDF
    formulation of the inequality join ``R.v > L.v``, with ZERO row
    pairs materialized.

    The banded-pair decomposition (equi-join on a coarse band + residual
    filter) divides the |L|·|R| quadratic by a constant band count — it
    still measured 61.6× for 10× data at the sf1→sf10 decade. This
    replaces the pair join entirely with a merge:

    1. both sides band on a deterministic uniform grid over the global
       [min, max] (one broadcast 1-row bounds agg, stays lazy);
    2. right rows and left rows UNION into one stream; a single window
       per band, ordered by value DESC (left markers before right rows
       on ties, so the count is strict), running-sums the right-row
       count each left row has already passed — the classic sort-merge
       rank, one shuffle keyed by band, each task sorting ~N/bands rows;
    3. a bands-row ladder (right-count per band, suffix-summed over the
       densified 0..bands-1 spine — constant-bounded single-partition
       window) broadcasts back the strictly-higher-band counts.

    Work is O(|L|+|R|) rows through one keyed shuffle + per-band sorts —
    linear in the corpus; ``bands`` is the merge parallelism and should
    scale with corpus/partition-size at 100 TB (value-uniform grids keep
    bands balanced; for skewed values raise ``bands``). NULL values are
    excluded on both sides (SQL comparison semantics).

    Returns the left rows (``left_keys``) + ``n_greater`` (long ≥ 0).
    """
    # pinned: each side feeds the bounds agg (referenced from BOTH
    # banded projections) plus its own banded stream(s) — unpinned,
    # the inputs were re-scanned ~3-4x per call (j9's two calls showed
    # 36 parquet scans in the round-14 before-plan; guide §2.4)
    lv = (
        left.select(*left_keys, F.col(left_val).alias("_bal"))
        .where(F.col("_bal").isNotNull())
        .localCheckpoint(eager=False)
    )
    rv = (
        right.select(F.col(right_val).alias("_bal"))
        .where(F.col("_bal").isNotNull())
        .localCheckpoint(eager=False)
    )
    bounds = (
        lv.select("_bal")
        .unionAll(rv.select("_bal"))
        .agg(F.min("_bal").alias("_lo"), F.max("_bal").alias("_hi"))
        # pinned: the 1-row bounds feed BOTH banded projections via
        # crossJoin — unpinned, each reference re-ran the min/max pass
        # over both pinned inputs (guide §2.4)
        .localCheckpoint(eager=False)
    )

    def _band(col: Column) -> Column:
        # zero-width grid (all values equal): everything is band 0 — an
        # unguarded division raises DIVIDE_BY_ZERO under ANSI mode
        # (caught by the brute-force property test)
        width = (F.col("_hi") - F.col("_lo")) / bands
        return F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
            F.least(
                F.lit(bands - 1),
                F.floor((col - F.col("_lo")) / width).cast("int"),
            )
        )

    lp = lv.crossJoin(F.broadcast(bounds)).select(
        *left_keys,
        "_bal",
        _band(F.col("_bal")).alias("_band"),
        F.lit(1).alias("_is_left"),
        F.lit(0).cast("long").alias("_cnt"),
    )
    rp = rv.crossJoin(F.broadcast(bounds)).select(
        *[F.lit(None).cast(lv.schema[k].dataType).alias(k) for k in left_keys],
        "_bal",
        _band(F.col("_bal")).alias("_band"),
        F.lit(0).alias("_is_left"),
        F.lit(1).cast("long").alias("_cnt"),
    )
    # within-band strict-greater count: rows preceding a left marker in
    # (value DESC, left-first-on-ties) order are exactly the right rows
    # with a strictly greater value in the same band
    w = (
        Window.partitionBy("_band")
        .orderBy(F.col("_bal").desc(), F.col("_is_left").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = lp.unionByName(rp).withColumn(
        "_n_within", F.coalesce(F.sum("_cnt").over(w), F.lit(0))
    )
    # suffix ladder over the DENSIFIED band spine: a band with no right
    # rows must still inherit the higher bands' counts. No broadcast
    # hint here — the spine is the LEFT of a left join (not build-able);
    # both sides are ≤ bands rows, constant-bounded
    spine = lp.sparkSession.range(bands).select(
        F.col("id").cast("int").alias("_band")
    )
    per_band = rp.groupBy("_band").agg(F.count("*").alias("_n_band"))
    wb = Window.orderBy(F.col("_band").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    above = spine.join(per_band, "_band", "left").select(
        "_band",
        F.coalesce(
            F.sum(F.coalesce(F.col("_n_band"), F.lit(0))).over(wb), F.lit(0)
        ).alias("_n_above"),
    )
    return (
        within.where(F.col("_is_left") == 1)
        .join(F.broadcast(above), "_band")
        .select(
            *left_keys,
            (F.col("_n_within") + F.col("_n_above")).alias("n_greater"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str] | None = None,
    tolerance: Column | None = None,
    direction: str = "backward",
    tiebreakers: Sequence[str] = (),
    left_id: Sequence[str] | None = None,
) -> DataFrame:
    """As-of join (J6): for each left row, the single latest right row with
    ``right_ts <= left_ts`` (direction='backward'; 'forward' mirrors).

    Classic use: latest security price ≤ transaction date
    (FIXTURES.md security.updatedAt is the reference-shaped fixture).

    Implementation: equi-join on the keys + range predicate, then keep
    rank-1 per left row via a window ordered by ``right_ts`` desc (plus
    explicit ``tiebreakers`` so the pick is deterministic when timestamps
    collide). Left rows with no match survive with nulls (left join).

    Scale notes: the equi-keys shuffle both sides once; the window
    repartitions by the left row id. For 100 TB with a small right side,
    Catalyst broadcast-converts the join and only one shuffle (the window)
    remains. With a known time horizon, pass ``tolerance`` (e.g.
    ``F.expr("INTERVAL 7 DAYS")``) to bound the match fan-out before the
    rank filter — this is what keeps the intermediate bounded on dense
    right-hand timelines.
    """
    lid = list(left_id) if left_id else None
    if lid is None:
        left = left.withColumn("_asof_lid", F.monotonically_increasing_id())
        lid = ["_asof_lid"]

    lts, rts = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    if direction == "backward":
        cond = rts <= lts
        order = [rts.desc()]
        if tolerance is not None:
            cond = cond & (rts >= lts - tolerance)
    elif direction == "forward":
        cond = rts >= lts
        order = [rts.asc()]
        if tolerance is not None:
            cond = cond & (rts <= lts + tolerance)
    else:
        raise ValueError(f"bad direction: {direction}")

    for k in on:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))

    rsel = right_cols if right_cols is not None else [
        c for c in right.columns if c not in on
    ]
    joined = left.alias("l").join(right.alias("r"), on=cond, how="left")
    w = Window.partitionBy(*[F.col(f"l.{c}") for c in lid]).orderBy(
        *order, *[F.col(f"r.{t}").desc_nulls_last() for t in tiebreakers]
    )
    out = (
        joined.withColumn("_asof_rn", F.row_number().over(w))
        .filter(F.col("_asof_rn") == 1)
        .select(
            *[F.col(f"l.{c}") for c in left.columns if c != "_asof_lid"],
            *[F.col(f"r.{c}").alias(c) for c in rsel],
        )
    )
    return out
