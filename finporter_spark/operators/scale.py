"""Scale-path operators: skew-tolerant aggregation and co-located joins.

These are the SURVEY §4 "100 TB design notes" made concrete:

- :func:`salted_agg` — two-phase aggregation for skewed keys. AQE's
  skew-join splitting doesn't help a *hash aggregation* whose reduce
  partition is dominated by one hot key; salting does: phase 1 spreads
  each key over ``buckets`` sub-groups (map-side combine still applies),
  phase 2 merges the per-salt partials. Cost: one extra (tiny) shuffle
  over #distinct-keys × buckets rows.
- :func:`write_bucketed` / :func:`bucketed_join_ready` — persist a table
  bucketed by its join key so repeated joins on that key skip the
  exchange entirely (Spark reads co-located buckets; the plan contains
  no Exchange on the bucketed sides).

Both compose plain DataFrame ops — Catalyst/Tungsten execute them; no
custom physical nodes.
"""

from __future__ import annotations

import os
import shutil
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from finporter_spark.caching import load_or_build

# partial/merge expression pairs per algebraic aggregate
_ALGEBRAIC = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: Mapping[str, tuple[str, str]],
    buckets: int = 16,
    salt_source: Column | None = None,
) -> DataFrame:
    """Skew-tolerant groupBy: ``aggs`` maps output name -> (fn, column)
    with fn in {sum, count, min, max} (the algebraic aggregates — avg is
    sum/count composed by the caller so the merge stays exact).

    ``salt_source`` defaults to a deterministic spread over all non-key
    columns (NOT rand(): reruns and retries must land rows in the same
    sub-group for exactly-once semantics under task retry).
    """
    for name, (fn, _col) in aggs.items():
        if fn not in _ALGEBRAIC:
            raise ValueError(f"{name}: non-algebraic aggregate {fn!r}")
    if salt_source is None:
        spread_cols = [c for c in df.columns if c not in keys] or list(keys)
        salt_source = F.xxhash64(*[F.col(c) for c in spread_cols])
    salted = df.withColumn("_salt", F.pmod(salt_source, F.lit(buckets)))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[
            _ALGEBRAIC[fn][0](F.col(col)).alias(f"_p_{name}")
            for name, (fn, col) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _ALGEBRAIC[fn][1](F.col(f"_p_{name}")).alias(name)
            for name, (fn, _col) in aggs.items()
        ]
    )


def salted_replicate_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    buckets: int = 8,
    how: str = "inner",
    salt_source: Column | None = None,
) -> DataFrame:
    """Skew-tolerant shuffled equi-join: salt the BIG side's key with a
    deterministic bucket, replicate the SMALL side once per bucket, and
    join on (key, salt) — a hot key's rows spread across ``buckets``
    partitions instead of serializing on one reducer.

    This is the manual skew-join for the case AQE's OptimizeSkewedJoin
    can't reach (skew detected only at runtime inside a single map
    output, or an engine/stage where AQE is off — e.g. under a
    streaming micro-batch plan, where AQE's skew split is disabled) and
    the small side is too big to broadcast outright. Cost: the small
    side shuffles ``buckets``× — cheap by the "small" contract; the big
    side still shuffles once. Like :func:`salted_agg`, the salt comes
    from a DETERMINISTIC spread over payload columns, never ``rand()``
    (task retries must re-land rows identically).

    ``how`` is restricted to ``inner``/``left`` (incl. semi/anti): the
    replication is on the SMALL side, so right/full-outer would emit
    each unmatched small row once per replica — ``buckets``× inflated —
    and is rejected rather than silently wrong. Need small-side-preserving
    semantics? Salt the other way around or use the plain join + AQE.
    """
    allowed = {"inner", "left", "left_outer", "leftouter",
               "left_semi", "leftsemi", "semi",
               "left_anti", "leftanti", "anti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_replicate_join: how={how!r} unsupported — small-side "
            "replication would duplicate unmatched small rows under "
            "right/full-outer joins; use inner/left/semi/anti"
        )
    if salt_source is None:
        spread = [c for c in big.columns if c != big_key] or [big_key]
        salt_source = F.xxhash64(*[F.col(c) for c in spread])
    b = big.withColumn("_salt", F.pmod(salt_source, F.lit(buckets)).cast("int"))
    s = small.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i) for i in range(buckets)])),
    )
    out = b.join(
        s,
        (b[big_key] == s[small_key]) & (b["_salt"] == s["_salt"]),
        how,
    )
    if how.lower() in {"left_semi", "leftsemi", "semi", "left_anti",
                       "leftanti", "anti"}:
        return out.drop("_salt")
    # drop the SMALL side's key/salt by reference — dropping by name
    # would also take the big side's column when the key names collide
    return out.drop(s["_salt"]).drop(b["_salt"]).drop(s[small_key])


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_keys: Sequence[str],
    n_buckets: int = 32,
    sort_keys: Sequence[str] | None = None,
    path: str | None = None,
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by its join key.

    Joins between tables bucketed the same way on the same key read
    co-located buckets — no exchange at query time. This is the "pay the
    shuffle once at ingest" strategy for fact tables queried repeatedly.

    ``path`` makes it an external table at that location (scratch runs
    whose data shouldn't land in the session warehouse dir).
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a table dir orphaned by a previous session (fresh in-memory catalog,
    # surviving warehouse dir) blocks saveAsTable even in overwrite mode

    if path:
        shutil.rmtree(path, ignore_errors=True)
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse.startswith("file:"):
        warehouse = warehouse[5:]
    if warehouse:
        shutil.rmtree(os.path.join(warehouse, table.lower()), ignore_errors=True)
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_keys)
    if path:
        w = w.option("path", path)
    if sort_keys:
        w = w.sortBy(*sort_keys)
    w.saveAsTable(table)


def ensure_bucketed(
    df: DataFrame,
    table: str,
    bucket_keys: Sequence[str],
    n_buckets: int = 32,
    sort_keys: Sequence[str] | None = None,
    path: str | None = None,
    fingerprint: str | None = None,
) -> None:
    """Stage ``df`` bucketed at ``path`` once; later calls reuse the files.

    Bucketing is a pay-the-shuffle-once-at-ingest strategy, so re-shuffling
    and rewriting the table on every query defeats the point. When ``path``
    holds a write staged for ``fingerprint`` (the caller derives it from
    the source files), this registers the existing files as an external
    bucketed table — pure DDL, no data movement. Cache rules:
    :func:`caching.load_or_build`; no ``path`` writes the table each call.
    """
    spark = df.sparkSession

    def register():
        if not spark.catalog.tableExists(table):
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in df.schema.fields
            )
            sort = (
                f" SORTED BY ({', '.join(sort_keys)})" if sort_keys else ""
            )
            spark.sql(
                f"CREATE TABLE {table} ({cols}) USING parquet "
                f"CLUSTERED BY ({', '.join(bucket_keys)}){sort} "
                f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
            )
        return table

    load_or_build(
        path or None,
        fingerprint,
        lambda p: write_bucketed(
            df, table, bucket_keys, n_buckets, sort_keys, p
        ),
        register,
    )


def source_fingerprint(*paths: str) -> str:
    """Cheap driver-side identity for a set of source files/dirs:
    (name, size, mtime_ns) of every data file, hashed order-stably.
    Stat-only — no Spark job, no file reads."""
    import hashlib

    h = hashlib.sha256()
    for root in sorted(paths):
        if os.path.isdir(root):
            files = sorted(
                os.path.join(root, f)
                for f in os.listdir(root)
                if not f.startswith((".", "_"))
            )
        else:
            files = [root]
        for f in files:
            st = os.stat(f)
            h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def bucketed_join_ready(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back with bucket metadata intact."""
    return spark.table(table)


def compact_files(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-file compaction: rewrite a fragmented parquet dataset into
    ~``target_file_bytes`` files. Returns the output file count.

    The long-lived-table maintenance op every streaming/incremental
    sink eventually needs (a file-source sink writes one file per
    micro-batch per partition; a year of 5-minute batches is 100k tiny
    files, and open-file overhead then dominates scans). Sizing comes
    from the INPUT's actual on-disk bytes, so the result lands near the
    target regardless of row width. ``repartition`` (shuffle) rather
    than ``coalesce``: coalesce merges neighbors without rebalancing,
    so one dense input file yields one oversized output file; the
    shuffle buys evenly-sized output — the standard compaction
    trade-off, paid once per maintenance run.
    """
    import math

    total = 0
    for root, _dirs, files in os.walk(in_path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / target_file_bytes))
    (
        spark.read.parquet(in_path)
        .repartition(n)
        .write.mode("overwrite")
        .parquet(out_path)
    )
    return sum(
        1
        for f in os.listdir(out_path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def zorder_key(
    cols: Sequence[Column],
    mins: Sequence[float],
    maxs: Sequence[float],
    bits: int = 16,
) -> Column:
    """Z-order (Morton) clustering key: each column is min/max-scaled to
    a ``bits``-bit integer and the bits are interleaved, so sorting by
    the key co-clusters rows that are close in EVERY dimension at once.

    A single-column sort gives perfect parquet min/max pruning on that
    column and none on the others; the Z-curve trades a little
    per-column locality for locality in all dimensions — the standard
    lakehouse layout for tables filtered on more than one column
    (Bayer's UB-tree ordering; the same technique Delta/Iceberg expose
    as OPTIMIZE ZORDER / sort-order transforms).

    Pure column expressions (``bits * len(cols)`` shift/or terms, all
    whole-stage-codegen) — no UDF. ``mins``/``maxs`` are the dataset
    bounds per column (one tiny agg at write time, analogous to the
    stats pass every table format already runs).
    """
    top = (1 << bits) - 1
    scaled = []
    for c, mn, mx in zip(cols, mins, maxs):
        span = (mx - mn) or 1.0
        # multiply before dividing: when the input is already an exact
        # 0..top integer (rank_scale path) the mapping stays identity
        # instead of picking up float round-down at bin boundaries
        s = F.floor(
            (c.cast("double") - F.lit(float(mn))) * top / F.lit(span)
        ).cast("long")
        scaled.append(F.greatest(F.least(s, F.lit(top)), F.lit(0)))
    key = F.lit(0).cast("long")
    n = len(scaled)
    for i in range(bits):
        for j, s in enumerate(scaled):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftrightunsigned(s, i).bitwiseAND(F.lit(1)),
                    i * n + j,
                )
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 32,
    bits: int = 8,
    rank_scale: bool = True,
) -> None:
    """Write ``df`` as parquet clustered on the Z-order of ``cols``:
    range-partition by the key (``n_files`` compact z-ranges, one file
    each), sort within partitions, drop the key. Each output file then
    covers a tight hyper-rectangle, so parquet min/max stats prune
    scans filtered on ANY of the clustered columns — not just the
    first sort column.

    ``rank_scale`` (default): each column is mapped to its
    approx-quantile bin before interleaving, so skewed distributions
    still split the curve evenly — linear min/max scaling of a
    long-tailed column packs most rows into a few codes and the Z-curve
    degenerates to a sort on the other columns (the reason Delta/
    Iceberg z-order on range IDs, not raw values). The bin lookup is a
    broadcast-literal sorted-boundary array probed with
    ``size(filter(...))`` — per-row JVM expression, no shuffle, no UDF;
    the quantile pass is the same sampled sketch the range partitioner
    already runs."""
    n_bins = 1 << bits
    zcols = []
    if rank_scale:
        for c in cols:
            probs = [i / n_bins for i in range(1, n_bins)]
            bounds = df.approxQuantile(c, probs, 1.0 / (4 * n_bins))
            arr = F.array(*[F.lit(float(b)) for b in bounds])
            zcols.append(
                F.size(
                    F.filter(arr, lambda b: b <= F.col(c).cast("double"))
                ).cast("long")
            )
        mins = [0.0] * len(cols)
        maxs = [float(n_bins - 1)] * len(cols)
    else:
        b = df.agg(
            *[F.min(c).cast("double") for c in cols],
            *[F.max(c).cast("double") for c in cols],
        ).first()
        mins, maxs = b[: len(cols)], b[len(cols) :]
        zcols = [F.col(c) for c in cols]
    (
        df.withColumn("_zkey", zorder_key(zcols, mins, maxs, bits))
        .repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def exact_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    fractions: Sequence[float],
    buckets: int = 8192,
) -> DataFrame:
    """Exact interpolated percentiles (``quantile_cont`` semantics: with
    the group's non-null values sorted ``v_1..v_n``, ``p = 1+q*(n-1)``,
    ``k = floor(p)``, ``d = p-k``, result ``v_k + d*(v_{k+1}-v_k)``)
    WITHOUT a per-group value buffer.

    ``F.percentile`` materializes and sorts each group's full value set
    inside ONE aggregation task — at corpus scale with few groups that
    is ~N/G rows in one task's memory, a scale-killer. This is the
    two-phase distributed rank-select instead:

    1. one stats pass (min/max/count per group — map-combinable, tiny);
    2. rows bucket by a DETERMINISTIC monotone value map (uniform-width
       cells between the group's min/max — derived from the stats pass,
       never sampled, so retries and both engines agree), and a
       ``groupBy(group, bucket)`` count builds a cumulative ladder of at
       most ``buckets`` rows per group;
    3. the target ranks ``k``/``k+1`` locate their bucket on the ladder
       (stats-sized data); ONLY those buckets' rows — ≤ 2·|fractions|
       buckets per group, ~N·2|q|/(G·buckets) rows — are rank-picked
       with a window partitioned by (group, bucket). A bucket whose
       min == max (massive ties: one value dominating the group) is
       answered from the ladder directly, no sort at all.

    No task ever holds more than one bucket's rows; the corpus is
    scanned (column-pruned) but never fully shuffled. Groups whose
    values are all NULL are absent from the output (callers wanting
    SQL's NULL-row convention outer-join against their group domain).

    Returns long form: ``(*group_cols, fraction, value)``.
    """
    from pyspark.sql import Window

    g = list(group_cols)
    d0 = (
        df.select(*g, F.col(value_col).cast("double").alias("_v"))
        .where(F.col("_v").isNotNull())
        # pinned: the projection feeds the stats pass, the bucketing
        # pass and the rank-pick — unpinned, every caller re-scanned
        # (and for derived inputs, re-computed) it three times per
        # percentile call (a7/a16/a29/a40 showed 28-30 parquet scans
        # in their round-14 before-plans; guide §2.4). One
        # materialization of the 2-column projection replaces three
        # reads — strictly less I/O at any scale.
        .localCheckpoint(eager=False)
    )
    stats = (
        d0.groupBy(*g)
        .agg(
            F.min("_v").alias("_mn"),
            F.max("_v").alias("_mx"),
            F.count("_v").alias("_n"),
        )
        # pinned: group-level stats (G rows) feed the rank targets, the
        # bucketing join AND (via the ladder) the rank-pick — unpinned,
        # each consumer re-ran the full d0 aggregation pass (a7's
        # round-15 before-plan repeats the stats HashAggregate+Exchange
        # subtree 9x; guide §2.4). G rows materialized once replace
        # 3+ corpus passes at any scale.
        .localCheckpoint(eager=False)
    )
    # target ranks per (group, fraction) — stats-sized
    t = (
        stats.select(
            *g,
            "_n",
            F.explode(
                F.array(*[F.lit(float(q)) for q in fractions])
            ).alias("_q"),
        )
        .withColumn(
            "_p",
            F.lit(1.0) + F.col("_q") * (F.col("_n") - 1).cast("double"),
        )
        .withColumn("_k", F.floor("_p").cast("long"))
        .withColumn("_d", F.col("_p") - F.col("_k"))
        .withColumn("_rlo", F.col("_k"))
        .withColumn("_rhi", F.least(F.col("_k") + 1, F.col("_n")))
    )
    ranks = t.select(
        *g, "_q", "_d", F.col("_rlo").alias("_r"), F.lit("lo").alias("_s")
    ).unionByName(
        t.select(
            *g, "_q", "_d", F.col("_rhi").alias("_r"),
            F.lit("hi").alias("_s"),
        )
    )
    # deterministic monotone bucketing (broadcast stats onto the rows)
    db = (
        d0.join(F.broadcast(stats), g)
        .withColumn(
            "_b",
            F.when(F.col("_mx") == F.col("_mn"), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(buckets - 1),
                    F.floor(
                        (F.col("_v") - F.col("_mn"))
                        / (F.col("_mx") - F.col("_mn"))
                        * buckets
                    ),
                )
            )
            .cast("int"),
        )
        .select(*g, "_v", "_b")
    )
    ladder = db.groupBy(*g, "_b").agg(
        F.count("*").alias("_cnt"),
        F.min("_v").alias("_bmn"),
        F.max("_v").alias("_bmx"),
    )
    ladder = ladder.withColumn(
        "_cum",
        F.coalesce(
            F.sum("_cnt").over(
                Window.partitionBy(*g)
                .orderBy("_b")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    # pinned: the ladder (≤ buckets rows per group) feeds `need`, which
    # fans out to `direct`, the rank-pick bucket list AND the pick join
    # — unpinned, each consumer re-ran the corpus-sized bucket
    # aggregation from db (the dominant repeated subtree in the
    # round-15 before-plans: a7 855 plan lines / 56 Exchanges, a29
    # 906 / 60). One bucket-agg pass replaces three.
    ).localCheckpoint(eager=False)
    need = ranks.join(ladder, g).where(
        (F.col("_r") > F.col("_cum"))
        & (F.col("_r") <= F.col("_cum") + F.col("_cnt"))
    )
    # single-value buckets: the value AT any rank inside is the bucket's
    # min — answered from the ladder, the corpus is never touched
    direct = need.where(F.col("_bmn") == F.col("_bmx")).select(
        *g, "_q", "_d", "_s", F.col("_bmn").alias("_val")
    )
    todo = need.where(F.col("_bmn") != F.col("_bmx")).select(
        *g, "_b", "_q", "_d", "_s", "_r", "_cum"
    )
    picked = db.join(
        F.broadcast(todo.select(*g, "_b").distinct()), g + ["_b"]
    ).withColumn(
        "_lr",
        F.row_number().over(
            Window.partitionBy(*g, "_b").orderBy("_v")
        ),
    )
    vals = (
        picked.join(F.broadcast(todo), g + ["_b"])
        .where(F.col("_lr") == F.col("_r") - F.col("_cum"))
        .select(*g, "_q", "_d", "_s", F.col("_v").alias("_val"))
    )
    out = (
        direct.unionByName(vals)
        .groupBy(*g, "_q", "_d")
        .agg(
            F.max(F.when(F.col("_s") == "lo", F.col("_val"))).alias(
                "_vlo"
            ),
            F.max(F.when(F.col("_s") == "hi", F.col("_val"))).alias(
                "_vhi"
            ),
        )
    )
    return out.select(
        *g,
        F.col("_q").alias("fraction"),
        (
            F.col("_vlo")
            + F.col("_d") * (F.col("_vhi") - F.col("_vlo"))
        ).alias("value"),
    )


def hex_order_index(
    df: DataFrame,
    hex_col: Column,
    tiebreak: Sequence[str],
    buckets: int = 256,
    pos_col: str = "pos",
    prefix_chars: int = 3,
) -> DataFrame:
    """Distributed global ``row_number`` over a hex-string sort key
    (e.g. an md5 draw) — the total order an epoch shuffle needs WITHOUT
    the single-partition window ``Window.orderBy`` costs (Spark moves
    the whole dataset to one task; the WindowExec warning is real: at
    100 TB that plan simply does not run).

    Two-level formulation, one corpus-sized shuffle:

    1. ``_bkt = floor(int(hex[:prefix_chars], 16) * buckets / 16^p)`` —
       a DETERMINISTIC, monotonic bucketing of the key prefix (no
       sampled range boundaries, so retries/reruns and both engines
       agree). Ordering by ``(_bkt, hex, tiebreak)`` equals ordering by
       ``(hex, tiebreak)`` because ``_bkt`` is a monotone function of
       the hex prefix.
    2. A ``row_number`` window PARTITIONED by ``_bkt`` (the only
       corpus-sized exchange), plus per-bucket counts rolled into
       cumulative offsets — a ``buckets``-row ladder (bounded by the
       constant ``buckets``, independent of corpus size) that rides a
       broadcast join back onto the rows. The counts aggregate hangs
       off the same exchange, so the plan reuses the shuffle files
       (ReusedExchange) instead of re-scanning.

    ``pos = offset(_bkt) + local_rank`` reproduces the exact global
    row_number. md5 is uniform, so buckets are balanced by
    construction; a skewed custom key would want more ``prefix_chars``.
    """
    from pyspark.sql import Window

    if not 1 <= buckets <= 16 ** prefix_chars:
        raise ValueError(
            f"buckets must be in [1, {16 ** prefix_chars}] "
            f"for prefix_chars={prefix_chars}"
        )
    prefix_val = F.conv(F.substring(hex_col, 1, prefix_chars), 16, 10).cast(
        "long"
    )
    d = df.withColumn("_hk", hex_col).withColumn(
        "_bkt",
        F.floor(prefix_val * buckets / F.lit(16 ** prefix_chars)).cast("int"),
    )
    w_local = Window.partitionBy("_bkt").orderBy(
        F.col("_hk"), *[F.col(c) for c in tiebreak]
    )
    ranked = d.withColumn("_local", F.row_number().over(w_local))
    counts = d.groupBy("_bkt").agg(F.count("*").alias("_n"))
    offsets = counts.select(
        "_bkt",
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("_bkt").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_off"),
    )
    return (
        ranked.join(F.broadcast(offsets), "_bkt")
        .withColumn(pos_col, (F.col("_off") + F.col("_local")).cast("bigint"))
        .drop("_bkt", "_hk", "_local", "_off")
    )


def _resolve_nparts(df: DataFrame, nparts: int | None) -> int:
    """Default range-partition count for the ladder operators.

    A fixed default (the old 32) silently under-partitions at scale:
    on a 1000-executor cluster each range task would sort ~3% of the
    corpus, recreating a milder single-task trap. Derive instead from
    max(spark.sql.shuffle.partitions, defaultParallelism) so the ladder
    inherits whatever parallelism the session carries. Deliberately NOT
    ``df.rdd.getNumPartitions()``: touching ``df.rdd`` compiles the
    physical plan outside AQE (costly for complex upstream plans) and
    reads the pre-shuffle lineage count, not the post-AQE shape — it is
    consulted only as a last resort when the conf is unparsable (e.g.
    "auto" under some AQE configs). Callers with better knowledge pass
    an explicit value.
    """
    if nparts is not None:
        return nparts
    spark = df.sparkSession
    try:
        conf_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (TypeError, ValueError):
        conf_parts = 0
    try:
        default_par = int(spark.sparkContext.defaultParallelism)
    except Exception:  # connect-mode sessions have no sparkContext
        default_par = 0
    if conf_parts <= 0 and default_par <= 0:
        return max(df.rdd.getNumPartitions(), 1)
    return max(conf_parts, default_par, 1)


def global_rank(
    df: DataFrame,
    order_cols: Sequence[str],
    nparts: int | None = None,
) -> DataFrame:
    """Global 1-based rank over ``order_cols`` WITHOUT the single-task
    trap — the z6 TeraSort offset ladder as a reusable operator.

    ``row_number() OVER (ORDER BY ...)`` with no PARTITION BY sorts the
    whole dataset on ONE task. Instead: ``repartitionByRange`` (sampled
    range exchange — every partition sorts in parallel), one tiny
    per-partition count job whose cumulative offsets are mapped back as
    literals, and a PARALLEL window per partition id. The range shuffle
    is ``localCheckpoint``-pinned before both consumers: Spark 4's range
    sampling is nondeterministic ACROSS JOBS (measured — see
    ``z6_global_rank``), so the counts job and the final job must read
    the same materialized boundaries or the offsets are wrong.

    ``order_cols`` must be a TOTAL order (no ties) — ranks are assigned
    by sort position, and tied rows would rank nondeterministically.
    Driver state is one bigint per partition (bounded). Returns ``df``
    + ``rnk`` (bigint, 1-based) + ``n_total`` (bigint).
    """
    from pyspark.sql import Window

    nparts = _resolve_nparts(df, nparts)
    cols = [F.col(c) for c in order_cols]
    ranked = (
        df.repartitionByRange(nparts, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r._pid: r.cnt
        for r in ranked.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    total = sum(counts.values())
    offs, acc = {}, 0
    for pid in sorted(counts):
        offs[pid] = acc
        acc += counts[pid]
    off_expr = F.create_map(
        *[F.lit(x) for pid in sorted(offs) for x in (pid, offs[pid])]
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        ranked.withColumn(
            "rnk",
            (
                F.row_number().over(w)
                + F.element_at(off_expr, F.col("_pid")).cast("bigint")
            ).cast("bigint"),
        )
        .withColumn("n_total", F.lit(total).cast("bigint"))
        .drop("_pid")
    )


def global_order_ffill(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "_ffill",
    nparts: int | None = None,
) -> DataFrame:
    """LAST_VALUE(... IGNORE NULLS) over a GLOBAL order without the
    single-task window — forward-fill across a corpus-wide sort.

    ``last_value(x ignore nulls) OVER (ORDER BY ...)`` with no
    PARTITION BY is the same 100 TB-killer as global row_number: one
    task sorts and scans everything. The distributed shape mirrors
    :func:`global_rank`'s ladder: range-partition on the order
    (parallel sorts), forward-fill WITHIN each partition with a plain
    window, then carry each partition's LAST non-null value into every
    later partition — per-partition lasts are one bounded driver
    collect (``max_by`` over the order, deterministic), prefix-scanned
    in driver Python, and mapped back as literals. The range shuffle is
    ``localCheckpoint``-pinned (Spark 4's range sampling is
    nondeterministic across jobs — the z6 lesson) so the carry job and
    the fill job read identical partition boundaries.

    ``order_cols`` must be a total order. Rows before the first
    non-null value fill with NULL. Returns ``df`` + ``out_col``.
    """
    from pyspark.sql import Window

    nparts = _resolve_nparts(df, nparts)
    cols = [F.col(c) for c in order_cols]
    ranked = (
        df.repartitionByRange(nparts, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = ranked.withColumn(
        "_local", F.last(value_col, ignorenulls=True).over(w)
    )
    lasts = {
        r._pid: r.last_v
        for r in ranked.filter(F.col(value_col).isNotNull())
        .groupBy("_pid")
        .agg(F.max_by(value_col, F.struct(*cols)).alias("last_v"))
        .collect()
    }
    carry, running = {}, None
    for pid in range(nparts):
        carry[pid] = running
        if pid in lasts:
            running = lasts[pid]
    items = [(pid, v) for pid, v in carry.items() if v is not None]
    if items:
        carry_expr = F.create_map(
            *[F.lit(x) for pid, v in items for x in (pid, v)]
        )
        filled = local.withColumn(
            "_carry", F.element_at(carry_expr, F.col("_pid"))
        )
    else:
        filled = local.withColumn("_carry", F.lit(None))
    return (
        filled.withColumn(
            out_col, F.coalesce(F.col("_local"), F.col("_carry"))
        )
        .drop("_pid", "_local", "_carry")
    )


def vacuum_versions(
    root: str,
    keep: int = 2,
    prefix: str = "state_v",
) -> dict:
    """Version retention for the versioned merge sinks
    (``streaming.pipeline.versioned_keep_first_sink`` / x9's layout:
    one ``state_v{batch_id}`` parquet directory per committed batch) —
    the missing third of the lakehouse maintenance triad (o8 compacts
    small files, o12 snapshots; without vacuum every superseded version
    lives forever, so a year of 5-minute batches stores the full state
    100k times).

    Removes all but the newest ``keep`` versions. ``keep`` defaults to
    2, NOT 1: a crash-restarted stream replays its failed batch under
    the same batch_id and merges onto the newest version OLDER than
    that id — vacuuming to a single version while the stream is live
    would leave a replayed final batch with no parent (silent state
    loss). keep=1 is for retired sinks only.

    Crash-safe by construction: versions are removed OLDEST-FIRST, and
    each removal is an atomic ``rename`` to a ``_vacuum_…`` tombstone
    followed by the recursive delete — version discovery (the sinks'
    ``latest_version`` and any reader) matches the ``state_v`` prefix,
    so a version disappears in one atomic step and a crash anywhere
    mid-vacuum leaves the newest version intact and every remaining
    version readable. Leftover tombstones from a crashed run are
    reclaimed at the start of the next vacuum. Returns
    ``{"kept": [...], "removed": [...]}``.
    """
    if keep < 1:
        raise ValueError("vacuum_versions: keep must be >= 1")
    if not os.path.isdir(root):
        return {"kept": [], "removed": []}
    # finish any interrupted removal first (tombstones are invisible to
    # discovery, so this is pure space reclamation). Reclaim LOUDLY:
    # a stray FILE squatting on a tombstone name, or an undeletable
    # tombstone, must surface here with its real cause — swallowing it
    # would wedge every later vacuum at the rename with an opaque
    # EEXIST/ENOTEMPTY and retention would never progress.
    for d in os.listdir(root):
        if d.startswith("_vacuum_"):
            p = os.path.join(root, d)
            try:
                if os.path.isdir(p):
                    shutil.rmtree(p)
                else:
                    os.remove(p)
            except OSError as exc:
                raise OSError(
                    f"vacuum_versions: cannot reclaim tombstone {p!r} "
                    f"({exc}); remove it manually — retention is "
                    "blocked until the name is free"
                ) from exc
    versions = sorted(
        int(d[len(prefix):])
        for d in os.listdir(root)
        if d.startswith(prefix) and d[len(prefix):].isdigit()
    )
    doomed = versions[:-keep] if len(versions) > keep else []
    removed = []
    for v in doomed:  # oldest first: newest versions are never at risk
        src = os.path.join(root, f"{prefix}{v}")
        tomb = os.path.join(root, f"_vacuum_{prefix}{v}")
        os.rename(src, tomb)  # atomic de-listing
        shutil.rmtree(tomb)
        removed.append(v)
    return {"kept": versions[len(doomed):], "removed": removed}
