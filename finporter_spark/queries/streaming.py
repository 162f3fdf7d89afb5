"""Structured Streaming queries: the x family, the streaming pipelines
(pipe3, pipe9, pipe9b) and the versioned-sink maintenance queries that
drive them (o19 vacuum, o20 time travel).

Every x query except x2/x2_sliding/x3 drains a Structured Streaming
query while it builds (``availableNow`` over a staged file drop, or the
Python data source); those three are the batch forms of the stream
windows. Each drained result is checked against a batch DuckDB oracle,
so the oracle holds only when the stream equals the batch answer.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import Window, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from finporter_spark.operators.dedup import (
    apply_changelog,
    band_hash,
    load_or_build_signatures,
    minhash_signatures_fn,
    normalized_text,
)
from finporter_spark.operators.scale import source_fingerprint, vacuum_versions
from finporter_spark.operators.similarity import (
    build_ivfadc_codes,
    load_or_train_centroids_det,
)
from finporter_spark.operators.text import tokens
from finporter_spark.queries.ann import (
    _EMB_E,
    _PQ_M,
    _ivf_ctes,
    _pq_books,
    _pq_codes,
    _pq_sub_ctes,
)
from finporter_spark.queries.catalog import (
    CATALOG,
    DSUM,
    _TOKS,
    _t,
    dsum,
    query,
)
from finporter_spark.queries.relational import _O10_ORACLE
from finporter_spark.queries.staging import (
    io_dir as _io_dir,
    src_fp as _src_fp,
    stage_once as _stage_once,
    stage_x15_drop as _x15_staged_drop,
    stage_x6_drop as _stage_x6_drop,
)
from finporter_spark.queries.stats import (
    _A40_ORACLE,
    _A42_ORACLE,
    _psi_table,
    _psi_table_weekly,
    _x18_reference,
)
from finporter_spark.queries.text_prep import (
    _L26_FEAT,
    _l26_iter,
    _l2_band_union,
    _l2_sig_ctes,
)
from finporter_spark.streaming.pipeline import (
    ensure_worker_protobuf,
    list_versions,
    read_version,
    run_stream_foreach_batch,
    run_stream_to_memory,
    stream_decode_files,
    stream_interval_join,
    versioned_keep_first_sink,
    versioned_keep_latest_sink,
)


_STATE_PROVIDER = "spark.sql.streaming.stateStore.providerClass"


@contextmanager
def _rocksdb_state_store(spark):
    """Run the block's streams on the RocksDB state store, then restore
    the session's provider (or unset it if none was set)."""
    prev = spark.conf.get(_STATE_PROVIDER, None)
    spark.conf.set(
        _STATE_PROVIDER,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        if prev is not None:
            spark.conf.set(_STATE_PROVIDER, prev)
        else:
            spark.conf.unset(_STATE_PROVIDER)


# =====================================================================
# X — streaming semantics, batch shape (X2/X3); stream-mode tests in tests/
# =====================================================================

@query(
    "x2_tumbling_window",
    f"""
    SELECT make_timestamp(CAST(floor(epoch(ts) / 600) AS BIGINT) * 600 * 1000000)
             AS window_start,
           event_type, COUNT(*) AS n, {DSUM('value')} AS total
    FROM events GROUP BY 1, 2
    """,
)
def x2_tumbling_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value")).alias("total"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total"
        )
    )


@query(
    "x3_session_window",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def x3_session_window(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id", F.col("sw.start").alias("session_start"), "n_events"
        )
    )


def _stage_events_csv(spark, sf_dir):
    """The canonical events-as-CSV drop folder (shared by x1/x8/x9).

    Written as EIGHT files: the drop exists to exercise multi-batch
    drains (``maxFilesPerTrigger=1``), and the source parquet is a
    single partition at test SFs — without the repartition the "stream"
    would collapse to one micro-batch and every multi-batch claim
    downstream would be vacuous (x9's version-count test pins this).
    All consumers are order-insensitive (complete-mode agg, full union,
    associative merge), so the nondeterministic row placement is fine.
    """
    return _stage_once(
        sf_dir,
        "x1_8f",
        lambda p: _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "event_type",
            "value",
        )
        .repartition(8)
        .write.mode("overwrite")
        .csv(p, header=True),
        "events",
    )


@query(
    "x1_stream_file_source",
    f"""
    SELECT make_timestamp(CAST(floor(epoch(ts) / 600) AS BIGINT)
             * 600 * 1000000) AS window_start,
           event_type, COUNT(*) AS n, {DSUM('value')} AS total
    FROM events GROUP BY 1, 2
    """,
)
def x1_stream_file_source(spark, sf_dir):
    """X1: CSV file-source stream of the events table -> tumbling-window
    aggregation -> memory sink. Complete output mode (no watermark) so a
    full drain is exactly the batch answer at any micro-batch split."""
    path = _stage_events_csv(spark, sf_dir)
    sdf = stream_decode_files(
        spark,
        path,
        schema="event_id bigint, ts timestamp, event_type string, "
        "value double",
    )
    agg = (
        sdf.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total"
        )
    )
    return run_stream_to_memory(agg, "x1_mem", output_mode="complete")


@query(
    "x10_stream_static_join",
    f"""
    SELECT c.c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n,
           {DSUM('e.value')} AS total
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def x10_stream_static_join(spark, sf_dir):
    """X10: stream-static enrichment join — the canonical streaming-ETL
    shape (fact stream enriched against a slowly-changing dim). The dim
    is a static broadcast side, so each micro-batch joins map-side with
    NO stream-state: unlike stream-stream joins (x7) there is nothing to
    watermark, and at 100 TB the dim refresh is a snapshot swap. Complete-
    mode agg over the joined stream makes a full drain equal the batch
    answer under any micro-batch split."""
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    path = _stage_once(
        sf_dir,
        "x10",
        lambda p: e.repartition(8).write.mode("overwrite").csv(p, header=True),
        "events",
    )
    sdf = stream_decode_files(
        spark, path, schema="event_id bigint, user_id bigint, value double"
    )
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    agg = (
        sdf.join(F.broadcast(dim), sdf.user_id == dim.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total"),
        )
    )
    return run_stream_to_memory(agg, "x10_mem", output_mode="complete")


@query("x5_stream_dedup", "SELECT DISTINCT event_id FROM events")
def x5_stream_dedup(spark, sf_dir):
    """X5: stateful streaming dedup (dropDuplicatesWithinWatermark) over
    a stream carrying every event twice; exactly one row per key comes
    out. 8 staged files stay within one maxFilesPerTrigger batch =>
    deterministic, and the staging write + ingest run parallel."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
    )
    path = _stage_once(
        sf_dir,
        "x5",
        lambda p: e.unionAll(e)
        .repartition(8)
        .write.mode("overwrite")
        .csv(p, header=True),
        "events",
    )
    sdf = stream_decode_files(spark, path, schema="event_id bigint, ts timestamp")
    deduped = sdf.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return run_stream_to_memory(
        deduped.select("event_id"), "x5_mem", output_mode="append"
    )


@query(
    "x2_sliding_window",
    f"""
    WITH g AS (
      SELECT e.*, make_timestamp(
               (CAST(floor(epoch(ts) / 300) AS BIGINT) - o.o) * 300 * 1000000)
               AS window_start
      FROM events e, (SELECT unnest([0, 1]) AS o) o
    )
    SELECT window_start, event_type, COUNT(*) AS n, {DSUM('value')} AS total
    FROM g
    WHERE epoch(ts) >= epoch(window_start)
      AND epoch(ts) < epoch(window_start) + 600
    GROUP BY window_start, event_type
    """,
)
def x2_sliding_window(spark, sf_dir):
    """X2 sliding variant: 10-minute windows every 5 minutes — each event
    lands in 2 overlapping windows (Spark expands this map-side; the
    oracle reproduces the expansion with an explicit 2-way unnest)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total"
        )
    )


_EVENTS_CSV = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string"
)


def _stage_x7_drop(spark, sf_dir):
    """The events CSV drop, 8 files, that x7 and x13 drain (staged once
    under x7's name)."""
    return _stage_once(
        sf_dir,
        "x7",
        lambda p: _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "user_id",
            "event_type",
        )
        .repartition(8)
        .write.mode("overwrite")
        .csv(p, header=True),
        "events",
    )


def _event_stream(spark, path, prefix, per_trigger, kind=None, user=None):
    """One side of a stream-stream join: the events CSV under ``path``
    read ``per_trigger`` files per micro-batch, kept to ``event_type ==
    kind`` when given, with the id and ts renamed ``<prefix>_id`` and
    ``<prefix>_ts`` and user_id renamed ``user`` when given."""
    sdf = (
        spark.readStream.schema(_EVENTS_CSV)
        .option("header", True)
        .option("maxFilesPerTrigger", per_trigger)
        .csv(path)
    )
    if kind is not None:
        sdf = sdf.filter(F.col("event_type") == kind)
    return sdf.select(
        F.col("event_id").alias(f"{prefix}_id"),
        F.col("ts").alias(f"{prefix}_ts"),
        F.col("user_id").alias(user) if user else "user_id",
    )


@query(
    "x7_stream_stream_join",
    """
    SELECT a.event_id AS view_id, b.event_id AS purchase_id,
           a.user_id, a.ts AS view_ts, b.ts AS purchase_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
    """,
)
def x7_stream_stream_join(spark, sf_dir):
    """X7: stream-stream interval join — views attributed to purchases by
    the same user within 6 hours (streaming/pipeline.stream_interval_join).
    Two file-source streams over the same staged CSV drop, inner-joined
    with watermarks + the interval bound (what lets Spark evict join
    state at scale). The drain retention exceeds the 30-day data span, so
    the availableNow output is exactly the batch join the oracle runs."""
    path = _stage_x7_drop(spark, sf_dir)
    # 4 of the 8 files per trigger: a multi-batch drain buffers join state
    joined = stream_interval_join(
        _event_stream(spark, path, "view", 4, kind="view"),
        _event_stream(spark, path, "purchase", 4, kind="purchase"),
        key="user_id",
        ts_left="view_ts",
        ts_right="purchase_ts",
        within="6 hours",
        watermark="365 days",
    )
    out = run_stream_to_memory(joined, "x7_mem", output_mode="append")
    return out.select(
        "view_id", "purchase_id", "user_id", "view_ts", "purchase_ts"
    )


@query(
    "x15_stream_outer_interval_join",
    """
    SELECT a.event_id AS view_id, b.event_id AS purchase_id,
           a.user_id, a.ts AS view_ts, b.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') a
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
    """,
)
def x15_stream_outer_interval_join(spark, sf_dir):
    """X15: stream-stream LEFT OUTER interval join — x7's attribution
    shape, but views with NO purchase within 6 hours surface with null
    purchase columns. This was the one declared-impossible streaming
    shape through round 8 (null-side rows emit only on watermark
    passage, which drain-style retention never reaches). The harness
    that makes it deterministic is x4's forced-mtime trick:

    - batch 1 (one CSV per side, earliest mtime): ALL real events — the
      30-minute watermark can never drop a real row because it only
      takes effect from batch 2;
    - batch 2: sentinel rows dated 2099 advance both sides' watermarks
      decades past every real view's eviction bound (view_ts + 6 h +
      30 min);
    - batch 3: sentinel rows dated 2100 — the batch that RUNS with the
      2099-derived watermark, evicting and null-emitting every
      unmatched real view.

    Sentinels carry negative ids and are filtered from the result, so
    the drained output equals the batch left-outer join exactly — the
    oracle gates it. maxFilesPerTrigger=1 + staged mtimes pin the batch
    order (file source processes oldest-mtime first)."""
    path = _x15_staged_drop(spark, sf_dir)
    joined = stream_interval_join(
        _event_stream(spark, os.path.join(path, "left"), "view", 1),
        _event_stream(spark, os.path.join(path, "right"), "purchase", 1),
        key="user_id",
        ts_left="view_ts",
        ts_right="purchase_ts",
        within="6 hours",
        watermark="30 minutes",
        how="left_outer",
    )
    out = run_stream_to_memory(joined, "x15_mem", output_mode="append")
    return out.filter(F.col("view_id") >= 0).select(
        "view_id", "purchase_id", "user_id", "view_ts", "purchase_ts"
    )


@query(
    "x4_watermark_latedrop",
    """
    WITH a AS (
      SELECT ts FROM events WHERE event_id % 2 = 0
    ), wmk AS (
      SELECT max(ts) - INTERVAL 31 MINUTE AS w FROM a
    ), late AS (
      SELECT ts - INTERVAL 1 HOUR AS ts FROM events WHERE event_id % 2 = 1
    ), kept AS (
      SELECT ts FROM a
      UNION ALL
      SELECT max(ts) FROM a
      UNION ALL
      SELECT late.ts FROM late, wmk
      WHERE make_timestamp(CAST(floor(epoch(late.ts) / 600) AS BIGINT)
              * 600 * 1000000) + INTERVAL 10 MINUTE > wmk.w
    )
    SELECT make_timestamp(CAST(floor(epoch(ts) / 600) AS BIGINT)
             * 600 * 1000000) AS window_start,
           COUNT(*) AS n
    FROM kept GROUP BY 1
    """,
)
def x4_watermark_latedrop(spark, sf_dir):
    """X4: watermark LATE-ROW DROP, hash-checked (not just a semantics
    test). Three staged CSV files with forced mtimes drain in fixed
    order (maxFilesPerTrigger=1 -> one batch each): the on-time half,
    a one-row spacer, then the other half shifted back an hour.
    Measured Spark 4 behavior (pinned by this oracle): the watermark
    computed from batch N's event times filters input from batch N+2 —
    so the spacer batch is what makes the late batch see
    max(on-time) - 31min. Spark admits a late row iff its WINDOW END
    exceeds that watermark; the oracle encodes exactly that predicate
    (a-half + spacer row + the surviving tail of the late half), so the
    hash match pins the eviction semantics. Update-mode emissions are
    cumulative per window; max(n) per window is the final state.
    (31-minute delay: the max-ts offsets within the 10-minute window
    grid are 316s/372s/… at the shipped SFs, so the watermark never
    lands exactly on a window edge.)"""
    def _write(p):
        os.makedirs(p, exist_ok=True)
        e = _t(spark, sf_dir, "events")
        evens = e.filter(F.col("event_id") % 2 == 0)
        fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")  # noqa: E731
        for name, df, mtime in (
            ("a.csv", evens.select(fmt(F.col("ts")).alias("ts")), 1_000_000_000),
            (
                "b_spacer.csv",
                evens.agg(fmt(F.max("ts")).alias("ts")),
                1_000_001_000,
            ),
            (
                "c_late.csv",
                e.filter(F.col("event_id") % 2 == 1).select(
                    fmt(F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("ts")
                ),
                1_000_002_000,
            ),
        ):
            tmp = os.path.join(p, "_tmp")
            df.repartition(1).write.mode("overwrite").csv(tmp, header=True)
            part = next(
                f for f in os.listdir(tmp) if f.startswith("part-")
            )
            dst = os.path.join(p, name)
            os.replace(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            # file-source batch order follows modification time; pin it
            os.utime(dst, (mtime, mtime))

    path = _stage_once(sf_dir, "x4", _write, "events")
    sdf = (
        spark.readStream.schema("ts timestamp")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(path)
        .withWatermark("ts", "31 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )
    out = run_stream_to_memory(sdf, "x4_mem", output_mode="update")
    return out.groupBy("window_start").agg(F.max("n").alias("n"))


@query(
    "x8_foreach_batch_sink",
    f"""
    SELECT event_type, COUNT(*) AS n, {DSUM('value')} AS total
    FROM events GROUP BY event_type
    """,
)
def x8_foreach_batch_sink(spark, sf_dir):
    """X8: foreachBatch custom sink — the extension point for sinks
    Spark lacks natively (JDBC upsert, merge-into, multi-table fan-out).
    The events CSV drop drains through a file stream in multiple
    micro-batches (maxFilesPerTrigger=1); each batch lands in a parquet
    'table' stamped with its batch_id (the idempotence key a real sink
    would MERGE on). The returned aggregate reads the SINK's output, so
    the oracle match proves the custom sink received exactly the full
    input across batches — no loss, no duplication."""
    path = _stage_events_csv(spark, sf_dir)
    out = _io_dir(sf_dir, "x8_out")
    ckpt = _io_dir(sf_dir, "x8_ckpt")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    sdf = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, event_type string, value double"
        )
        .option("header", True)
        .option("maxFilesPerTrigger", 1)  # force a multi-batch drain
        .csv(path)
    )

    def sink(bdf, batch_id):
        bdf.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out)

    run_stream_foreach_batch(sdf, sink, ckpt)
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total"),
        )
    )


@query(
    "x9_incremental_mv",
    f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           {DSUM('value')} AS total
    FROM events GROUP BY event_type
    """,
)
def x9_incremental_mv(spark, sf_dir):
    """X9: incrementally-maintained materialized view — the streaming
    pattern behind every 'continuous aggregate': each micro-batch's
    partial aggregate is MERGED into a persisted state table instead of
    recomputing the full aggregate. State versions are written to
    ``state_v{{batch_id}}`` (idempotent per batch_id: a replayed batch
    overwrites its own version, the exactly-once leg x8's crash-restart
    test proves), and each merge reads the previous version — so state
    size stays O(groups), independent of stream length. The returned
    final state must equal the one-shot batch aggregate over the whole
    input: the oracle proves incremental == batch.
    """
    path = _stage_events_csv(spark, sf_dir)
    root = _io_dir(sf_dir, "x9_state")
    ckpt = _io_dir(sf_dir, "x9_ckpt")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    sdf = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, event_type string, value double"
        )
        .option("header", True)
        .option("maxFilesPerTrigger", 1)  # force a multi-batch drain
        .csv(path)
    )

    def latest_version(before: int) -> int:
        """Newest persisted state older than ``before`` — discovered from
        the sink itself, so a crash-restarted process (which replays the
        failed batch under the same id) merges onto the right parent
        instead of trusting in-process memory."""
        versions = [
            int(d[len("state_v"):])
            for d in (os.listdir(root) if os.path.isdir(root) else [])
            if d.startswith("state_v") and int(d[len("state_v"):]) < before
        ]
        return max(versions, default=-1)

    def merge(bdf, batch_id):
        delta = bdf.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("total_dec"),
        )
        parent = latest_version(batch_id)
        if parent >= 0:
            prev = bdf.sparkSession.read.parquet(
                os.path.join(root, f"state_v{parent}")
            )
            delta = (
                prev.unionByName(delta)
                .groupBy("event_type")
                .agg(
                    F.sum("n").alias("n"),
                    F.sum("total_dec").alias("total_dec"),
                )
            )
        delta.write.mode("overwrite").parquet(
            os.path.join(root, f"state_v{batch_id}")
        )

    run_stream_foreach_batch(sdf, merge, ckpt)
    final = spark.read.parquet(
        os.path.join(root, f"state_v{latest_version(1 << 62)}")
    )
    return final.select(
        "event_type", "n", F.col("total_dec").cast("double").alias("total")
    )


@query(
    "pipe3_stream_corpus_ingest",
    r"""
    WITH norm AS (
      SELECT doc_id, lang,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
      FROM documents
    ), gated AS (
      SELECT doc_id, lang, nt,
             CAST(len(string_split(nt, ' ')) AS INT) AS n_tokens
      FROM norm WHERE len(string_split(nt, ' ')) >= 10
    ), keep AS (
      SELECT min(doc_id) AS doc_id FROM gated GROUP BY sha256(nt)
    )
    SELECT g.doc_id, g.lang, g.n_tokens FROM gated g JOIN keep USING (doc_id)
    """,
)
def pipe3_stream_corpus_ingest(spark, sf_dir):
    """PIPE3: STREAMING corpus ingestion — pipe1's incremental twin.
    Documents arrive as a JSON-lines file stream; each micro-batch is
    quality-gated (token count) map-side, then MERGED into a persisted
    corpus keyed by content hash with keep-lowest-doc_id semantics, so
    exact dedup holds ACROSS batches: a duplicate arriving three batches
    after its original is dropped by the sink merge, not by unbounded
    stream state. Versioned idempotent sink (state_v{batch_id}, parent
    discovered from the sink — x9's exactly-once pattern); the oracle is
    the one-shot batch pipeline over the whole corpus, proving
    incremental ingestion == batch rebuild."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    path = _stage_once(
        sf_dir,
        "pipe3",
        lambda p: docs.repartition(8).write.mode("overwrite").json(p),
        "documents",
    )
    root = _io_dir(sf_dir, "pipe3_state")
    ckpt = _io_dir(sf_dir, "pipe3_ckpt")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    sdf = (
        spark.readStream.schema("doc_id bigint, text string, lang string")
        .option("maxFilesPerTrigger", 2)  # multi-batch: dedup must cross batches
        .json(path)
    )
    enriched = (
        sdf.select("doc_id", "lang", normalized_text(F.col("text")).alias("nt"))
        .withColumn("n_tokens", F.size(F.split("nt", " ")).cast("int"))
        .filter(F.col("n_tokens") >= 10)
        .withColumn("h", F.sha2("nt", 256))
        .select("doc_id", "lang", "n_tokens", "h")
    )

    merge, read_final = versioned_keep_first_sink(
        root, key_col="h", order_col="doc_id"
    )
    run_stream_foreach_batch(enriched, merge, ckpt)
    return read_final(spark).select("doc_id", "lang", "n_tokens")


@query(
    "x11_stream_budget_gate",
    f"""
    WITH t AS (
      SELECT doc_id, source, CAST(len({_TOKS}) AS INT) AS n_tokens,
             SUM(len({_TOKS})) OVER (PARTITION BY source ORDER BY doc_id)
               AS cum
      FROM documents
    )
    SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
    FROM t WHERE cum <= 400
    """,
)
def x11_stream_budget_gate(spark, sf_dir):
    """X11: CUSTOM stateful streaming operator via
    ``applyInPandasWithState`` — a per-source token-budget admission
    gate (o11's streaming sibling): documents stream in doc_id order
    and each source admits its ordered prefix while the cumulative
    token count (counting every seen doc, so the cut is a deterministic
    truncation point) stays ≤ 400. The cumulative counter is the
    per-key GroupState, carried ACROSS micro-batches (3 staged files,
    forced mtimes, maxFilesPerTrigger=1 → the budget must survive 3
    state round-trips). Arrow-batched per group; state is one long per
    source — the custom-state path Spark's built-in streaming ops
    (dedup, windowed agg) can't express. Oracle: the equivalent batch
    running-sum window."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    BUDGET = 400

    def _write(p):
        os.makedirs(p, exist_ok=True)
        d = _t(spark, sf_dir, "documents").select(
            "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tokens")
        )
        hi = d.agg(F.max("doc_id")).first()[0] or 0
        third = hi // 3 + 1
        for i in range(3):
            part_df = d.filter(
                (F.col("doc_id") >= i * third)
                & (F.col("doc_id") < (i + 1) * third)
            )
            tmp = os.path.join(p, "_tmp")
            part_df.repartition(1).write.mode("overwrite").csv(
                tmp, header=True
            )
            part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
            dst = os.path.join(p, f"{chr(97 + i)}.csv")
            os.replace(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            mtime = 1_000_000_000 + i * 1000
            os.utime(dst, (mtime, mtime))

    path = _stage_once(sf_dir, "x11", _write, "documents")

    def gate(key, pdfs, state):
        cum = state.get[0] if state.exists else 0
        parts = [p for p in pdfs if len(p)]
        if not parts:  # timeout-only invocations carry no rows
            return
        pdf = pd.concat(parts)
        # micro-batch partitions deliver group rows unordered; the
        # admission order contract is doc_id, so sort within the batch
        # (batches themselves arrive in doc_id-range order by staging)
        pdf = pdf.sort_values("doc_id")
        cums = cum + pdf["n_tokens"].cumsum()
        state.update((int(cum + int(pdf["n_tokens"].sum())),))
        admit = cums <= BUDGET
        out = pdf.loc[admit, ["doc_id", "source", "n_tokens"]].copy()
        out["cum_tokens"] = cums[admit]
        yield out

    sdf = (
        spark.readStream.schema("doc_id bigint, source string, n_tokens int")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(path)
    )
    gated = sdf.groupBy("source").applyInPandasWithState(
        gate,
        "doc_id bigint, source string, n_tokens int, cum_tokens bigint",
        "cum bigint",
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return run_stream_to_memory(gated, "x11_mem", output_mode="append")


@query(
    "x12_datasource_stream",
    """
    SELECT 'acct-' || CAST(p_partkey % 7 AS VARCHAR) AS accountID,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(p_size AS DOUBLE)) AS DOUBLE) AS total_shares
    FROM part
    GROUP BY 1
    """,
)
def x12_datasource_stream(spark, sf_dir):
    """X12: the finport connector's STREAMING read path
    (`spark.readStream.format("finport")`, a Spark 4
    DataSourceStreamReader; also registered as the alias
    x14_datasource_stream_parallel): a directory tail whose offsets are
    byte-granular and cut at record boundaries. The driver only
    advances offsets; each micro-batch plans one (file, byte-range)
    slice per grown file, split into string columns on the executors,
    and `typed` applies the importer's rules, as to the batch read.
    Checkpoint replay re-decodes exactly the byte ranges between two
    offsets (exactly-once; offset semantics unit-tested in
    tests/test_datasource.py). Drains the s12 fixture and aggregates in
    complete mode, so the drained answer equals the batch relational
    oracle under any micro-batch split. This drain runs as ONE
    micro-batch: Spark's Python stream sources do not support
    Trigger.AvailableNow and fall back to a single batch.
    tests/test_datasource.py::test_finport_stream_crosses_a_batch_boundary
    covers the split: two files, two batches, same aggregate as the
    batch read."""
    from finporter_spark.sources.finport_datasource import (
        FinportDataSource,
        typed,
    )

    # ensure the s12 fixture is staged (idempotent)
    CATALOG["s12_python_datasource"][0](spark, sf_dir).limit(1).collect()
    in_path = _io_dir(sf_dir, "s12")
    spark.dataSource.register(FinportDataSource)
    sdf = typed(
        spark.readStream.format("finport").option("path", in_path).load()
    )
    agg = sdf.groupBy("accountID").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("shareCount").cast("double").alias("total_shares"),
    )
    return run_stream_to_memory(
        agg, "x12_mem", output_mode="complete"
    )


# =====================================================================
# X13 — stream-stream LEFT SEMI interval join
# =====================================================================


@query(
    "x13_stream_semi_join",
    """
    SELECT a.event_id AS view_id, a.user_id, a.ts AS view_ts
    FROM events a
    WHERE a.event_type = 'view'
      AND EXISTS (
        SELECT 1 FROM events b
        WHERE b.user_id = a.user_id
          AND b.event_type = 'purchase'
          AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
      )
    """,
)
def x13_stream_semi_join(spark, sf_dir):
    """X13: stream-stream LEFT SEMI interval join — views that LED TO a
    purchase by the same user within 6 hours, each view emitted at most
    once (existence, not pair enumeration: x7's inner join fans out per
    matching purchase; attribution pipelines that only gate on
    conversion want the fanout-free shape, and the semi join's state is
    evicted identically). Same staged multi-batch CSV drop and drain
    harness as x7; retention exceeds the data span so the drained
    output is exactly the batch EXISTS the oracle runs. Outer
    stream-stream joins are deliberately not drained this way — see
    stream_interval_join's docstring."""
    path = _stage_x7_drop(spark, sf_dir)
    joined = stream_interval_join(
        _event_stream(spark, path, "view", 4, kind="view"),
        _event_stream(spark, path, "purchase", 4, kind="purchase"),
        key="user_id",
        ts_left="view_ts",
        ts_right="purchase_ts",
        within="6 hours",
        watermark="365 days",
        how="left_semi",
    )
    out = run_stream_to_memory(joined, "x13_mem", output_mode="append")
    return out.select("view_id", "user_id", F.col("view_ts"))


# =====================================================================
# X6b — running totals via the BUILT-IN streaming aggregation
# =====================================================================


@query(
    "x6b_builtin_running_totals",
    "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n "
    "FROM events GROUP BY user_id",
)
def x6b_builtin_running_totals(spark, sf_dir):
    """X6b: per-key running counts as a BUILT-IN streaming aggregation
    (groupBy().count() in update mode); also registered as the alias
    x6_stateful_running_totals. A per-key Python callback
    (applyInPandasWithState) invokes Python ONCE PER KEY per batch:
    ~4 min of callback overhead at the sf10 decade (~1.5M keys;
    DECADE_BENCH x6: 5.6/19.6/250 s). When the stateful semantics ARE
    expressible as an aggregation — running counts/sums/min/max per
    key — the built-in streaming agg keeps all state updates in the JVM
    state store with map-side partial aggregation and no Python
    boundary. This entry pins that guidance: one staged CSV drop, one
    availableNow drain (update mode emits exactly one row per key,
    equal to the batch aggregate the oracle runs), 32-way state
    partitioning. The 100 TB rule it encodes: reach for
    applyInPandasWithState only for semantics aggregation can't
    express (conditional resets, multi-counter transitions, custom
    eviction); otherwise the built-in agg is the scale path.
    """
    path = _stage_x6_drop(spark, sf_dir)
    sdf = (
        spark.readStream.schema("user_id bigint, ts timestamp, value double")
        .option("header", True)
        .csv(path)
    )
    agg = sdf.groupBy("user_id").agg(F.count("*").cast("bigint").alias("n"))
    out = run_stream_to_memory(
        agg, "x6b_mem", output_mode="update", state_partitions=32
    )
    return out.select("user_id", "n")


@query(
    "x16_stream_full_outer_interval_join",
    """
    SELECT a.event_id AS view_id, b.event_id AS purchase_id,
           COALESCE(a.user_id, b.user_id) AS user_id,
           a.ts AS view_ts, b.ts AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') a
    FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
    """,
)
def x16_stream_full_outer_interval_join(spark, sf_dir):
    """X16: stream-stream FULL OUTER interval join — x15's harness
    (forced-mtime sentinel batches; see x15's docstring for the
    mechanics) with both null sides: views with no purchase within 6 h
    AND purchases attached to no view both surface null-extended once
    the 2100-sentinel batch applies the 2099-advanced watermark.
    Sentinels (negative ids) are filtered; the drained result equals
    the batch FULL JOIN exactly (the oracle). Shares x15's staged drop
    (same fingerprint key) — one staging serves both queries."""
    path = _x15_staged_drop(spark, sf_dir)
    lw = _event_stream(
        spark, os.path.join(path, "left"), "view", 1, user="view_user"
    ).withWatermark("view_ts", "30 minutes")
    rw = _event_stream(
        spark, os.path.join(path, "right"), "purchase", 1, user="purchase_user"
    ).withWatermark("purchase_ts", "30 minutes")
    cond = (
        (lw["view_user"] == rw["purchase_user"])
        & (rw["purchase_ts"] >= lw["view_ts"])
        & (
            rw["purchase_ts"]
            <= lw["view_ts"] + F.expr("INTERVAL 6 HOURS")
        )
    )
    joined = lw.join(rw, cond, "full_outer")
    out = run_stream_to_memory(joined, "x16_mem", output_mode="append")
    return (
        out.filter(
            (F.col("view_id").isNull() | (F.col("view_id") >= 0))
            & (F.col("purchase_id").isNull() | (F.col("purchase_id") >= 0))
        )
        .select(
            "view_id",
            "purchase_id",
            F.coalesce(F.col("view_user"), F.col("purchase_user")).alias(
                "user_id"
            ),
            "view_ts",
            "purchase_ts",
        )
    )


# =====================================================================
# X17 — transformWithStateInPandas (Spark 4 StatefulProcessor)
# =====================================================================


@query(
    "x17_transform_with_state_top2",
    baseline_of="x6b_builtin_running_totals",
    oracle="""
    WITH s AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS iv
      FROM events
    ), r AS (
      SELECT user_id, iv,
             row_number() OVER (PARTITION BY user_id ORDER BY iv DESC)
               AS rk
      FROM s
    )
    SELECT user_id, COUNT(*) AS n,
           CAST(MAX(iv) AS DOUBLE) / 100.0 AS max_v,
           CAST(MAX(CASE WHEN rk = 2 THEN iv END) AS DOUBLE) / 100.0
             AS max2_v
    FROM r GROUP BY user_id
    """,
)
def x17_transform_with_state_top2(spark, sf_dir):
    """X17: Spark 4's ``transformWithStateInPandas`` (StatefulProcessor
    API) as a catalog operator — per-user event count + top-2 values
    carried in a typed ValueState across micro-batches. This was the
    one declared streaming surface with no catalog query (the round-8
    verdict's environment pin): the vendored minimal protobuf runtime
    (tools/vendor) unblocks the state-server protocol, and
    ``ensure_worker_protobuf`` ships it to Python workers via
    ``addPyFile`` so the query runs under the bare driver gate, not
    just pytest.

    Semantics demo of the API family: count+max+max2 ARE expressible as a
    built-in streaming agg — the point is the protocol: 8 staged files
    drained at ``maxFilesPerTrigger=4`` force 2 micro-batches (the
    minimum cross-batch proof; round-13 cut it from 4 — same proof,
    half the per-batch harness cost), so the (n, m1, m2) state
    genuinely round-trips the RocksDB state store
    between batches (n is strictly increasing per key, so the final
    state row per user is the max-n row — selected by one window).
    Values ride as bigint CENTS through pandas (order statistics only,
    no float accumulation), making the drained result exactly the
    batch top-2 the oracle computes.

    Scale shape: per-key state is 3 longs (bounded); the per-batch
    Python callback is a per-key pandas dispatch — production code
    with built-in-expressible semantics wants x6b's JVM state store;
    this operator is for semantics the built-ins genuinely can't
    express (custom eviction, top-k with k-sized state, model state)."""
    ensure_worker_protobuf(spark)
    from pyspark.sql.streaming import (  # needs protobuf on sys.path
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("m1", LongType()),
            StructField("m2", LongType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n", LongType()),
            StructField("m1", LongType()),
            StructField("m2", LongType()),
        ]
    )

    class Top2Processor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState("top2", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            vals = []
            n_new = 0
            for pdf in rows:
                n_new += len(pdf)
                vals.extend(int(v) for v in pdf["iv"])
            if self._st.exists():
                n0, m1, m2 = self._st.get()
            else:
                n0, m1, m2 = 0, None, None
            cand = [v for v in (m1, m2) if v is not None] + vals
            cand.sort(reverse=True)
            m1 = cand[0] if cand else None
            m2 = cand[1] if len(cand) > 1 else None
            n = n0 + n_new
            self._st.update((n, m1, m2))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n": [n],
                    "m1": [m1],
                    "m2": pd.array([m2], dtype="Int64"),
                }
            )

        def close(self) -> None:
            pass

    path = _stage_x6_drop(spark, sf_dir)
    sdf = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp, value double"
        )
        .option("header", True)
        # 8 files -> 2 micro-batches: the MINIMUM that proves the
        # (n, m1, m2) state round-trips the store between batches —
        # round-13 drain trim: 4 batches proved the same thing at 2x
        # the per-batch harness cost (store commits x partitions)
        .option("maxFilesPerTrigger", 4)
        .csv(path)
        .select(
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("iv"),
        )
    )
    with _rocksdb_state_store(spark):
        tws = sdf.groupBy("user_id").transformWithStateInPandas(
            Top2Processor(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        # state partitions 8, not x6b's 32: transformWithStateInPandas
        # dispatches Arrow batches per PARTITION (not one Python call
        # per key like applyInPandasWithState), so the per-batch
        # RocksDB instance load+commit × partitions dominates at drain
        # backlogs — A/B measured in optimization round 1: 32 → 8 is
        # 6.0 → 3.8 s (sp=4 regresses to 4.3 s, Python-side
        # parallelism lost). On a cluster this is the executors×cores
        # sizing rule as ever.
        out = run_stream_to_memory(
            tws, "x17_mem", output_mode="update", state_partitions=8
        )
    w = Window.partitionBy("user_id").orderBy(F.desc("n"))
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            "user_id",
            "n",
            (F.col("m1").cast("double") / 100.0).alias("max_v"),
            (F.col("m2").cast("double") / 100.0).alias("max2_v"),
        )
    )


@query("x18_stream_psi_monitor", _A40_ORACLE)
def x18_stream_psi_monitor(spark, sf_dir):
    """X18: streaming drift monitor — the CURRENT period arrives as a
    stream (8 mtime-staged CSV files, ``maxFilesPerTrigger=4`` → 2
    micro-batches: the minimum that proves the counts accrete ACROSS
    batches; round-13 cut it from 4 — update-mode final counts are
    batching-independent, so fewer batches = same proof, half the
    harness cost), each event is bucketed against the STATIC reference
    deciles via a stream-static broadcast join, and an update-mode
    streaming aggregation maintains per-(type, bucket) counts; after
    the drain, the final counts join the reference probabilities into
    the 10-term PSI table. This is a40 as a production monitor: the
    reference artifact is fixed, the current distribution accretes
    per micro-batch, and the PSI is readable after every trigger
    (here: after the final one).

    Correctness gate: the drained result must equal the BATCH a40
    result exactly — the update-mode final counts are the full
    current-period counts regardless of how the files batched, so x18
    carries a40's FULL value-hash oracle (the x5-vs-DISTINCT
    precedent: streaming infra, batch semantics), plus a same-session
    x18 == a40 equality test in pytest.

    Scale: the static side (9 edges + 10 p_ref rows per type) is a
    broadcast; streaming state is #types × 10 counters — bounded
    regardless of stream length."""
    s, el, rb, n = _x18_reference(spark, sf_dir)

    def write_current(p):
        (
            s.where(F.col("is_ref") == 0)
            .select("event_type", "iv")
            .repartition(8)
            .write.mode("overwrite")
            .csv(p, header=True)
        )

    path = _stage_once(sf_dir, "x18", write_current, "events")
    sdf = (
        spark.readStream.schema("event_type string, iv bigint")
        .option("header", True)
        .option("maxFilesPerTrigger", 4)
        .csv(path)
        .join(F.broadcast(el), "event_type")
        .select(
            "event_type",
            (
                1 + F.size(F.filter("es", lambda ed: F.col("iv") > ed))
            ).alias("bkt"),
        )
        .groupBy("event_type", "bkt")
        .count()
    )
    out = run_stream_to_memory(
        sdf, "x18_mem", output_mode="update", state_partitions=4
    )
    # final count per cell = the last (max) update-mode emission
    fin = out.groupBy("event_type", "bkt").agg(
        F.max("count").alias("bcur")
    )
    return _psi_table(spark, n, rb, fin)


# =====================================================================
# X19 — transformWithState TIMERS: timer-evicted streaming sessions
# =====================================================================


def _stage_x19_slices(spark, sf_dir):
    """Nine mtime-ordered CSV files: SEVEN contiguous EVENT-TIME slices
    of the events corpus (equal-width µs spans, so per-user rows arrive
    in event-time order across micro-batches — the precondition for
    incremental gap sessionization to equal the batch result) plus TWO
    future-dated sentinel files. Two sentinels because a new watermark
    only takes effect in the NEXT batch and availableNow runs no batch
    after the last file (measured: with one sentinel, the key holding
    the corpus-max event never flushed): under maxFilesPerTrigger=2 the
    nine files batch as (0,1)(2,3)(4,5)(6,s1)(s2) — sentinel-1 (max ts
    + 2 h) advances the watermark past every open session's
    (end + gap) expiry, and the sentinel-2 batch is where those timers
    fire. Round 13 drains at maxFilesPerTrigger=4 — (0..3)(4..6,s1)(s2),
    3 batches instead of 5: the same two-sentinel watermark proof and
    >= 2 data batches, at 3/5 of the per-batch harness cost."""
    def _write(p):
        # clean first: a restage after a LAYOUT change must not leave
        # the old layout's files behind (a stale slice would be drained
        # as duplicate input — caught as exactly that during round 11)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p, exist_ok=True)
        e = _t(spark, sf_dir, "events")
        b = e.agg(
            F.min(F.unix_micros("ts")).alias("mn"),
            (F.max(F.unix_micros("ts")) + 1).alias("mx"),
        ).collect()[0]
        span = b.mx - b.mn
        fmt = F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "ts"
        )
        slices = []
        for k in range(7):
            lo = b.mn + span * k // 7
            hi = b.mn + span * (k + 1) // 7
            slices.append(
                (
                    f"slice{k}.csv",
                    e.where(
                        (F.unix_micros("ts") >= lo)
                        & (F.unix_micros("ts") < hi)
                    ).select("user_id", fmt, "event_id", "value"),
                    1_000_000_000 + 1000 * k,
                )
            )

        def _sentinel(hours: int):
            return e.agg(F.max("ts").alias("mts")).select(
                F.lit(-1).cast("bigint").alias("user_id"),
                F.date_format(
                    F.col("mts") + F.expr(f"INTERVAL {hours} HOURS"),
                    "yyyy-MM-dd HH:mm:ss.SSSSSS",
                ).alias("ts"),
                F.lit(-1).cast("bigint").alias("event_id"),
                F.lit(0.0).alias("value"),
            )

        slices.append(
            ("slice7_sentinel1.csv", _sentinel(2), 1_000_000_000 + 8000)
        )
        slices.append(
            ("slice8_sentinel2.csv", _sentinel(4), 1_000_000_000 + 9000)
        )
        for name, df, mtime in slices:
            tmp = os.path.join(p, "_tmp")
            df.repartition(1).write.mode("overwrite").csv(
                tmp, header=True
            )
            part = next(
                f for f in os.listdir(tmp) if f.startswith("part-")
            )
            dst = os.path.join(p, name)
            os.replace(os.path.join(tmp, part), dst)
            shutil.rmtree(tmp)
            # file-source batch order follows modification time; pin it
            os.utime(dst, (mtime, mtime))

    # extra_fingerprint pins the LAYOUT (slice count + sentinel scheme):
    # a layout change restages instead of silently reusing stale files
    return _stage_once(
        sf_dir, "x19", _write, "events",
        extra_fingerprint="7slices+2sentinels-v1",
    )


def _x19_drained(spark, sf_dir):
    """Drive the timer-evicting session processor over the staged
    slices; returns the RAW memory-sink table (incl. the via_timer
    flag the equality test asserts on)."""
    ensure_worker_protobuf(spark)
    from pyspark.sql.streaming import (  # needs protobuf on sys.path
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    state_schema = StructType(
        [
            StructField("s", LongType()),
            StructField("e", LongType()),
            StructField("n", LongType()),
            StructField("c", LongType()),
            StructField("exp", LongType()),
        ]
    )
    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("s_us", LongType()),
            StructField("e_us", LongType()),
            StructField("n_events", LongType()),
            StructField("cents", LongType()),
            StructField("via_timer", IntegerType()),
        ]
    )
    cols = ["user_id", "s_us", "e_us", "n_events", "cents", "via_timer"]

    class SessionProcessor(StatefulProcessor):
        """Per-user 10-minute-gap sessionization with EVENT-TIME
        TIMER eviction — the real streaming-sessionization mechanism:
        gap-closed sessions emit from handleInputRows; the OPEN
        session registers a timer at (last-event second + 601)·1000 ms
        and is flushed when the event-time WATERMARK passes it. Because
        the staged files are contiguous event-time slices, watermark ≥
        expiry proves no session-continuing event can still arrive, so
        a timer flush and a gap-close are interchangeable — each
        session is emitted exactly once regardless of which mechanism
        wins, and regardless of input-vs-timer ordering within a batch
        (a stale fire is a no-op via the expiry==stored guard)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._h = handle
            self._st = handle.getValueState("sess", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            recs = []
            for pdf in rows:
                recs.extend(
                    zip(pdf["tus"], pdf["event_id"], pdf["iv"])
                )
            recs.sort(key=lambda r: (int(r[0]), int(r[1])))
            if self._st.exists():
                s0, e0, n0, c0, exp0 = self._st.get()
            else:
                s0, e0, n0, c0, exp0 = None, None, 0, 0, None
            out = []
            for tus, _eid, iv in recs:
                tus, iv = int(tus), int(iv)
                if s0 is None:
                    s0, e0, n0, c0 = tus, tus, 1, iv
                elif tus // 1_000_000 - e0 // 1_000_000 > 600:
                    out.append((key[0], s0, e0, n0, c0, 0))
                    s0, e0, n0, c0 = tus, tus, 1, iv
                else:
                    e0, n0, c0 = tus, n0 + 1, c0 + iv
            # fire once no continuing event can exist: any event in a
            # second <= e0s+600 still continues the session, so the
            # earliest safe expiry is the first ms of second e0s+601
            new_exp = (e0 // 1_000_000 + 601) * 1000
            if exp0 is not None and exp0 != new_exp:
                self._h.deleteTimer(exp0)
            if exp0 != new_exp:
                self._h.registerTimer(new_exp)
            self._st.update((s0, e0, n0, c0, new_exp))
            if out:
                yield pd.DataFrame(out, columns=cols)

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            import pandas as pd

            if not self._st.exists():
                return
            s0, e0, n0, c0, exp0 = self._st.get()
            if int(expiredTimerInfo.getExpiryTimeInMs()) != exp0:
                return  # stale timer; a newer registration owns the key
            self._st.clear()
            yield pd.DataFrame(
                [(key[0], s0, e0, n0, c0, 1)], columns=cols
            )

        def close(self) -> None:
            pass

    path = _stage_x19_slices(spark, sf_dir)
    sdf = (
        spark.readStream.schema(
            "user_id bigint, ts timestamp, event_id bigint, value double"
        )
        .option("header", True)
        # 9 files -> 3 micro-batches: (0..3)(4..6,s1)(s2) — round-13
        # drain trim from 5: still >= 2 data batches (the cross-batch
        # sessionization proof), s1 still advances the watermark at the
        # end of its batch, and the lone-sentinel final batch still
        # runs under it to fire the timers. Slices are event-time
        # contiguous, so ANY contiguous grouping keeps per-user
        # event-time order across batches.
        .option("maxFilesPerTrigger", 4)
        .csv(path)
        # delay 0: later slices hold strictly later event times, so
        # nothing is ever late — the watermark exists to drive timers
        .withWatermark("ts", "0 seconds")
        .select(
            "user_id",
            F.unix_micros("ts").alias("tus"),
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("iv"),
        )
    )
    with _rocksdb_state_store(spark):
        tws = sdf.groupBy("user_id").transformWithStateInPandas(
            SessionProcessor(),
            outputStructType=out_schema,
            outputMode="Append",
            timeMode="EventTime",
        )
        # 8 state partitions, not 32 — same transformWithStateInPandas
        # A/B as x17 (per-partition RocksDB load+commit dominates the
        # drain; Arrow-batch dispatch, not per-key): 32 → 8 measured
        # 8.2 → 6.1 s, sp=4 regresses (7.2 s). RocksDB changelog
        # checkpointing was also A/B'd and does NOT help at drain
        # backlogs (8.4 s — the snapshot is tiny, the changelog
        # machinery pure overhead).
        return run_stream_to_memory(
            tws, "x19_mem", output_mode="append", state_partitions=8
        )


@query(
    "x19_transform_with_state_timers",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS iv,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > 600
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, iv,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS seq
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(iv) AS DOUBLE) / 100.0 AS total_value
    FROM sessions GROUP BY user_id, seq
    """,
    baseline_of="x3_session_window",
)
def x19_transform_with_state_timers(spark, sf_dir):
    """X19: transformWithStateInPandas with EVENT-TIME TIMERS — the
    stateful-API surface x17 left unexercised (x17 runs
    timeMode="None") and the mechanism real streaming sessionization
    needs: per-user 10-minute-gap sessions where gap-closed sessions
    emit inline but the OPEN session is evicted by a TIMER once the
    event-time watermark proves no continuing event can arrive
    (expiry = first ms of second end+601; the staged slices are
    event-time-contiguous, so watermark ≥ expiry ⇒ every future event
    breaks the gap). A ProcessingTime variant was built first and
    REJECTED: processing-time timeMode makes availableNow re-trigger
    empty batches indefinitely (shouldRunAnotherBatch is always true),
    i.e. the drain never terminates — measured, not guessed. The
    two sentinel files (x4's mtime trick, timestamped 2 h/4 h in the
    future — watermarks take effect one batch later and availableNow
    runs no batch after the last file, so the second sentinel's batch
    is where the advanced watermark fires the timers) flush every open
    session exactly once; timer-evicted state is asserted in
    tests/test_r11_ops.py via the via_timer flag.

    Determinism: the 7 data files are contiguous EVENT-TIME slices, so
    per-user rows arrive in event-time order across micro-batches and
    incremental gap sessionization equals the batch computation — the
    drained result carries w6's full value-hash oracle (10-min gap,
    (ts, event_id) tie order, bigint-cent totals). Timer flush and
    gap-close are interchangeable by construction (watermark ≥ expiry
    ⇒ the next event would gap-close anyway), and the expiry==stored
    guard makes stale fires no-ops — correctness does not depend on
    input-vs-timer ordering inside a batch.

    Scale: per-key state is 5 longs + one registered timer (RocksDB
    column families); the per-batch Python dispatch is the x17 cost
    class — the operator exists for semantics built-ins cannot express
    (session CONTENTS with custom eviction); gap sessions whose output
    is only aggregates want x3's built-in session window — hence the
    ``baseline_of="x3_session_window"`` tag: ``baselines()`` lists the
    Python-stateful demos (x17, x19 → scale twins) so a
    consumer filtering machine-readably never routes 100 TB through
    the per-key Python dispatch path."""
    out = _x19_drained(spark, sf_dir)
    return out.where(F.col("user_id") >= 0).select(
        "user_id",
        F.timestamp_micros("s_us").alias("session_start"),
        F.timestamp_micros("e_us").alias("session_end"),
        "n_events",
        (F.col("cents").cast("double") / 100.0).alias("total_value"),
    )


# =====================================================================
# X18b — streaming SLIDING-WINDOW drift monitor (weekly PSI)
# =====================================================================


@query("x18b_stream_psi_weekly", _A42_ORACLE)
def x18b_stream_psi_weekly(spark, sf_dir):
    """X18b: the streaming twin of a42 — the production drift monitor
    at its production cadence: the current period arrives as a stream
    (8 staged CSV files, 4 forced micro-batches), each event is
    bucketed against the STATIC first-half reference deciles via a
    stream-static broadcast join, and an update-mode streaming
    aggregation maintains per-(type, WEEK, bucket) counts — x18 keeps
    one counter set per type; x18b keys it by week, so after every
    trigger the dashboard can read PSI-over-time. After the drain the
    final counts join the reference probabilities into a42's exact
    per-week PSI table.

    Correctness gate: drained result == batch a42 cell-for-cell (the
    x18-vs-a40 precedent: update-mode final counts are the full
    per-week counts regardless of file batching) — carries a42's FULL
    value-hash oracle, plus a same-session x18b == a42 equality test.

    Scale: static side = 9 edges + 10 p_ref rows per type (broadcast);
    streaming state is #types × #weeks × 10 counters — weeks grow with
    wall-clock, so a production deployment ages out closed weeks with
    a watermark on the week column; here the window is the fixed
    current period."""
    s, el, rb, n = _x18_reference(spark, sf_dir)

    def write_current(p):
        (
            s.where(F.col("is_ref") == 0)
            .select(
                "event_type",
                F.date_format(
                    "wk", "yyyy-MM-dd HH:mm:ss"
                ).alias("wk"),
                "iv",
            )
            .repartition(8)
            .write.mode("overwrite")
            .csv(p, header=True)
        )

    path = _stage_once(
        sf_dir, "x18b", write_current, "events",
        extra_fingerprint="wk-v1",
    )
    sdf = (
        spark.readStream.schema(
            "event_type string, wk timestamp, iv bigint"
        )
        .option("header", True)
        # 8 files -> 2 batches: the minimum cross-batch accretion
        # proof (round-13 drain trim — final update-mode counts are
        # batching-independent)
        .option("maxFilesPerTrigger", 4)
        .csv(path)
        .join(F.broadcast(el), "event_type")
        .select(
            "event_type", "wk",
            (
                1 + F.size(F.filter("es", lambda ed: F.col("iv") > ed))
            ).alias("bkt"),
        )
        .groupBy("event_type", "wk", "bkt")
        .count()
    )
    out = run_stream_to_memory(
        sdf, "x18b_mem", output_mode="update", state_partitions=4
    )
    # final count per cell = the last (max) update-mode emission; the
    # shared finishing stage pins it (dual consumption + memory-sink
    # self-join conflict)
    bc = out.groupBy("event_type", "wk", "bkt").agg(
        F.max("count").alias("bcur")
    )
    return _psi_table_weekly(spark, n, rb, bc)


# =====================================================================
# O19 — version retention/vacuum for versioned merge sinks
# =====================================================================


@query(
    "o19_vacuum_versions",
    """
    SELECT user_id, ts, event_id, event_type
    FROM (
      SELECT user_id, ts, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def o19_vacuum_versions(spark, sf_dir):
    """O19: version RETENTION for the versioned idempotent merge sinks
    — the maintenance op x9/pipe3's layout was missing: every committed
    micro-batch persists a full ``state_v{batch_id}`` snapshot (that is
    what makes replay idempotent), so without vacuum the sink stores
    the whole state once per batch forever. o8 compacts small files
    WITHIN a table; o19 reclaims superseded VERSIONS of it —
    completing the lakehouse maintenance triad.

    The chain here is the production sink's own code path
    (``versioned_keep_first_sink``'s merge fn, driven batch-side over
    four event_id-strided slices — keep-lowest-event_id per user), then
    :func:`finporter_spark.operators.scale.vacuum_versions` removes
    everything but the newest ``keep=2`` versions (2, not 1: a
    crash-replayed final batch must still find its parent — the
    keep-rationale lives on the operator), then the returned result is
    read from the VACUUMED sink. The oracle is the one-shot keep-first
    over the whole corpus: the hash passes only if vacuum removed
    nothing the final state needs — re-read-after-vacuum equality is
    the entry's contract, and the file-count / crash-mid-vacuum /
    replay-after-vacuum assertions live in tests/test_r12_ops.py.

    Scale: vacuum is O(#versions) directory renames + deletes, no data
    movement, no Spark job; each removal is an atomic rename to a
    tombstone so readers never observe a half-deleted version."""
    root = _io_dir(sf_dir, "o19_state")
    shutil.rmtree(root, ignore_errors=True)
    merge, read_final = versioned_keep_first_sink(
        root, key_col="user_id", order_col="event_id"
    )
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    for i in range(4):
        merge(e.where(F.col("event_id") % 4 == i), i)
    stats = vacuum_versions(root, keep=2)
    # explicit raise, not assert: the vacuum contract must survive
    # python -O (a stripped assert would defer the failure to an
    # anonymous hash diff)
    if stats["removed"] != [0, 1] or stats["kept"] != [2, 3]:
        raise RuntimeError(f"o19 vacuum contract violated: {stats}")
    return read_final(spark).select(
        "user_id", "ts", "event_id", "event_type"
    )


# =====================================================================
# X20 — streaming ANN index ingest (incremental codes == batch codes)
# =====================================================================


def _x20_oracle() -> str:
    """Batch derivation of the full codes table: coarse Lloyd unroll
    (l3_ivf's k=16 CTEs) for the cell + l45's per-subspace PQ unrolls
    for the codes, joined per vector."""
    return f"""
    WITH {_EMB_E},
    {_ivf_ctes(16, 3)},
    {",".join(_pq_sub_ctes(i) for i in range(_PQ_M))},
    {_pq_codes()}
    SELECT codes.vec_id AS cand_id, af.cid AS cell,
           {', '.join(f'codes.c{i}' for i in range(_PQ_M))}
    FROM codes JOIN af ON af.vec_id = codes.vec_id
    """


@query("x20_stream_ann_ingest", _x20_oracle())
def x20_stream_ann_ingest(spark, sf_dir):
    """X20: STREAMING ANN index ingest — the maintenance story that
    makes the staged-codes design (l45c/l46) production-complete: a
    100 TB vector corpus doesn't arrive once, it ACCRUES, and the index
    must stay fresh without re-encoding history. New vectors arrive as
    a JSON-lines file stream (2 forced micro-batches) and each batch is
    encoded MAP-ONLY against the FROZEN quantizer + codebooks (the
    cached l3_ivf/l45 dataset state riding as plan literals — exactly
    how production IVF serves: the quantizer trains on the initial
    corpus and new data is encoded, not re-clustered): cell assignment
    + m PQ codes per vector, zero state store, zero shuffle, append
    mode. The drained index == the one-shot batch build over the whole
    corpus — certified by the FULL value-hash oracle (both Lloyd
    unrolls composed, per-vector cell + 4 codes compared exactly).

    This is the ingest half of the l45c contract: l45c reads the
    staged codes table; x20 is how that table keeps growing at the
    stream's pace (a file-sink deployment appends parquet the query
    side reads; the memory sink here is the test harness). Encoding
    drift (a re-trained quantizer) is a REBUILD, not an append — the
    o19 vacuum reclaims superseded builds.

    Scale: per-batch cost is a map-only projection over the batch's
    rows (embarrassingly parallel, no watermark needed — stateless);
    the plan carries no exchange at all."""
    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir, emb)
    # fingerprint-guard the shared centroid cache exactly like its
    # other consumers (l3_ivf/l45c): a cold x20 run must stamp the
    # cache, and a testdata regeneration must retrain, not serve the
    # old corpus's quantizer
    cents = load_or_train_centroids_det(
        emb, "vec_id", "embedding", dim=64, n_centroids=16, iters=3,
        cache_path=_io_dir(sf_dir, "l3_ivf_centroids_det_k16_d64_i3"),
        fingerprint=_src_fp(sf_dir, "embeddings"),
    )

    def _write(p):
        (
            emb.select(
                "vec_id",
                F.transform(
                    "embedding", lambda x: x.cast("double")
                ).alias("embedding"),
            )
            .repartition(8)
            .write.mode("overwrite")
            .json(p)
        )

    path = _stage_once(
        sf_dir, "x20", _write, "embeddings", extra_fingerprint="json-v1"
    )
    sdf = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        # 8 files -> 2 batches: the encode is stateless map-only, so
        # two batches already prove per-batch ingest == batch build
        # (round-13 drain trim from 4)
        .option("maxFilesPerTrigger", 4)
        .json(path)
    )
    enc = build_ivfadc_codes(sdf, "vec_id", "embedding", cents, books)
    out = run_stream_to_memory(
        enc, "x20_mem", output_mode="append", state_partitions=8
    )
    return out.select(
        "cand_id",
        F.col("_cell").cast("int").alias("cell"),
        *[F.col(f"_c{i}").cast("int").alias(f"c{i}") for i in range(_PQ_M)],
    )

# =====================================================================
# O20 — time-travel read over the versioned merge sinks
# =====================================================================


@query(
    "o20_time_travel_read",
    """
    SELECT user_id, ts, event_id, event_type
    FROM (
      SELECT user_id, ts, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
      FROM events WHERE event_id % 4 <= 2
    ) WHERE rn = 1
    """,
)
def o20_time_travel_read(spark, sf_dir):
    """O20: TIME-TRAVEL over the versioned merge sinks — the accessor
    o19 left missing: every committed micro-batch already persists a
    full ``state_v{batch_id}`` keep-first snapshot (that is what makes
    replay idempotent), but nothing exposed the layered history.
    ``streaming.pipeline.list_versions`` enumerates the committed
    versions; ``read_version(spark, root, k)`` returns the merged
    state AS OF batch k — equal, by the snapshot construction, to
    recomputing the keep-first merge over batches 0..k, which is
    EXACTLY what this entry's oracle does (the one-shot keep-first
    over the first three of four event_id-strided batch slices).

    Interaction with retention, exercised inline: after
    ``vacuum_versions(keep=3)`` removes version 0, reading version 2
    still succeeds (it is inside the retention window) while reading
    version 0 raises loudly naming the surviving range — vacuum is
    irreversible, and silently serving the nearest surviving version
    would hand the caller the wrong point in time (checked here with
    an explicit raise-on-no-raise so a regression cannot hide behind
    the hash).

    Scale: a time-travel read is ONE parquet scan of the chosen
    snapshot — no replay, no log reconstruction; list/guard cost is a
    directory listing."""
    root = _io_dir(sf_dir, "o20_state")
    shutil.rmtree(root, ignore_errors=True)
    merge, _read_final = versioned_keep_first_sink(
        root, key_col="user_id", order_col="event_id"
    )
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    for i in range(4):
        merge(e.where(F.col("event_id") % 4 == i), i)
    stats = vacuum_versions(root, keep=3)
    if stats["removed"] != [0] or list_versions(root) != [1, 2, 3]:
        raise RuntimeError(f"o20 retention contract violated: {stats}")
    # the vacuumed version must fail LOUDLY, never fall back
    try:
        read_version(spark, root, 0)
    except FileNotFoundError:
        pass
    else:
        raise RuntimeError(
            "o20: read_version(0) served a vacuumed version"
        )
    return read_version(spark, root, 2).select(
        "user_id", "ts", "event_id", "event_type"
    )


# =====================================================================
# X21 — streaming MinHash-LSH dedup at ingest (band-bucket first-seen)
# =====================================================================


# The l2 md5 signature/banding CTEs, then per band bucket the FIRST
# (lowest) doc_id; _X21_FLAGS adds each doc's is_dup verdict.
_X21_FIRST_SEEN = f"""{_l2_sig_ctes(32, 3)}, band AS (
      {_l2_band_union(32, 8)}
    ), fs AS (
      SELECT band_id, bh, MIN(doc_id) AS first_doc
      FROM band GROUP BY band_id, bh
    )"""
_X21_FLAGS = _X21_FIRST_SEEN + """, flags AS (
      SELECT b.doc_id,
             SUM(CASE WHEN fs.first_doc < b.doc_id THEN 1 ELSE 0 END) > 0
               AS is_dup
      FROM band b
      JOIN fs ON fs.band_id = b.band_id AND fs.bh = b.bh
      GROUP BY b.doc_id
    )"""


def _x21_oracle() -> str:
    """Batch mirror: per doc the count of its 8 band buckets first
    claimed by an earlier doc."""
    return f"""
    WITH {_X21_FIRST_SEEN}
    SELECT b.doc_id,
           CAST(SUM(CASE WHEN fs.first_doc < b.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_bands,
           SUM(CASE WHEN fs.first_doc < b.doc_id THEN 1 ELSE 0 END) > 0
             AS is_dup
    FROM band b
    JOIN fs ON fs.band_id = b.band_id AND fs.bh = b.bh
    GROUP BY b.doc_id
    """


@query("x21_stream_minhash_dedup", _x21_oracle())
def x21_stream_minhash_dedup(spark, sf_dir):
    """X21: STREAMING near-dup dedup at ingest — the LLM-pipeline op
    the batch dedup family (l2) and the streaming maintenance family
    (x9/o19/o20) jointly imply: a 100 TB corpus ACCRUES, and each
    arriving document must be flagged against everything already
    ingested without re-signaturing history. Documents arrive as a
    JSON-lines file stream (2 forced micro-batches); each batch
    computes the l2 deterministic md5 MinHash signatures (32 hashes,
    batch-local keyed agg) and its 8 band buckets, and merges
    (bucket → lowest doc_id) into a ``versioned_keep_first_sink`` —
    the SAME idempotent snapshot sink o19 vacuums and o20 time-travels,
    keyed by band bucket instead of user: crash-replayed batches
    re-merge onto the right parent, and the drained state is the
    GLOBAL first-seen bucket owner regardless of how files batched.
    After the drain, each document's verdict is one equi-join of its
    buckets against the final state: ``is_dup`` iff ANY of its bands
    was first claimed by a lower doc_id (the LSH candidate criterion —
    the same banding l2 then verifies pairwise; at the ingest gate the
    band collision IS the flag, the precision/recall dials being bands
    × rows, the published banding trade).

    Full value-hash oracle: signatures, banding, bucket first-seen and
    the per-doc flag all unrolled in DuckDB over the same corpus (the
    md5 signature family is bit-identical cross-engine — the l2
    contract), certifying drained streaming state == the one-shot
    batch computation.

    Scale: per batch — one keyed signature agg over the BATCH's docs
    (map-combinable mins, ~docs × 32 longs), a map-only band explode,
    and the keep-first merge whose state is one row per DISTINCT
    bucket (≪ corpus text; the snapshot-per-batch layout is what o19's
    vacuum reclaims). No driver state, no all-pairs anything. COST
    CLASS: the md5 signature work (32 hashes × shingles) is paid per
    arriving document exactly once — the same total work as l2's
    one-time signature STAGING, amortized over the stream instead of
    one batch job; the verdict side reads l2's staged signature table
    (shared dataset state), never re-signaturing the corpus. Decade
    row is ingest-class (linear in arriving tokens), not query-class.

    Consumers that need the FLAGS, not the drain (pipe9/pipe9b),
    read :func:`_x21_flags_staged` — the drained verdict staged once
    per corpus version under its own state dirs, so the funnel
    entries neither re-run the ingest nor clobber this entry's
    directories (round-13 ADVICE)."""
    return _x21_dedup_flags(spark, sf_dir, "x21")


def _x21_dedup_flags(spark, sf_dir, tag):
    """The full x21 computation (stage JSON corpus -> streaming drain
    through the band-bucket keep-first sink -> per-doc dup flags) with
    state/checkpoint dirs keyed by ``tag`` so independent consumers
    never clobber each other's drains."""
    # expressions built ONCE and reused per micro-batch: Column objects
    # are unbound trees, and rebuilding the 32 signature members + 8
    # band structs per batch cost ~0.85 s/batch of pure driver py4j
    # time (measured — more than the batch's actual Spark work)
    _sig_fn = minhash_signatures_fn(hash_family="md5")
    _band_expr = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_id"),
                    band_hash(b, 4, "md5").alias("bh"),
                )
                for b in range(8)
            ]
        )
    ).alias("s")
    _band_cols = (
        F.concat_ws(
            ":", F.col("s.band_id").cast("string"), F.col("s.bh")
        ).alias("bkey"),
        F.col("s.band_id").alias("band_id"),
        F.col("s.bh").alias("bh"),
    )

    def _bands(sig):
        return sig.select("doc_id", _band_expr).select(
            *_band_cols, "doc_id"
        )

    def _write(p):
        # 32 files so each of the 2 micro-batches (maxFilesPerTrigger=16)
        # scans with 16 tasks: the per-batch md5 signature work (33
        # md5s/shingle, the oracle-pinned l2 family) is the drain's
        # dominant cost and file-source batches parallelize exactly by
        # file count — at 8 files/4-per-trigger the scan+explode+partial
        # agg ran in 4 tasks on 32 cores (guide §2.6 stragglers/idle
        # capacity). Same docs, same signatures, same merge result:
        # flags are batching/arrival-order independent by construction.
        (
            _t(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .repartition(32)
            .write.mode("overwrite")
            .json(p)
        )

    path = _stage_once(
        sf_dir, "x21", _write, "documents", extra_fingerprint="json-v2"
    )
    root = _io_dir(sf_dir, f"{tag}_state")
    ckpt = _io_dir(sf_dir, f"{tag}_ckpt")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    merge, read_final = versioned_keep_first_sink(
        root, key_col="bkey", order_col="doc_id"
    )
    sdf = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 16)
        .json(path)
    )

    def sink(bdf, batch_id):
        sig = _sig_fn(bdf)
        merge(_bands(sig).select("bkey", "doc_id"), batch_id)

    run_stream_foreach_batch(sdf, sink, checkpoint=ckpt)
    first = read_final(spark).select(
        "bkey", F.col("doc_id").alias("first_doc")
    )
    # verdict side: the full-corpus signatures are the SAME dataset
    # state l2 stages (identical md5 family/params/cache key) — read
    # the staged table instead of re-signaturing the corpus (at sf10
    # the recompute was ~1/3 of the row's wall)

    sigs = load_or_build_signatures(
        _t(spark, sf_dir, "documents"),
        cache_path=_io_dir(sf_dir, "l2_sigs_md5_n3_k32"),
        fingerprint=source_fingerprint(
            os.path.join(sf_dir, "documents.parquet")
        ),
        text_col="text", id_col="doc_id", shingle_n=3, num_hashes=32,
        hash_family="md5",
    )
    all_bands = _bands(sigs)
    n_dup = F.sum(
        F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
    )
    return (
        all_bands.join(first, "bkey")
        .groupBy("doc_id")
        .agg(n_dup.cast("bigint").alias("n_dup_bands"))
        .select(
            "doc_id",
            "n_dup_bands",
            (F.col("n_dup_bands") > 0).alias("is_dup"),
        )
    )


def _x21_flags_staged(spark, sf_dir):
    """The drained x21 verdict (doc_id, n_dup_bands, is_dup) as STAGED
    dataset state, once per corpus version — what funnel consumers
    (pipe9/pipe9b) read instead of re-running the whole streaming
    ingest per call (round-13 ADVICE: pipe9 calling x21 directly
    re-drained the stream inside pipe9's own timing and the two
    entries clobbered each other's state dirs). The stager performs
    the identical drain under private ``x21p_*`` dirs; the flags are
    batching/arrival-order independent by x21's construction, so the
    staged table equals what any fresh drain would produce (certified
    by pipe9's own stage-chained oracle)."""
    def _write(p):
        (
            _x21_dedup_flags(spark, sf_dir, "x21p")
            .repartition(4)
            .write.mode("overwrite")
            .parquet(p)
        )

    path = _stage_once(
        sf_dir, "x21_flags", _write, "documents", extra_fingerprint="v1"
    )
    return spark.read.parquet(path)


# =====================================================================
# PIPE9 — streaming-ingest curation funnel (x21 gate -> length floor)
# =====================================================================


def _pipe9_oracle() -> str:
    """The x21 banding/first-seen chain as a CTE, left-joined onto the
    corpus (docs too short to shingle carry no flag -> not dup), then
    the per-source funnel with a 30-token length floor."""
    return f"""
    WITH {_X21_FLAGS}, d AS (
      SELECT doc_id, source, len({_TOKS}) AS n_tokens FROM documents
    ), j AS (
      SELECT d.source, d.n_tokens,
             COALESCE(f.is_dup, FALSE) AS dup
      FROM d LEFT JOIN flags f USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           CAST(SUM(CASE WHEN NOT dup AND n_tokens < 30
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           CAST(SUM(CASE WHEN NOT dup AND n_tokens >= 30
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN NOT dup AND n_tokens >= 30
                         THEN n_tokens ELSE 0 END) AS BIGINT)
             AS kept_tokens
    FROM j GROUP BY source
    """


@query("pipe9_stream_ingest_curation", _pipe9_oracle())
def pipe9_stream_ingest_curation(spark, sf_dir):
    """PIPE9: the streaming-ingest CURATION funnel — what a training
    corpus actually runs at the door: documents arrive as a stream,
    the x21 ingest gate flags near-dups against everything already
    ingested (per-batch md5 MinHash banding merged into the versioned
    first-seen store — the drained flags are batching/arrival-order
    independent), survivors pass a 30-token length floor, and the
    dashboard readout is the per-source funnel (arrived → dropped-dup
    → dropped-short → kept, plus KEPT TOKENS, the number the training
    run actually consumes). Composes three certified families in one
    hash-gated pipeline: streaming ingest (x21's drain), dedup (l2's
    signature machinery), and corpus prep gates (l33's length-floor
    discipline) — the PIPE contract: stage-chained CTE oracles certify
    COMPOSITION, not just parts.

    Documents too short to shingle (<3 tokens) carry no flag and pass
    the dedup gate by definition on BOTH engines (left join +
    coalesce(false)). Scale: the STAGED x21 verdict
    (:func:`_x21_flags_staged` — the drain runs once per corpus
    version under private dirs; this entry's timing measures the
    funnel, not a re-ingest) + one corpus scan for token counts + one
    source-keyed agg."""
    flags = _x21_flags_staged(spark, sf_dir).select(
        "doc_id", "is_dup"
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    j = d.join(flags, "doc_id", "left").select(
        "source",
        "n_tokens",
        F.coalesce(F.col("is_dup"), F.lit(False)).alias("dup"),
    )
    kept = (~F.col("dup")) & (F.col("n_tokens") >= 30)
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("dup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup"),
        F.sum(
            F.when((~F.col("dup")) & (F.col("n_tokens") < 30), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_short"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
    )

# =====================================================================
# X22 — streaming CDC at ingest (keep-latest + delete tombstones)
# =====================================================================


@query("x22_stream_cdc_upsert", _O10_ORACLE)
def x22_stream_cdc_upsert(spark, sf_dir):
    """X22: streaming CDC at ingest — the correction-handling path the
    round-13 verdict named missing (#5): the versioned sinks were
    keep-first INSERT-only, while a production financial feed ships
    corrections and retractions (I/U/D) across micro-batches. The o10
    changelog (events mapped to ops: error→D, signup→I, else U, keyed
    with click keys shifted out of the customer domain) arrives as a
    JSON file stream in round-robin slices — so a key's records land
    in ARBITRARY micro-batches, including an older update arriving
    AFTER a newer one or after its delete — and merges into
    ``streaming.pipeline.versioned_keep_latest_sink``: each batch
    unions the parent snapshot and keeps the latest row per key by
    (ts, event_id) DESC, deletes retained as TOMBSTONES in the
    snapshot (dropping them at merge time would let a late older
    update resurrect the key) and filtered only at read time. The
    drained state is therefore the global keep-latest regardless of
    batching/arrival order, and applying it to the customer base
    (operators.dedup.apply_changelog — the same three-verb merge o10
    runs batch-side) equals the one-shot batch CDC apply: this entry
    carries o10's FULL oracle verbatim, certifying drain == batch
    apply cell-for-cell.

    Replay idempotence + out-of-order semantics (tombstone wins over
    an older late update; a NEWER update does resurrect) are pinned in
    tests/test_r14_ops.py on hand-built batches.

    Scale: per batch one keyed window over (parent state ∪ batch) —
    state is O(distinct keys + tombstones), exactly the o19/o20
    versioned layout (vacuum reclaims, time-travel reads); the base
    table joins ONCE after the drain, never per batch. ts rides as
    unix micros (bigint) through the JSON staging so no timestamp
    serialization enters the hash."""
    e = _t(spark, sf_dir, "events")
    ch = e.select(
        F.when(F.col("event_type") == "click", F.col("user_id") + 10000000)
        .otherwise(F.col("user_id"))
        .alias("key"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", "D")
        .when(F.col("event_type") == "signup", "I")
        .otherwise("U")
        .alias("op"),
    )

    def _write(p):
        ch.repartition(8).write.mode("overwrite").json(p)

    path = _stage_once(
        sf_dir, "x22", _write, "events", extra_fingerprint="json-v1"
    )
    root = _io_dir(sf_dir, "x22_state")
    ckpt = _io_dir(sf_dir, "x22_ckpt")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    merge, read_final = versioned_keep_latest_sink(
        root,
        key_col="key",
        order_cols=["ts_us", "event_id"],
        op_col="op",
    )
    sdf = (
        spark.readStream.schema(
            "key bigint, ts_us bigint, event_id bigint, "
            "value double, op string"
        )
        .option("maxFilesPerTrigger", 4)
        .json(path)
    )
    run_stream_foreach_batch(sdf, merge, checkpoint=ckpt)
    # drained state INCLUDING tombstones = o10's `latest` CTE; the
    # batch-side three-verb apply then filters final D's
    latest = read_final(spark, with_tombstones=True)
    c = _t(spark, sf_dir, "customer")
    return apply_changelog(
        c,
        latest,
        base_key="c_custkey",
        log_key="key",
        op_col="op",
        order_by=[F.col("ts_us").desc(), F.col("event_id").desc()],
        payload_cols=["value"],
    ).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.coalesce("value", "c_acctbal").alias("balance"),
        F.col("key").isNotNull().alias("changed"),
    )

# =====================================================================
# PIPE9b — ingest curation funnel + trained quality gate (verdict #7)
# =====================================================================


def _pipe9b_oracle() -> str:
    """pipe9's stage-chained CTE funnel extended with the l26 quality
    gate: the same 3-iteration GD unroll (text_prep's l26 feat/w CTEs)
    scores every document, and survivors of the dup + length gates
    must also clear p_en >= 0.5."""
    l26 = (
        _L26_FEAT.replace("{toks}", _TOKS).strip()
        + ",\n    w0 AS (SELECT 0.0 AS b, 0.0 AS c1, 0.0 AS c2, "
        "0.0 AS c3),"
        + ",".join(_l26_iter(i) for i in (1, 2, 3))
    )
    return f"""
    WITH {_X21_FLAGS}, {l26},
    score AS (
      SELECT doc_id,
             round(1.0/(1.0 + exp(-(w.b*x0 + w.c1*x1 + w.c2*x2
                                    + w.c3*x3))), 6) AS p_en
      FROM feat CROSS JOIN w3 w
    ), d AS (
      SELECT doc_id, source, len({_TOKS}) AS n_tokens FROM documents
    ), j AS (
      SELECT d.source, d.n_tokens,
             COALESCE(f.is_dup, FALSE) AS dup,
             s.p_en
      FROM d
      LEFT JOIN flags f USING (doc_id)
      LEFT JOIN score s USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           CAST(SUM(CASE WHEN NOT dup AND n_tokens < 30
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           CAST(SUM(CASE WHEN NOT dup AND n_tokens >= 30
                         AND p_en < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lowq,
           CAST(SUM(CASE WHEN NOT dup AND n_tokens >= 30
                         AND p_en >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN NOT dup AND n_tokens >= 30
                         AND p_en >= 0.5 THEN n_tokens ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM j GROUP BY source
    """


@query("pipe9b_stream_curation_quality", _pipe9b_oracle())
def pipe9b_stream_curation_quality(spark, sf_dir):
    """PIPE9b: the ingest curation funnel with the TRAINED quality
    gate (round-13 verdict #7): pipe9 gated only dedup + length while
    the batch side already had trained scoring — here survivors of the
    near-dup gate (the staged x21 drain verdict) and the 30-token
    floor must also clear the l26 classifier (3-iteration batch-GD
    logistic regression on cheap text features, trained IN the engine;
    scoring is map-only with literal weights — at ingest this is a
    stream-static broadcast, no shuffle added to the funnel). The
    per-source readout gains ``n_lowq``: arrived → dup → short → lowq
    → kept (+ kept tokens).

    Composes FOUR certified families in one hash-gated pipeline —
    streaming ingest (x21's drain, staged once per corpus version),
    dedup (l2 banding), corpus gates (length floor), and in-engine ML
    (l26's GD unroll) — with the stage-chained CTE oracle restating
    every stage including the 6 dp-rounded gradient descent, so the
    hash certifies the COMPOSITION. Gate order matters and is pinned:
    a document counts against the FIRST gate it fails, so the lowq
    column prices what the classifier removes from otherwise-kept
    text (docs with zero tokens are short first — the classifier's
    toks>0 domain guard never bites).

    Scale: pipe9's shape + one broadcast-scored corpus scan (the l26
    feature projection) and 3 mean-gradient aggregates for training —
    all map-combinable; nothing new materializes."""
    flags = _x21_flags_staged(spark, sf_dir).select("doc_id", "is_dup")
    score = CATALOG["l26_quality_classifier"][0](spark, sf_dir).select(
        "doc_id", "p_en"
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    j = (
        d.join(flags, "doc_id", "left")
        .join(score, "doc_id", "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce(F.col("is_dup"), F.lit(False)).alias("dup"),
            "p_en",
        )
    )
    passed = (~F.col("dup")) & (F.col("n_tokens") >= 30)
    lowq = passed & (F.col("p_en") < 0.5)
    kept = passed & (F.col("p_en") >= 0.5)
    return j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("dup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup"),
        F.sum(
            F.when((~F.col("dup")) & (F.col("n_tokens") < 30), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_short"),
        F.sum(F.when(lowq, 1).otherwise(0)).cast("bigint").alias("n_lowq"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
    )
