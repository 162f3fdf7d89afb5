"""Structured Streaming surface (SURVEY §2B X1-X5).

The reference is batch-only; its real-world deployment pattern — brokers
drop export files, each gets transformed — is exactly Spark's file-source
micro-batch model, so X1 reuses the SAME column expressions as the batch
decode path (one definition, two execution modes). This module holds the
file-source reader, the drain helpers, stream-stream interval joins and
the versioned merge sinks; windowed aggregation (X2/X3), watermarks (X4)
and stateful dedup (X5) are plain Spark calls in the catalog's x-queries.

Design for scale: file streams checkpoint per-batch; aggregations carry
watermarks so state is bounded; dedup uses dropDuplicatesWithinWatermark so
the key set ages out instead of growing forever.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import zipfile
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

_VENDOR_SHIPPED: set[int] = set()


def ensure_worker_protobuf(spark: SparkSession) -> None:
    """Make ``google.protobuf`` importable on the DRIVER and every
    Python WORKER, using the vendored minimal runtime (tools/vendor)
    when the real package is absent — ``transformWithStateInPandas``'s
    state-server protocol imports it on both sides.

    pytest runs get this from conftest.py (sys.path + PYTHONPATH set
    before the JVM starts); a bare driver-gate run does NOT, and
    setting PYTHONPATH after the JVM is up never reaches workers. The
    portable channel is Spark's own file distribution: zip the vendor
    tree once and ``addPyFile`` it — workers prepend spark-files
    entries to sys.path at startup. No-op when the real protobuf
    exists (never shadow it)."""
    import importlib
    import importlib.util

    try:
        has = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no 'google' namespace package at all
        has = False
    if has:
        return
    repo = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    vendor = os.path.join(repo, "tools", "vendor")
    if not os.path.isdir(vendor):
        raise ModuleNotFoundError(
            "google.protobuf is unavailable and the vendored runtime "
            f"({vendor}) is missing — transformWithStateInPandas "
            "cannot run"
        )
    if vendor not in sys.path:
        sys.path.insert(0, vendor)
        importlib.invalidate_caches()
    # Python workers spawned AFTER this point (incl. the
    # transformWithState DRIVER worker, which reads sys.path only from
    # its PYTHONPATH env — it never processes spark-files includes):
    # sc.environment feeds every subsequently-pickled PythonFunction's
    # envVars, which PythonWorkerFactory merges into the child env.
    sc = spark.sparkContext
    for envmap in (sc.environment, os.environ):
        cur = envmap.get("PYTHONPATH", "")
        if vendor not in cur.split(os.pathsep):
            envmap["PYTHONPATH"] = (
                vendor + (os.pathsep + cur if cur else "")
            )
    key = id(spark.sparkContext)
    if key in _VENDOR_SHIPPED:
        return
    # Build the zip in a PRIVATE per-process directory and always from
    # the current vendor tree: a fixed shared-tmp path would (a) let
    # another local user pre-plant a file every worker then imports as
    # google.protobuf, and (b) silently reuse a stale zip after the
    # vendored runtime is updated. The tree is tiny, so re-zipping per
    # process costs nothing; the dir is removed at interpreter exit
    # (Spark only needs it alive while executors may re-fetch).
    import atexit

    zdir = tempfile.mkdtemp(prefix="finporter_vendor_pb_")
    atexit.register(shutil.rmtree, zdir, True)
    zpath = os.path.join(zdir, "finporter_vendor_protobuf.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in sorted(
            os.walk(os.path.join(vendor, "google"))
        ):
            for fn in sorted(files):
                if fn.endswith(".pyc"):
                    continue
                full = os.path.join(root, fn)
                zf.write(full, os.path.relpath(full, vendor))
    spark.sparkContext.addPyFile(zpath)
    _VENDOR_SHIPPED.add(key)


def stream_decode_files(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "csv",
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """X1: file-source stream of incoming delimited exports.

    Same permissive-read semantics as the batch path (S1): corrupt rows
    survive to a quarantine filter downstream.
    """
    reader = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("header", header)
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .option("maxFilesPerTrigger", 16)
    )
    return reader.load(path)


STATE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_STATE_PARTITIONS", "4"))
"""State-store partition count for stateful streaming drains.

``spark.sql.shuffle.partitions`` at a streaming query's FIRST start fixes
its number of state stores forever (Spark pins it in the checkpoint and
re-applies it on restart, overriding the session conf — so the setting is
per-query-lifetime, not per-run). Every micro-batch pays one state-store
load+commit per partition per stateful operator, a fixed cost that
dwarfs the data work at test backlogs: the x7 interval join drains in
~4 s with 8 state partitions vs ~10 s with 32 (round 10), and the
round-14 optimization A/B moved the default 8 → 4 (x15 5.0 → 4.2 s,
x7 3.5 → 3.1 s; 2 is NOT better — the per-partition work then
serializes). Overridable via $SPARK_GRAFT_STATE_PARTITIONS; on a real
cluster this knob is sized to executors × cores like any shuffle; the
drain helpers below set it explicitly (and restore the session value)
so streaming state layout is a deliberate choice rather than inherited
from whatever batch shuffle width the session happens to use.
"""


class _state_partitions:
    """Set shuffle partitions for a streaming query's start, restore on
    exit. The restore is safe AFTER awaitTermination: availableNow has
    fully drained, and a restarted query re-reads the checkpointed value,
    not the session conf."""

    def __init__(self, spark: SparkSession, n: int | None):
        self.spark, self.n = spark, n

    def __enter__(self):
        if self.n is not None:
            self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        if self.n is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def run_stream_to_memory(
    sdf: DataFrame,
    query_name: str,
    output_mode: str = "append",
    timeout_s: float | None = None,
    state_partitions: int | None = STATE_PARTITIONS,
) -> DataFrame:
    """Drive a stream to completion (availableNow) into an in-memory sink
    and return the materialized result — the batch-equivalence harness.

    ``timeout_s`` defaults to $SPARK_GRAFT_STREAM_TIMEOUT (else 120 s):
    the guard exists to fail a WEDGED drain loudly, not to bound honest
    work — big-SF sweeps (the sf10 decade bench draining 60M rows
    through a Python stateful operator) raise the env knob instead of
    editing call sites."""
    if timeout_s is None:
        timeout_s = float(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT", "120"))
    with _state_partitions(sdf.sparkSession, state_partitions):
        q = (
            sdf.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"stream {query_name!r} did not drain within {timeout_s}s; "
                "stopped to avoid reading a partially-filled memory sink"
            )
    spark = sdf.sparkSession
    return spark.table(query_name)


def run_stream_foreach_batch(
    sdf: DataFrame,
    sink_fn,
    checkpoint: str,
    timeout_s: float = 120.0,
    state_partitions: int | None = STATE_PARTITIONS,
) -> None:
    """Drive a stream through a foreachBatch custom sink (availableNow).

    foreachBatch is THE extension point for sinks Spark lacks natively
    (JDBC upserts, multi-table fan-out, merge-into): each micro-batch
    arrives as a normal batch DataFrame plus a monotonically increasing
    batch_id. Exactly-once then rests on two legs: the checkpoint WAL
    (a batch re-delivers after failure with the SAME id) and the sink
    function being idempotent per batch_id — callers key their writes
    on it.
    """
    with _state_partitions(sdf.sparkSession, state_partitions):
        q = (
            sdf.writeStream.foreachBatch(sink_fn)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(
                f"foreachBatch stream did not drain within {timeout_s}s; "
                "stopped — the sink may hold a partial batch (checkpoint "
                f"{checkpoint} will re-deliver it on restart)"
            )


def versioned_keep_first_sink(root: str, key_col: str, order_col: str):
    """An idempotent, versioned KEEP-FIRST merge sink for foreachBatch:
    each batch unions the parent state (discovered from the sink, so a
    crash-replayed batch_id merges onto the right parent) and keeps the
    lowest ``order_col`` row per ``key_col`` — cross-batch exact dedup
    with O(distinct keys) state, the ingestion-time dedup shape (a
    duplicate arriving N batches late is dropped by the merge, not by
    unbounded stream state).

    Returns ``(merge_fn, read_final)``: pass ``merge_fn`` to
    :func:`run_stream_foreach_batch`; ``read_final(spark)`` loads the
    newest persisted state.
    """
    import os

    from pyspark.sql import Window

    def latest_version(before: int) -> int:
        # tolerate stray non-version entries (leftover temp dirs, marker
        # files) instead of crashing parent discovery on int()
        versions = []
        for d in os.listdir(root) if os.path.isdir(root) else []:
            suffix = d[len("state_v"):]
            if d.startswith("state_v") and suffix.isdigit() and int(suffix) < before:
                versions.append(int(suffix))
        return max(versions, default=-1)

    def merge(bdf, batch_id):
        cur = bdf
        parent = latest_version(batch_id)
        if parent >= 0:
            prev = bdf.sparkSession.read.parquet(
                os.path.join(root, f"state_v{parent}")
            )
            cur = prev.unionByName(cur)
        w = Window.partitionBy(key_col).orderBy(order_col)
        survivors = (
            cur.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        survivors.write.mode("overwrite").parquet(
            os.path.join(root, f"state_v{batch_id}")
        )

    def read_final(spark: SparkSession) -> DataFrame:
        final = latest_version(1 << 62)
        if final < 0:
            raise FileNotFoundError(
                f"versioned_keep_first_sink: no state versions written "
                f"under {root!r} — the stream produced zero batches "
                "(empty source directory?)"
            )
        return spark.read.parquet(os.path.join(root, f"state_v{final}"))

    return merge, read_final


def versioned_keep_latest_sink(
    root: str,
    key_col: str,
    order_cols: Sequence[str],
    op_col: str | None = None,
    delete_op: str = "D",
):
    """The CDC/correction twin of :func:`versioned_keep_first_sink`
    (round-13 verdict #5 — the versioned sinks were insert-only): each
    batch unions the parent snapshot and keeps the LATEST row per
    ``key_col`` by ``order_cols`` (descending, left-to-right tie
    order), so upserts/corrections arriving in ANY micro-batch —
    including an older record arriving AFTER a newer one — converge to
    the same state as a one-shot batch keep-latest over the whole
    changelog. With ``op_col``, rows whose final op is ``delete_op``
    are retained in the snapshot as TOMBSTONES (never dropped at merge
    time: dropping them would let an out-of-order older update in a
    later batch silently resurrect the key — the classic CDC bug) and
    filtered only at read time; ``read_final`` returns the live state,
    ``read_final(..., with_tombstones=True)`` the raw snapshot.

    Same layout and guarantees as the keep-first sink: one full
    ``state_v{batch_id}`` snapshot per committed batch (crash-replayed
    batches re-merge onto the right parent — replay idempotence),
    state size O(distinct keys incl. tombstones),
    :func:`finporter_spark.operators.scale.vacuum_versions` reclaims
    old versions, :func:`read_version` time-travels. Ordering must be
    total per key (e.g. (ts, event_id)) or the kept row is
    engine-dependent.

    Returns ``(merge_fn, read_final)``."""
    from pyspark.sql import Window

    order_cols = list(order_cols)

    def latest_version(before: int) -> int:
        versions = []
        for d in os.listdir(root) if os.path.isdir(root) else []:
            suffix = d[len("state_v"):]
            if (
                d.startswith("state_v")
                and suffix.isdigit()
                and int(suffix) < before
            ):
                versions.append(int(suffix))
        return max(versions, default=-1)

    def merge(bdf, batch_id):
        cur = bdf
        parent = latest_version(batch_id)
        if parent >= 0:
            prev = bdf.sparkSession.read.parquet(
                os.path.join(root, f"state_v{parent}")
            )
            cur = prev.unionByName(cur)
        w = Window.partitionBy(key_col).orderBy(
            *[F.col(c).desc() for c in order_cols]
        )
        survivors = (
            cur.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        survivors.write.mode("overwrite").parquet(
            os.path.join(root, f"state_v{batch_id}")
        )

    def read_final(
        spark: SparkSession, with_tombstones: bool = False
    ) -> DataFrame:
        final = latest_version(1 << 62)
        if final < 0:
            raise FileNotFoundError(
                f"versioned_keep_latest_sink: no state versions under "
                f"{root!r} — the stream produced zero batches"
            )
        state = spark.read.parquet(
            os.path.join(root, f"state_v{final}")
        )
        if op_col is not None and not with_tombstones:
            state = state.filter(F.col(op_col) != delete_op)
        return state

    return merge, read_final


def list_versions(root: str, prefix: str = "state_v") -> list[int]:
    """Committed versions of a versioned merge sink
    (:func:`versioned_keep_first_sink` / x9's ``state_v{batch_id}``
    layout), sorted ascending. Stray non-version entries (temp dirs,
    vacuum tombstones, marker files) are ignored — the same discovery
    contract the sinks' ``latest_version`` and ``vacuum_versions``
    use, so the three views of the directory can never disagree."""
    if not os.path.isdir(root):
        return []
    out = []
    for d in os.listdir(root):
        suffix = d[len(prefix):]
        if d.startswith(prefix) and suffix.isdigit():
            out.append(int(suffix))
    return sorted(out)


def read_version(
    spark: SparkSession, root: str, version: int, prefix: str = "state_v"
) -> DataFrame:
    """TIME-TRAVEL read over a versioned merge sink: the full merged
    state AS OF batch ``version``. Each committed version is a
    complete keep-first snapshot (that is exactly what makes crash
    replay idempotent — the merge unions the parent snapshot, not the
    raw history), so ``read_version(k)`` equals recomputing the merge
    over batches 0..k — pinned in tests/test_r13_ops.py and the o20
    catalog oracle.

    Reading a version that was reclaimed by
    :func:`finporter_spark.operators.scale.vacuum_versions` (or never
    committed) fails LOUDLY with the surviving range — vacuum is
    irreversible retention, and silently serving the nearest
    surviving version would hand the caller the wrong point in time.
    Historical state past the retention window is re-derived by
    replaying the source, never from the sink."""
    available = list_versions(root, prefix)
    if version not in available:
        raise FileNotFoundError(
            f"read_version: version {version} not present under "
            f"{root!r}; available versions: {available!r} — older "
            "versions may have been reclaimed by vacuum_versions "
            "(retention is irreversible); replay the source to "
            "re-derive state outside the retention window"
        )
    return spark.read.parquet(os.path.join(root, f"{prefix}{version}"))


def stream_transform(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint: str,
    schema,
    def_time_of_day: str | None = None,
    time_zone: str | None = None,
    available_now: bool = True,
):
    """Streaming mirror of the AllocData transform pipeline (the
    reference's real deployment shape: brokers drop export files, each
    gets decoded + re-exported).

    Exactly the batch decode expressions (importers.allocdata) over a
    file-source stream, golden-encoded to a text sink: one definition,
    two execution modes. Returns the StreamingQuery; availableNow drains
    the current drop folder and stops.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    from finporter_spark.encoder import to_delimited_lines
    from finporter_spark.importers.allocdata import typed_projection
    from finporter_spark.model import ENTITY_SCHEMAS
    from finporter_spark.sources import CORRUPT_COL, reject_condition

    struct = ENTITY_SCHEMAS[schema]
    raw_schema = StructType(
        [StructField(n, StringType(), True) for n in struct.names]
        + [StructField(CORRUPT_COL, StringType(), True)]
    )
    raw = (
        spark.readStream.schema(raw_schema)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .csv(in_dir)
    )
    typed = raw.selectExpr(
        *typed_projection(struct, def_time_of_day, time_zone)
    )
    required = [f.name for f in struct.fields if not f.nullable]
    reject = reject_condition(required, corrupt=True)
    good = typed.filter(f"NOT ({reject})").drop(CORRUPT_COL)
    lines = to_delimited_lines(good, ",", struct.names)
    writer = (
        lines.writeStream.format("text")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts_left: str,
    ts_right: str,
    within: str = "6 hours",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """X7/X13: stream-stream join on ``key`` where the right event lands
    in ``[ts_left, ts_left + within]`` (view→purchase attribution shape).

    Both sides carry watermarks + the interval condition, which is what
    lets Spark BOUND the join state: a buffered left row is evictable
    once the right watermark passes ``ts_left + within``, instead of
    retaining the whole stream forever. The watermark is a
    latency/completeness dial — rows arriving later than it drop out of
    the result; a drain-style run (availableNow over a bounded backlog,
    as the x7 catalog entry does) passes a retention larger than the data
    span so the drained output is exactly the batch join.

    ``how``: 'inner' (X7, every matching pair), 'left_semi' (X13, each
    left row at most once — existence, not enumeration: the
    attribution-fanout-free shape), or 'left_outer' (X15, unmatched
    left rows null-extended). Inner/semi drains are exactly the batch
    join under a retention larger than the data span.

    OUTER contract (X15): null-side rows emit ONLY when the watermark
    passes ``ts_left + within + watermark`` — under drain-style
    retention (watermark ≫ data span) an availableNow drain would
    silently degrade to the inner join, which is why rounds 5–8
    refused to offer this shape. The supported harness (the x15
    catalog query) is the x4 forced-mtime trick: a SMALL watermark, all
    real data in batch 1, then two mtime-ordered sentinel batches far
    in event-time future — sentinel 1 advances the watermark past every
    real left row's eviction bound, sentinel 2's batch applies it,
    flushing the null-extended rows; callers filter the sentinels out.
    Anything else (real clocks, processingTime triggers) is
    nondeterministic; this is deterministic and exactly equal to the
    batch left-outer join, which the x15 oracle gates.
    """
    if how not in ("inner", "left_semi", "left_outer"):
        raise ValueError(f"unsupported stream join type: {how}")
    lw = left.withWatermark(ts_left, watermark)
    rw = right.withWatermark(ts_right, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[ts_right] >= lw[ts_left])
        & (rw[ts_right] <= lw[ts_left] + F.expr(f"INTERVAL {within}"))
    )
    if how == "left_semi":
        return lw.join(rw, cond, "left_semi")
    if how == "left_outer":
        return lw.join(rw, cond, "left_outer").drop(rw[key])
    return lw.join(rw, cond).drop(rw[key])
