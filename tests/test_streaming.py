"""Streaming X1-X5: batch-equivalence on the events table (SURVEY §5d).

Each streaming result must equal the same aggregation computed in batch
mode over the same data (delivered via a file-drop source)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from finporter_spark.streaming import run_stream_to_memory, stream_decode_files


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from finporter_spark.queries.catalog import _t

    return _t(spark, sf_dir, "events").cache()


@pytest.fixture(scope="module")
def drop_dir(spark, events, tmp_path_factory):
    """events table re-materialized as a multi-file parquet drop folder."""
    d = str(tmp_path_factory.mktemp("drop"))
    events.repartition(4).write.mode("overwrite").parquet(d)
    return d


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(cols).collect())


def test_x1_file_stream_equals_batch(spark, events, drop_dir):
    schema = spark.read.parquet(drop_dir).schema
    stream = spark.readStream.schema(schema).parquet(drop_dir)
    got = run_stream_to_memory(stream, "x1_raw")
    assert _rows(got, ["event_id"]) == _rows(events, ["event_id"])


def test_x2_tumbling_equals_batch(spark, events, drop_dir):
    schema = spark.read.parquet(drop_dir).schema
    stream = spark.readStream.schema(schema).parquet(drop_dir)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )
    got = run_stream_to_memory(agg, "x2_stream", output_mode="append")
    want = (
        events.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )
    cols = ["window_start", "event_type", "n", "total"]
    got_rows, want_rows = _rows(got, cols), _rows(want, cols)
    # append mode never flushes windows still open at end-of-stream: the
    # watermark stops at max(ts) - 30min, so windows past it stay in state.
    max_ts = events.agg(F.max("ts")).first()[0]
    import datetime as dt

    cutoff = max_ts - dt.timedelta(minutes=40)  # 30min watermark + 10min window
    missing = [r for r in want_rows if r not in set(got_rows)]
    assert all(r[0] >= cutoff for r in missing), missing[:5]
    assert set(got_rows) <= set(want_rows)
    assert len(want_rows) - len(got_rows) <= 12  # only the tail is withheld


def test_x3_session_equals_batch(spark, events, drop_dir):
    schema = spark.read.parquet(drop_dir).schema
    stream = spark.readStream.schema(schema).parquet(drop_dir)
    sessions = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n_events")
    )
    got = run_stream_to_memory(sessions, "x3_stream", output_mode="append")
    want = (
        events.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n_events")
    )
    cols = ["user_id", "session_start", "n_events"]
    got_rows, want_rows = _rows(got, cols), _rows(want, cols)
    # sessions still open at end-of-stream are withheld in append mode
    import datetime as dt

    max_ts = events.agg(F.max("ts")).first()[0]
    cutoff = max_ts - dt.timedelta(hours=2)
    missing = [r for r in want_rows if r not in set(got_rows)]
    assert all(r[1] >= cutoff for r in missing), missing[:5]
    assert set(got_rows) <= set(want_rows)
    assert len(want_rows) - len(got_rows) <= 30


def test_x5_stream_dedup(spark, events, drop_dir, tmp_path):
    # duplicate the drop dir to create exact duplicate events
    dup_dir = str(tmp_path / "dup")
    shutil.copytree(drop_dir, dup_dir)
    for f in os.listdir(drop_dir):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(drop_dir, f), os.path.join(dup_dir, "c_" + f))
    schema = spark.read.parquet(drop_dir).schema
    stream = spark.readStream.schema(schema).parquet(dup_dir)
    deduped = stream.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    got = run_stream_to_memory(deduped, "x5_stream")
    # every event exactly once despite duplicated input files
    assert got.count() == events.count()


def test_x1_csv_decode_stream(spark, events, tmp_path):
    csv_dir = str(tmp_path / "csv_drop")
    events.select(
        "event_id", "user_id", F.col("ts").cast("string").alias("ts"), "value"
    ).coalesce(2).write.option("header", True).mode("overwrite").csv(csv_dir)
    stream = stream_decode_files(
        spark, csv_dir, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    got = run_stream_to_memory(stream, "x1_csv")
    assert got.count() == events.count()


def test_x4_watermark_drops_late_rows(spark, tmp_path):
    """X4: a row older than the watermark is dropped, not aggregated.

    Three availableNow runs over a growing CSV drop dir sharing one
    checkpoint (watermark state persists across runs):
      run 1 seeds a 10:00 window and advances the watermark past it;
      run 2 delivers a late 10:02 row (window already finalized -> must
      emit nothing); run 3 advances the watermark again and must emit
      only the fresh 12:30 window, with no late contribution.
    """
    drop = tmp_path / "drop"
    cp = str(tmp_path / "cp")
    drop.mkdir()

    out = str(tmp_path / "out")

    def run(name):
        sdf = (
            spark.readStream.schema("event_id bigint, ts timestamp")
            .option("header", True)
            .csv(str(drop))
        )
        agg = (
            sdf.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        # file sink, not memory: only file/kafka/foreachBatch sinks support
        # resuming from a checkpoint, and the watermark lives in it
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r.ws.isoformat(), r.n) for r in spark.read.parquet(out).collect()
        }

    (drop / "f1.csv").write_text(
        "event_id,ts\n"
        "1,2024-01-01 10:00:00\n"
        "2,2024-01-01 10:05:00\n"
        "3,2024-01-01 12:00:00\n"  # watermark -> 11:30
    )
    emitted1 = run("x4_r1")
    assert emitted1 == {("2024-01-01T10:00:00", 2)}

    (drop / "f2.csv").write_text(
        "event_id,ts\n"
        "4,2024-01-01 10:02:00\n"  # late: before the 11:30 watermark
        "5,2024-01-01 12:30:00\n"  # watermark -> 12:00 (12:00 win open)
    )
    emitted2 = run("x4_r2")
    assert emitted2 == emitted1  # late row dropped; no window finalized

    (drop / "f3.csv").write_text(
        "event_id,ts\n6,2024-01-01 14:00:00\n"  # watermark -> 13:30
    )
    emitted3 = run("x4_r3")
    assert emitted3 == emitted1 | {
        ("2024-01-01T12:00:00", 1),
        ("2024-01-01T12:30:00", 1),
    }  # both 12:xx windows finalize; the late 10:02 row never appears


def test_stream_transform_matches_batch_decode(spark, tmp_path):
    """X1 over the real importer pipeline: a file-drop stream decoded with
    the SAME expressions as batch produces the same golden export lines,
    and rejects are filtered identically."""
    from finporter_spark.encoder import to_delimited_lines
    from finporter_spark.importers.allocdata import AllocDataImporter
    from finporter_spark.model import AllocSchema, ENTITY_SCHEMAS
    from finporter_spark.streaming.pipeline import stream_transform

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "f1.csv").write_text(
        "strategyID,title\nstrat1,60/40\nstrat2,All Weather\n"
    )
    (drop / "f2.csv").write_text("strategyID,title\nstrat3,Golden Butterfly\n")

    out = str(tmp_path / "out")
    q = stream_transform(
        spark, str(drop), out, str(tmp_path / "cp"), AllocSchema.STRATEGY
    )
    q.awaitTermination(120)

    got = sorted(r.value for r in spark.read.text(out).collect())
    good, _ = AllocDataImporter().decode(
        spark, str(drop), output_schema=AllocSchema.STRATEGY
    )
    want = sorted(
        r.line
        for r in to_delimited_lines(
            good, ",", ENTITY_SCHEMAS[AllocSchema.STRATEGY].names
        ).collect()
    )
    assert got == want and len(got) == 3


def test_x6_stateful_totals_equal_batch(spark, sf_dir):
    """The x6 name is an alias of x6b: it drains the staged stream and
    emits exactly the batch per-key counts."""
    from finporter_spark.queries.catalog import CATALOG, _t

    out = CATALOG["x6_stateful_running_totals"][0](spark, sf_dir)
    got = {r.user_id: r.n for r in out.collect()}
    want = {
        r.user_id: r.n
        for r in _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_x6b_builtin_agg_equals_custom_state(spark, sf_dir):
    """The JVM built-in streaming agg (x6b) emits exactly the per-key
    counts of the batch aggregate — the scale path for
    aggregation-expressible stateful semantics."""
    from finporter_spark.queries.catalog import CATALOG, _t

    out = CATALOG["x6b_builtin_running_totals"][0](spark, sf_dir)
    got = {r.user_id: r.n for r in out.collect()}
    want = {
        r.user_id: r.n
        for r in _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_x6_state_survives_across_batches(spark, tmp_path):
    """Two micro-batches (two availableNow runs, shared checkpoint): the
    built-in streaming aggregation that x6b runs carries its per-key state
    from the first run into the second run's emitted totals."""
    drop = tmp_path / "drop"
    drop.mkdir()
    cp = str(tmp_path / "cp")
    out = str(tmp_path / "out")

    def run():
        sdf = (
            spark.readStream.schema("user_id bigint, ts timestamp, value double")
            .option("header", True)
            .csv(str(drop))
        )
        q = (
            sdf.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            .writeStream.foreachBatch(
                lambda batch, _bid: batch.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", cp)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (drop / "f1.csv").write_text(
        "user_id,ts,value\n1,2024-01-01 10:00:00,5.0\n1,2024-01-01 10:01:00,7.0\n"
    )
    run()
    (drop / "f2.csv").write_text(
        "user_id,ts,value\n1,2024-01-01 10:02:00,1.0\n"
    )
    run()
    rows = sorted(
        (r.n, r.total) for r in spark.read.parquet(out).collect()
    )
    assert rows == [(2, 12.0), (3, 13.0)]  # state carried 2 -> 3


def test_x8_crash_restart_exactly_once(spark, tmp_path):
    """foreachBatch exactly-once contract under failure: the sink tears
    mid-batch (partial files written, then the query dies), and a
    restart from the same checkpoint re-delivers the SAME batch_id; an
    idempotent per-batch_id overwrite sink therefore converges to
    exactly the input — no loss, no duplication, the torn write gone."""
    import glob
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    drop = tmp_path / "drop"
    drop.mkdir()
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    for i in range(3):
        (drop / f"f{i}.csv").write_text(
            "k,v\n" + "".join(f"{i},{i * 10 + j}\n" for j in range(4))
        )

    def make_stream():
        return (
            spark.readStream.schema("k bigint, v bigint")
            .option("header", True)
            .option("maxFilesPerTrigger", 1)
            .csv(str(drop))
        )

    seen: list[int] = []

    def sink(crash_on: int | None):
        def _sink(bdf, batch_id):
            seen.append(batch_id)
            target = os.path.join(out, f"batch_id={batch_id}")
            if batch_id == crash_on:
                # torn write: half the rows land, then the "process" dies
                bdf.limit(2).write.mode("overwrite").parquet(target)
                raise RuntimeError("simulated sink crash mid-batch")
            bdf.write.mode("overwrite").parquet(target)

        return _sink

    def run(crash_on=None):
        q = (
            make_stream()
            .writeStream.foreachBatch(sink(crash_on))
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with pytest.raises(StreamingQueryException, match="simulated sink crash"):
        run(crash_on=1)
    crashed_batch = seen[-1]
    assert crashed_batch == 1
    # the torn write is visible before restart — the failure is real
    torn = spark.read.parquet(os.path.join(out, "batch_id=1")).count()
    assert torn == 2

    run(crash_on=None)
    # the WAL re-delivered the failed batch under the SAME id
    assert seen.count(crashed_batch) == 2
    # and the idempotent sink converged to exactly the input
    got = sorted(
        (r.k, r.v)
        for d in glob.glob(os.path.join(out, "batch_id=*"))
        for r in spark.read.parquet(d).collect()
    )
    want = sorted((i, i * 10 + j) for i in range(3) for j in range(4))
    assert got == want


def test_x9_incremental_mv_actually_incremental(spark, sf_dir):
    """x9's oracle proves incremental == batch; this pins that the
    maintenance really was incremental: one state version per
    micro-batch (maxFilesPerTrigger=1 over a multi-file drop), each
    holding O(groups) rows, monotonically growing counts."""
    import os

    from finporter_spark.queries.catalog import CATALOG
    from finporter_spark.queries.staging import io_dir as _io_dir

    out = CATALOG["x9_incremental_mv"][0](spark, sf_dir)
    n_types = out.count()
    root = _io_dir(sf_dir, "x9_state")
    versions = sorted(
        int(d[len("state_v"):])
        for d in os.listdir(root)
        if d.startswith("state_v")
    )
    assert len(versions) > 1, "drain must have produced multiple batches"
    totals = []
    for v in versions:
        st = spark.read.parquet(os.path.join(root, f"state_v{v}"))
        assert st.count() <= n_types  # state stays O(groups)
        totals.append(st.agg(F.sum("n")).first()[0])
    assert totals == sorted(totals), "event counts must grow monotonically"
    assert totals[-1] == spark.read.parquet(
        f"{sf_dir}/events.parquet"
    ).count()


def test_pipe3_sink_dedups_across_batches(spark, tmp_path):
    """A duplicate document arriving BATCHES after its original must be
    dropped by the keep-first merge sink (the sf0.01 corpus has no exact
    dupes, so the catalog oracle alone cannot exercise this path); and
    one state version must exist per micro-batch."""
    import json as _json
    import os

    from finporter_spark.streaming.pipeline import (
        run_stream_foreach_batch,
        versioned_keep_first_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    files = [
        [{"doc_id": 1, "text": "AAA"}],                        # original
        [{"doc_id": 2, "text": "BBB"}, {"doc_id": 3, "text": "AAA"}],
        [{"doc_id": 4, "text": "AAA"}, {"doc_id": 5, "text": "CCC"}],
    ]
    for i, rows in enumerate(files):
        with open(src / f"f{i}.json", "w") as fh:
            for r in rows:
                fh.write(_json.dumps(r) + "\n")

    sdf = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("h", F.sha2("text", 256))
    )
    root, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")
    merge, read_final = versioned_keep_first_sink(
        root, key_col="h", order_col="doc_id"
    )
    run_stream_foreach_batch(sdf, merge, ckpt)

    final = {r.doc_id for r in read_final(spark).collect()}
    assert final == {1, 2, 5}, final  # docs 3 and 4 are late duplicates
    versions = [d for d in os.listdir(root) if d.startswith("state_v")]
    assert len(versions) == 3, versions  # one per micro-batch


@pytest.mark.parametrize(
    "splits",
    [
        [[0, 1, 2, 3, 4, 5]],                  # one batch
        [[0], [1], [2], [3], [4], [5]],        # row per batch
        [[0, 1], [2], [3, 4, 5]],              # uneven
        [[5, 4], [3, 2], [1, 0]],              # arrival order != key order
    ],
)
def test_keep_first_sink_invariant_under_batch_splits(spark, tmp_path, splits):
    """Sink-merge dedup must be SPLIT-INVARIANT: any partition of the
    input into ordered micro-batches yields the same final state as the
    global keep-first — and replaying the last batch under the same
    batch_id (crash re-delivery) converges to the identical state."""
    from finporter_spark.streaming.pipeline import versioned_keep_first_sink

    rows = [  # (doc_id, key) with cross-batch duplicate keys
        (10, "a"), (11, "b"), (12, "a"), (13, "c"), (14, "b"), (15, "a"),
    ]
    expected = {("a", 10), ("b", 11), ("c", 13)}

    root = str(tmp_path / "state")
    merge, read_final = versioned_keep_first_sink(
        root, key_col="h", order_col="doc_id"
    )
    last_bid, last_batch = None, None
    for bid, idxs in enumerate(splits):
        bdf = spark.createDataFrame(
            [rows[i] for i in idxs], "doc_id bigint, h string"
        )
        merge(bdf, bid)
        last_bid, last_batch = bid, bdf
    got = {(r.h, r.doc_id) for r in read_final(spark).collect()}
    assert got == expected, got
    # crash re-delivery: same batch_id, same data -> same state
    merge(last_batch, last_bid)
    again = {(r.h, r.doc_id) for r in read_final(spark).collect()}
    assert again == expected, again


def test_stream_dedup_under_rocksdb_state_store(spark, tmp_path):
    """State-store provider is the scale knob for LARGE streaming state
    (RocksDB spills to executor disk instead of holding the store in
    JVM heap); the operator contract must be provider-agnostic. Run the
    x5-shape stateful dedup under RocksDBStateStoreProvider and assert
    the same exact-dedup result as the default provider."""
    import pandas as pd

    from finporter_spark.streaming.pipeline import run_stream_to_memory

    src = tmp_path / "src"
    src.mkdir()
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 1, 3, 2, 3, 4],
            "ts": ["2021-01-01 10:00:00"] * 7,
        }
    )
    rows.iloc[:4].to_csv(src / "a.csv", index=False)
    rows.iloc[4:].to_csv(src / "b.csv", index=False)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        sdf = (
            spark.readStream.schema("event_id bigint, ts timestamp")
            .option("header", True)
            .option("maxFilesPerTrigger", 1)
            .csv(str(src))
            .withWatermark("ts", "30 minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        out = run_stream_to_memory(
            sdf.select("event_id"), "x5_rocksdb_mem", output_mode="append"
        )
        assert sorted(r.event_id for r in out.collect()) == [1, 2, 3, 4]
    finally:
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_keep_first_sink_empty_stream_and_stray_entries(spark, tmp_path):
    """Zero-batch stream: read_final must raise a clear 'no state
    versions' error, not an opaque state_v-1 parquet path error; and a
    stray non-version entry under the root (leftover temp dir) must not
    crash parent discovery."""
    import os

    import pytest

    from finporter_spark.streaming.pipeline import versioned_keep_first_sink

    root = str(tmp_path / "state")
    merge, read_final = versioned_keep_first_sink(
        root, key_col="h", order_col="doc_id"
    )
    with pytest.raises(FileNotFoundError, match="no state versions"):
        read_final(spark)

    os.makedirs(os.path.join(root, "state_v0.tmp"))  # stray: non-numeric
    os.makedirs(os.path.join(root, "_spark_metadata"))
    bdf = spark.createDataFrame([(1, "a"), (2, "a")], "doc_id bigint, h string")
    merge(bdf, 0)
    got = {(r.h, r.doc_id) for r in read_final(spark).collect()}
    assert got == {("a", 1)}


@pytest.mark.slow  # ~19 s worker-env stream drain; the list/map-state and cross-batch TWS drains stay in the default run
def test_transform_with_state_env_blocker(spark, tmp_path):
    """Spark 4's transformWithStateInPandas (StatefulProcessor API) needs
    google.protobuf in the Python worker; this container has no protobuf
    and no pip. Round 9 removes the pin: conftest.py puts the vendored
    minimal protobuf runtime (tools/vendor, clean-room wire-format
    subset) on sys.path/PYTHONPATH when the real package is absent, so
    this test now runs a REAL StatefulProcessor end-to-end
    (count-per-key, RocksDB-backed state server protocol against the
    JVM) instead of skipping. The skip remains only for an environment
    with neither the real package nor the vendor tree."""
    import importlib.util

    import pytest

    try:
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no 'google' namespace package at all
        has_protobuf = False
    if not has_protobuf:
        pytest.skip(
            "transformWithStateInPandas blocked: google.protobuf absent "
            "and the vendored runtime (tools/vendor) is missing too"
        )

    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState(
                "count", StructType([StructField("n", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            n = sum(len(pdf) for pdf in rows)
            prev = self._count.get()[0] if self._count.exists() else 0
            self._count.update((prev + n,))
            yield pd.DataFrame({"k": [key[0]], "n": [prev + n]})

        def close(self) -> None:
            pass

    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.csv").write_text("a\na\nb\n")
    schema = StructType([StructField("k", StringType())])
    stream = spark.readStream.schema(schema).csv(str(src))
    # transformWithState keeps several column families per state store —
    # only the RocksDB provider supports that (HDFSBacked raises
    # STATE_STORE_MULTIPLE_COLUMN_FAMILIES)
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = (
            stream.groupBy("k")
            .transformWithStateInPandas(
                CountProcessor(),
                outputStructType=StructType(
                    [
                        StructField("k", StringType()),
                        StructField("n", LongType()),
                    ]
                ),
                outputMode="Update",
                timeMode="None",
            )
            .writeStream.format("memory")
            .queryName("tws_counts")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        out.awaitTermination(120)
    finally:
        if prev is not None:
            spark.conf.set(prov_key, prev)
        else:
            spark.conf.unset(prov_key)
    got = {r.k: r.n for r in spark.sql("select * from tws_counts").collect()}
    assert got == {"a": 2, "b": 1}


def test_transform_with_state_list_and_map_state(spark, tmp_path):
    """Exercise the WIDER StatefulProcessor protocol surface through the
    vendored protobuf runtime: ListState (repeated-bytes puts, iterator
    paging on get) and MapState (updateValue/getValue/containsKey/keys)
    — the message shapes the count-only test doesn't touch. Catches any
    wire-format gap in tools/vendor before a user does."""
    import importlib.util

    import pytest

    try:
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        has_protobuf = False
    if not has_protobuf:
        pytest.skip("google.protobuf absent and no vendored runtime")

    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    class ListMapProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            sch = StructType([StructField("v", LongType())])
            self._seen = handle.getListState("seen", sch)
            self._tally = handle.getMapState(
                "tally", StructType([StructField("k", StringType())]), sch
            )

        def handleInputRows(self, key, rows, timerValues):
            vals = []
            for pdf in rows:
                vals.extend(int(v) for v in pdf["v"])
            for v in vals:
                self._seen.appendValue((v,))
            prev = (
                self._tally.getValue(("n",))[0]
                if self._tally.containsKey(("n",))
                else 0
            )
            self._tally.updateValue(("n",), (prev + len(vals),))
            total = sum(v[0] for v in self._seen.get())
            n_keys = sum(1 for _ in self._tally.keys())
            yield pd.DataFrame(
                {
                    "k": [key[0]],
                    "total": [total],
                    "n_vals": [self._tally.getValue(("n",))[0]],
                    "n_keys": [n_keys],
                }
            )

        def close(self) -> None:
            pass

    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.csv").write_text("a,1\na,2\nb,10\n")
    schema = StructType(
        [StructField("k", StringType()), StructField("v", LongType())]
    )
    stream = spark.readStream.schema(schema).csv(str(src))
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = (
            stream.groupBy("k")
            .transformWithStateInPandas(
                ListMapProcessor(),
                outputStructType=StructType(
                    [
                        StructField("k", StringType()),
                        StructField("total", LongType()),
                        StructField("n_vals", LongType()),
                        StructField("n_keys", LongType()),
                    ]
                ),
                outputMode="Update",
                timeMode="None",
            )
            .writeStream.format("memory")
            .queryName("tws_listmap")
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .trigger(availableNow=True)
            .start()
        )
        out.awaitTermination(120)
    finally:
        if prev is not None:
            spark.conf.set(prov_key, prev)
        else:
            spark.conf.unset(prov_key)
    got = {
        r.k: (r.total, r.n_vals, r.n_keys)
        for r in spark.sql("select * from tws_listmap").collect()
    }
    assert got == {"a": (3, 2, 1), "b": (10, 1, 1)}


def test_x15_outer_join_emits_null_side(spark, sf_dir):
    """X15 (stream-stream LEFT OUTER interval join): the drained result
    must contain NULL-extended unmatched views — the exact rows the
    round-5..8 doc note said a drain can't produce — and equal the
    batch left-outer join row-for-row, with no sentinel leakage."""
    from finporter_spark.queries.catalog import CATALOG, _t

    out = CATALOG["x15_stream_outer_interval_join"][0](spark, sf_dir)
    rows = out.collect()
    assert all(r.view_id >= 0 for r in rows), "sentinel leaked"
    n_null = sum(1 for r in rows if r.purchase_id is None)
    assert n_null > 0, "no null-side rows: drain degraded to inner join"

    e = _t(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
        "user_id",
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("user_id").alias("p_user"),
    )
    want = v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 6 HOURS")
        ),
        "left_outer",
    ).select("view_id", "purchase_id", "user_id", "view_ts", "purchase_ts")
    got = {
        (r.view_id, r.purchase_id, r.user_id, r.view_ts, r.purchase_ts)
        for r in rows
    }
    exp = {
        (r.view_id, r.purchase_id, r.user_id, r.view_ts, r.purchase_ts)
        for r in want.collect()
    }
    assert got == exp
