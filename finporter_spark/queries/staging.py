"""Shared staging / fixture-state layer for the catalog's domain
modules: staged input drops and dataset-state cache paths.

Contract: staged drops are INPUT fixtures, not the operator under
test; everything is keyed by (name, scale factor) and guarded by a
stat-based source fingerprint so reuse can never serve stale data
after a testdata regeneration.
"""

from __future__ import annotations

import hashlib
import logging
import os

_log = logging.getLogger("finporter_spark")

IO_ROOT = "/tmp/finporter_spark_io"


def io_dir(sf_dir: str, name: str) -> str:
    """Deterministic scratch dir per (query, dataset) under ``IO_ROOT``
    (read at call time). The dataset is keyed on a short hash of its
    resolved path, so two datasets that share a basename never restage
    over each other; the basename stays in the name for readability."""
    real = os.path.realpath(sf_dir)
    tag = os.path.basename(real) or "sf"
    key = hashlib.sha1(real.encode()).hexdigest()[:10]
    return os.path.join(IO_ROOT, f"{name}_{tag}_{key}")


def src_fp(sf_dir, *tables):
    """Source-corpus stamp for corpus-DERIVED dataset-state caches
    (quantizers, codebooks, codes): a testdata regeneration must
    retrain/rebuild them, not serve the old corpus's state."""
    from finporter_spark.operators.scale import source_fingerprint

    return source_fingerprint(
        *[os.path.join(sf_dir, f"{t}.parquet") for t in tables]
    )


def stage_once(sf_dir, name, write_fn, *source_tables, extra_fingerprint=""):
    """Write a staging dataset once per (query, sf, source mtimes).

    Staging drops (the CSV backlog a stream drains, the partitioned or
    bucketed layout a query reads) are INPUT fixtures, not the operator
    under test — rewriting them per call just re-times the ingest. A
    stat-based fingerprint of the source parquet files is recorded after
    the write; a mismatch (regenerated testdata, or a changed
    ``extra_fingerprint`` — e.g. the staged layout) forces a restage, so
    reuse can never serve stale data. Each call logs
    ``staging hit: <path>`` or ``staging rebuild: <path> (<reason>)`` at
    INFO on the ``finporter_spark`` logger. Returns the staged path.
    """
    from finporter_spark.operators.scale import source_fingerprint

    path = io_dir(sf_dir, name)
    fp = source_fingerprint(
        *[os.path.join(sf_dir, f"{t}.parquet") for t in source_tables]
    )
    if extra_fingerprint:
        fp = f"{fp}|{extra_fingerprint}"
    marker = os.path.join(path, "_staged_fingerprint")
    try:
        with open(marker) as fh:
            staged = fh.read()
    except FileNotFoundError:
        staged = None
    if staged == fp:
        _log.info("staging hit: %s", path)
        return path
    reason = (
        "no _staged_fingerprint marker" if staged is None
        else "fingerprint changed"
    )
    _log.info("staging rebuild: %s (%s)", path, reason)
    write_fn(path)
    with open(marker, "w") as fh:
        fh.write(fp)
    return path


def stage_media(spark, sf_dir, name, make_fn, n_files: int = 32):
    """Stage a generated media fixture (doc_id, content binary) as
    parquet once per dataset. The synthetic encode (pure-Python codecs
    over every document) is fixture GENERATION, not the operator under
    test — regenerating it every gate run just re-times the encoder.
    Same fingerprint rule as every other staged input.

    The stage writes ``n_files`` part files: media blobs are tiny at
    test SFs, so a single-file layout would collapse the downstream
    Python decode (the actual operator under test) onto ONE read
    partition — measured 35 s -> 4 s for m9 at sf1. In production the
    media table is many multi-hundred-MB files and the splitter does
    this for free; the explicit repartition makes small fixtures
    behave like the real layout. Layout is part of the fingerprint so
    pre-existing single-file stages rebuild."""
    from finporter_spark.queries.catalog import _t

    path = stage_once(
        sf_dir,
        name,
        lambda p: _t(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(n_files, "doc_id")
        .mapInPandas(make_fn, "doc_id bigint, content binary")
        .write.mode("overwrite")
        .parquet(p),
        "documents",
        extra_fingerprint=f"files={n_files}",
    )
    return spark.read.parquet(path)


def stage_x6_drop(spark, sf_dir):
    """Stage the 8-way CSV drop x6b and x17 drain (one writer, one
    staging key — a layout change edits exactly one place, so the
    consumers can never silently diverge on a shared fixture)."""
    from pyspark.sql import functions as F

    from finporter_spark.queries.catalog import _t

    return stage_once(
        sf_dir,
        "x6",
        lambda p: _t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "value",
        )
        .repartition(8)
        .write.mode("overwrite")
        .csv(p, header=True),
        "events",
    )


def stage_x15_drop(spark, sf_dir):
    """Two mtime-ordered CSV drop dirs (left=views, right=purchases)
    for the outer stream-stream join harness (x15/x16): one real-data
    file per side (earliest mtime — all real events land in batch 1,
    before any watermark applies), then two sentinel files per side
    dated 2099/2100 whose batches advance and then APPLY the watermark,
    flushing null-side rows. Sentinels carry negative ids so consumers
    filter them. Staged once per (sf, events mtimes)."""
    import shutil

    from pyspark.sql import functions as F

    from finporter_spark.queries.catalog import _t

    fmt = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")  # noqa: E731

    def _write(p):
        e = _t(spark, sf_dir, "events").select(
            "event_id", fmt(F.col("ts")).alias("ts"), "user_id", "event_type"
        )
        for side, kind, s1_ts, s2_ts in (
            ("left", "view", "2099-01-01 00:00:00", "2100-01-01 00:00:00"),
            ("right", "purchase", "2099-06-01 00:00:00",
             "2100-06-01 00:00:00"),
        ):
            d = os.path.join(p, side)
            os.makedirs(d, exist_ok=True)
            real = e.filter(F.col("event_type") == kind)
            for name, df, mtime in (
                ("real.csv", real, 1_000_000_000),
                (
                    "s1.csv",
                    spark.createDataFrame(
                        [(-1, s1_ts, -1, kind)],
                        "event_id bigint, ts string, user_id bigint, "
                        "event_type string",
                    ),
                    1_000_001_000,
                ),
                (
                    "s2.csv",
                    spark.createDataFrame(
                        [(-2, s2_ts, -2, kind)],
                        "event_id bigint, ts string, user_id bigint, "
                        "event_type string",
                    ),
                    1_000_002_000,
                ),
            ):
                tmp = os.path.join(d, "_tmp")
                df.repartition(1).write.mode("overwrite").csv(
                    tmp, header=True
                )
                part = next(
                    f for f in os.listdir(tmp) if f.startswith("part-")
                )
                dst = os.path.join(d, name)
                os.replace(os.path.join(tmp, part), dst)
                shutil.rmtree(tmp)
                os.utime(dst, (mtime, mtime))

    return stage_once(sf_dir, "x15", _write, "events")
