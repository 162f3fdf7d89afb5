"""Source and sink roundtrips: the s family.

Each entry writes a dataset under the staging root (``staging.IO_ROOT``)
and reads it back: the *roundtrip* is the operator under test (sink
format fidelity, partition pruning, schema evolution, the Python data
source), and the oracle checks the read-back against the original table,
which only holds if write + read are lossless. s7 mirrors FINporter's
rejected-row side channel (``FINporter.swift:41``,
``TransformHandler.swift:27,113``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from finporter_spark.queries.catalog import CATALOG, _t, query
from finporter_spark.queries.relational import _P18_JSON_CTE, _p18_json_expr
from finporter_spark.queries.staging import (
    io_dir as _io_dir,
    stage_once as _stage_once,
)


# =====================================================================
# S — source/sink roundtrips. The oracle is the identity SELECT on the
# original table: it passes only if sink encoding + source decoding are
# lossless (quoting, header order, null handling, double shortest-repr).
# =====================================================================

@query(
    "s1_csv_roundtrip",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def s1_csv_roundtrip(spark, sf_dir):
    path = _io_dir(sf_dir, "s1")
    _t(spark, sf_dir, "nation").write.mode("overwrite").csv(path, header=True)
    return spark.read.csv(
        path,
        header=True,
        schema="n_nationkey bigint, n_name string, n_regionkey bigint",
        mode="PERMISSIVE",
    )


@query("s2_tsv_roundtrip", "SELECT r_regionkey, r_name FROM region")
def s2_tsv_roundtrip(spark, sf_dir):
    path = _io_dir(sf_dir, "s2")
    _t(spark, sf_dir, "region").write.mode("overwrite").csv(
        path, header=True, sep="\t"
    )
    return spark.read.csv(
        path, header=True, sep="\t", schema="r_regionkey bigint, r_name string"
    )


@query(
    "s3_json_roundtrip",
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def s3_json_roundtrip(spark, sf_dir):
    path = _io_dir(sf_dir, "s3")
    _t(spark, sf_dir, "supplier").write.mode("overwrite").json(path)
    return spark.read.json(
        path,
        schema="s_suppkey bigint, s_name string, s_nationkey bigint, "
        "s_acctbal double",
    )


@query(
    "s7_quarantine_split",
    "SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0",
)
def s7_quarantine_split(spark, sf_dir):
    """Rejected-row side channel (R5/S7): rows whose typed decode fails
    land in a persisted quarantine sink instead of aborting the read.

    A CSV copy of ``customer`` is written with a deliberately corrupted
    numeric field on a known key set; the PERMISSIVE read surfaces those
    rows via ``columnNameOfCorruptRecord``. Both channels are written to
    parquet sinks (``quarantine/`` and ``clean/``) — the dead-letter
    layout a 100 TB ingest needs for replay/audit — and the query returns
    the quarantined keys read back from the sink, which the oracle
    predicts exactly.
    """
    path = _io_dir(sf_dir, "s7")
    c = _t(spark, sf_dir, "customer")
    corrupted = c.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.when(F.col("c_custkey") % 97 == 0, F.lit("NOT_A_NUMBER"))
        .otherwise(F.col("c_acctbal").cast("string"))
        .alias("c_acctbal"),
        "c_mktsegment",
    )
    corrupted.write.mode("overwrite").csv(path, header=True)
    decoded = spark.read.csv(
        path,
        header=True,
        schema="c_custkey bigint, c_name string, c_nationkey bigint, "
        "c_acctbal double, c_mktsegment string, _corrupt string",
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt",
    )
    # Spark disallows querying only the corrupt-record column straight off
    # a raw CSV scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the corrupt
    # column may not survive a bare select anyway — persist both channels
    # as parquet sinks in one pass over the scan, then read the
    # quarantine back. Single extra job vs .cache(), durable, replayable.
    quarantine_path = os.path.join(path, "quarantine")
    clean_path = os.path.join(path, "clean")
    decoded.filter(F.col("_corrupt").isNotNull()).write.mode(
        "overwrite"
    ).parquet(quarantine_path)
    decoded.filter(F.col("_corrupt").isNull()).drop("_corrupt").write.mode(
        "overwrite"
    ).parquet(clean_path)
    return spark.read.parquet(quarantine_path).select("c_custkey")


@query(
    "s10_binaryfile_scan",
    """
    SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 5, '0') || '.bin'
             AS fname,
           CAST(octet_length(encode(text)) AS BIGINT) AS length,
           lower(sha256(text)) AS digest
    FROM documents WHERE doc_id < 100
    """,
)
def s10_binaryfile_scan(spark, sf_dir):
    """S10: the `binaryFile` source — whole files as (path, length,
    content) rows, the ingest shape for raw media/artifact corpora
    (SURVEY §2B L5). A staged drop of one .bin per document is scanned
    back and digested; the oracle predicts basename, byte length, and
    sha256 from the source table, so the check proves the source reads
    exactly the bytes written. At 100 TB this source partitions by file
    (maxPartitionBytes batches small files per task); content digesting
    is map-only."""

    def write_files(p):
        os.makedirs(p, exist_ok=True)
        rows = (
            _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 100)
            .select("doc_id", "text")
            .collect()  # staging only: 100 unit-size files, one time
        )
        for r in rows:
            with open(os.path.join(p, f"doc_{r.doc_id:05d}.bin"), "wb") as fh:
                fh.write(r.text.encode("utf-8"))

    path = _stage_once(sf_dir, "s10", write_files, "documents")
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
        .select(
            F.regexp_extract("path", "[^/]+$", 0).alias("fname"),
            F.col("length"),
            F.lower(F.sha2("content", 256)).alias("digest"),
        )
    )


@query(
    "s1_csv_gzip_roundtrip",
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
    "FROM customer",
)
def s1_csv_gzip_roundtrip(spark, sf_dir):
    """S1 with transparent compression: gzip-coded CSV write + read
    (splittability note: gzip parts are one task each — fine for many
    medium files, use zstd/bzip2 or uncompressed for giant single files).
    """
    path = _io_dir(sf_dir, "s1gz")
    _t(spark, sf_dir, "customer").write.mode("overwrite").option(
        "compression", "gzip"
    ).csv(path, header=True)
    return spark.read.csv(
        path,
        header=True,
        schema="c_custkey bigint, c_name string, c_nationkey bigint, "
        "c_acctbal double, c_mktsegment string",
    )


# s12 reads the staged holdings of one account; s13 round-trips all
# of them, so its oracle is s12's without the account filter
_S12_FILTER = "    WHERE p_partkey % 7 = 3\n"
_S12_ORACLE = """
    SELECT 'acct-' || CAST(p_partkey % 7 AS VARCHAR) AS accountID,
           'S' || CAST(p_partkey AS VARCHAR) AS securityID,
           CASE WHEN p_partkey % 5 = 0 THEN ''
                ELSE 'L' || CAST(p_partkey % 100 AS VARCHAR) END AS lotID,
           CAST(p_size AS DOUBLE) AS shareCount,
           CAST(p_retailprice AS DOUBLE) AS shareBasis,
           CAST(DATE '2021-01-01' + INTERVAL (p_partkey % 365) DAY
                AS TIMESTAMP) AS acquiredAt
    FROM part
    WHERE p_partkey % 7 = 3
    """


@query(
    "s12_python_datasource",
    _S12_ORACLE,
)
def s12_python_datasource(spark, sf_dir):
    """S12: the custom Spark 4 Python DataSource (`format("finport")`,
    SURVEY §4's Detect-as-DataSource candidate, implemented in
    `sources/finport_datasource.py`) reading a directory of AllocData
    HOLDING CSVs: one InputPartition per file (parallel executor-side
    split into string columns), per-file header verification (the
    detect contract), and `typed` — the importer's `typed_projection`
    over the scan, the one typing rule. Spark evaluates the accountID
    equality after the scan, in the same stage. Staged fixture derives
    deterministically from `part`, so the oracle recomputes the
    expected rows relationally."""
    from finporter_spark.sources.finport_datasource import (
        FinportDataSource,
        typed,
    )

    def _write(p):
        part = _t(spark, sf_dir, "part").select(
            F.concat(
                F.lit("acct-"), (F.col("p_partkey") % 7).cast("string")
            ).alias("accountID"),
            F.concat(F.lit("S"), F.col("p_partkey").cast("string")).alias(
                "securityID"
            ),
            F.when(F.col("p_partkey") % 5 == 0, F.lit(""))
            .otherwise(
                F.concat(
                    F.lit("L"), (F.col("p_partkey") % 100).cast("string")
                )
            )
            .alias("lotID"),
            F.col("p_size").cast("double").cast("string").alias(
                "shareCount"
            ),
            F.col("p_retailprice").cast("double").cast("string").alias(
                "shareBasis"
            ),
            F.date_format(
                F.date_add(
                    F.lit("2021-01-01"),
                    (F.col("p_partkey") % 365).cast("int"),
                ),
                "yyyy-MM-dd",
            ).alias("acquiredAt"),
        )
        part.repartition(8).write.mode("overwrite").csv(p, header=True)

    path = _stage_once(sf_dir, "s12", _write, "part")
    spark.dataSource.register(FinportDataSource)
    return typed(
        spark.read.format("finport").option("path", path).load()
    ).filter(F.col("accountID") == "acct-3")


@query(
    "s13_datasource_roundtrip",
    _S12_ORACLE.replace(_S12_FILTER, ""),
)
def s13_datasource_roundtrip(spark, sf_dir):
    """S13: full connector roundtrip — read the staged holdings through
    `format("finport")` and `typed`, WRITE them back through the same
    format (the distributed golden-encoder sink: per-task temp files,
    two-phase driver commit renaming to part-NNNNN.csv, so torn output
    is never visible), then read and type the written directory again.
    Hash-matching the relational oracle proves write∘read is lossless
    under the golden encoding rules (escape/quote, ISO-Z timestamps,
    shortest-roundtrip doubles, nil↔empty)."""
    from finporter_spark.sources.finport_datasource import (
        FinportDataSource,
        typed,
    )

    # reuse s12's staged input fixture (idempotent, fingerprint-guarded:
    # running the s12 entry stages it when absent or stale)

    CATALOG["s12_python_datasource"][0](spark, sf_dir).limit(1).collect()
    in_path = _io_dir(sf_dir, "s12")
    spark.dataSource.register(FinportDataSource)
    full = typed(
        spark.read.format("finport").option("path", in_path).load()
    )
    out_path = _io_dir(sf_dir, "s13_out")
    (
        full.write.format("finport")
        .mode("overwrite")
        .option("path", out_path)
        .save()
    )
    return typed(
        spark.read.format("finport").option("path", out_path).load()
    )


@query(
    "s8_partitioned_prune",
    """
    SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
             AS total
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') IN ('1995-01', '1995-02', '1995-03')
    GROUP BY 1
    """,
)
def s8_partitioned_prune(spark, sf_dir):
    """Hive-style partitioned layout + partition pruning: orders written
    once per dataset partitioned by order month
    (``partitionBy("order_month")``), then read back filtered to three
    months — the scan touches only those directories (PartitionFilters;
    plan-asserted in tests/test_plans.py). At 100 TB this is the
    difference between reading 3 months and reading 7 years. The layout
    is staged once per (sf_dir, orders mtimes) by :func:`_stage_once`."""
    path = _stage_once(
        sf_dir,
        "s8",
        lambda p: _t(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        ).write.mode("overwrite").partitionBy("order_month").parquet(p),
        "orders",
    )
    months = ["1995-01", "1995-02", "1995-03"]
    return (
        spark.read.parquet(path)
        .filter(F.col("order_month").isin(months))
        .groupBy("order_month")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(28,6)"))
            .cast("double")
            .alias("total"),
        )
        .withColumn("order_month", F.col("order_month").cast("string"))
    )


@query(
    "s4_orc_roundtrip",
    "SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders",
)
def s4_orc_roundtrip(spark, sf_dir):
    """ORC sink+source roundtrip (columnar sibling of the parquet path;
    Spark's native ORC reader is vectorized and supports the same
    pushdown surface). Oracle = identity on the original table: passes
    only if the ORC write+read is lossless."""
    path = _io_dir(sf_dir, "s4")
    _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    ).write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@query(
    "s9_schema_evolution",
    """
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END
             AS o_orderpriority
    FROM orders
    """,
)
def s9_schema_evolution(spark, sf_dir):
    """S9: schema evolution on read — a dataset written in two
    generations (the second adds a column) is read back as ONE table
    with mergeSchema: old files surface the new column as NULL. This is
    the append-only evolution contract a long-lived 100 TB table needs
    (no rewrite of historical files). Even keys are written first
    (2-col schema), odd keys after (3-col); the oracle reproduces the
    NULL pattern with a CASE."""
    o = _t(spark, sf_dir, "orders")
    path = _io_dir(sf_dir, "s9")

    shutil.rmtree(path, ignore_errors=True)
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("append").parquet(path)
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    ).write.mode("append").parquet(path)
    return spark.read.option("mergeSchema", True).parquet(path).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )


# =====================================================================
# S14 — dynamic partition overwrite (idempotent daily re-load)
# =====================================================================


@query(
    "s14_dynamic_partition_overwrite",
    """
    SELECT event_id, event_type,
           CASE WHEN strftime(CAST(ts AS DATE), '%Y-%m-%d') = '2024-01-15'
                THEN round(value * 1.1, 6) ELSE round(value, 6) END AS value_out,
           strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day
    FROM events
    """,
)
def s14_dynamic_partition_overwrite(spark, sf_dir):
    """S14: `partitionOverwriteMode=dynamic` — the idempotent daily
    re-load pattern: a date-partitioned table gets ONE day's partition
    replaced by a corrected recompute (here: 2024-01-15 values restated
    x1.1) while every other partition's files are untouched. Static
    overwrite would truncate the whole table; dynamic overwrite scopes
    the commit to the partitions present in the incoming DataFrame —
    the only safe way to re-run a day's batch on a 100 TB partitioned
    store. The corrected day is recomputed FROM SOURCE (not from the
    sink), so repeated runs converge (idempotence proven by the
    fingerprint-staged initial load + re-execution in the test). Read
    back through the partitioned reader; partition pruning on the
    overwritten day is preserved (day stays a partition column)."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "value",
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
    )

    def _initial(p):
        e.write.mode("overwrite").partitionBy("day").parquet(p)

    path = _stage_once(sf_dir, "s14", _initial, "events")
    corrected = e.filter(F.col("day") == "2024-01-15").withColumn(
        "value", F.col("value") * 1.1
    )
    # scope the dynamic mode to THIS write: leaking it session-wide
    # would silently change every later partitioned overwrite (e.g. a
    # fixture restage) from truncate-all to keep-absent-partitions
    prev_mode = spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode", "STATIC"
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        corrected.write.mode("overwrite").partitionBy("day").parquet(path)
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev_mode
        )
    out = spark.read.parquet(path)
    return out.select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value_out"),
        F.col("day").cast("string").alias("day"),
    )


# =====================================================================
# S15 — ORC predicate pushdown + column pruning (scan-side contract)
# =====================================================================


@query(
    "s15_orc_pushdown",
    """
    SELECT s_suppkey, s_name,
           CAST(s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier
    WHERE CAST(s_acctbal AS DOUBLE) > 4500.0
    """,
)
def s15_orc_pushdown(spark, sf_dir):
    """S15: ORC SCAN-side contract — predicate pushdown + column
    pruning through Spark's built-in ORC source (zlib-compressed
    write). The lossless write→read identity for ORC is s4's entry
    (``s4_orc_roundtrip``); what s4 does NOT certify is
    the read path a warehouse user actually depends on at 100 TB: that
    a filtered, projected query over an ORC table pushes the predicate
    into the ORC reader (row-group / stripe-statistics skipping, the
    parquet s8 analogue) and prunes unread columns, instead of
    decoding every stripe of every column. Here the supplier table is
    staged as zlib ORC, then read back through a filter
    (``s_acctbal > 4500``) and a 3-column projection; the hash oracle
    certifies the filtered VALUES survive ORC encode→filter→decode,
    and ``tests/test_plans.py::test_s15_orc_pushdown_plan`` asserts
    the plan carries ``PushedFilters: [... GreaterThan(s_acctbal,
    4500.0)]`` on the ORC scan with the unprojected columns absent
    from the read schema — the property that keeps an ORC lake scan
    I/O-proportional to the query, not the table."""
    path = _io_dir(sf_dir, "s15")

    def _write(p):
        (
            _t(spark, sf_dir, "supplier")
            .select(
                "s_suppkey", "s_name", "s_nationkey",
                F.col("s_acctbal").cast("double").alias("s_acctbal"),
            )
            .write.mode("overwrite")
            .option("compression", "zlib")
            .orc(p)
        )

    _stage_once(sf_dir, "s15", _write, "supplier",
                extra_fingerprint="orc-zlib-v2")
    return (
        spark.read.orc(path)
        .where(F.col("s_acctbal") > 4500.0)
        .select("s_suppkey", "s_name", "s_acctbal")
    )

# =====================================================================
# S16 — XML roundtrip (Spark 4 built-in XML source)
# =====================================================================

_S16_SCHEMA = StructType([
    StructField("c_custkey", LongType()),
    StructField("c_name", StringType()),
    StructField("markup", StringType()),
    StructField("c_acctbal", DoubleType()),
    StructField("nk", LongType()),
])


@query(
    "s16_xml_roundtrip",
    """
    SELECT c_custkey, c_name,
           '<a href="seg">' || c_mktsegment || ' & co</a>' AS markup,
           c_acctbal,
           CASE WHEN c_custkey % 7 = 0 THEN NULL
                ELSE CAST(c_nationkey AS BIGINT) END AS nk
    FROM customer
    """,
)
def s16_xml_roundtrip(spark, sf_dir):
    """S16: XML write -> read roundtrip on Spark 4's built-in XML source
    (``format("xml")``, merged into spark-sql core in 4.0) — the last
    first-class file format the source/sink family (CSV/TSV/JSON/
    parquet/ORC/binaryfile + the finport Python DataSource) didn't
    exercise; the B2B-integration sibling of the reference's delimited
    export surface (FINporter's whole purpose is moving rows through
    interchange text formats — ``DelimitedEncoder.swift`` — and XML is
    the interchange format that needs ENTITY escaping instead of quote
    doubling).

    The derived ``markup`` column injects the three XML-special
    characters (``<``, ``&``, quotes) into every row, so the identity
    oracle passes only if the writer's entity escaping and the reader's
    unescaping are exact inverses; ``nk`` is NULL on a 1/7 stride —
    the writer OMITS the element and the explicit read schema must
    restore NULL (schema-on-read, no inference pass: at 100 TB a
    sampling inference scan over XML is a full extra read, and
    inference could widen the nullable column's type on a skewed
    sample). Doubles ride on Java's shortest-roundtrip decimal text,
    lossless by contract. Scale shape: map-only in both directions —
    XML files split per-row-tag like JSON lines, no shuffle."""
    path = _io_dir(sf_dir, "s16")
    (
        _t(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_name",
            F.concat(
                F.lit('<a href="seg">'),
                F.col("c_mktsegment"),
                F.lit(" & co</a>"),
            ).alias("markup"),
            "c_acctbal",
            F.when(F.col("c_custkey") % 7 == 0, F.lit(None).cast("long"))
            .otherwise(F.col("c_nationkey").cast("long"))
            .alias("nk"),
        )
        .write.mode("overwrite")
        .format("xml")
        .option("rowTag", "cust")
        .save(path)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "cust")
        .schema(_S16_SCHEMA)
        .load(path)
    )


# =====================================================================
# S17 — VARIANT through parquet (the storage half of schema-on-read)
# =====================================================================

_S17_ORACLE = f"""
    WITH {_P18_JSON_CTE}, x AS (
      SELECT json_extract_string(js, '$.t') AS t,
             COALESCE(json_extract_string(js, '$.nested.tag'), '') AS tag,
             CAST(json_extract(js, '$.nested.cents') AS BIGINT) AS cents,
             CAST(json_extract(js, '$.ks[1]') AS BIGINT) AS k2
      FROM j
    )
    SELECT t, tag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents_total,
           CAST(SUM(k2) AS BIGINT) AS k2_total
    FROM x GROUP BY t, tag
    """


@query("s17_variant_roundtrip", _S17_ORACLE)
def s17_variant_roundtrip(spark, sf_dir):
    """S17: VARIANT PERSISTED THROUGH PARQUET — the storage half of
    the schema-on-read contract p18 opened at the expression level:
    p18 proves parse_json → variant_get inside one plan; a raw event
    lake needs the parsed binary VARIANT to survive a write→read cycle
    so ingestion parses each document ONCE and every later query reads
    the columnar variant encoding (Spark 4 writes variant as its
    shredded binary parquet representation). The staged table persists
    (event_id, v VARIANT); the query reads it back and runs typed path
    extraction + an aggregate over the extracted values — per
    (t, tag): count, Σcents, Σks[1] — so the value hash certifies
    write-side encoding, read-side decoding, path extraction AFTER the
    roundtrip, and the optional-field NULL (tag coalesced to '' to
    keep the group key engine-portable), not merely row survival.

    Oracle: DuckDB synthesizes the identical document and aggregates
    its own JSON-path extractions — two independent engines, one
    through a binary storage roundtrip, one through string JSON, must
    agree on every typed value (cents/k2 ride as bigints; no float
    enters). Staged once per corpus fingerprint (the _stage_once
    contract); scale shape is a map-only parse at ingest plus an
    ordinary keyed agg at read."""
    def _write(p):
        (
            _t(spark, sf_dir, "events")
            .select(
                "event_id", F.parse_json(_p18_json_expr()).alias("v")
            )
            .write.mode("overwrite")
            .parquet(p)
        )

    path = _stage_once(
        sf_dir, "s17", _write, "events", extra_fingerprint="variant-v1"
    )
    v = spark.read.parquet(path)
    x = v.select(
        F.variant_get("v", "$.t", "string").alias("t"),
        F.coalesce(
            F.variant_get("v", "$.nested.tag", "string"), F.lit("")
        ).alias("tag"),
        F.variant_get("v", "$.nested.cents", "bigint").alias("cents"),
        F.variant_get("v", "$.ks[1]", "bigint").alias("k2"),
    )
    return x.groupBy("t", "tag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("cents_total"),
        F.sum("k2").alias("k2_total"),
    )
