"""Sources & sinks (SURVEY §2B S1-S7): permissive scans with a
corrupt-record channel, prefix reads for detect, and quarantine splitting.

Scale notes: all readers return lazy scans; schema is supplied or inferred
once; ``read_prefix`` and ``header_names`` read only the head of one file on
the driver (detect and all-string header reads never launch a job).
Quarantine split is two filters over one cached scan — no shuffle.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from finporter_spark.model import AllocFormat

CORRUPT_COL = "_corrupt_record"


def _visible_files(path: str) -> list[str]:
    """``path`` itself, or for a directory (file-drop folder) the files in
    it that Spark would also read (no ``_``/``.`` prefix), by name."""
    if not os.path.isdir(path):
        return [path]
    names = sorted(
        n
        for n in os.listdir(path)
        if not n.startswith(("_", ".")) and os.path.isfile(os.path.join(path, n))
    )
    if not names:
        raise FileNotFoundError(f"no files to sniff in {path}")
    return [os.path.join(path, n) for n in names]


def read_prefix(path: str, n_bytes: int = 4096) -> bytes:
    """Driver-side prefix read for detect (DetectHandler.swift:25-26 reads
    the whole file; we read only the sniffing prefix — same contract as
    ``detect(dataPrefix:)``, FINporter.swift:33-35). A directory (file-drop
    folder) sniffs its first visible file."""
    with open(_visible_files(path)[0], "rb") as f:
        return f.read(n_bytes)


# bytes Java's String.trim() strips: Spark skips lines that trim to empty
_BLANK = bytes(range(33))


def _header_line(path: str) -> str | None:
    """First non-blank line of the file ``path`` (Hadoop line breaks: LF,
    CRLF or CR; a leading UTF-8 BOM dropped), or None."""
    n = 4096
    with open(path, "rb") as f:
        while True:
            f.seek(0)
            data = f.read(n)
            eof = len(data) < n
            if data.startswith(b"\xef\xbb\xbf"):
                data = data[3:]
            for line in data.splitlines(keepends=True):
                if not eof and not line.endswith((b"\n", b"\r")):
                    break  # cut by the read size: read more
                if line.strip(_BLANK):
                    return line.rstrip(b"\r\n").decode("utf-8", "replace")
            if eof:
                return None
            n *= 4


def header_names(spark: SparkSession, path: str, delimiter: str = ",") -> list[str]:
    """Column names of a delimited file's header, as Spark's own header
    read gives them, without a Spark job: the first non-blank line is read
    on the driver, then split by the CSV parser Spark uses and made unique
    by ``CSVUtils.makeSafeHeader`` (an empty name becomes ``_c<i>``, a
    repeated one gets its index appended), both called in the driver JVM.
    A directory reads its files in the order Spark's scan does (largest
    first), skipping blank ones; no header line gives no names. Like
    :func:`read_prefix`, ``path`` must be readable by the driver."""
    files = sorted(_visible_files(path), key=lambda p: -os.path.getsize(p))
    line = next(filter(None, map(_header_line, files)), None)
    if line is None:
        return []
    jvm = spark._jvm
    opts = jvm.org.apache.spark.sql.catalyst.csv.CSVOptions(
        jvm.PythonUtils.toScalaMap({"header": "true", "sep": delimiter}),
        False,
        spark.conf.get("spark.sql.session.timeZone"),
    )
    parser = jvm.com.univocity.parsers.csv.CsvParser(opts.asParserSettings())
    row = parser.parseLine(line)
    case_sensitive = spark._jsparkSession.sessionState().conf().caseSensitiveAnalysis()
    csv_utils = jvm.org.apache.spark.sql.execution.datasources.csv.CSVUtils
    return list(csv_utils.makeSafeHeader(row, case_sensitive, opts))


def read_delimited(
    spark: SparkSession,
    path: str,
    delimiter: str = ",",
    header: bool = True,
    schema: StructType | None = None,
    all_string: bool = False,
) -> DataFrame:
    """Permissive CSV/TSV scan with corrupt-record side channel (S1/S2).

    ``all_string`` reads every header column as a string; the names come
    from :func:`header_names`, a file read plus a parse on the driver, so
    the returned scan stays lazy (no Spark job runs until it is used).

    Files with non-tabular preambles (brokerage banners, FIXTURES.md §2) go
    through importer-specific preamble filters over ``spark.read.text`` +
    ``from_csv`` instead (see importers.tabular) — that path stays lazy and
    distributed without a per-file skip count.
    """
    reader = (
        spark.read.option("header", header)
        .option("sep", delimiter)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if schema is not None:
        schema = StructType(
            list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)]
        )
        reader = reader.schema(schema)
    elif all_string:
        names = header_names(spark, path, delimiter)
        schema = StructType(
            [StructField(n, StringType(), True) for n in names]
            + [StructField(CORRUPT_COL, StringType(), True)]
        )
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_csv(spark: SparkSession, path: str, **kw) -> DataFrame:
    return read_delimited(spark, path, ",", **kw)


def read_tsv(spark: SparkSession, path: str, **kw) -> DataFrame:
    return read_delimited(spark, path, "\t", **kw)


def read_json(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", CORRUPT_COL
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_binary(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Multimodal/binary file scan (L5): path, modificationTime, length,
    content columns; pushdown-friendly `pathGlobFilter`."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def quarantine_split(
    df: DataFrame, required_keys: Sequence[str] = ()
) -> tuple[DataFrame, DataFrame]:
    """Split good rows from rejects (S7; decode's ``rejectedRows`` channel,
    FINporter.swift:41).

    A row is rejected when the parser flagged it corrupt OR any required
    key column is null (the ``T(from: row)`` validation step,
    TransformHandler.swift:125). Two filters over the same scan.

    When the corrupt-record channel is present the parse is cached first:
    Spark refuses queries that reference only the corrupt column of a raw
    scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN), and the rejected side is
    exactly such a query after column pruning. At ingest scale the cache
    is per-file-decode sized; persist via ``write_quarantine`` for audit.

    Both returned frames are tagged with the cache (caching.owns_cache);
    call ``caching.release_caches(good, bad)`` once materialized —
    handle_transform does, so CLI-shaped use never accumulates caches.
    """
    from finporter_spark.caching import owns_cache

    cond = F.lit(False)
    cached = None
    if CORRUPT_COL in df.columns:
        df = cached = df.cache()
        cond = cond | F.col(CORRUPT_COL).isNotNull()
    for k in required_keys:
        cond = cond | F.col(k).isNull()
    good = df.filter(~cond)
    bad = df.filter(cond)
    if CORRUPT_COL in df.columns:
        good = good.drop(CORRUPT_COL)
    if cached is not None:
        owns_cache(good, cached)
        owns_cache(bad, cached)
    return good, bad


def write_quarantine(bad: DataFrame, path: str) -> None:
    """Quarantine sink: rejected rows persisted for audit (S7)."""
    bad.write.mode("overwrite").parquet(path)


def write_partitioned_by_day(
    df: DataFrame, path: str, ts_col: str, fmt: str = "parquet"
) -> None:
    """Date-partitioned sink: the ingest layout that makes time-ranged
    scans prune at the directory level (PartitionFilters in the scan, no
    footer reads outside the range) — the default layout for any
    append-only 100 TB event/transaction table."""
    (
        df.withColumn("_day", F.to_date(F.col(ts_col)))
        .write.mode("overwrite")
        .partitionBy("_day")
        .format(fmt)
        .save(path)
    )
