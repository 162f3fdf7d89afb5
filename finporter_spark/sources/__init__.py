"""Sources & sinks (SURVEY §2B S1-S7): permissive scans with a
corrupt-record channel, prefix reads for detect, and quarantine splitting.

Scale notes: all readers return lazy scans; schema is supplied or inferred
once; ``read_prefix`` and ``header_names`` read only the head of one file on
the driver (detect and all-string header reads never launch a job).
Quarantine split is two filters over one cached scan — no shuffle.
"""

from __future__ import annotations

import os
from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from finporter_spark.functions import sql_ident
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
    folder) sniffs the file whose header Spark's scan reads
    (:func:`_lead_file`), so detect names the schema decode produces."""
    lead = _lead_file(path)[0] if os.path.isdir(path) else path
    with open(lead, "rb") as f:
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


def _lead_file(path: str) -> tuple[str, str | None]:
    """The file that speaks for ``path``, and its header line: the first
    of ``path``'s visible files in the order Spark's scan reads them
    (largest first, then by name) that has a non-blank line. With no such
    file, the first file and None."""
    files = sorted(_visible_files(path), key=lambda p: -os.path.getsize(p))
    for p in files:
        line = _header_line(p)
        if line is not None:
            return p, line
    return files[0], None


def header_names(spark: SparkSession, path: str, delimiter: str = ",") -> list[str]:
    """Column names of a delimited file's header, as Spark's own header
    read gives them, without a Spark job: the first non-blank line is read
    on the driver, then split by the CSV parser Spark uses and made unique
    by ``CSVUtils.makeSafeHeader`` (an empty name becomes ``_c<i>``, a
    repeated one gets its index appended), both called in the driver JVM.
    A directory reads the header of the file :func:`read_prefix` sniffs
    (:func:`_lead_file`); no header line gives no names. Like
    :func:`read_prefix`, ``path`` must be readable by the driver."""
    line = _lead_file(path)[1]
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


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_binary(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Multimodal/binary file scan (L5): path, modificationTime, length,
    content columns; pushdown-friendly `pathGlobFilter`."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def reject_condition(required_keys: Sequence[str], corrupt: bool) -> str:
    """SQL text of decode's reject test: the parser flagged the row
    corrupt (when ``corrupt``: the frame carries the corrupt-record
    channel) OR any required key column is null (the ``T(from: row)``
    validation step, TransformHandler.swift:125). One definition for
    batch (:func:`quarantine_split`) and streaming decode."""
    tests = [f"{CORRUPT_COL} IS NOT NULL"] if corrupt else []
    tests += [f"{sql_ident(k)} IS NULL" for k in required_keys]
    # nested left to right: the parser would balance a bare OR chain
    return reduce(lambda a, b: f"({a}) OR {b}", tests) if tests else "false"


def quarantine_split(
    df: DataFrame, required_keys: Sequence[str] = ()
) -> tuple[DataFrame, DataFrame]:
    """Split good rows from rejects (S7; decode's ``rejectedRows`` channel,
    FINporter.swift:41): two filters over the same scan, on
    :func:`reject_condition`.

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

    corrupt = CORRUPT_COL in df.columns
    if corrupt:
        df = df.cache()
    cond = reject_condition(required_keys, corrupt)
    good = df.filter(f"NOT ({cond})")
    bad = df.filter(cond)
    if corrupt:
        good = good.drop(CORRUPT_COL)
        owns_cache(good, df)
        owns_cache(bad, df)
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
