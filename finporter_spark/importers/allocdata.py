"""Concrete importers completing the 7-entity transform surface.

The reference framework dispatches 7 standardized schemas
(``TransformHandler.swift:38-51``) but ships only the abstract importer;
the concrete brokerage importers live in sibling repos (``README.md:33-37``).
These two importers make every schema drivable end-to-end here:

- :class:`AllocDataImporter` — re-imports *standardized* AllocData
  CSV/TSV exports (the reference's own output format): detect matches the
  header row against a declared entity header, decode is typed casts +
  key validation with the rejected-row channel, export is the golden
  encoder. One importer, all 7 schemas.
- :class:`BrokerTransactionsImporter` — a transactions export lacking
  txn IDs, exercising surrogate-ID generation (``TxnIDGenerator.swift:
  28-33``) with per-file deterministic numbering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from finporter_spark.errors import TargetSchemaNotSupported
from finporter_spark.functions import (
    normalize_decode,
    parse_timestamp,
    sql_ident,
    sql_literal,
    with_transaction_ids_per_file,
)
from finporter_spark.importers.base import DetectResult, Importer
from finporter_spark.model import (
    AllocFormat,
    AllocSchema,
    ENTITY_KEYS,
    ENTITY_SCHEMAS,
)
from finporter_spark.sources import (
    CORRUPT_COL,
    quarantine_split,
    read_delimited,
    read_prefix,
)

# timestamp patterns decode tries in order; the first is ISO8601 UTC with
# trailing Z — what the golden encoder emits (DelimitedEncoder.swift:30,
# 130-131)
_TS_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
)

# header line (exact declared order, comma/tab joined) -> schema
_HEADERS: dict[AllocSchema, list[str]] = {
    schema: list(ENTITY_SCHEMAS[schema].names) for schema in AllocSchema
}


def _typed_sql(field: StructField, def_time_of_day, time_zone) -> str:
    """SQL text decoding the all-string column ``field.name`` to
    ``field.dataType``: one parse on the JVM instead of a Column-API
    round trip per function call."""
    c = sql_ident(field.name)
    dtype = field.dataType
    if isinstance(dtype, StringType) and not field.nullable:
        # a required string key decodes the empty field to "" (Swift's
        # non-optional String, e.g. MHolding.lotID), never to null
        expr = f"coalesce({c}, '')"
    elif isinstance(dtype, TimestampType):
        # accept the encoder's ISO-Z first, then fractional-seconds ISO
        # (Spark's own JSON sink and export(.JSON) emit
        # 2021-03-01T00:00:00.000Z — without this pattern a JSON
        # roundtrip silently nulls every timestamp), then zoneless ISO
        # (what a TIMESTAMP_NTZ source serializes to), then bare date
        # with default time-of-day/zone (decode params,
        # FINporter.swift:45-47)
        trimmed = f"nullif(trim({c}), '')"
        parses = [
            f"try_to_timestamp({trimmed}, {sql_literal(fmt)})"
            for fmt in _TS_FORMATS
        ]
        bare = parse_timestamp(c, "yyyy-MM-dd", def_time_of_day, time_zone)
        expr = f"coalesce({', '.join(parses + [bare])})"
    elif isinstance(dtype, (DoubleType, IntegerType, BooleanType)):
        expr = f"try_cast(nullif(trim({c}), '') AS {dtype.simpleString()})"
    else:
        # strings: nil round-trips as the empty field
        # (DelimitedEncoder.swift:138)
        expr = c
    return f"{expr} AS {c}"


def typed_projection(
    struct: StructType, def_time_of_day=None, time_zone=None
) -> list[str]:
    """The decode projection of an all-string scan onto ``struct``, as
    ``selectExpr`` text; the corrupt-record channel rides along. Batch
    (:class:`AllocDataImporter`) and streaming decode
    (``streaming.pipeline.stream_transform``) both use it."""
    return [
        _typed_sql(f, def_time_of_day, time_zone) for f in struct.fields
    ] + [CORRUPT_COL]


class AllocDataImporter(Importer):
    """Standardized AllocData table re-import — any of the 7 entities.

    Detect (FINporter.swift:35-37 contract): the first line must equal one
    entity's declared header. Because header order comes from declared
    attributes, not data (FINporter.swift:62,66), exact ordered match is
    the correct signature and cannot be ambiguous across schemas.
    """

    name = "AllocData"
    id_ = "allocdata"
    description = "Standardized AllocData CSV/TSV -> any entity schema"
    source_formats = (AllocFormat.CSV, AllocFormat.TSV)
    output_schemas = tuple(AllocSchema)

    def detect(self, data_prefix: bytes) -> DetectResult:
        text = normalize_decode(data_prefix)
        if text is None:
            return {}
        first = text.split("\n", 1)[0].strip()
        out: dict[AllocSchema, list[AllocFormat]] = {}
        for schema, names in _HEADERS.items():
            fmts = [
                fmt
                for fmt in (AllocFormat.CSV, AllocFormat.TSV)
                if first == fmt.delimiter.join(names)
            ]
            if fmts:
                out[schema] = fmts
        return out

    def decode(
        self,
        spark: SparkSession,
        path: str,
        input_format: AllocFormat | None = None,
        output_schema: AllocSchema | None = None,
        def_time_of_day: str | None = None,
        time_zone: str | None = None,
        timestamp=None,
    ) -> tuple[DataFrame, DataFrame]:
        if output_schema is None:
            schema = self._sniff_schema(path)
        elif output_schema in self.output_schemas:
            schema = output_schema
        else:
            raise TargetSchemaNotSupported(self.output_schemas)
        fmt = input_format or AllocFormat.CSV
        struct = ENTITY_SCHEMAS[schema]
        if fmt is AllocFormat.JSON:
            # JSON lines (what FINporter.export(.JSON) array elements and
            # Spark's json sink both carry): read every field as string,
            # then the SAME typed projection as the delimited path —
            # one decode definition across formats
            raw_schema = StructType(
                [StructField(n, StringType(), True) for n in struct.names]
                + [StructField(CORRUPT_COL, StringType(), True)]
            )
            # FINporter.export(.JSON) writes one array (needs multiLine);
            # Spark's json sink writes JSON lines — sniff the first byte
            is_array = read_prefix(path, 64).lstrip()[:1] == b"["
            raw = (
                spark.read.option("mode", "PERMISSIVE")
                .option("columnNameOfCorruptRecord", CORRUPT_COL)
                .option("multiLine", is_array)
                .schema(raw_schema)
                .json(path)
            )
        else:
            raw = read_delimited(
                spark, path, delimiter=fmt.delimiter or ",", all_string=True
            )
        typed = raw.selectExpr(
            *typed_projection(struct, def_time_of_day, time_zone)
        )
        # required = the schema's non-nullable fields (the ``T(from:)``
        # validation step): nullable key parts like MTransaction.lotID may
        # be absent without rejecting the row
        return quarantine_split(
            typed,
            required_keys=[
                k for k in ENTITY_KEYS[schema] if not struct[k].nullable
            ],
        )

    def _sniff_schema(self, path: str) -> AllocSchema:
        from finporter_spark.errors import DecodingError

        det = self.detect(read_prefix(path))
        if len(det) != 1:
            raise DecodingError("cannot infer entity schema from header")
        return next(iter(det))


_TXN_HEADER = "Date,Action,Symbol,Account,Shares,Price"


class BrokerTransactionsImporter(Importer):
    """Broker transactions export (no txn IDs) -> allocTransaction.

    Surrogate IDs are ``prefix + yyyyMMdd + %05d(rowNo)`` per
    ``TxnIDGenerator.swift:28-33``; numbering restarts per source file
    (the reference numbers rows within one file,
    ``TransformHandler.swift:113``) so ingest scales without a global
    sort barrier. Rejected rows carry their source path in ``_src_file``.
    """

    name = "BrokerTransactions"
    id_ = "brokertxn"
    description = "Broker transactions CSV (no IDs) -> transaction"
    source_formats = (AllocFormat.CSV,)
    output_schemas = (AllocSchema.TRANSACTION,)

    def detect(self, data_prefix: bytes) -> DetectResult:
        text = normalize_decode(data_prefix)
        if text is None or not text.split("\n", 1)[0].strip().startswith(
            _TXN_HEADER
        ):
            return {}
        return {AllocSchema.TRANSACTION: [AllocFormat.CSV]}

    def decode(
        self,
        spark: SparkSession,
        path: str,
        input_format: AllocFormat | None = None,
        output_schema: AllocSchema | None = None,
        def_time_of_day: str | None = None,
        time_zone: str | None = None,
        timestamp=None,
        id_prefix: str = "X",
    ) -> tuple[DataFrame, DataFrame]:
        if output_schema not in (None, AllocSchema.TRANSACTION):
            raise TargetSchemaNotSupported(self.output_schemas)
        raw = read_delimited(spark, path, all_string=True)
        date = parse_timestamp(
            sql_ident("Date"), "MM/dd/yyyy", def_time_of_day, time_zone
        )
        typed = raw.selectExpr(
            "upper(`Action`) AS action",
            f"{date} AS transactedAt",
            "`Account` AS accountID",
            "`Symbol` AS securityID",
            "'' AS lotID",
            "try_cast(nullif(trim(`Shares`), '') AS DOUBLE) AS shareCount",
            "try_cast(nullif(trim(`Price`), '') AS DOUBLE) AS sharePrice",
            "CAST(NULL AS DOUBLE) AS realizedGainShort",
            "CAST(NULL AS DOUBLE) AS realizedGainLong",
            CORRUPT_COL,
            # the source file, taken before quarantine_split's cache hides
            # it from input_file_name(): surrogate numbers restart per file
            "_metadata.file_path AS _src_file",
        )
        # validate BEFORE numbering: rejected rows must not consume
        # surrogate numbers (they'd leave gaps and make IDs depend on how
        # much garbage the file contained)
        good, bad = quarantine_split(
            typed,
            required_keys=[
                k for k in ENTITY_KEYS[AllocSchema.TRANSACTION] if k != "lotID"
            ],
        )
        with_ids = with_transaction_ids_per_file(
            good,
            id_prefix,
            "transactedAt",
            order_by=["transactedAt", "securityID", "shareCount"],
        )
        names = ENTITY_SCHEMAS[AllocSchema.TRANSACTION].names
        return with_ids.selectExpr(*map(sql_ident, names)), bad
