"""A concrete importer: brokerage "Positions" CSV -> MHolding.

The reference framework ships only the abstract plugin surface (its concrete
brokerage importers live in sibling repos — SURVEY.md preamble); this
importer is modeled on the reference's own inline fixtures: the
``"Positions"`` banner + account line sniff (FINporterUtilsTests.swift:23-28)
and the account-ID capture regex pattern shape
(StringCaptureGroupTests.swift:60-66), over the messy-CSV fixture of
FIXTURES.md §2.

Decode is one lazy distributed plan:
``spark.read.text`` -> preamble filter -> ``from_csv`` -> typed projection
(try_cast / timestamp parse with default time-of-day + tz) -> quarantine
split, each step one SQL-text ``selectExpr``/``filter``. No driver
materialization; scales to any number of position files
(each file's banner/header rows are dropped by pattern, not by offset, so
splitting is order-independent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from finporter_spark.functions import (
    capture_groups_str,
    normalize_decode,
    parse_timestamp,
    sql_ident,
    sql_literal,
)
from finporter_spark.importers.base import DetectResult, Importer
from finporter_spark.model import AllocFormat, AllocSchema, ENTITY_SCHEMAS
from finporter_spark.sources import CORRUPT_COL, quarantine_split

# Case-insensitive account banner, e.g. `"Individual Something   abcd-1234"`
# (same capture shape as StringCaptureGroupTests.swift:60-66).
ACCOUNT_RE = r'"?(.+?)\s+([A-Za-z0-9-_]+)"?\s*$'
HEADER_PREFIX = "Symbol,Description,Qty,Price"

RAW_FIELDS = [
    "symbol", "description", "qty", "price", "mkt_val", "cost_basis",
    "date_acquired",
]

# a data line is non-blank, not a banner (banner lines are fully quoted)
# and not the column header
_DATA_LINE = (
    "length(trim(line)) > 0 AND NOT startswith(line, '\"') AND NOT "
    f"startswith(line, {sql_literal(HEADER_PREFIX.split(',')[0] + ',')})"
)
_PARSE_LINE = (
    "from_csv(line, "
    + sql_literal(", ".join(f"{f} string" for f in RAW_FIELDS))
    + ", map('mode', 'PERMISSIVE')) AS r"
)


class PositionsImporter(Importer):
    name = "Positions"
    id_ = "positions"
    description = "Standalone positions export (CSV) -> holding"
    source_formats = (AllocFormat.CSV,)
    output_schemas = (AllocSchema.HOLDING,)

    def detect(self, data_prefix: bytes) -> DetectResult:
        text = normalize_decode(data_prefix)
        if text is None:
            return {}
        lines = text.split("\n")
        if not lines or '"Positions"' not in lines[0]:
            return {}
        return {AllocSchema.HOLDING: [AllocFormat.CSV]}

    def account_id(self, data_prefix: bytes) -> str | None:
        """Driver-side banner capture (prefix only, no Spark job)."""
        text = normalize_decode(data_prefix) or ""
        for line in text.split("\n")[1:6]:
            if not line.strip() or line.startswith('"Positions"'):
                continue
            groups = capture_groups_str(line, ACCOUNT_RE, case_insensitive=True)
            if groups and len(groups) == 2:
                return groups[1]
        return None

    def decode(
        self,
        spark: SparkSession,
        path: str,
        input_format: AllocFormat | None = None,
        output_schema: AllocSchema | None = None,
        def_time_of_day: str | None = None,
        time_zone: str | None = None,
        timestamp=None,
        account_id: str | None = None,
    ) -> tuple[DataFrame, DataFrame]:
        if output_schema not in (None, AllocSchema.HOLDING):
            from finporter_spark.errors import TargetSchemaNotSupported

            raise TargetSchemaNotSupported(self.output_schemas)

        parsed = (
            spark.read.text(path)
            .selectExpr("regexp_replace(value, '\\r', '') AS line")
            .filter(_DATA_LINE)
            .selectExpr(_PARSE_LINE)
            .selectExpr("r.*")
        )

        acct = account_id if account_id is not None else ""
        qty = "try_cast(qty AS DOUBLE)"
        acquired = parse_timestamp(
            "date_acquired", "MM/dd/yyyy", def_time_of_day, time_zone
        )
        typed = parsed.selectExpr(
            f"{sql_literal(acct)} AS accountID",
            "symbol AS securityID",
            "'' AS lotID",  # broker doesn't track lots -> ""
            f"{qty} AS shareCount",
            f"try_cast(cost_basis AS DOUBLE) / nullif({qty}, 0.0D) AS shareBasis",
            f"{acquired} AS acquiredAt",
            # validation channel: a present-but-unparsable qty rejects the row
            f"CASE WHEN qty IS NOT NULL AND {qty} IS NULL THEN 'bad qty' END"
            f" AS {CORRUPT_COL}",
        )
        good, bad = quarantine_split(typed, required_keys=["securityID"])
        names = ENTITY_SCHEMAS[AllocSchema.HOLDING].names
        return good.selectExpr(*map(sql_ident, names)), bad
