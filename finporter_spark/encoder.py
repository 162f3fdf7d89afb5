"""Delimited export with FINporter's exact (non-RFC-4180) quoting rules.

Reference: /root/reference/Sources/Helpers/DelimitedEncoder.swift:22-191.
Semantics reproduced byte-for-byte (SURVEY.md §2C-1..4):

- a field is quoted ONLY if it contains the delimiter
  (DelimitedEncoder.swift:134-136) — not when it merely contains a quote;
- ``"`` is escaped as ``\\"`` even in unquoted fields (:135);
- nil renders as the empty string, so an all-nil 2-field row is ``,`` (:138);
- ``Date`` serializes ISO8601 UTC with trailing ``Z`` (:30,130-131), e.g.
  ``2020-10-31T00:00:00Z``;
- doubles print shortest-round-trip (``0.01``, ``-0.00033`` — encoder test
  DelimitedEncoderTests.swift testDouble), NOT printf ``%f`` and NOT Java's
  ``Double.toString`` scientific form;
- header row comes from the declared attribute order (FINporter.swift:62,66),
  then one line per row with the line separator appended after every row
  (DelimitedEncoder.swift:171-175).

Spark-first design: the whole writer is a single projection —
``concat_ws(delim, fmt(c1), fmt(c2), ...)`` — that runs JVM-side for every
type, doubles included, so an export never starts a Python worker. The
projection is built as SQL text (:func:`format_field`) and handed to one
``selectExpr``: every Column-API call is a py4j round trip to the driver
JVM, so the same expression built from ``F`` calls cost hundreds of round
trips per file, while the text is parsed once into the same plan. Doubles
print as Python ``repr`` does (which matches Swift's shortest-round-trip
output on the reference's golden values): the shortest round-trip digits
come from the Schubfach algorithm (R. Giulietti, "The Schubfach way to
render doubles", 2020) as shipped in Spark's bundled jackson-core
(``com.fasterxml.jackson.core.io.schubfach.DoubleToDecimal``), called
through ``reflect``, and SQL string functions lay them out in ``repr``'s
fixed-point or exponent form (:func:`shortest_double_repr`). For bulk
non-golden exports use ``df.write.csv`` (RFC 4180) instead.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampType,
)

from finporter_spark.functions import sql_ident, sql_literal

ISO8601Z = "yyyy-MM-dd'T'HH:mm:ss'Z'"
_SCHUBFACH = "com.fasterxml.jackson.core.io.schubfach.DoubleToDecimal"

# Python repr of the double SQL expression {x}, in SQL text: one parse per
# column instead of dozens of Column-API round trips to the JVM. {java} is
# Schubfach's shortest round-trip string in Java's layout, e.g. "1.0E16".
# For 1e-3 <= |x| < 1e7 Java's layout is repr's ("0.001", "1234567.0"), so
# the common case costs one reflect call and no string work. The rest of
# repr's fixed-point range re-lays it through an exact decimal(38,21) (17
# significant digits from 1e-4 need 20 fractional places) and strips the
# trailing zeros; the exponent branch rewrites E-notation in order: drop a
# bare ".0" mantissa, then sign the exponent and give it two digits
# ("1.0E16" -> "1e+16", "1.5E-5" -> "1.5e-05"). Below the smallest normal
# double Java keeps two digits where repr keeps one ("4.9E-324" vs
# "5e-324"); there the one-digit %.0e form wins when it reads back as {x}.
_REPR_SQL = r"""CASE
  WHEN {x} IS NULL OR isnan({x}) THEN NULL
  WHEN {x} = CAST('Infinity' AS DOUBLE) THEN 'inf'
  WHEN {x} = CAST('-Infinity' AS DOUBLE) THEN '-inf'
  WHEN abs({x}) >= 1E-3D AND abs({x}) < 1E7D THEN {java}
  WHEN abs({x}) >= 1E-4D AND abs({x}) < 1E16D THEN regexp_replace(
    regexp_replace(CAST(CAST({java} AS DECIMAL(38, 21)) AS STRING), r'0+$', ''),
    r'\.$', '.0')
  WHEN abs({x}) > 0D AND abs({x}) < 2.2250738585072014E-308D
    AND CAST(format_string('%.0e', {x}) AS DOUBLE) = {x}
    THEN format_string('%.0e', {x})
  ELSE regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    regexp_replace({java}, r'\.0E', 'E'),
    r'E(\d)$', 'e+0$1'), r'E-(\d)$', 'e-0$1'), 'E-', 'e-'), 'E', 'e+')
END"""


def _repr_sql(name: str) -> str:
    x = f"CAST({sql_ident(name)} AS DOUBLE)"
    java = f"reflect('{_SCHUBFACH}', 'toString', coalesce({x}, 0D))"
    return _REPR_SQL.format(x=x, java=java)


def shortest_double_repr(name: str) -> Column:
    """Python ``repr`` of the double (or float) column ``name``, as a
    JVM-only expression; null and NaN -> null, +-inf -> ``inf``/``-inf``.

    Both ``repr`` and Swift print the shortest digits that round-trip
    (0.01 -> "0.01", -0.00033 -> "-0.00033"), in fixed point for
    1e-4 <= |x| < 1e16 (integral values keep a trailing ``.0``) and in
    exponent form elsewhere (``1e+16``, ``1.5e-05``).
    """
    return F.expr(_repr_sql(name))


# regexp_replace replacement text for a backslash, then the quote
_ESCAPED_QUOTE = sql_literal('\\\\"')


def _escape_and_quote(field: str, delimiter: str) -> str:
    # Escape " as \" unconditionally (DelimitedEncoder.swift:135), then wrap
    # in quotes only when the field contains the delimiter (:134-136).
    escaped = f"regexp_replace({field}, '\"', {_ESCAPED_QUOTE})"
    return (
        f"CASE WHEN contains({escaped}, {sql_literal(delimiter)}) "
        f"THEN concat('\"', {escaped}, '\"') ELSE {escaped} END"
    )


def format_field(name: str, dtype: DataType, delimiter: str) -> str:
    """SQL text rendering column ``name`` under FINporter encoding rules;
    null -> ''."""
    col = sql_ident(name)
    if isinstance(dtype, StringType):
        rendered = _escape_and_quote(col, delimiter)
    elif isinstance(dtype, TimestampType):
        # session tz pinned to UTC
        rendered = f"date_format({col}, {sql_literal(ISO8601Z)})"
    elif isinstance(dtype, DateType):
        rendered = f"concat(date_format({col}, 'yyyy-MM-dd'), 'T00:00:00Z')"
    elif isinstance(dtype, (DoubleType, FloatType)):
        rendered = _repr_sql(name)
    elif isinstance(dtype, BooleanType):
        rendered = f"CASE WHEN {col} THEN 'true' WHEN NOT {col} THEN 'false' END"
    elif isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
        rendered = f"CAST({col} AS STRING)"
    else:
        # Engine extension: anything else renders via cast-to-string with
        # string quoting rules (reference model is flat, SURVEY §1.2).
        rendered = _escape_and_quote(f"CAST({col} AS STRING)", delimiter)
    return f"coalesce({rendered}, '')"  # nil -> empty (:138)


def _ordered_parts(parts_dir: str) -> list[str]:
    """Part files ordered by their NUMERIC task index. A lexicographic
    sort breaks past 99,999 partitions (Spark zero-pads the index to 5
    digits, so 'part-100000' sorts before 'part-99999'), silently
    breaking the byte-parity-with-collect guarantee of the single-file
    writers."""
    import glob
    import os
    import re

    def idx(p: str) -> int:
        m = re.match(r"part-(\d+)", os.path.basename(p))
        if m is None:  # never emitted by Spark's text sink
            raise ValueError(f"unrecognized part file name: {p}")
        return int(m.group(1))

    return sorted(glob.glob(os.path.join(parts_dir, "part-*")), key=idx)


def encode_header(columns: Sequence[str], delimiter: str = ",") -> str:
    """Header line from declared attribute names (DelimitedEncoder.swift:39-48)."""
    return delimiter.join(columns)


def to_delimited_lines(
    df: DataFrame,
    delimiter: str = ",",
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Project ``df`` to a single-column DataFrame of encoded lines.

    One narrow projection — no shuffle; scales linearly with input.
    ``columns`` fixes the declared header order (defaults to df order).
    """
    schema = df.schema
    names = list(columns) if columns is not None else schema.names
    fields = ", ".join(format_field(n, schema[n].dataType, delimiter) for n in names)
    return df.selectExpr(f"concat_ws({sql_literal(delimiter)}, {fields}) AS line")


def encode_to_string(
    df: DataFrame,
    delimiter: str = ",",
    columns: Sequence[str] | None = None,
    line_separator: str = "\n",
    header: bool = True,
) -> str:
    """Materialize a (small) DataFrame to one delimited string.

    Mirrors ``FINporter.export`` returning Data (FINporter.swift:60-67):
    header line, then every row followed by the line separator
    (DelimitedEncoder.swift:171-175 appends the separator per element, so
    the output ends with one). Driver-side collect — intended for the
    CLI-parity path on small results only; large single-file exports go
    through :func:`write_delimited_single_file` (same bytes, no driver
    collect) and bulk multi-file exports through ``write_delimited``.
    """
    names = list(columns) if columns is not None else df.columns
    lines = [r[0] for r in to_delimited_lines(df, delimiter, names).collect()]
    body = "".join(line + line_separator for line in lines)
    if header:
        return encode_header(names, delimiter) + line_separator + body
    return body


def write_delimited(
    df: DataFrame,
    path: str,
    delimiter: str = ",",
    columns: Sequence[str] | None = None,
) -> None:
    """Distributed golden-quoting export via the text sink: data-only
    part files, no header line (downstream Spark reads re-apply the
    declared schema). The byte-golden single file with its header is
    :func:`write_delimited_single_file`.
    """
    to_delimited_lines(df, delimiter, columns).write.mode("overwrite").text(
        path
    )


def write_delimited_single_file(
    df: DataFrame,
    path: str,
    delimiter: str = ",",
    columns: Sequence[str] | None = None,
    line_separator: str = "\n",
    header: bool = True,
) -> str:
    """Byte-golden single-file export WITHOUT a driver ``collect()``.

    Produces bytes identical to :func:`encode_to_string` (header line,
    every row followed by ``line_separator``) but streams them through
    the filesystem instead of driver memory: the same codegen'd
    projection writes per-partition encoded-text part files (executors
    do all the formatting work in parallel), then the parts are
    concatenated in part-file order — Spark numbers parts by partition
    index and each partition's rows are written in order, which is
    exactly ``collect()``'s row order, so the concat is
    order-deterministic. Driver memory is O(copy buffer), not O(rows).

    On a cluster the concat step assumes the sink path is
    driver-visible (shared FS); object-store deployments would swap it
    for a server-side multipart compose of the same ordered parts.
    Returns ``path``.
    """
    import glob
    import os
    import shutil
    import tempfile

    names = list(columns) if columns is not None else df.columns
    staging = tempfile.mkdtemp(
        prefix="golden_parts_", dir=os.path.dirname(os.path.abspath(path)) or "."
    )
    parts_dir = os.path.join(staging, "parts")
    try:
        (
            to_delimited_lines(df, delimiter, names)
            .write.mode("overwrite")
            .option("lineSep", line_separator)
            .text(parts_dir)
        )
        parts = _ordered_parts(parts_dir)
        with open(path, "wb") as out:
            if header:
                out.write(
                    (encode_header(names, delimiter) + line_separator).encode()
                )
            for p in parts:
                with open(p, "rb") as src:
                    shutil.copyfileobj(src, out)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return path


def write_json_single_file(
    df: DataFrame,
    path: str,
    columns: Sequence[str] | None = None,
) -> str:
    """Distributed twin of ``export(JSON)`` — the same
    ``[{row},{row},...]`` bytes (FINporter.swift:53-59 JSON export
    semantics) WITHOUT ``toJSON().collect()``.

    Rows serialize JVM-side via ``to_json(struct(cols))`` — the same
    JacksonGenerator ``toJSON()`` uses, so each element's bytes match
    the collect path exactly (null fields omitted, same timestamp
    shapes) — into per-partition text parts, which are then streamed
    into one file in part order with the array punctuation added
    between elements. Part order = partition order = ``collect()``'s
    row order, so the concatenation is order-deterministic, and driver
    memory is O(one line), never O(rows). Same shared-FS assumption as
    :func:`write_delimited_single_file` (object stores would compose
    parts server-side). Returns ``path``.
    """
    import glob
    import os
    import shutil
    import tempfile

    names = list(columns) if columns is not None else df.columns
    staging = tempfile.mkdtemp(
        prefix="json_parts_",
        dir=os.path.dirname(os.path.abspath(path)) or ".",
    )
    parts_dir = os.path.join(staging, "parts")
    try:
        (
            df.selectExpr(f"to_json(struct({', '.join(map(sql_ident, names))})) AS line")
            .write.mode("overwrite")
            .text(parts_dir)
        )
        parts = _ordered_parts(parts_dir)
        with open(path, "wb") as out:
            out.write(b"[")
            first = True
            for p in parts:
                with open(p, "rb") as src:
                    for line in src:
                        line = line.rstrip(b"\r\n")
                        if not line:
                            continue
                        if not first:
                            out.write(b",")
                        out.write(line)
                        first = False
            out.write(b"]")
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return path


def export(
    df: DataFrame,
    fmt: "str | None" = None,
    columns: Sequence[str] | None = None,
) -> str:
    """``FINporter.export`` equivalent: CSV/TSV via the golden encoder,
    JSON via row-wise JSON lines (FINporter.swift:51-69)."""
    from finporter_spark.model import AllocFormat

    f_ = AllocFormat(fmt) if not isinstance(fmt, AllocFormat) else fmt
    if f_ is AllocFormat.CSV:
        return encode_to_string(df, ",", columns)
    if f_ is AllocFormat.TSV:
        return encode_to_string(df, "\t", columns)
    if f_ is AllocFormat.JSON:
        names = list(columns) if columns is not None else df.columns
        rows = df.selectExpr(*map(sql_ident, names)).toJSON().collect()
        return "[" + ",".join(rows) + "]"
    raise ValueError(f"unsupported export format: {fmt}")
