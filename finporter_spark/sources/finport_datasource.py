"""`format("finport")` — a real Spark 4 Python DataSource for the
standardized AllocData HOLDING export (the "Detect-as-DataSource"
candidate from SURVEY §4, now implemented).

A user points `spark.read.format("finport").load(dir)` at a directory of
AllocData holding CSVs (header = the declared attribute order,
`FINporter.swift:62,66`; typed-decode rules per field mirroring
`importers/allocdata.typed_projection`) and gets the typed DataFrame with
no driver-side handler involved:

- **one InputPartition per file** — files decode in parallel on
  executors, scaling with the file count exactly like Spark's native
  CSV source (partition-local pure-Python parse: executors have no
  SparkSession, so the importer's DataFrame decode cannot run there —
  a connector re-expresses decode row-locally by design);
- **filter pushdown** (`pushFilters`): EqualTo / IsNotNull /
  In on any column are absorbed and applied during the partition read,
  so filtered rows never cross the Python→JVM Arrow boundary; every
  other predicate is returned to Spark to evaluate;
- header verification per file: a file whose first line is not the
  declared HOLDING header raises (the detect contract — wrong-entity
  files must fail loudly, not decode garbage).

The decode parser is the EXACT inverse of the golden encoding
(``_golden_field`` / ``encoder.format_field``, DelimitedEncoder.swift
semantics): every ``"`` is written as ``\\"``; a field is wrapped in
quotes only when it contains the delimiter (or a newline — see below).
A generic ``csv.reader`` cannot parse this dialect: a field containing
BOTH a quote and the delimiter (``a"b,c`` → ``"a\\"b,c"``) confuses
RFC-4180 doubling rules and silently shifts every later column. The
hand-rolled state machine here round-trips it exactly, supports raw
newlines inside quoted fields, and RAISES on a row with more fields
than the header (malformed input must fail loudly, never shift).

Decode rules (same semantics as the Spark-side importer):
required string keys decode empty fields to "" (never null); doubles
via try-float (invalid → null); timestamps accept ISO
`yyyy-MM-dd'T'HH:mm:ss[Z]` and bare `yyyy-MM-dd` (midnight).
"""

from __future__ import annotations

import io
import os
from datetime import datetime

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    In,
    InputPartition,
    IsNotNull,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

HOLDING_FIELDS = [
    ("accountID", StringType(), False),
    ("securityID", StringType(), False),
    ("lotID", StringType(), False),
    ("shareCount", DoubleType(), True),
    ("shareBasis", DoubleType(), True),
    ("acquiredAt", TimestampType(), True),
]
_HEADER = [n for n, _, _ in HOLDING_FIELDS]
_REQUIRED_STR = {n for n, t, nullable in HOLDING_FIELDS if not nullable}
_DOUBLE = {n for n, t, _ in HOLDING_FIELDS if isinstance(t, DoubleType)}
_TS = {n for n, t, _ in HOLDING_FIELDS if isinstance(t, TimestampType)}


def _parse_ts(s: str):
    s = s.strip()
    if not s:
        return None
    # ISO-Z first (what the golden encoder and the finport writer emit),
    # then zoneless ISO, then bare date at midnight — the same
    # precedence as importers/allocdata.typed_projection
    for fmt in ("%Y-%m-%dT%H:%M:%SZ", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d"):
        try:
            return datetime.strptime(s, fmt)
        except ValueError:
            continue
    return None


def _parse_double(s: str):
    s = s.strip()
    if not s:
        return None
    try:
        return float(s)
    except ValueError:
        return None


# ---------------------------------------------------------------------
# Golden-dialect parser: the exact inverse of _golden_field
# ---------------------------------------------------------------------


def _parse_golden(text: str, delimiter: str = ","):
    """Parse golden-encoded delimited text into records.

    Returns ``(records, tail, open_quote)`` where ``records`` is a list
    of ``(fields, end_char_index)`` for every NEWLINE-TERMINATED record
    (``end_char_index`` points just past the terminating newline — a
    record boundary, which the streaming reader uses as a resumable
    byte-stable cut), ``tail`` is the field list of a final record with
    no trailing newline (or None), and ``open_quote`` is True when EOF
    hit inside an unterminated quoted field (the tail is then
    un-resumable garbage for a batch reader and merely "not yet
    complete" for a tailing stream reader).

    Dialect (DelimitedEncoder.swift:130-140): ``\\"`` is a literal
    quote ANYWHERE (quoted or not — the encoder escapes first, wraps
    second); an initial ``"`` opens a quoted span in which the
    delimiter and raw newlines are literal; the closing quote ends the
    span. Blank lines are skipped (matching csv.reader's behavior in
    the previous implementation).
    """
    records: list = []
    fields: list = []
    buf: list = []
    i, n = 0, len(text)
    in_q = False  # inside a quoted span
    at_field_start = True  # only an opening quote here starts a span
    started = False  # current record has any content
    while i < n:
        ch = text[i]
        if in_q:
            if ch == "\\" and i + 1 < n and text[i + 1] == '"':
                buf.append('"')
                i += 2
            elif ch == '"':
                in_q = False
                at_field_start = False
                i += 1
            else:
                buf.append(ch)
                i += 1
            continue
        if ch == "\\" and i + 1 < n and text[i + 1] == '"':
            buf.append('"')
            i += 2
            started = True
            at_field_start = False
            continue
        if ch == '"' and at_field_start:
            in_q = True
            started = True
            at_field_start = False
            i += 1
            continue
        if ch == delimiter:
            fields.append("".join(buf))
            buf.clear()
            started = True
            at_field_start = True
            i += 1
            continue
        if ch == "\n" or (ch == "\r" and i + 1 < n and text[i + 1] == "\n"):
            i += 1 if ch == "\n" else 2
            if started:
                fields.append("".join(buf))
                buf.clear()
                records.append((fields, i))
                fields = []
            started = False
            at_field_start = True
            continue
        buf.append(ch)
        started = True
        at_field_start = False
        i += 1
    tail = None
    if started or in_q:
        fields.append("".join(buf))
        tail = fields
    return records, tail, in_q


def _typed_tuple(fields: list, where: str):
    """Apply the importer's typed-decode rules to one parsed record;
    raises on a row wider than the declared header (a correctly parsed
    over-wide row means malformed input — fail loudly, never shift)."""
    if len(fields) > len(_HEADER):
        raise ValueError(
            f"finport: {where}: row has {len(fields)} fields but the "
            f"HOLDING header declares {len(_HEADER)} — malformed input"
        )
    row = {}
    for name, raw in zip(_HEADER, fields):
        if name in _DOUBLE:
            row[name] = _parse_double(raw)
        elif name in _TS:
            row[name] = _parse_ts(raw)
        else:
            # parser already unescaped \" -> "; required keys are ""
            row[name] = raw
    for name in _HEADER[len(fields):]:  # short row: trailing nulls
        row[name] = "" if name in _REQUIRED_STR else None
    return row


def _check_header(fields: list, where: str) -> None:
    if fields != _HEADER:
        raise ValueError(
            f"finport: {where} first line is not the "
            f"declared HOLDING header (detect contract): {fields}"
        )


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _vectorized_frame(text: str, where: str):
    """Arrow fast path for files with NO quote/escape bytes anywhere
    (the overwhelmingly common case for machine-written holdings): the
    golden dialect degenerates to plain comma-split, so pandas' C
    reader parses it and the typed-decode rules apply as vectorized
    column ops — same semantics as ``_typed_tuple`` (try-float → null,
    the exact 3 accepted timestamp shapes via regex prefilter, required
    strings never null, short rows pad, over-wide rows raise). Returns
    a pandas DataFrame or None when the file needs the state machine."""
    import pandas as pd

    if '"' in text or "\\" in text:
        return None
    first = text.split("\n", 1)[0].rstrip("\r")
    _check_header(first.split(","), where)
    # over-wide precheck: with no quotes anywhere, field count is
    # comma count + 1 per line — one vectorized pass catches a 7th
    # field EVEN WHEN EMPTY (a trailing comma), which the sentinel
    # column below cannot distinguish from a short row's padding
    if (
        pd.Series(text.split("\n")).str.count(",").max()
        >= len(_HEADER)
    ):
        raise ValueError(
            f"finport: {where}: row wider than the declared "
            f"{len(_HEADER)}-column HOLDING header — malformed input"
        )
    try:
        # parse with one extra sentinel column: a 7-field row lands in
        # it (raise), an 8+-field row trips the tokenizer (raise) — an
        # over-wide row must never be silently dropped or index-inferred
        pdf = pd.read_csv(
            io.StringIO(text),
            dtype=str,
            names=_HEADER + ["_overwide"],
            header=None,
            skiprows=1,
            index_col=False,
            keep_default_na=False,
            skip_blank_lines=True,
        )
        # backup to the comma precheck (short rows pad with '' here)
        bad = pdf["_overwide"].notna() & (pdf["_overwide"] != "")
        if bad.any():
            raise ValueError(
                f"finport: {where}: row wider than the declared "
                f"{len(_HEADER)}-column HOLDING header — malformed input"
            )
        pdf = pdf.drop(columns="_overwide")
    except pd.errors.ParserError as exc:
        # the C tokenizer reports over-wide rows ("saw N fields") —
        # surface it under the same loud contract as the state machine
        raise ValueError(
            f"finport: {where}: row wider than the declared "
            f"{len(_HEADER)}-column HOLDING header — malformed input "
            f"({exc})"
        ) from None
    out = {}
    for name in _HEADER:
        # keep_default_na=False keeps empty fields as ''; only rows
        # SHORTER than the header yield real NaN (pad like _typed_tuple)
        col = pdf[name]
        filled = col.where(col.notna(), "")
        if name in _DOUBLE:
            out[name] = pd.to_numeric(
                filled.str.strip().replace("", None), errors="coerce"
            ).astype("float64")
        elif name in _TS:
            # the exact _parse_ts precedence, each format vectorized
            s = filled.str.strip()
            r = pd.to_datetime(
                s, format="%Y-%m-%dT%H:%M:%SZ", errors="coerce"
            )
            for fmt in ("%Y-%m-%dT%H:%M:%S", "%Y-%m-%d"):
                r = r.fillna(
                    pd.to_datetime(s, format=fmt, errors="coerce")
                )
            # pd.to_datetime targets ns, whose range is 1677..2262 —
            # valid-but-ancient dates coerce to NaT there even though
            # the pa.timestamp('us') output type represents them; widen
            # to us and row-decode only the values ns could not hold
            # (same semantics as _parse_ts, exercised rarely)
            r = r.astype("datetime64[us]")
            left = s.ne("") & r.isna()
            if left.any():
                r.loc[left] = (
                    s[left].map(_parse_ts).astype("datetime64[us]")
                )
            out[name] = r
        elif name in _REQUIRED_STR:
            out[name] = filled
        else:
            out[name] = col.where(col.notna(), None)
    return pd.DataFrame(out)


class FinportReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("finport: .load(path) directory is required")
        self._pushed: list = []

    def pushFilters(self, filters):
        for f in filters:
            if isinstance(f, (EqualTo, In, IsNotNull)) and len(
                f.attribute
            ) == 1 and f.attribute[0] in _HEADER:
                self._pushed.append(f)
            else:
                yield f  # unsupported: Spark evaluates it post-scan

    def partitions(self):
        files = sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.endswith(".csv") and not f.startswith(("_", "."))
        )
        if not files:
            raise FileNotFoundError(
                f"finport: no .csv files under {self.path}"
            )
        return [_FilePartition(p) for p in files]

    def _keep(self, row: dict) -> bool:
        for f in self._pushed:
            v = row[f.attribute[0]]
            if isinstance(f, EqualTo):
                if v != f.value:
                    return False
            elif isinstance(f, In):
                if v not in f.value:
                    return False
            elif isinstance(f, IsNotNull):
                if v is None:
                    return False
        return True

    def _mask(self, pdf):
        """Vectorized form of ``_keep`` over the fast-path frame."""
        mask = None
        for f in self._pushed:
            col = pdf[f.attribute[0]]
            if isinstance(f, EqualTo):
                m = col == f.value
            elif isinstance(f, In):
                m = col.isin(list(f.value))
            else:  # IsNotNull
                m = col.notna()
            mask = m if mask is None else (mask & m)
        return mask

    def _slow_frame(self, text: str, where: str):
        """State-machine path (quotes/escapes present): parse records,
        typed-decode row-wise, return a pandas frame of kept rows."""
        import pandas as pd

        records, tail, open_q = _parse_golden(text)
        if open_q:
            raise ValueError(
                f"finport: {where} ends inside an unterminated "
                "quoted field — truncated or malformed input"
            )
        all_recs = [f for f, _ in records] + ([tail] if tail else [])
        if not all_recs:
            raise ValueError(
                f"finport: {where} is empty (missing the "
                "declared HOLDING header)"
            )
        _check_header(all_recs[0], where)
        rows = [
            row
            for row in (
                _typed_tuple(rec, where) for rec in all_recs[1:]
            )
            if self._keep(row)
        ]
        pdf = pd.DataFrame(
            {n: [r[n] for r in rows] for n in _HEADER}
            if rows
            else {n: [] for n in _HEADER}
        )
        for n in _TS:
            # straight object(datetime|None) -> us, NOT pd.to_datetime:
            # the ns intermediate silently NaT-s years outside
            # 1677..2262 that _parse_ts decoded correctly
            pdf[n] = pdf[n].astype("datetime64[us]")
        for n in _DOUBLE:
            pdf[n] = pdf[n].astype("float64")
        return pdf

    def read(self, partition):
        """Yields one Arrow RecordBatch per file — columnar transfer
        across the Python→JVM boundary instead of per-row pickling;
        quote-free files additionally decode via vectorized pandas ops
        (``_vectorized_frame``) rather than the per-char state machine."""
        with io.open(partition.path, encoding="utf-8", newline="") as fh:
            text = fh.read()
        pdf = _vectorized_frame(text, partition.path)
        if pdf is not None:
            mask = self._mask(pdf)
            if mask is not None:
                pdf = pdf[mask]
        else:
            pdf = self._slow_frame(text, partition.path)
        yield _pdf_to_arrow(pdf)


class FinportDataSource(DataSource):
    """Register with ``spark.dataSource.register(FinportDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "finport"

    def schema(self) -> StructType:
        # all fields declared nullable at the Spark boundary (required
        # string keys are still never null — the reader fills ""), the
        # same convention as Spark's own file sources
        return StructType(
            [StructField(n, t, True) for n, t, _ in HOLDING_FIELDS]
        )

    def reader(self, schema):
        return FinportReader(self.options)

    def writer(self, schema, overwrite: bool):
        return FinportWriter(self.options, overwrite)

    def simpleStreamReader(self, schema):
        return FinportStreamReader(self.options)


# ---------------------------------------------------------------------
# Write path: df.write.format("finport").mode(...).save() — the golden
# FINporter encoding as a distributed sink with a two-phase commit
# ---------------------------------------------------------------------


def _golden_field(v, delimiter: str = ",") -> str:
    """Pure-Python mirror of ``encoder.format_field`` (DelimitedEncoder
    semantics: escape " as \\" always, quote only when the field contains
    the delimiter or a newline; nil -> empty; doubles shortest-roundtrip;
    timestamps ISO-Z; booleans true/false).

    One guard the CLI-parity encoder does not have: a QUOTED field whose
    escaped form ends in a backslash encodes as ``"...\\"`` — bytes the
    dialect itself cannot decode (the trailing ``\\"`` is
    indistinguishable from an escaped quote, so ``_parse_golden`` raises
    'unterminated quoted field'). A writer must not emit bytes its own
    reader rejects, so that corner raises HERE, at encode time, with the
    offending value named."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%SZ")
    s = str(v).replace('"', '\\"')
    if delimiter in s or "\n" in s or "\r" in s:
        if s.endswith("\\"):
            raise ValueError(
                "finport: field value ending in a backslash and "
                "containing the delimiter or a newline is not "
                f"representable in the golden dialect: {v!r}"
            )
        return f'"{s}"'
    return s


@dataclass
class _PartFile(WriterCommitMessage):
    tmp_path: str
    rows: int


def _golden_encode_column(arr, delimiter: str = ","):
    """Vectorized ``_golden_field`` over one Arrow column → pandas
    Series of encoded strings (same bytes as the scalar function)."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.types as pt

    t = arr.type
    if pt.is_floating(t):
        # repr() is the shortest-roundtrip contract; no vectorized
        # equivalent matches CPython repr exactly, so map the column
        return pd.Series(
            ["" if v is None else repr(v) for v in arr.to_pylist()]
        )
    if pt.is_boolean(t):
        s = arr.to_pandas()
        return pd.Series(
            np.where(s.isna(), "", np.where(s.astype(bool), "true", "false"))
        )
    if pt.is_integer(t):
        s = arr.to_pandas()
        out = s.astype("Int64").astype(str)
        return out.where(s.notna(), "").reset_index(drop=True)
    if pt.is_timestamp(t):
        s = arr.cast(pa.timestamp("us")).to_pandas()
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        return s.dt.strftime("%Y-%m-%dT%H:%M:%SZ").where(s.notna(), "")
    # strings and anything else rendered as string
    s = arr.cast(pa.string()).to_pandas().astype(object)
    filled = s.where(s.notna(), "")
    esc = filled.str.replace('"', '\\"', regex=False)
    need = (
        esc.str.contains(delimiter, regex=False)
        | esc.str.contains("\n", regex=False)
        | esc.str.contains("\r", regex=False)
    )
    # same undecodable-corner guard as the scalar _golden_field
    bad = need & esc.str.endswith("\\")
    if bad.any():
        raise ValueError(
            "finport: field value ending in a backslash and containing "
            "the delimiter or a newline is not representable in the "
            f"golden dialect: {filled[bad].iloc[0]!r}"
        )
    return pd.Series(np.where(need, '"' + esc + '"', esc))


class FinportWriter(DataSourceArrowWriter):
    """Per-task: encode Arrow batches under the golden rules into a
    TEMP file (columnar: each column encodes as one vectorized pass,
    byte-identical to the scalar ``_golden_field``); driver commit
    renames every temp to its final ``part-NNNNN-<jobUUID>.csv`` name
    and aborts delete temps — torn outputs are never visible (the same
    two-phase protocol Spark's file sinks use). The per-job UUID in the
    final name makes commits collision-free, so ``mode("append")``
    layers new part files next to previous writes instead of silently
    replacing same-named ones. Each part file carries the declared
    header line, so the finport READER reads the writer's output
    directly (full connector roundtrip)."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("finport: .save(path) directory is required")
        self.overwrite = overwrite

    def write(self, iterator):
        import uuid

        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}.csv")
        n = 0
        with io.open(tmp, "w", encoding="utf-8", newline="") as fh:
            fh.write(",".join(_HEADER) + "\n")
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                cols = [
                    _golden_encode_column(batch.column(i))
                    for i in range(batch.num_columns)
                ]
                lines = cols[0]
                for c in cols[1:]:
                    lines = lines + "," + c
                fh.write("\n".join(lines) + "\n")
                n += batch.num_rows
        return _PartFile(tmp_path=tmp, rows=n)

    def commit(self, messages):
        import glob
        import uuid

        if self.overwrite:
            for old in glob.glob(os.path.join(self.path, "part-*.csv")):
                os.remove(old)
        job = uuid.uuid4().hex[:12]  # collision-free across commits
        for i, m in enumerate(messages):
            if m is None:
                continue
            os.replace(
                m.tmp_path,
                os.path.join(self.path, f"part-{i:05d}-{job}.csv"),
            )

    def abort(self, messages):
        for m in messages:
            if m is not None:
                try:
                    os.remove(m.tmp_path)
                except OSError:
                    pass


# ---------------------------------------------------------------------
# Streaming read path: spark.readStream.format("finport") — a directory
# tail with exactly-once byte-granular offsets
# ---------------------------------------------------------------------


def _utf8_prefix(data: bytes) -> str:
    """Decode an append-in-progress file's bytes, dropping at most the
    last 3 bytes when the producer was cut mid-multibyte-char."""
    for trim in range(4):
        end = len(data) - trim
        if end < 0:
            return ""
        try:
            return data[:end].decode("utf-8")
        except UnicodeDecodeError:
            continue
    raise UnicodeDecodeError(
        "utf-8", data, 0, len(data), "finport: not a UTF-8 file"
    )


def _parse_complete_slice(text: str, start: int, end: int, where: str):
    """Parse a recorded [start, end) slice that MUST consist of whole
    records (both ends are boundaries a previous listing recorded):
    raises the append-only violation otherwise, strips the header when
    the slice starts at byte 0, returns the raw field lists. Shared by
    the simple reader's replay path and the parallel reader's executor
    decode so the replay contract has exactly one implementation."""
    records, tail, open_q = _parse_golden(text)
    if tail is not None or open_q:
        raise ValueError(
            f"finport: {where}: recorded offset range [{start},{end}) "
            "no longer ends at a record boundary — consumed bytes "
            "were rewritten in place (append-only contract)"
        )
    recs = [f for f, _ in records]
    if start == 0 and recs:
        _check_header(recs[0], where)
        recs = recs[1:]
    return recs


def _pdf_to_arrow(pdf):
    """Typed pandas frame -> one Arrow RecordBatch in the declared
    HOLDING schema (the single place the dtype mapping lives)."""
    import pyarrow as pa

    schema = pa.schema(
        [
            pa.field(
                n,
                pa.float64()
                if n in _DOUBLE
                else pa.timestamp("us")
                if n in _TS
                else pa.string(),
            )
            for n in _HEADER
        ]
    )
    for n in _TS:
        pdf[n] = pdf[n].astype("datetime64[us]")
    for n in _DOUBLE:
        pdf[n] = pdf[n].astype("float64")
    return pa.RecordBatch.from_pandas(
        pdf, schema=schema, preserve_index=False
    )


class FinportStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch source over a growing directory of holding CSVs.

    Offset = ``{"seen": {filename: consumed_bytes}}`` — byte-granular,
    cut at COMPLETE-RECORD boundaries only (the parser reports where
    each newline-terminated record ends, so a file an external producer
    is still appending to is consumed up to its last complete record
    and the remainder picked up by a later batch; a half-written final
    line is never consumed, and therefore never replayed differently
    once the file completes). ``readBetweenOffsets`` re-decodes exactly
    the recorded byte ranges, so checkpoint replay after restart is
    deterministic even for files that have since grown (exactly-once on
    top of the checkpoint log). Files must be append-only while under
    the watched directory (rewriting consumed bytes in place breaks any
    file-tailing source's replay contract, including Spark's own).

    Legacy file-granular offsets (``{"seen": [names]}``) migrate on
    first contact: each listed file's current last-complete-record
    boundary is pinned into the new offset, so later appends flow and
    replay ranges are deterministic from that batch on. A tail stuck
    inside an unterminated quoted field fails loudly once it can no
    longer be a legitimate in-progress multi-line field (see
    ``_check_open_quote``) instead of silently stalling the file."""

    # a file whose tail sits inside an open quoted field is normally a
    # producer mid-append of a legitimate multi-line quoted field — but
    # an UNTERMINATED quote (malformed input) would otherwise stall that
    # file silently forever, contradicting the fail-loudly contract the
    # batch reader enforces for the same bytes. Fail loudly once the
    # open-quote tail outgrows any plausible field: more than
    # _OPEN_QUOTE_MAX_BYTES accumulated past the stuck boundary, or the
    # quote stayed open across _OPEN_QUOTE_MAX_TICKS consecutive read
    # triggers — whether or not the file grew: a producer that STOPPED
    # mid-quote is just as malformed as one that keeps appending, and
    # must fail rather than stall. (Counters are in-memory; after a
    # driver restart the still-stuck file re-trips them.)
    _OPEN_QUOTE_MAX_BYTES = 1 << 20
    _OPEN_QUOTE_MAX_TICKS = 8

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("finport: .load(path) directory is required")
        # name -> (stuck record boundary, file size last tick, growth ticks)
        self._open_quote: dict = {}

    def _files(self):
        return sorted(
            f
            for f in os.listdir(self.path)
            if f.endswith(".csv") and not f.startswith(("_", "."))
        )

    def initialOffset(self) -> dict:
        return {"seen": {}}

    @staticmethod
    def _seen(offset: dict) -> dict:
        seen = offset.get("seen", {})
        if isinstance(seen, list):  # legacy file-granular offset
            return {name: -1 for name in seen}
        return {str(k): int(v) for k, v in seen.items()}

    def _decode_range(self, name: str, start: int, end: int):
        """Decode the byte range [start, end) of one file — both ends
        are record boundaries recorded by a previous listing, so the
        slice is valid UTF-8 and parses to whole records. A range
        starting at 0 must begin with the declared header."""
        full = os.path.join(self.path, name)
        with open(full, "rb") as fh:
            fh.seek(start)
            data = fh.read(end - start)
        recs = _parse_complete_slice(data.decode("utf-8"), start, end, full)
        return [
            tuple(row[n] for n in _HEADER)
            for row in (_typed_tuple(r, full) for r in recs)
        ]

    def _migrated_boundary(self, name: str) -> int:
        """First contact with a legacy whole-file offset: pin the file's
        CURRENT last-complete-record byte boundary into the migrated
        offset (one O(file) parse, once per legacy file). Pinning makes
        every later replay range deterministic and lets subsequent
        read() calls consume appends the legacy format would have
        skipped forever. Bytes appended between the legacy offset's
        commit and this migration are treated as consumed — the legacy
        format recorded no boundary to distinguish them, and it would
        never have emitted them either."""
        full = os.path.join(self.path, name)
        with open(full, "rb") as fh:
            data = fh.read()
        # validate encoding first (fail-loud contract: interior garbage
        # raises here, a mid-multibyte truncated tail is tolerated),
        # then take the boundary from the vectorized scan — decode is
        # C-speed; only the record PARSE was the cost being avoided
        _utf8_prefix(data)
        boundary, _open_q = _scan_boundary(data)
        return boundary

    def _check_open_quote(self, name: str, boundary: int, size: int):
        """Track a file whose unconsumed tail is inside an open quoted
        field; raise once the tail can no longer be a legitimate
        in-progress multi-line field (see class constants)."""
        prev_b, _prev_size, ticks = self._open_quote.get(
            name, (boundary, size, 0)
        )
        if prev_b != boundary:  # progress was made: restart tracking
            ticks = 0
        # every trigger without boundary progress counts — growing or
        # not: a producer that stopped mid-quote must also fail loudly
        ticks += 1
        self._open_quote[name] = (boundary, size, ticks)
        if (
            size - boundary > self._OPEN_QUOTE_MAX_BYTES
            or ticks >= self._OPEN_QUOTE_MAX_TICKS
        ):
            raise ValueError(
                f"finport: {os.path.join(self.path, name)}: unterminated "
                f"quoted field opened after byte {boundary} — "
                f"{size - boundary} bytes accumulated across {ticks} "
                "read triggers without the quote closing; malformed "
                "input (the file would otherwise stall silently forever)"
            )

    def read(self, start: dict):
        seen = self._seen(start)
        end = dict(seen)
        # a LIST, not a generator: Spark's prefetching cache copies the
        # returned iterator for checkpoint replay (generators can't be
        # copied); batch sizes are bounded by what arrived since last tick
        rows: list = []
        for name in self._files():
            prev = seen.get(name, 0)
            if prev < 0:  # legacy whole-file offset: migrate by pinning
                end[name] = self._migrated_boundary(name)
                continue  # consumed-whole under the old format: no rows
            full = os.path.join(self.path, name)
            # per-trigger cost must be O(new bytes), not O(file): stat
            # first (skip unchanged files without opening), then seek to
            # the recorded boundary and read/parse ONLY the suffix —
            # prev is always a record boundary, so the suffix parses
            # standalone (header expected only when prev == 0)
            size = os.path.getsize(full)
            if size <= prev:
                self._open_quote.pop(name, None)
                continue
            with open(full, "rb") as fh:
                fh.seek(prev)
                data = fh.read()
            text = _utf8_prefix(data)
            records, _tail, open_q = _parse_golden(text)
            recs = [f for f, _ in records]
            boundary = prev + (
                len(text[: records[-1][1]].encode("utf-8"))
                if records
                else 0
            )
            if open_q:
                self._check_open_quote(name, boundary, size)
            else:
                self._open_quote.pop(name, None)
            if not recs:
                continue  # no complete record yet
            if prev == 0:
                _check_header(recs[0], full)
                recs = recs[1:]
            rows.extend(
                tuple(row[n] for n in _HEADER)
                for row in (_typed_tuple(r, full) for r in recs)
            )
            end[name] = boundary
        return iter(rows), {"seen": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        s_seen, e_seen = self._seen(start), self._seen(end)
        rows: list = []
        for name in sorted(e_seen):
            lo, hi = s_seen.get(name, 0), e_seen[name]
            if hi < 0:
                if lo < 0:
                    # legacy offset in BOTH: the file was consumed in an
                    # earlier batch — this batch replays none of it
                    continue
                # legacy end only: a batch recorded by the OLD
                # file-granular format consumed the file whole. No byte
                # boundary was recorded, so replay to the last
                # complete-record boundary as of NOW — the one replay
                # range that cannot be pinned (documented migration
                # cost; every offset written since pins byte ranges).
                # lo is kept when non-negative: a byte-boundary start
                # paired with a legacy end (version downgrade/upgrade)
                # must not replay rows before lo a second time
                hi = self._migrated_boundary(name)
            elif lo < 0:
                # the MIGRATION batch: it pinned the boundary and
                # emitted no rows for this file — replay none
                continue
            if hi > max(lo, 0):
                rows.extend(self._decode_range(name, max(lo, 0), hi))
        return iter(rows)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean: source files are immutable inputs


# ---------------------------------------------------------------------
# Executor-parallel streaming read: df = spark.readStream
#   .format("finportp").option("path", dir).load()
# ---------------------------------------------------------------------


@dataclass
class _FinportStreamSlice(InputPartition):
    """One (file, byte-range) slice of a micro-batch — both ends are
    complete-record boundaries recorded by the driver's offset scan."""

    path: str
    lo: int
    hi: int


class FinportParallelStreamReader(DataSourceStreamReader):
    """Partition-parallel micro-batch source over the same golden-CSV
    drop directory as `FinportStreamReader` — the scale tier of the
    streaming read path.

    The Simple* API (x12) routes every decoded ROW through the driver
    between offset commits — by design, and the right tier for
    drop-folder tailing. This reader splits the work the way the batch
    reader does: the DRIVER only advances offsets (parse O(new bytes)
    per trigger to find each file's last complete-record boundary —
    record TYPING is not done here), and each micro-batch plans one
    `_FinportStreamSlice` partition per grown file, decoded ON THE
    EXECUTORS into one Arrow RecordBatch per slice (columnar transfer,
    no per-row pickling, 32-way parallel at local[32]).

    Offsets are byte-granular `{"seen": {file: boundary}}`, identical
    semantics to the simple reader: cut at complete-record boundaries,
    append-only contract, deterministic replay — `partitions(start,
    end)` IS the replay range, so checkpoint recovery re-decodes
    exactly the recorded byte spans (exactly-once on top of the
    checkpoint log). The driver keeps `_known` boundaries in memory;
    after a driver restart the first trigger re-scans each file once
    from byte 0 (O(file), once) and continues O(new bytes) after.
    Unterminated-quote stalls fail loudly via the same tick/byte
    bounds as the simple reader (composition, not copy). Legacy
    file-granular offsets are rejected with a clear error — this
    reader shipped after the byte-offset format, so no legacy
    checkpoints for it can exist.
    """

    def __init__(self, options):
        self._tail = FinportStreamReader(options)  # reuse guards/layout
        self.path = self._tail.path
        self._known: dict = {}

    def initialOffset(self) -> dict:
        return {"seen": {}}

    def latestOffset(self) -> dict:
        for name in self._tail._files():
            prev = self._known.get(name, 0)
            full = os.path.join(self.path, name)
            size = os.path.getsize(full)
            if size <= prev:
                self._tail._open_quote.pop(name, None)
                continue
            with open(full, "rb") as fh:
                fh.seek(prev)
                data = fh.read()
            # byte-level vectorized boundary scan (NOT the record
            # parser): offset discovery needs only the last complete
            # boundary, and _scan_boundary finds it at numpy speed —
            # property-tested against _parse_golden. Encoding is still
            # validated first (fail-loud on interior garbage; a
            # truncated multibyte tail is an in-progress append)
            _utf8_prefix(data)
            rel, open_q = _scan_boundary(data)
            boundary = prev + rel
            if open_q:
                self._tail._check_open_quote(name, boundary, size)
            else:
                self._tail._open_quote.pop(name, None)
            self._known[name] = boundary
        return {"seen": dict(self._known)}

    def partitions(self, start: dict, end: dict):
        s_seen = self._tail._seen(start)
        e_seen = self._tail._seen(end)
        parts = []
        for name in sorted(e_seen):
            lo, hi = s_seen.get(name, 0), e_seen[name]
            if lo < 0 or hi < 0:
                raise ValueError(
                    "finportp: legacy file-granular offsets are not "
                    "supported by the parallel reader — restart from a "
                    "fresh checkpoint or drain with format('finport')"
                )
            if hi > lo:
                parts.append(
                    _FinportStreamSlice(
                        os.path.join(self.path, name), lo, hi
                    )
                )
        return parts

    def read(self, partition):  # runs on an EXECUTOR
        import pandas as pd

        with open(partition.path, "rb") as fh:
            fh.seek(partition.lo)
            data = fh.read(partition.hi - partition.lo)
        text = data.decode("utf-8")
        # quote-free slices take the batch reader's vectorized pandas
        # path (_vectorized_frame) — the overwhelmingly common shape
        # for machine-written drops; a header line is synthesized for
        # mid-file slices since the dialect check needs one. The torn-
        # tail guard stays: a slice not ending at a newline must go
        # through the state machine, which raises the append-only
        # violation (recorded slices always end at a boundary).
        pdf = None
        if text.endswith("\n"):
            vtext = (
                text
                if partition.lo == 0
                else ",".join(_HEADER) + "\n" + text
            )
            pdf = _vectorized_frame(vtext, partition.path)
        if pdf is None:
            recs = _parse_complete_slice(
                text, partition.lo, partition.hi, partition.path
            )
            rows = [_typed_tuple(r, partition.path) for r in recs]
            pdf = pd.DataFrame(
                {n: [r[n] for r in rows] for n in _HEADER}
                if rows
                else {n: [] for n in _HEADER}
            )
        yield _pdf_to_arrow(pdf)

    def commit(self, end: dict) -> None:
        pass  # source files are append-only inputs; nothing to clean


class FinportParallelDataSource(FinportDataSource):
    """`format("finportp")` — same batch reader/writer as "finport",
    executor-parallel partitioned streaming instead of the simple
    driver-prefetched tier (pyspark prefers ``streamReader`` over the
    inherited ``simpleStreamReader`` when both exist)."""

    @classmethod
    def name(cls) -> str:
        return "finportp"

    def streamReader(self, schema):
        return FinportParallelStreamReader(self.options)


def _scan_boundary(data: bytes, delimiter: bytes = b",") -> tuple:
    """Vectorized last-complete-record boundary scan over a suffix that
    STARTS at a record boundary. Returns ``(boundary, open_q)`` where
    ``boundary`` is the byte offset just past the last record-terminating
    newline (0 if none) and ``open_q`` is True when EOF sits inside an
    unterminated quoted span.

    This is the driver's per-trigger offset-discovery cost for the
    parallel stream reader: the simple reader must parse every record
    anyway (it returns the rows), but the parallel tier only needs the
    BOUNDARY — running the char-level automaton (`_parse_golden`) just
    to throw the fields away made the driver scan the bottleneck at
    sf10 (measured: 39 s, ~60% in boundary discovery). The dialect
    makes a numpy byte scan exact:

    - quotes/newlines/backslashes are ASCII, and UTF-8 continuation
      bytes never collide with ASCII — byte-level positions are safe
      (and the result is a BYTE offset directly: no re-encode);
    - ``\\"`` is a literal quote everywhere, and escape pairs are
      exactly (backslash, quote) — so a quote is escaped iff its
      immediately preceding byte is a backslash (that backslash can
      never itself be consumed by an earlier pair, because pairs only
      end at quotes);
    - a structural quote CLOSES a span whenever one is open; it OPENS
      one only at field start, which is locally checkable — the
      previous byte is the delimiter or a newline (or suffix start).
      Anywhere else it is literal content (`_parse_golden`'s
      ``at_field_start`` rule). The state walk is over STRUCTURAL
      QUOTES ONLY — O(#quotes) python on data that is usually
      quote-free, never O(bytes) python.

    Wrong-boundary inputs cannot corrupt silently: executors re-parse
    each recorded slice and raise if it does not end on a record
    boundary, and the property test drives this scanner against
    `_parse_golden` on adversarial quote/escape/newline soups.
    """
    import numpy as np

    if not data:
        return 0, False
    b = np.frombuffer(data, dtype=np.uint8)
    nl = np.flatnonzero(b == 0x0A)  # \n
    q = np.flatnonzero(b == 0x22)  # "
    if q.size:
        esc = np.zeros(q.shape, dtype=bool)
        nz = q > 0
        esc[nz] = b[q[nz] - 1] == 0x5C  # \ immediately before
        structural = q[~esc]
    else:
        structural = q
    delim = delimiter[0]
    spans = []  # closed [open, close) quoted spans
    open_pos = None
    for p in structural.tolist():
        if open_pos is not None:
            spans.append((open_pos, p))
            open_pos = None
        elif p == 0 or b[p - 1] == delim or b[p - 1] == 0x0A:
            open_pos = p
        # else: literal mid-field quote outside any span — content
    if nl.size and spans:
        starts = np.array([s for s, _ in spans])
        ends = np.array([e for _, e in spans])
        # a newline is literal iff some span (s, e) has s < nl < e
        idx = np.searchsorted(starts, nl, side="right") - 1
        inside = (idx >= 0) & (nl < ends[np.clip(idx, 0, None)])
        nl = nl[~inside]
    if open_pos is not None and nl.size:
        nl = nl[nl < open_pos]  # newlines inside the open tail are literal
    boundary = int(nl[-1]) + 1 if nl.size else 0
    return boundary, open_pos is not None
