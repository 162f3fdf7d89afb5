"""`format("finport")` — a Spark 4 Python DataSource for the
standardized AllocData HOLDING export (the "Detect-as-DataSource"
candidate from SURVEY §4).

A user points `spark.read.format("finport").load(dir)` at a directory of
AllocData holding CSVs (header = the declared attribute order,
`FINporter.swift:62,66`) and types it with :func:`typed`::

    holdings = typed(spark.read.format("finport").option("path", dir).load())

- **one slice per file** — a batch read plans one whole-file
  ``_FileSlice`` per file, split into string columns in parallel on
  executors;
- **one stream reader** — ``spark.readStream.format("finport")`` tails
  the directory with byte-granular offsets (``FinportStreamReader``):
  the driver only records complete-record boundaries, and each
  micro-batch plans one ``_FileSlice`` per grown file, split on the
  executors the same way as a batch read;
- **strings out, one typing rule** — the connector yields the six
  HOLDING fields as strings ("" for a blank or missing field), and
  :func:`typed` applies the importer's ``typed_projection`` on top,
  batch or stream. Spark evaluates every filter after the scan, in the
  same stage;
- header verification per file: a file whose first line is not the
  declared HOLDING header raises (the detect contract — wrong-entity
  files must fail loudly, not decode garbage).

Text becomes string columns in one of two ways, picked from the bytes.
Text with no ``"``, ``\\`` or bare CR is plain comma-split, which
pandas' C reader does. Anything else goes through ``_parse_golden``, the
exact inverse of the golden encoding (``_golden_field`` /
``encoder.format_field``, DelimitedEncoder.swift semantics): every
``"`` is written as ``\\"``, and a field is wrapped in quotes only when
it contains the delimiter or a newline. A generic ``csv.reader``
cannot parse this dialect: a field holding BOTH a quote and the
delimiter (``a"b,c`` → ``"a\\"b,c"``) confuses RFC-4180 doubling rules
and shifts every later column. Either way a row with more fields than
the header raises, and a short row pads with empty fields.

One declared difference from the importer: a bare CR. The connector
ends a record at LF or CRLF only, so a bare CR inside an unquoted field
is field content. The importer reads through Spark's CSV line reader,
which also ends a record at a bare CR. The golden encoder quotes any
field holding a CR, so its own output reads the same either way. Following
Spark here would change the parser, the over-wide check, the boundary
scan and the slice end check; setting ``lineSep`` in the importer would
break CRLF files. Both cost code for input no encoder writes, so the
difference stays, pinned by test.
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
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StringType, StructField, StructType

from finporter_spark.model import ENTITY_SCHEMAS, AllocSchema

_HOLDING = ENTITY_SCHEMAS[AllocSchema.HOLDING]
_HEADER = list(_HOLDING.names)


def typed(df):
    """A finport DataFrame — batch or stream — typed by the importer's
    rules: ``typed_projection`` over the HOLDING schema, without the
    corrupt-record column the connector does not have."""
    from finporter_spark.importers.allocdata import typed_projection
    from finporter_spark.sources import CORRUPT_COL

    return df.selectExpr(
        *(e for e in typed_projection(_HOLDING) if e != CORRUPT_COL)
    )


# ---------------------------------------------------------------------
# Golden-dialect parser: the exact inverse of _golden_field
# ---------------------------------------------------------------------


def _parse_golden(text: str, delimiter: str = ","):
    """Parse golden-encoded delimited text into records.

    Returns ``(records, tail, open_quote)`` where ``records`` is a list
    of ``(fields, end_char_index)`` for every NEWLINE-TERMINATED record
    (``end_char_index`` points just past the terminating newline),
    ``tail`` is the field list of a final record with no trailing
    newline (or None), and ``open_quote`` is True when EOF hit inside an
    unterminated quoted field.

    Dialect (DelimitedEncoder.swift:130-140): ``\\"`` is a literal
    quote ANYWHERE (quoted or not — the encoder escapes first, wraps
    second); an initial ``"`` opens a quoted span in which the
    delimiter and raw newlines are literal; the closing quote ends the
    span. Blank lines are skipped.
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


def _check_header(fields: list, where: str) -> None:
    if fields != _HEADER:
        raise ValueError(
            f"finport: {where} first line is not the "
            f"declared HOLDING header (detect contract): {fields}"
        )


def _overwide(where: str) -> ValueError:
    return ValueError(
        f"finport: {where}: row wider than the declared "
        f"{len(_HEADER)}-column HOLDING header — malformed input"
    )


def _string_frame(text: str, where: str, header: bool = True):
    """Golden-dialect text -> one string column per HOLDING field, ""
    for blank or missing fields. ``header`` says whether the text starts
    with the header line (checked, then dropped)."""
    import pandas as pd

    # pandas also ends a line at a bare CR, which the dialect reads as
    # field content
    bare_cr = text.count("\r") != text.count("\r\n")
    if '"' in text or "\\" in text or bare_cr:
        records, tail, open_q = _parse_golden(text)
        if open_q:
            raise ValueError(
                f"finport: {where} ends inside an unterminated "
                "quoted field — truncated or malformed input"
            )
        recs = [f for f, _ in records] + ([tail] if tail else [])
        if header:
            if not recs:
                raise ValueError(
                    f"finport: {where} is empty (missing the "
                    "declared HOLDING header)"
                )
            _check_header(recs[0], where)
            recs = recs[1:]
        if any(len(r) > len(_HEADER) for r in recs):
            raise _overwide(where)
        return pd.DataFrame(
            [r + [""] * (len(_HEADER) - len(r)) for r in recs],
            columns=_HEADER,
            dtype=object,
        )
    if header:
        _check_header(text.split("\n", 1)[0].rstrip("\r").split(","), where)
    # with no quotes, a line's field count is its comma count + 1: this
    # catches a 7th field even when it is empty (a trailing comma)
    if pd.Series(text.split("\n")).str.count(",").max() >= len(_HEADER):
        raise _overwide(where)
    return pd.read_csv(
        io.StringIO(text),
        dtype=str,
        names=_HEADER,
        header=None,
        skiprows=int(header),
        index_col=False,
        keep_default_na=False,
        skip_blank_lines=True,
    )


def _pdf_to_arrow(pdf):
    """String frame -> one Arrow RecordBatch of the HOLDING string
    columns."""
    import pyarrow as pa

    schema = pa.schema([(n, pa.string()) for n in _HEADER])
    return pa.RecordBatch.from_pandas(
        pdf, schema=schema, preserve_index=False
    )


def _csv_files(path: str) -> list:
    """Names of the finport inputs in directory ``path``: the ``.csv``
    files, less ``_``/``.``-prefixed ones (markers, temps, the writer's
    uncommitted parts)."""
    return sorted(
        f
        for f in os.listdir(path)
        if f.endswith(".csv") and not f.startswith(("_", "."))
    )


@dataclass
class _FileSlice(InputPartition):
    """Bytes [lo, hi) of one file; ``hi=None`` reads to EOF. A batch
    read is one whole-file slice per file; a stream batch is one slice
    per grown file, both ends record boundaries the offset scan
    recorded."""

    path: str
    lo: int = 0
    hi: int | None = None


def _read_slice(part: _FileSlice):
    """One Arrow RecordBatch of the slice's HOLDING string columns (the
    slice at byte 0 starts with the header). A whole file may end
    without a newline; a recorded stream range that no longer ends at a
    record boundary raises."""
    with open(part.path, "rb") as fh:
        fh.seek(part.lo)
        data = fh.read() if part.hi is None else fh.read(part.hi - part.lo)
    text = data.decode("utf-8")
    if part.hi is not None and not text.endswith("\n"):
        raise ValueError(
            f"finport: {part.path}: recorded offset range [{part.lo},"
            f"{part.hi}) no longer ends at a record boundary — "
            "consumed bytes were rewritten in place (append-only contract)"
        )
    return _pdf_to_arrow(_string_frame(text, part.path, header=part.lo == 0))


class FinportReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("finport: .load(path) directory is required")

    def partitions(self):
        files = _csv_files(self.path)
        if not files:
            raise FileNotFoundError(
                f"finport: no .csv files under {self.path}"
            )
        return [_FileSlice(os.path.join(self.path, f)) for f in files]

    def read(self, partition):
        """Yields one Arrow RecordBatch per file."""
        yield _read_slice(partition)


class FinportDataSource(DataSource):
    """Register with ``spark.dataSource.register(FinportDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "finport"

    def schema(self) -> StructType:
        # every field a string, declared nullable at the Spark boundary
        # (the reader still fills "" for blank or missing fields), the
        # same convention as Spark's own file sources; typed() types them
        return StructType(
            [StructField(n, StringType(), True) for n in _HEADER]
        )

    def reader(self, schema):
        return FinportReader(self.options)

    def writer(self, schema, overwrite: bool):
        return FinportWriter(self.options, overwrite)

    def streamReader(self, schema):
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


class FinportStreamReader(DataSourceStreamReader):
    """Micro-batch source over a growing directory of holding CSVs.

    The driver only advances offsets; the executors split the records.
    Offset = ``{"seen": {filename: consumed_bytes}}`` — byte-granular,
    cut at COMPLETE-RECORD boundaries only (``_scan_boundary`` finds
    where the last newline-terminated record ends, so a file an
    external producer is still appending to is consumed up to its last
    complete record and the remainder picked up by a later batch; a
    half-written final line is never consumed, and therefore never
    replayed differently once the file completes). Each micro-batch
    plans one ``_FileSlice`` per grown file, and ``read`` splits it on
    an executor into one Arrow RecordBatch of string columns.
    ``partitions(start, end)`` IS the replay range: checkpoint recovery
    re-decodes exactly the recorded byte spans, even for files that
    have since grown (exactly-once on top of the checkpoint log). Files
    must be append-only while under the watched directory (rewriting
    consumed bytes in place breaks any file-tailing source's replay
    contract, including Spark's own).

    ``latestOffset`` gets no start offset, so the driver keeps the
    boundaries it found in ``_known``; after a driver restart the first
    trigger re-scans each file once from byte 0 (O(file), once) and
    continues O(new bytes) after.

    A tail stuck inside an unterminated quoted field fails loudly once
    it can no longer be a legitimate in-progress multi-line field (see
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
        self._known: dict = {}  # name -> last record boundary found
        # name -> (stuck record boundary, triggers stuck at it)
        self._open_quote: dict = {}

    def initialOffset(self) -> dict:
        return {"seen": {}}

    def latestOffset(self) -> dict:
        for name in _csv_files(self.path):
            prev = self._known.get(name, 0)
            boundary = self._advance(name, prev)
            if boundary > prev:
                self._known[name] = boundary
        return {"seen": dict(self._known)}

    def partitions(self, start: dict, end: dict):
        """One slice per file that grew between the two offsets."""
        lo, hi = self._seen(start), self._seen(end)
        return [
            _FileSlice(os.path.join(self.path, name), lo.get(name, 0), b)
            for name, b in sorted(hi.items())
            if b > lo.get(name, 0)
        ]

    def read(self, partition):  # runs on an EXECUTOR
        yield _read_slice(partition)

    def commit(self, end: dict) -> None:
        pass  # source files are append-only inputs; nothing to clean

    @staticmethod
    def _seen(offset: dict) -> dict:
        seen = offset.get("seen", {})
        if not isinstance(seen, dict):
            raise ValueError(
                "finport: legacy file-granular offsets "
                '({"seen": [names]}) are not supported — restart from a '
                "fresh checkpoint"
            )
        return {str(k): int(v) for k, v in seen.items()}

    def _advance(self, name: str, prev: int) -> int:
        """The last complete-record boundary of file ``name`` at or
        past ``prev``. Per-trigger cost is O(new bytes): an unchanged
        file is skipped on its size, and only the suffix past ``prev``
        is read and scanned."""
        full = os.path.join(self.path, name)
        size = os.path.getsize(full)
        if size <= prev:
            self._open_quote.pop(name, None)
            return prev
        with open(full, "rb") as fh:
            fh.seek(prev)
            data = fh.read()
        # validate the encoding first (interior garbage raises; a
        # truncated multibyte tail is an append in progress), then find
        # the boundary with the byte scan — no record parse
        _utf8_prefix(data)
        rel, open_q = _scan_boundary(data)
        if open_q:
            self._check_open_quote(name, prev + rel, size)
        else:
            self._open_quote.pop(name, None)
        return prev + rel

    def _check_open_quote(self, name: str, boundary: int, size: int):
        """Track a file whose unconsumed tail is inside an open quoted
        field; raise once the tail can no longer be a legitimate
        in-progress multi-line field (see class constants)."""
        prev_b, ticks = self._open_quote.get(name, (boundary, 0))
        if prev_b != boundary:  # progress was made: restart tracking
            ticks = 0
        # every trigger without boundary progress counts — growing or
        # not: a producer that stopped mid-quote must also fail loudly
        ticks += 1
        self._open_quote[name] = (boundary, ticks)
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


def _scan_boundary(data: bytes, delimiter: bytes = b",") -> tuple:
    """Vectorized last-complete-record boundary scan over a suffix that
    STARTS at a record boundary. Returns ``(boundary, open_q)`` where
    ``boundary`` is the byte offset just past the last record-terminating
    newline (0 if none) and ``open_q`` is True when EOF sits inside an
    unterminated quoted span.

    This is the stream reader's per-trigger offset-discovery cost
    (``FinportStreamReader._advance``): offset discovery needs
    only the BOUNDARY, and running the char-level automaton
    (`_parse_golden`) just to throw the fields away made the driver scan
    the bottleneck at sf10 (measured: 39 s, ~60% in boundary
    discovery). The dialect makes a numpy byte scan exact:

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

    Wrong-boundary inputs cannot corrupt silently: ``_read_slice``
    re-parses each recorded slice and raises if it does not end on a
    record boundary, and the property test drives this scanner against
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
