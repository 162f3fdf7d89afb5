"""Python DataSources: the ``format("finport")`` batch, write and stream
paths, plus the quarantine cache lifetime (``caching``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


_HOLDING_HDR = "accountID,securityID,lotID,shareCount,shareBasis,acquiredAt\n"


def _drain(rdr, part):
    """Consume a finport reader's read(part) (Arrow RecordBatches) into
    row tuples."""
    rows = []
    for batch in rdr.read(part):
        rows += [tuple(d.values()) for d in batch.to_pylist()]
    return rows


def _stream_rows(rdr, start, end):
    """Rows of every slice the stream reader plans between two offsets,
    each read as an executor reads it."""
    rows = []
    for part in rdr.partitions(start, end):
        rows += _drain(rdr, part)
    return rows


def test_quarantine_cache_released_after_transform(spark, tmp_path):
    """quarantine_split caches the corrupt-channel parse; handle_transform
    must release it after export so repeated CLI transforms don't
    accumulate executor storage (caching.owns_cache/release_caches)."""
    from finporter_spark.caching import _ATTR, release_caches
    from finporter_spark.sources import quarantine_split, read_delimited

    p = tmp_path / "a.csv"
    p.write_text("strategyID,title\ns1,Sixty Forty\ns2,All Weather\n")
    raw = read_delimited(spark, str(p), all_string=True)
    good, bad = quarantine_split(raw, required_keys=["strategyID"])
    cached = getattr(good, _ATTR)
    assert cached, "corrupt-channel decode should tag its cache"
    good.count()
    assert cached[0].storageLevel.useMemory  # materialized + cached
    release_caches(good, bad, blocking=True)
    assert not cached[0].storageLevel.useMemory  # freed
    assert getattr(good, _ATTR) == []
    # released frames still compute correctly (recompute, uncached)
    assert good.count() == 2


def test_release_caches_warns_when_unpersist_fails(spark, caplog):
    """A cache that cannot be unpersisted is reported on the package
    logger, not swallowed; the other caches are still released."""
    import logging

    from finporter_spark.caching import _ATTR, owns_cache, release_caches

    class BrokenCache:
        def unpersist(self, blocking=False):
            raise RuntimeError("executor lost")

    class Cache:
        released = False

        def unpersist(self, blocking=False):
            self.released = True

    ok = Cache()
    df = owns_cache(spark.range(1), BrokenCache(), ok)
    with caplog.at_level(logging.WARNING, logger="finporter_spark"):
        release_caches(df)
    assert ok.released
    assert getattr(df, _ATTR) == []
    [record] = caplog.records
    assert record.name == "finporter_spark"
    assert record.levelno == logging.WARNING
    assert "executor lost" in record.getMessage()


def test_finport_reader_contract(tmp_path):
    """Reader-level contract: the source declares the six HOLDING
    columns as strings, every field comes out exactly as written, a
    short row pads with "", and a wrong header fails loudly (the detect
    contract)."""
    from pyspark.sql.types import StringType

    from finporter_spark.model import ENTITY_SCHEMAS, AllocSchema
    from finporter_spark.sources.finport_datasource import (
        FinportDataSource,
        FinportReader,
    )

    schema = FinportDataSource({}).schema()
    assert schema.names == ENTITY_SCHEMAS[AllocSchema.HOLDING].names
    assert {f.dataType for f in schema.fields} == {StringType()}

    d = tmp_path / "holdings"
    d.mkdir()
    (d / "a.csv").write_text(
        _HOLDING_HDR
        + "acct-1,S1,L1,10.0,100.5,2021-03-01\n"
        + "acct-2,S2,,5.0,,2021-03-01T12:30:00\n"
        + "acct-1,S3\n"  # short row: trailing fields pad
    )
    rdr = FinportReader({"path": str(d)})
    [part] = rdr.partitions()
    assert _drain(rdr, part) == [
        ("acct-1", "S1", "L1", "10.0", "100.5", "2021-03-01"),
        ("acct-2", "S2", "", "5.0", "", "2021-03-01T12:30:00"),
        ("acct-1", "S3", "", "", "", ""),
    ]

    (d / "b.csv").write_text("wrong,header\nx,y\n")
    [bad] = [p for p in rdr.partitions() if p.path.endswith("b.csv")]
    with pytest.raises(ValueError, match="declared HOLDING header"):
        list(rdr.read(bad))


def test_finport_filters_do_not_leak_between_queries(spark, tmp_path):
    """Each query over one format("finport") DataFrame returns its own
    rows: a filter from an earlier query never narrows a later scan of
    the same relation."""
    from finporter_spark.sources.finport_datasource import (
        FinportDataSource,
    )

    d = tmp_path / "two"
    d.mkdir()
    (d / "h.csv").write_text(
        _HOLDING_HDR + "a1,S1,L1,1.0,,\na2,S2,L2,2.0,,\n"
    )
    spark.dataSource.register(FinportDataSource)
    df = spark.read.format("finport").option("path", str(d)).load()

    def accounts(frame):
        return sorted(r.accountID for r in frame.collect())

    assert accounts(df.filter(F.col("accountID") == "a2")) == ["a2"]
    assert accounts(df) == ["a1", "a2"]
    assert accounts(df.filter(F.col("accountID") == "a1")) == ["a1"]
    counts = df.groupBy("accountID").count().collect()
    assert {r.accountID: r["count"] for r in counts} == {"a1": 1, "a2": 1}


def test_readme_quick_start_reads_finport_on_a_plain_session(tmp_path):
    """README's quick start: a folder of holding exports read and typed
    on a session exactly as get_session() builds it, with no conf set
    first."""
    from datetime import datetime

    from finporter_spark.model import ENTITY_SCHEMAS, AllocSchema
    from finporter_spark.session import get_session
    from finporter_spark.sources.finport_datasource import (
        FinportDataSource,
        typed,
    )

    exports = tmp_path / "exports"
    exports.mkdir()
    (exports / "h.csv").write_text(
        _HOLDING_HDR + "a1,S1,L1,10,2.5,2021-03-01T00:00:00Z\na2,S2,,,,\n"
    )

    spark = get_session()
    # Spark's default: a reader that implemented pushFilters would raise
    # DATA_SOURCE_PUSHDOWN_DISABLED here
    assert spark.conf.get("spark.sql.python.filterPushdown.enabled") == "false"
    spark.dataSource.register(FinportDataSource)
    holdings = typed(
        spark.read.format("finport").option("path", str(exports)).load()
    )
    want = ENTITY_SCHEMAS[AllocSchema.HOLDING]
    assert [(f.name, f.dataType) for f in holdings.schema] == [
        (f.name, f.dataType) for f in want
    ]
    assert sorted(map(tuple, holdings.collect())) == [
        ("a1", "S1", "L1", 10.0, 2.5, datetime(2021, 3, 1)),
        ("a2", "S2", "", None, None, None),
    ]


def test_finport_writer_bytes_match_golden_encoder(spark, tmp_path):
    """One part file written by the finport sink must be byte-identical
    to encode_to_string over the same rows (header + golden
    escape/quote/double/timestamp rules) — the connector write path IS
    the golden encoder, distributed."""
    import datetime

    from pyspark.sql import Row

    from finporter_spark.encoder import encode_to_string
    from finporter_spark.sources.finport_datasource import (
        FinportDataSource,
        typed,
    )

    rows = [
        Row(
            accountID='ac"me',
            securityID="S,1",  # delimiter: must quote
            lotID="",
            shareCount=10.25,
            shareBasis=0.1,  # shortest repr, not 0.10000000000000001
            acquiredAt=datetime.datetime(2021, 3, 1, 12, 30, 0),
        ),
        Row(
            accountID="a2",
            securityID="S2",
            lotID="L1",
            shareCount=None,
            shareBasis=None,
            acquiredAt=None,
        ),
    ]
    df = spark.createDataFrame(rows).coalesce(1)
    spark.dataSource.register(FinportDataSource)
    out = str(tmp_path / "out")
    df.write.format("finport").mode("overwrite").option(
        "path", out
    ).save()
    import os

    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1
    written = open(os.path.join(out, parts[0]), encoding="utf-8").read()
    assert written == encode_to_string(df)
    # and the typed read round-trips it exactly
    back = typed(
        spark.read.format("finport").option("path", out).load()
    ).collect()
    assert sorted(map(tuple, back)) == sorted(map(tuple, df.collect()))


def test_finport_writer_abort_leaves_no_partial_output(spark, tmp_path):
    """A failing task must leave NO visible part files (two-phase
    commit: temps are renamed only on driver commit)."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from finporter_spark.sources.finport_datasource import (
        FinportDataSource,
    )

    spark.dataSource.register(FinportDataSource)
    out = str(tmp_path / "out")

    @F.udf("double")
    def boom(x):
        raise RuntimeError("induced task failure")

    df = spark.range(10).select(
        F.lit("a").alias("accountID"),
        F.lit("s").alias("securityID"),
        F.lit("l").alias("lotID"),
        boom(F.col("id").cast("double")).alias("shareCount"),
        F.lit(None).cast("double").alias("shareBasis"),
        F.lit(None).cast("timestamp").alias("acquiredAt"),
    )
    with _pytest.raises(Exception):
        df.write.format("finport").mode("overwrite").option(
            "path", out
        ).save()
    visible = (
        [f for f in os.listdir(out) if f.startswith("part-")]
        if os.path.isdir(out)
        else []
    )
    assert visible == []


def test_finport_stream_reader_incremental_offsets(tmp_path):
    """Offset semantics without a Spark session: offsets are cumulative
    per file, an empty tick leaves the offset unchanged and plans
    nothing, a new file's arrival plans only that file, and replaying
    between two recorded offsets yields exactly the rows between them
    (the checkpoint-recovery contract)."""
    from finporter_spark.sources.finport_datasource import (
        FinportStreamReader,
    )

    d = tmp_path / "stream"
    d.mkdir()
    (d / "a.csv").write_text(_HOLDING_HDR + "a1,S1,L1,1.0,,\n")
    rdr = FinportStreamReader({"path": str(d)})

    o0 = rdr.initialOffset()
    o1 = rdr.latestOffset()
    assert o1 == {"seen": {"a.csv": (d / "a.csv").stat().st_size}}
    assert [r[1] for r in _stream_rows(rdr, o0, o1)] == ["S1"]

    # nothing new: the offset is unchanged and nothing is planned
    assert rdr.latestOffset() == o1
    assert rdr.partitions(o1, o1) == []

    # a new file arrives: only it is planned
    (d / "b.csv").write_text(
        _HOLDING_HDR + "a2,S2,L2,2.0,,\na3,S3,L3,3.0,,\n"
    )
    o2 = rdr.latestOffset()
    assert set(o2["seen"]) == {"a.csv", "b.csv"}
    assert o2["seen"]["a.csv"] == o1["seen"]["a.csv"]
    [part] = rdr.partitions(o1, o2)
    assert part.lo == 0
    assert [r[1] for r in _drain(rdr, part)] == ["S2", "S3"]

    # replay: exactly the rows between two recorded offsets
    assert [r[1] for r in _stream_rows(rdr, o1, o2)] == ["S2", "S3"]
    assert [r[1] for r in _stream_rows(rdr, o0, o1)] == ["S1"]
    assert [r[1] for r in _stream_rows(rdr, o0, o2)] == ["S1", "S2", "S3"]


def test_finport_stream_plans_grown_slices(tmp_path):
    """latestOffset advances by complete-record boundaries only (a torn
    tail is excluded), partitions() plans only the grown byte ranges,
    read() splits a slice into an Arrow batch of strings as an executor
    would, and the same two offsets plan the same slices again."""
    from finporter_spark.sources.finport_datasource import (
        FinportStreamReader,
    )

    d = tmp_path / "stream"
    d.mkdir()
    first = _HOLDING_HDR + "a1,S1,L1,1.0,,\na2,S2,L2,2.0,,\n"
    (d / "a.csv").write_text(first + "TORN")
    rdr = FinportStreamReader({"path": str(d)})

    o0 = rdr.initialOffset()
    o1 = rdr.latestOffset()
    assert o1 == {"seen": {"a.csv": len(first.encode())}}  # torn excluded
    [part] = rdr.partitions(o0, o1)
    assert (part.lo, part.hi) == (0, len(first.encode()))
    [batch] = list(rdr.read(part))
    pdf = batch.to_pandas()
    assert list(pdf["securityID"]) == ["S1", "S2"]
    assert list(pdf["shareCount"]) == ["1.0", "2.0"]

    # the tail completes and a second file arrives: only deltas planned
    with open(d / "a.csv", "a") as fh:
        fh.write(",S3,L3,3.0,,\n")
    (d / "b.csv").write_text(_HOLDING_HDR + "b1,S4,L4,4.0,,\n")
    o2 = rdr.latestOffset()
    assert set(o2["seen"]) == {"a.csv", "b.csv"}
    assert o2["seen"]["a.csv"] == (d / "a.csv").stat().st_size
    sa, sb = rdr.partitions(o1, o2)
    assert (sa.lo, sb.lo) == (o1["seen"]["a.csv"], 0)
    assert _drain(rdr, sa) == [("TORN", "S3", "L3", "3.0", "", "")]
    assert _drain(rdr, sb) == [("b1", "S4", "L4", "4.0", "", "")]

    # replay: the same two offsets plan the same slices and rows
    assert rdr.partitions(o1, o2) == [sa, sb]
    assert [r[1] for r in _stream_rows(rdr, o0, o1)] == ["S1", "S2"]
    assert [r[1] for r in _stream_rows(rdr, o0, o2)] == [
        "S1", "S2", "S3", "S4"
    ]


def test_finport_stream_tails_growing_file(tmp_path):
    """ADVICE (low): a file an external producer is still appending to
    must not be half-consumed-then-replayed-differently. The offset is
    byte-granular and cut at complete-record boundaries: a torn final
    line is NOT consumed, the bytes that complete it arrive as a later
    batch, and the recorded ranges replay deterministically even after
    the file has since grown."""
    from finporter_spark.sources.finport_datasource import (
        FinportStreamReader,
    )

    d = tmp_path / "stream"
    d.mkdir()
    # producer cut mid-row: the second record has no trailing newline
    (d / "a.csv").write_text(_HOLDING_HDR + "a1,S1,L1,1.0,,\na2,S2,L2,2.")
    rdr = FinportStreamReader({"path": str(d)})

    o0 = rdr.initialOffset()
    o1 = rdr.latestOffset()
    assert [r[1] for r in _stream_rows(rdr, o0, o1)] == ["S1"]  # torn row
    assert o1["seen"]["a.csv"] == len(_HOLDING_HDR + "a1,S1,L1,1.0,,\n")

    # the producer finishes the row and appends another
    with open(d / "a.csv", "a") as fh:
        fh.write("5,,\na3,S3,L3,3.0,,\n")
    o2 = rdr.latestOffset()
    assert [(r[1], r[3]) for r in _stream_rows(rdr, o1, o2)] == [
        ("S2", "2.5"),
        ("S3", "3.0"),
    ]

    # replay of batch 1 after the file grew: still exactly batch 1
    assert [r[1] for r in _stream_rows(rdr, o0, o1)] == ["S1"]


def test_finport_reader_quote_plus_delimiter_roundtrip(tmp_path):
    """ADVICE (medium): a field containing BOTH a quote and the
    delimiter ('a"b,c' → '"a\\"b,c"') must decode losslessly with later
    columns intact — csv.reader cannot parse this dialect (it shifts
    every later column); the golden-inverse state machine can. Also:
    embedded newline in a quoted field, and escaped quotes in unquoted
    fields."""
    from finporter_spark.sources.finport_datasource import (
        FinportReader,
        _FileSlice,
        _golden_field,
    )

    hdr = "accountID,securityID,lotID,shareCount,shareBasis,acquiredAt\n"
    values = [
        ('a"b,c', 'S"1', "plain", 1.5, None, None),
        ('x,y', 'q"', 'both",here', 2.0, 3.0, None),
        ("line1\nline2", "S3", "", None, None, None),
    ]
    lines = [
        ",".join(_golden_field(v) for v in row) + "\n" for row in values
    ]
    (tmp_path / "f.csv").write_text(hdr + "".join(lines))
    rdr = FinportReader({"path": str(tmp_path)})
    rows = _drain(rdr, _FileSlice(str(tmp_path / "f.csv")))
    assert [tuple(r[:3]) for r in rows] == [tuple(v[:3]) for v in values]
    assert rows[0][3] == "1.5" and rows[1][4] == "3.0"


def test_finport_reader_bare_cr_is_field_content(tmp_path):
    """The golden parser ends a record at LF or CRLF only, so a bare CR
    in an unquoted field is content. The comma-split path must agree:
    a file's rows cannot depend on whether it holds a quote elsewhere.
    (The importer differs here; the agreement test pins both rules.)"""
    from finporter_spark.sources.finport_datasource import (
        FinportReader,
        _FileSlice,
    )

    hdr = "accountID,securityID,lotID,shareCount,shareBasis,acquiredAt\n"
    rows = {
        "cr.csv": hdr + "a1,S\r1,L1,1.0,,\n",
        "crlf.csv": hdr.replace("\n", "\r\n") + "a2,S2,L2,2.0,,\r\n",
    }
    for name, text in rows.items():
        (tmp_path / name).write_bytes(text.encode())
    rdr = FinportReader({"path": str(tmp_path)})
    assert _drain(rdr, _FileSlice(str(tmp_path / "cr.csv"))) == [
        ("a1", "S\r1", "L1", "1.0", "", "")
    ]
    assert _drain(rdr, _FileSlice(str(tmp_path / "crlf.csv"))) == [
        ("a2", "S2", "L2", "2.0", "", "")
    ]


def test_finport_reader_raises_on_overwide_row(tmp_path):
    """ADVICE (medium): a row with MORE fields than the header is
    malformed input — raise loudly instead of silently dropping or
    shifting columns."""
    import pytest as _pytest

    from finporter_spark.sources.finport_datasource import (
        FinportReader,
        _FileSlice,
    )

    hdr = "accountID,securityID,lotID,shareCount,shareBasis,acquiredAt\n"
    (tmp_path / "f.csv").write_text(hdr + "a,b,c,1.0,2.0,,EXTRA\n")
    rdr = FinportReader({"path": str(tmp_path)})
    with _pytest.raises(ValueError, match="malformed"):
        _drain(rdr, _FileSlice(str(tmp_path / "f.csv")))
    # an EMPTY 7th field (trailing comma) is over-wide too — the fast
    # path must reject it exactly like the state machine does
    (tmp_path / "g.csv").write_text(hdr + "a,b,c,1.0,2.0,,\n")
    with _pytest.raises(ValueError, match="malformed|wider"):
        _drain(rdr, _FileSlice(str(tmp_path / "g.csv")))
    (tmp_path / "h.csv").write_text(hdr + 'a,"b",c,1.0,2.0,,\n')
    with _pytest.raises(ValueError, match="malformed|fields"):
        _drain(rdr, _FileSlice(str(tmp_path / "h.csv")))


def test_finport_writer_append_preserves_previous_parts(spark, tmp_path):
    """ADVICE (high): mode('append') must layer new part files next to
    a previous write, never os.replace over identically-named parts —
    final names carry a per-job UUID, so two sequential writes leave
    ALL rows visible."""
    import os

    from pyspark.sql import Row

    from finporter_spark.sources.finport_datasource import (
        FinportDataSource,
    )

    spark.dataSource.register(FinportDataSource)
    out = str(tmp_path / "out")

    schema = (
        "accountID string, securityID string, lotID string, "
        "shareCount double, shareBasis double, acquiredAt timestamp"
    )

    def _df(sec):
        return spark.createDataFrame(
            [Row("a1", sec, "L1", 1.0, None, None)], schema
        ).coalesce(1)

    _df("FIRST").write.format("finport").mode("append").option(
        "path", out
    ).save()
    _df("SECOND").write.format("finport").mode("append").option(
        "path", out
    ).save()
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 2  # both commits' parts coexist
    back = spark.read.format("finport").option("path", out).load()
    assert sorted(r.securityID for r in back.collect()) == [
        "FIRST",
        "SECOND",
    ]
    # overwrite still clears prior parts
    _df("THIRD").write.format("finport").mode("overwrite").option(
        "path", out
    ).save()
    back2 = spark.read.format("finport").option("path", out).load()
    assert [r.securityID for r in back2.collect()] == ["THIRD"]


def test_golden_parser_inverts_encoder_property():
    """Property: for any list of rows of arbitrary strings (quotes,
    delimiters, newlines, backslashes), the writer's column encoder
    (_golden_encode_column) yields the scalar _golden_field's bytes,
    _parse_golden(_golden_field encoding) recovers the rows exactly —
    OR both encoders RAISE on
    the one value shape the dialect cannot represent (a quoted field
    whose escaped form ends in a backslash: its tail '...\\"' is
    indistinguishable from an escaped quote, so the writer refuses to
    emit bytes its own reader would reject)."""
    import pyarrow as pa
    import pytest
    from hypothesis import given, settings, strategies as st

    from finporter_spark.sources.finport_datasource import (
        _golden_encode_column,
        _golden_field,
        _parse_golden,
    )

    field = st.text(
        alphabet=st.sampled_from(list('abc",\\\n\r xyz')), max_size=8
    )
    rows = st.lists(
        st.lists(field, min_size=1, max_size=4), min_size=1, max_size=5
    )

    def ambiguous(v: str) -> bool:
        # quoted (contains delimiter/newline) AND ends with backslash
        return v.endswith("\\") and any(c in v for c in ",\n\r")

    def columns(rs):
        # ragged rows: a missing trailing field is a null
        width = max(map(len, rs))
        return [
            [r[i] if i < len(r) else None for r in rs] for i in range(width)
        ]

    @settings(max_examples=300, deadline=None)
    @given(rows)
    def check(rs):
        # the writer's vectorized encoder is the scalar one, column-wise
        for col in columns(rs):
            arr = pa.array(col, pa.string())
            if any(v is not None and ambiguous(v) for v in col):
                with pytest.raises(ValueError, match="not representable"):
                    _golden_encode_column(arr)
            else:
                want = [_golden_field(v) for v in col]
                assert list(_golden_encode_column(arr)) == want
        if any(ambiguous(v) for r in rs for v in r):
            bad = next(v for r in rs for v in r if ambiguous(v))
            with pytest.raises(ValueError, match="not representable"):
                _golden_field(bad)
            return
        text = "".join(
            ",".join(_golden_field(v) for v in r) + "\n" for r in rs
        )
        records, tail, open_q = _parse_golden(text)
        assert not open_q and tail is None
        # blank lines (rows of one empty field) are skipped by contract
        expect = [r for r in rs if r != [""]]
        assert [f for f, _ in records] == expect
        # offsets are strictly increasing record boundaries
        ends = [e for _, e in records]
        assert ends == sorted(set(ends))

    check()


def test_finport_stream_open_quote_fails_loudly(tmp_path):
    """ADVICE (medium): an unterminated quoted field must not stall a
    file silently forever. A legitimate multi-line quoted field
    mid-append is tolerated (and consumed once the quote closes); a
    quote that stays open while the file keeps growing raises after the
    tick bound, and a tail past the byte bound raises immediately."""
    from finporter_spark.sources.finport_datasource import (
        FinportStreamReader,
    )

    hdr = "accountID,securityID,lotID,shareCount,shareBasis,acquiredAt\n"

    # 1) legit multi-line quoted field: mid-append reads are quiet,
    #    the closing quote releases the record
    d1 = tmp_path / "legit"
    d1.mkdir()
    f1 = d1 / "a.csv"
    f1.write_text(hdr + 'a1,"multi\nline')
    rdr = FinportStreamReader({"path": str(d1)})
    o0 = rdr.initialOffset()
    o1 = rdr.latestOffset()
    assert _stream_rows(rdr, o0, o1) == []  # open quote: nothing complete
    with open(f1, "a") as fh:
        fh.write('\nstill",L1,1.0,,\n')
    o2 = rdr.latestOffset()
    assert [r[1] for r in _stream_rows(rdr, o1, o2)] == [
        "multi\nline\nstill"
    ]

    # 2) malformed: quote never closes while complete lines accumulate
    d2 = tmp_path / "stuck"
    d2.mkdir()
    f2 = d2 / "b.csv"
    f2.write_text(hdr + 'a1,"never closed\n')
    rdr2 = FinportStreamReader({"path": str(d2)})
    with pytest.raises(ValueError, match="unterminated quoted field"):
        for _ in range(12):
            rdr2.latestOffset()
            with open(f2, "a") as fh:
                fh.write("x,y,z\n")

    # 3) byte bound: a single huge open-quote tail raises on first sight
    d3 = tmp_path / "huge"
    d3.mkdir()
    f3 = d3 / "c.csv"
    f3.write_text(hdr + 'a1,"' + "x" * (2 << 20))
    rdr3 = FinportStreamReader({"path": str(d3)})
    with pytest.raises(ValueError, match="unterminated quoted field"):
        rdr3.latestOffset()


def test_finport_writer_rejects_undecodable_corner(spark, tmp_path):
    """ADVICE (low): the writer must not emit bytes its own reader
    rejects — a quoted field whose escaped form ends in a backslash
    raises at encode time (scalar and vectorized paths), and the two
    paths write the same bytes for every column type."""
    from datetime import datetime

    import pyarrow as pa

    from finporter_spark.sources.finport_datasource import (
        FinportDataSource,
        _golden_encode_column,
        _golden_field,
    )

    with pytest.raises(ValueError, match="not representable"):
        _golden_field("a,b\\")
    with pytest.raises(ValueError, match="not representable"):
        _golden_encode_column(pa.array(["ok", "a,b\\"]))
    # fine without the delimiter (not quoted) or without the backslash
    assert _golden_field("ab\\") == "ab\\"
    assert _golden_field("a,b") == '"a,b"'

    # the column encoder is the scalar one on every non-string type, nulls
    # included: one fixed row, then a row of nulls
    row = (0.1, -7, True, datetime(2021, 3, 1, 12, 30, 5), None)
    types = (pa.float64(), pa.int64(), pa.bool_(), pa.timestamp("us"),
             pa.string())
    for v, t in zip(row, types):
        col = [v, None]
        assert list(_golden_encode_column(pa.array(col, t))) == [
            _golden_field(x) for x in col
        ], t

    spark.dataSource.register(FinportDataSource)
    df = spark.createDataFrame(
        [("a1", "bad,\\", "L1", 1.0, None, None)],
        "accountID string, securityID string, lotID string, "
        "shareCount double, shareBasis double, acquiredAt timestamp",
    )
    out = str(tmp_path / "out")
    with pytest.raises(Exception, match="not representable"):
        df.write.format("finport").mode("overwrite").option(
            "path", out
        ).save()


def test_finport_stream_open_quote_stall_without_growth(tmp_path):
    """ADVICE r7: a malformed file whose producer STOPS appending (tail
    under the byte bound, no further growth) must still trip the tick
    bound — non-progress triggers count whether or not the file grew."""
    from finporter_spark.sources.finport_datasource import (
        FinportStreamReader,
    )

    hdr = "accountID,securityID,lotID,shareCount,shareBasis,acquiredAt\n"
    d = tmp_path / "stalled"
    d.mkdir()
    (d / "a.csv").write_text(hdr + 'a1,"never closed\n')
    rdr = FinportStreamReader({"path": str(d)})
    with pytest.raises(ValueError, match="unterminated quoted field"):
        for _ in range(FinportStreamReader._OPEN_QUOTE_MAX_TICKS + 2):
            rdr.latestOffset()  # file never grows


def test_finport_stream_rejects_a_file_granular_offset(tmp_path):
    """The old offset format ({"seen": [names]}) recorded no byte
    boundary, so the stream reader cannot replay it exactly: planning a
    batch with it as either end raises instead of guessing one."""
    from finporter_spark.sources.finport_datasource import (
        FinportStreamReader,
    )

    d = tmp_path / "stream"
    d.mkdir()
    (d / "a.csv").write_text(_HOLDING_HDR + "a1,S1,L1,1.0,,\n")
    legacy = {"seen": ["a.csv"]}
    rdr = FinportStreamReader({"path": str(d)})
    now = rdr.latestOffset()
    for start, end in ((legacy, now), (rdr.initialOffset(), legacy)):
        with pytest.raises(ValueError, match="legacy file-granular"):
            rdr.partitions(start, end)


# full-width HOLDING rows over the field shapes that need Spark's cast
# rules; each is written once quote-free and once with a quoted field
_DECODE_ROWS = [
    "a1,{S1},L1,1_000,10,2021-03-01T00:00:00.000Z\n",
    "a2,S2,L2,1000,1d,2021-03-01T01:00:00+01:00\n",
    "a3,S3,, 2.5 ,,2021-03-01T00:00:00.123\n",
    "a4,S4,L4,,0x1p3,1500-01-01\n",
    "a5,S5,L5,-3e2,Infinity,\n",
    "a6,S6,L6,12x,1.5f,notadate\n",
    "a7,S7,L7,1,1,0000-01-01\n",
    "a8,S8,L8,1,1,9999-12-31T23:00:00-05:00\n",
]
# the typed rows, acquiredAt as CAST(... AS STRING): Python's datetime
# holds neither a7's year 0 nor a8's UTC instant in the year 10000
_DECODE_TYPED = [
    ("a1", "S1", "L1", None, 10.0, "2021-03-01 00:00:00"),
    ("a2", "S2", "L2", 1000.0, 1.0, "2021-03-01 00:00:00"),
    ("a3", "S3", "", 2.5, None, "2021-03-01 00:00:00.123"),
    ("a4", "S4", "L4", None, 8.0, "1500-01-01 00:00:00"),
    ("a5", "S5", "L5", -300.0, float("inf"), None),
    ("a6", "S6", "L6", None, 1.5, None),
    ("a7", "S7", "L7", 1.0, 1.0, "0000-01-01 00:00:00"),
    ("a8", "S8", "L8", 1.0, 1.0, "+10000-01-01 04:00:00"),
]


def _write_decode_files(tmp_path):
    """One directory per layout: quote-free, and with one quoted
    field (which sends the file through the golden state machine)."""
    dirs = {}
    for layout, sec in (("plain", "S1"), ("quoted", '"S1"')):
        d = tmp_path / layout
        d.mkdir()
        (d / "h.csv").write_text(
            _HOLDING_HDR
            + _DECODE_ROWS[0].format(S1=sec)
            + "".join(_DECODE_ROWS[1:])
        )
        dirs[layout] = d
    return dirs


def test_every_finport_reader_decodes_like_the_importer(spark, tmp_path):
    """One decode for every reader. The batch reader and the stream
    reader yield the same string rows whether or not
    the file holds a quote, and typed(format("finport")) equals the
    importer's good rows on the same file, out-of-range years included
    (compared inside Spark). A bare CR is the one declared difference:
    field content for the connector, a record end for the importer
    (Spark's line reader)."""
    from finporter_spark.caching import release_caches
    from finporter_spark.importers.allocdata import AllocDataImporter
    from finporter_spark.model import AllocSchema
    from finporter_spark.sources.finport_datasource import (
        FinportDataSource,
        FinportReader,
        FinportStreamReader,
        typed,
    )

    def decode(d):
        connector = spark.read.format("finport").option("path", str(d))
        good, bad = AllocDataImporter().decode(
            spark, str(d / "h.csv"), output_schema=AllocSchema.HOLDING
        )
        return typed(connector.load()), good, bad

    want = [
        tuple(r.format(S1="S1").rstrip("\n").split(","))
        for r in _DECODE_ROWS
    ]
    spark.dataSource.register(FinportDataSource)
    for layout, d in _write_decode_files(tmp_path).items():
        opts = {"path": str(d)}
        batch = FinportReader(opts)
        [part] = batch.partitions()
        assert _drain(batch, part) == want, layout

        stream = FinportStreamReader(opts)
        [sl] = stream.partitions(stream.initialOffset(), stream.latestOffset())
        [rb] = list(stream.read(sl))
        assert [tuple(r.values()) for r in rb.to_pylist()] == want, layout

        got, good, bad = decode(d)
        try:
            assert bad.isEmpty(), layout
            assert got.exceptAll(good).isEmpty(), layout
            assert good.exceptAll(got).isEmpty(), layout
            shown = got.withColumn("acquiredAt", F.expr("string(acquiredAt)"))
            assert sorted(map(tuple, shown.collect())) == _DECODE_TYPED
        finally:
            release_caches(good, bad)

    d = tmp_path / "bare_cr"
    d.mkdir()
    (d / "h.csv").write_bytes((_HOLDING_HDR + "a9,S\r9,L9,1,1,\n").encode())
    got, good, bad = decode(d)
    try:
        assert list(map(tuple, got.collect())) == [
            ("a9", "S\r9", "L9", 1.0, 1.0, None)
        ]
        # the importer splits the row in two, each too short to keep
        assert good.isEmpty()
        assert sorted(r.accountID for r in bad.collect()) == ["9", "a9"]
    finally:
        release_caches(good, bad)


def test_finport_stream_crosses_a_batch_boundary(spark, tmp_path):
    """End-to-end through Spark: a format("finport") stream into a
    memory sink reads one file, then a second file in a later
    micro-batch, and its typed aggregate equals the typed batch read
    over the same directory. (Catalog drains use availableNow, which
    Python stream sources run as a single batch.)"""
    from finporter_spark.sources.finport_datasource import (
        FinportDataSource,
        typed,
    )

    d = tmp_path / "drop"
    d.mkdir()

    def drop(i):
        (d / f"f{i}.csv").write_text(
            _HOLDING_HDR
            + "".join(
                f"acct-{j % 3},S{j},L{j},{float(j + i)},,\n" for j in range(25)
            )
        )

    def aggregate(df):
        return df.groupBy("accountID").agg(
            F.count("*").alias("n"), F.sum("shareCount").alias("s")
        )

    spark.dataSource.register(FinportDataSource)
    drop(0)
    stream = spark.readStream.format("finport").option("path", str(d))
    q = (
        aggregate(typed(stream.load()))
        .writeStream.format("memory")
        .queryName("finport_two_batches")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        drop(1)
        q.processAllAvailable()
        fed = [p["numInputRows"] for p in q.recentProgress]
    finally:
        q.stop()
    assert sum(n > 0 for n in fed) >= 2, fed
    assert sum(fed) == 50
    got = spark.table("finport_two_batches").collect()
    want = aggregate(
        typed(spark.read.format("finport").option("path", str(d)).load())
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_scan_boundary_matches_parser_on_adversarial_soup():
    """_scan_boundary (the stream reader's vectorized offset scan)
    agrees with _parse_golden's boundary + open-quote verdict on
    hypothesis-generated quote/escape/delimiter/newline soups — the
    exactness proof for replacing the record parser in latestOffset."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from finporter_spark.sources.finport_datasource import (
        _parse_golden,
        _scan_boundary,
    )

    alphabet = st.sampled_from(list('ab,"\\\n') + ["\r\n", '\\"', '",'])

    def assert_safe_cut(text):
        """The scanner's boundary must be a SAFE resumable cut wrt the
        parser: (1) the prefix parses to whole records only (no torn
        tail, no open quote), (2) the remainder holds NO complete
        record (nothing is left behind past a trigger), (3) the
        open-quote verdict matches the parser's. Boundaries may differ
        from the parser's last-record end only by consuming trailing
        BLANK lines — also a valid cut (the parser skips blank lines),
        and the one that avoids rescanning them every trigger."""
        data = text.encode()
        got_boundary, got_open = _scan_boundary(data)
        _recs, _tail, open_q = _parse_golden(text)
        assert got_open == open_q, text
        prefix = data[:got_boundary].decode()
        p_recs, p_tail, p_open = _parse_golden(prefix)
        assert p_tail is None and not p_open, text
        rest = data[got_boundary:].decode()
        r_recs, _rt, _ro = _parse_golden(rest)
        assert r_recs == [], text
        # completeness: every parser record ends at or before the cut
        if _recs:
            last_end = len(text[: _recs[-1][1]].encode())
            assert got_boundary >= last_end, text

    @settings(max_examples=400, deadline=None)
    @given(st.lists(alphabet, max_size=60).map("".join))
    def check(text):
        assert_safe_cut(text)

    check()

    # unicode safety: multibyte chars around structure
    for text in ("é,ü\n“q”,x\n", 'a,"é\né",b\nz,1,2\n', "é\\\"x,y\nTORN"):
        assert_safe_cut(text)
