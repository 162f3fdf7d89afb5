"""Encoder goldens ported 1:1 from the reference
(Tests/Helpers/DelimitedEncoderTests.swift:40-126; FIXTURES.md §3)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from finporter_spark.encoder import encode_to_string


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_one_row(spark):
    df = _df(spark, [("blah", "bleep")], "bar string, baz string")
    assert encode_to_string(df, header=False) == "blah,bleep\n"


def test_two_rows(spark):
    df = _df(spark, [("blah0", "bleep0"), ("blah1", "bleep1")], "bar string, baz string")
    # unordered multiset semantics (TestHelpers.swift:22-56): compare as sets
    out = encode_to_string(df, header=False)
    assert sorted(out.splitlines()) == ["blah0,bleep0", "blah1,bleep1"]
    assert out.endswith("\n")


def test_tsv(spark):
    df = _df(spark, [("blah0", "bleep0"), ("blah1", "bleep1")], "bar string, baz string")
    out = encode_to_string(df, delimiter="\t", header=False)
    assert sorted(out.splitlines()) == ["blah0\tbleep0", "blah1\tbleep1"]


def test_date_iso8601z(spark):
    schema = StructType(
        [StructField("a", TimestampType()), StructField("b", TimestampType())]
    )
    df = _df(spark, [(dt.datetime(2020, 10, 31), dt.datetime(2020, 12, 25))], schema)
    assert (
        encode_to_string(df, header=False)
        == "2020-10-31T00:00:00Z,2020-12-25T00:00:00Z\n"
    )


def test_double_shortest_roundtrip(spark):
    schema = StructType(
        [
            StructField("a", DoubleType()),
            StructField("b", StringType()),
            StructField("c", DoubleType()),
        ]
    )
    df = _df(spark, [(0.01, "0.01", -0.00033)], schema)
    assert encode_to_string(df, header=False) == "0.01,0.01,-0.00033\n"


def test_embedded_delimiter_quotes(spark):
    df = _df(spark, [("bl,ah", "bleep")], "bar string, baz string")
    assert encode_to_string(df, header=False) == '"bl,ah",bleep\n'


def test_embedded_double_quote_escaped_not_quoted(spark):
    df = _df(spark, [('bl"ah', "bleep")], "bar string, baz string")
    assert encode_to_string(df, header=False) == 'bl\\"ah,bleep\n'


def test_embedded_delimiter_and_double_quote(spark):
    df = _df(spark, [('bl"a,h', "bleep")], "bar string, baz string")
    assert encode_to_string(df, header=False) == '"bl\\"a,h",bleep\n'


def test_nil_string_double(spark):
    schema = StructType(
        [StructField("a", StringType()), StructField("b", DoubleType())]
    )
    df = _df(spark, [(None, None)], schema)
    assert encode_to_string(df, header=False) == ",\n"


def test_header_declared_order(spark):
    df = _df(spark, [("x", "y")], "bar string, baz string")
    assert encode_to_string(df) == "bar,baz\nx,y\n"
    # declared order overrides df order (FINporter.swift:62,66)
    assert encode_to_string(df, columns=["baz", "bar"]) == "baz,bar\ny,x\n"


def test_single_file_export_matches_collect_path(spark, tmp_path, sf_dir):
    """Distributed byte-golden export: per-partition encoded parts +
    ordered concat must produce bytes IDENTICAL to the driver-collect
    path on a multi-partition DataFrame — including quoting/escape
    bytes, the trailing separator, and a custom line separator."""
    from pyspark.sql import functions as F

    from finporter_spark.encoder import (
        encode_to_string,
        write_delimited_single_file,
    )

    df = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .withColumn(
            "c_name",
            F.when(F.col("c_custkey") % 7 == 0,
                   F.concat(F.col("c_name"), F.lit(', "vip"')))
            .otherwise(F.col("c_name")),
        )
        .repartition(8)  # force a genuinely multi-partition source
    )
    want = encode_to_string(df)
    out = str(tmp_path / "export.csv")
    write_delimited_single_file(df, out)
    assert open(out, "rb").read() == want.encode()

    # custom separator + no header, TSV delimiter
    want2 = encode_to_string(df, "\t", line_separator="\r\n", header=False)
    write_delimited_single_file(
        df, out, "\t", line_separator="\r\n", header=False
    )
    assert open(out, "rb").read() == want2.encode()


def test_json_single_file_matches_collect_path(spark, tmp_path, sf_dir):
    """Distributed JSON export twin: per-partition to_json parts +
    ordered concat must produce bytes IDENTICAL to export(JSON)'s
    toJSON().collect() path on a multi-partition DataFrame — including
    null-field omission, embedded quotes, timestamps, and doubles."""
    from pyspark.sql import functions as F

    from finporter_spark.encoder import export, write_json_single_file

    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .limit(3000)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 5 == 0, None)
            .otherwise(F.col("o_orderstatus"))
            .alias("status"),  # null fields must be omitted identically
            F.concat(F.col("o_orderpriority"), F.lit(' "q,\\x')).alias(
                "pri"
            ),  # JSON string escaping parity
            "o_totalprice",
            F.col("o_orderdate").cast("timestamp").alias("ts"),
        )
        .repartition(8)
    )
    want = export(df, "json")
    out = str(tmp_path / "export.json")
    write_json_single_file(df, out)
    got = open(out, "rb").read()
    assert got == want.encode()
    # column subset + order control matches too
    want2 = export(df, "json", columns=["pri", "o_orderkey"])
    write_json_single_file(df, out, columns=["pri", "o_orderkey"])
    assert open(out, "rb").read() == want2.encode()
    # and it is valid JSON with every row present
    import json

    assert len(json.loads(got)) == df.count()


def _doubles_from_bits(spark, bits):
    """Doubles whose IEEE-754 bit patterns are the ``bits`` column, built
    JVM-side (Double.longBitsToDouble) so a million values need no
    Python-side DataFrame construction."""
    from pyspark.sql import functions as F

    return bits.select(
        F.reflect(
            F.lit("java.lang.Double"), F.lit("longBitsToDouble"), F.col("bits")
        )
        .cast("double")
        .alias("x")
    )


def test_shortest_double_repr_matches_python_repr(spark):
    """The JVM formatter gives Python ``repr`` bytes: every subnormal
    k * 2**-1074 for k < 2**18, 10**6 pseudo-random bit patterns, 2*10**5
    values spread log-uniformly over repr's fixed-point range
    [1e-4, 1e16) (both signs), each decade boundary 1e-5..1e17 and its
    neighbour ulps (both signs), and the special values. null and NaN
    render as null (format_field makes them the empty field)."""
    import math

    from pyspark.sql import functions as F

    from finporter_spark.encoder import shortest_double_repr

    subnormals = spark.range(1, 1 << 18).select(F.col("id").alias("bits"))
    randoms = spark.range(10**6).select(
        F.xxhash64("id", F.lit(20201)).alias("bits")
    )
    fixed_point = spark.range(2 * 10**5).select(
        (
            F.pow(F.lit(10.0), F.rand(5) * 20 - 4)
            * F.when(F.col("id") % 2 == 0, 1.0).otherwise(-1.0)
        ).alias("x")
    )
    edges = [0.0, -0.0, math.inf, -math.inf, math.nan, 0.01, -0.00033]
    for d in range(-5, 18):
        p = float(f"1e{d}")
        for v in (math.nextafter(p, 0), p, math.nextafter(p, math.inf)):
            edges += [v, -v]
    values = (
        _doubles_from_bits(spark, subnormals.unionAll(randoms))
        .unionAll(fixed_point)
        .unionAll(spark.createDataFrame([(v,) for v in edges] + [(None,)], "x double"))
    )
    rows = values.select("x", shortest_double_repr("x").alias("s")).collect()
    assert len(rows) == (1 << 18) - 1 + 10**6 + 2 * 10**5 + len(edges) + 1

    def want(v):
        return None if v is None or math.isnan(v) else repr(v)

    bad = [(r.x, r.s, want(r.x)) for r in rows if r.s != want(r.x)]
    assert bad == []


def test_double_export_plans_no_python(spark):
    """Formatting doubles stays in the JVM: no Arrow (or batch) Python
    evaluation node in the plan of the encoded lines."""
    from pyspark.sql import functions as F

    from finporter_spark.encoder import to_delimited_lines

    df = spark.range(10).select(
        (F.col("id") / 3).alias("a"),
        F.col("id").cast("float").alias("b"),
        F.col("id").cast("string").alias("c"),
    )
    plan = to_delimited_lines(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert to_delimited_lines(df).collect()[1][0] == "0.3333333333333333,1.0,1"


# values that SQL-text quoting must carry through unchanged
AWKWARD = ['say "hi"', "back\\slash", "it's", "a,b", "a\tb", '\\"', "x'\\,\t\"y", None]


@pytest.mark.parametrize(
    "delimiter, want",
    [
        (
            ",",
            'i,s,d\n0,say \\"hi\\",1.5\n1,back\\slash,1.5\n2,it\'s,1.5\n'
            '3,"a,b",1.5\n4,a\tb,1.5\n5,\\\\",1.5\n6,"x\'\\,\t\\"y",1.5\n7,,1.5\n',
        ),
        (
            "\t",
            'i\ts\td\n0\tsay \\"hi\\"\t1.5\n1\tback\\slash\t1.5\n2\tit\'s\t1.5\n'
            '3\ta,b\t1.5\n4\t"a\tb"\t1.5\n5\t\\\\"\t1.5\n6\t"x\'\\,\t\\"y"\t1.5\n'
            "7\t\t1.5\n",
        ),
    ],
    ids=["csv", "tsv"],
)
def test_awkward_strings_encode_to_golden_bytes(spark, delimiter, want):
    """Quotes, backslashes, apostrophes, the delimiter and tabs in string
    values: the bytes the Column-built encoder gave, unchanged."""
    df = _df(spark, [(i, v, 1.5) for i, v in enumerate(AWKWARD)], "i int, s string, d double")
    assert encode_to_string(df, delimiter) == want


def test_to_delimited_lines_quotes_column_names(spark):
    from finporter_spark.encoder import to_delimited_lines

    df = _df(spark, [("x,y", 2.5)], "`we``ird name` string, `d d` double")
    assert df.columns == ["we`ird name", "d d"]
    assert to_delimited_lines(df).collect()[0].line == '"x,y",2.5'
    assert encode_to_string(df) == 'we`ird name,d d\n"x,y",2.5\n'
