"""Goldens for the decode toolkit, ported 1:1 from the reference tests:
StringCaptureGroupTests.swift:23-66, TxnIDGenTests.swift:24-29,
FINporterUtilsTests.swift:23-28."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from finporter_spark.functions import (
    capture_group,
    capture_groups,
    capture_groups_str,
    generate_transaction_id_str,
    normalize_lines,
    normalize_lines_str,
    parse_timestamp,
    sql_ident,
    sql_literal,
    transaction_id_expr,
    with_transaction_ids,
)


# --- R9 capture groups (driver twins) ---

def test_capture_basic():
    assert capture_groups_str("foo123bar", r"([a-z]+)(\d+)([a-z]+)") == [
        "foo", "123", "bar",
    ]


def test_capture_no_match_is_none():
    assert capture_groups_str("foo", r"(\d+)") is None


def test_capture_empty_pattern_none():
    assert capture_groups_str("foo", "") is None


def test_capture_unmatched_optional_group_empty_string():
    got = capture_groups_str("ab", r"(a)(x)?(b)")
    assert got == ["a", "", "b"]


def test_capture_case_insensitive():
    # same shape as StringCaptureGroupTests.swift:60-66 account capture
    got = capture_groups_str(
        '"Individual Something                       abcd-1234"',
        r'"?(.+?)\s+([A-Za-z0-9-_]+)"?\s*$',
        case_insensitive=True,
    )
    assert got is not None and got[1] == "abcd-1234"


def test_capture_group_column(spark):
    df = spark.createDataFrame([("foo123",)], "s string")
    row = df.select(
        capture_group(F.col("s"), r"([a-z]+)(\d+)", 2).alias("g2"),
        capture_groups(F.col("s"), r"([a-z]+)(\d+)", 2).alias("gs"),
    ).first()
    assert row.g2 == "123"
    assert row.gs == ["foo", "123"]


# --- R10 txn id golden ---

def test_txn_id_golden():
    assert (
        generate_transaction_id_str("A", dt.date(2021, 3, 1), 325)
        == "A2021030100325"
    )


def test_txn_id_expr(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2021, 3, 1), 325)], "d timestamp, n int"
    )
    row = df.select(
        transaction_id_expr("A", F.col("d"), F.col("n")).alias("id")
    ).first()
    assert row.id == "A2021030100325"


def test_with_transaction_ids_deterministic(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2021, 3, 1), "b"), (dt.datetime(2021, 3, 1), "a")],
        "d timestamp, k string",
    )
    rows = with_transaction_ids(df, "A", "d", order_by=["k"]).collect()
    by_k = {r.k: r.txnID for r in rows}
    assert by_k == {"a": "A2021030100001", "b": "A2021030100002"}


# --- R8 normalization golden ---

POSITIONS_SNIPPET = '"Positions"\r\n\r\n"Individual  XXXX-1234"\r'


def test_normalize_str():
    assert (
        normalize_lines_str(POSITIONS_SNIPPET)
        == '"Positions"\n\n"Individual  XXXX-1234"\n'
    )


def test_normalize_column(spark):
    df = spark.createDataFrame([(POSITIONS_SNIPPET,)], "s string")
    row = df.select(normalize_lines(F.col("s")).alias("n")).first()
    assert row.n == '"Positions"\n\n"Individual  XXXX-1234"\n'


def test_split_by_standard_assets(spark):
    from finporter_spark.functions import split_by_standard_assets

    df = spark.createDataFrame(
        [("Bond",), ("LC",), ("NotAClass",), ("Total",), ("bond",)],
        "assetID string",
    )
    valid, invalid = split_by_standard_assets(df)
    assert sorted(r.assetID for r in valid.collect()) == ["Bond", "LC", "Total"]
    # case-sensitive closed vocabulary: 'bond' is NOT standard
    assert sorted(r.assetID for r in invalid.collect()) == ["NotAClass", "bond"]


# --- SQL text quoting ---

# each would end the literal or the identifier early if left unescaped
AWKWARD = ["it's", "back\\slash", "\\'", "x' OR '1'='1", "a\\", "\\u0041", "`", "tab\there"]


def test_sql_literal_reaches_the_plan_unchanged(spark):
    exprs = [f"{sql_literal(s)} AS c{i}" for i, s in enumerate(AWKWARD)]
    assert list(spark.range(1).selectExpr(*exprs).first()) == AWKWARD


def test_sql_ident_names_any_column(spark):
    df = spark.createDataFrame([tuple(range(len(AWKWARD)))], [f"n{i}" for i in range(len(AWKWARD))])
    df = df.toDF(*AWKWARD)
    got = df.selectExpr(*[f"{sql_ident(n)} + 1 AS {sql_ident(n)}" for n in AWKWARD])
    assert got.columns == AWKWARD
    assert list(got.first()) == list(range(1, len(AWKWARD) + 1))


def test_parse_timestamp_default_time_and_zone(spark):
    df = spark.createDataFrame([(" 03/01/2021 ",), ("",), (None,)], "d string")
    text = parse_timestamp(sql_ident("d"), "MM/dd/yyyy", "09:30:00", "America/New_York")
    rows = [r[0] for r in df.selectExpr(text).collect()]
    assert rows == [dt.datetime(2021, 3, 1, 14, 30), None, None]


def test_parse_timestamp_awkward_time_of_day_stays_a_value(spark):
    """A time of day that tries to close the literal is one (unparsable)
    value: the timestamp is null, the query is unchanged."""
    df = spark.createDataFrame([("03/01/2021",)], "d string")
    for tod in ("09:30:00' , 'HH", "09:30:00\\"):
        text = parse_timestamp(sql_ident("d"), "MM/dd/yyyy", tod)
        assert df.selectExpr(text).first()[0] is None
