"""7-entity transform surface: AllocData re-import + broker transactions.

Covers the full TransformHandler dispatch range (TransformHandler.swift:
38-51): every entity schema round-trips encode -> detect -> decode ->
export, surrogate txn IDs match the reference golden format, and the
disambiguation error taxonomy fires when two importers both match.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from finporter_spark.caching import release_caches
from finporter_spark.errors import MultipleImportersMatch
from finporter_spark.handlers import handle_detect, handle_transform
from finporter_spark.importers.allocdata import (
    AllocDataImporter,
    BrokerTransactionsImporter,
)
from finporter_spark.importers.prospector import Prospector, default_prospector
from finporter_spark.model import AllocFormat, AllocSchema, ENTITY_SCHEMAS

# one golden CSV per entity, in declared attribute order
FIXTURES: dict[AllocSchema, str] = {
    AllocSchema.ACCOUNT: (
        "accountID,title,isActive,isTaxable,canTrade,strategyID\n"
        "acc1,Main,true,false,true,strat1\n"
        "acc2,Spare,false,,true,\n"
    ),
    AllocSchema.ALLOCATION: (
        "strategyID,assetID,targetPct,isLocked\n"
        "strat1,Bond,0.35,false\n"
        "strat1,LC,0.65,true\n"
    ),
    AllocSchema.ASSET: (
        "assetID,title,colorCode,parentAssetID\n"
        "Bond,Aggregate Bonds,13,\n"
        "LC,Large Cap,2,Total\n"
    ),
    AllocSchema.HOLDING: (
        "accountID,securityID,lotID,shareCount,shareBasis,acquiredAt\n"
        "acc1,VTI,,10.25,175.5,2021-03-01T00:00:00Z\n"
        "acc1,BND,lot9,5.0,85.25,2020-10-31T00:00:00Z\n"
    ),
    AllocSchema.SECURITY: (
        "securityID,assetID,sharePrice,updatedAt,trackerID\n"
        "VTI,LC,220.1,2021-03-01T12:00:00Z,trk1\n"
        "BND,Bond,85.5,,\n"
    ),
    AllocSchema.STRATEGY: (
        "strategyID,title\nstrat1,60/40\nstrat2,All Weather\n"
    ),
    AllocSchema.TRANSACTION: (
        "action,transactedAt,accountID,securityID,lotID,shareCount,"
        "sharePrice,realizedGainShort,realizedGainLong,txnID\n"
        "BUY,2021-03-01T00:00:00Z,acc1,VTI,,3.0,220.1,,,A2021030100001\n"
        "SELL,2021-03-02T00:00:00Z,acc1,BND,,-2.0,85.5,1.5,-0.25,"
        "A2021030200001\n"
    ),
}


@pytest.mark.parametrize("schema", list(AllocSchema), ids=lambda s: s.value)
def test_allocdata_roundtrip_all_entities(spark, tmp_path, schema):
    """decode(export(x)) == x for every entity — detect picks the right
    schema from the header alone, and the golden encoder reproduces the
    input bytes."""
    src = FIXTURES[schema]
    p = tmp_path / f"{schema.value}.csv"
    p.write_text(src)

    imp = AllocDataImporter()
    det = imp.detect(src.encode())
    assert det == {schema: [AllocFormat.CSV]}

    out = handle_transform(spark, Prospector([imp]), str(p))
    assert out == src


def test_allocdata_rejects_bad_rows(spark, tmp_path):
    p = tmp_path / "alloc.csv"
    p.write_text(
        "strategyID,assetID,targetPct,isLocked\n"
        "strat1,Bond,0.5,false\n"
        "strat2,Gold\n"  # wrong arity -> corrupt-record channel
    )
    good, bad = AllocDataImporter().decode(spark, str(p))
    assert good.count() == 1 and bad.count() == 1


def test_allocdata_accepts_empty_string_key(spark, tmp_path):
    """A present-but-empty required key decodes to "" (Swift non-optional
    String semantics), it is NOT a reject — e.g. MHolding.lotID."""
    p = tmp_path / "h.csv"
    p.write_text(
        "accountID,securityID,lotID,shareCount,shareBasis,acquiredAt\n"
        "acc1,VTI,,1.0,2.0,2021-03-01T00:00:00Z\n"
    )
    good, bad = AllocDataImporter().decode(spark, str(p))
    assert bad.count() == 0
    assert good.first().lotID == ""


def test_broker_txn_surrogate_ids(spark, tmp_path):
    p = tmp_path / "txns.csv"
    p.write_text(
        "Date,Action,Symbol,Account,Shares,Price\n"
        "03/01/2021,buy,VTI,acc1,3,220.10\n"
        "03/01/2021,buy,BND,acc1,5,85.50\n"
        "03/02/2021,sell,VTI,acc1,-1,221.00\n"
        "bad-date,buy,XXX,acc1,1,1.00\n"
    )
    good, bad = BrokerTransactionsImporter().decode(
        spark, str(p), id_prefix="A"
    )
    rows = {r.txnID: r for r in good.collect()}
    # golden shape: prefix + yyyyMMdd + %05d (TxnIDGenTests.swift:24-29)
    assert set(rows) == {
        "A2021030100001",
        "A2021030100002",
        "A2021030200003",
    }
    assert rows["A2021030100001"].securityID == "BND"  # ordered tiebreak
    assert rows["A2021030100001"].action == "BUY"
    assert bad.count() == 1  # unparsable date -> rejected


def test_detect_report_and_disambiguation(spark, tmp_path):
    pros = default_prospector()
    p = tmp_path / "strategy.csv"
    p.write_text(FIXTURES[AllocSchema.STRATEGY])
    assert handle_detect(pros, str(p)) == [
        "allocdata: allocStrategy: csv"
    ]

    # two importers matching the same file -> hard error, never "pick one"
    class Clone(AllocDataImporter):
        id_ = "allocdata2"

    p2 = tmp_path / "acct.csv"
    p2.write_text(FIXTURES[AllocSchema.ACCOUNT])
    with pytest.raises(MultipleImportersMatch):
        handle_transform(
            spark, Prospector([AllocDataImporter(), Clone()]), str(p2)
        )


def test_header_only_file_decodes_empty(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("strategyID,title\n")
    good, bad = AllocDataImporter().decode(spark, str(p))
    assert good.count() == 0 and bad.count() == 0


def test_json_decode_roundtrip_both_shapes(spark, tmp_path):
    """AllocFormat.JSON as input: both the reference's array export and
    Spark's JSON-lines sink decode through the same typed projection."""
    imp = AllocDataImporter()
    # reference-style array export
    src = FIXTURES[AllocSchema.ALLOCATION]
    pc = tmp_path / "a.csv"
    pc.write_text(src)
    good, _ = imp.decode(spark, str(pc), output_schema=AllocSchema.ALLOCATION)
    exported = imp.export(good, AllocFormat.JSON, AllocSchema.ALLOCATION)
    pj = tmp_path / "a.json"
    pj.write_text(exported)
    good2, bad2 = imp.decode(
        spark,
        str(pj),
        input_format=AllocFormat.JSON,
        output_schema=AllocSchema.ALLOCATION,
    )
    assert bad2.count() == 0
    assert sorted(map(tuple, good2.collect())) == sorted(
        map(tuple, good.collect())
    )
    # JSON-lines (Spark sink shape)
    pl = tmp_path / "lines"
    good.write.mode("overwrite").json(str(pl))
    good3, bad3 = imp.decode(
        spark,
        str(pl),
        input_format=AllocFormat.JSON,
        output_schema=AllocSchema.ALLOCATION,
    )
    assert bad3.count() == 0
    assert sorted(map(tuple, good3.collect())) == sorted(
        map(tuple, good.collect())
    )


def test_json_decode_roundtrip_timestamps(spark, tmp_path):
    """Timestamp-bearing entities survive a JSON roundtrip: both the
    array export (export(.JSON)) and Spark's own JSON-lines sink emit
    fractional seconds (2021-03-01T00:00:00.000Z), which the decode
    patterns must accept — silently nulling acquiredAt/transactedAt is
    data loss, and for TRANSACTION (required transactedAt) would
    quarantine every row."""
    imp = AllocDataImporter()
    for schema in (AllocSchema.HOLDING, AllocSchema.TRANSACTION):
        src = FIXTURES[schema]
        pc = tmp_path / f"{schema.value}.csv"
        pc.write_text(src)
        good, _ = imp.decode(spark, str(pc), output_schema=schema)
        ts_col = "acquiredAt" if schema is AllocSchema.HOLDING else (
            "transactedAt"
        )
        # array-export shape
        pj = tmp_path / f"{schema.value}.json"
        pj.write_text(imp.export(good, AllocFormat.JSON, schema))
        good2, bad2 = imp.decode(
            spark, str(pj), input_format=AllocFormat.JSON,
            output_schema=schema,
        )
        assert bad2.count() == 0
        assert sorted(map(tuple, good2.collect())) == sorted(
            map(tuple, good.collect())
        )
        # Spark JSON-lines sink shape (fractional seconds + Z)
        pl = tmp_path / f"{schema.value}_lines"
        good.write.mode("overwrite").json(str(pl))
        good3, bad3 = imp.decode(
            spark, str(pl), input_format=AllocFormat.JSON,
            output_schema=schema,
        )
        assert bad3.count() == 0
        assert good3.where(F.col(ts_col).isNull()).count() == 0
        assert sorted(map(tuple, good3.collect())) == sorted(
            map(tuple, good.collect())
        )


def test_broker_txn_surrogate_ids_restart_per_file(spark, tmp_path):
    """A directory decode numbers each file's rows from 00001: the source
    file is captured at the scan, before the quarantine cache."""
    d = tmp_path / "drop"
    d.mkdir()
    for name, sym in (("a.csv", "VTI"), ("b.csv", "BND")):
        (d / name).write_text(
            "Date,Action,Symbol,Account,Shares,Price\n"
            f"03/01/2021,buy,{sym},acc1,3,220.10\n"
            f"03/02/2021,buy,{sym},acc1,5,85.50\n"
        )
    good, bad = BrokerTransactionsImporter().decode(spark, str(d), id_prefix="A")
    got = sorted((r.securityID, r.txnID) for r in good.collect())
    assert got == [
        ("BND", "A2021030100001"),
        ("BND", "A2021030200002"),
        ("VTI", "A2021030100001"),
        ("VTI", "A2021030200002"),
    ]
    assert bad.count() == 0


def test_tsv_transform_reads_detected_format(spark, tmp_path):
    """handle_transform decodes with the format detect reported, so an
    AllocData TSV round-trips without an explicit input_format."""
    src = FIXTURES[AllocSchema.SECURITY].replace(",", "\t")
    p = tmp_path / "security.tsv"
    p.write_text(src)
    out = handle_transform(
        spark, default_prospector(), str(p), output_format=AllocFormat.TSV
    )
    assert out == src


def test_allocdata_transform_fires_one_job(spark, tmp_path):
    """Decode is a lazy plan (header names are read on the driver) and
    the export is one job: an AllocData CSV transform runs exactly one
    Spark job under its own job group."""
    sc = spark.sparkContext
    p = tmp_path / "holding.csv"
    p.write_text(FIXTURES[AllocSchema.HOLDING])

    def jobs_in(group, fn):
        sc.setJobGroup(group, group)
        try:
            result = fn()
            return result, list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    (good, bad), decode_jobs = jobs_in(
        "test_allocdata_decode", lambda: AllocDataImporter().decode(spark, str(p))
    )
    assert decode_jobs == []
    release_caches(good, bad)
    out, transform_jobs = jobs_in(
        "test_allocdata_transform",
        lambda: handle_transform(spark, default_prospector(), str(p)),
    )
    assert out == FIXTURES[AllocSchema.HOLDING]
    assert len(transform_jobs) == 1


# would end a SQL literal early if left unescaped
AWKWARD = "o'k\\"
BROKER_TXNS = (
    "Date,Action,Symbol,Account,Shares,Price\n"
    "03/01/2021,buy,VTI,acc1,3,220.10\n"
    "03/02/2021,sell,VTI,acc1,-1,221.00\n"
)


def test_awkward_decode_parameters_reach_the_output(spark, tmp_path):
    """id_prefix, account_id and def_time_of_day values are SQL literals in
    the decode plan: quotes and backslashes arrive as themselves."""
    from finporter_spark.importers.tabular import PositionsImporter

    p = tmp_path / "txns.csv"
    p.write_text(BROKER_TXNS)
    good, bad = BrokerTransactionsImporter().decode(spark, str(p), id_prefix=AWKWARD)
    assert sorted(r.txnID for r in good.collect()) == [
        AWKWARD + "2021030100001",
        AWKWARD + "2021030200002",
    ]
    release_caches(good, bad)

    pos = tmp_path / "positions.csv"
    pos.write_text(
        "Symbol,Description,Qty,Price,Mkt Val,Cost Basis,Date Acquired\n"
        "VTI,Total,10,220.10,2201.00,1800.00,03/01/2021\n"
    )
    good, bad = PositionsImporter().decode(spark, str(pos), account_id=AWKWARD)
    assert [r.accountID for r in good.collect()] == [AWKWARD]
    release_caches(good, bad)

    # an unparsable time of day is one value: dates fail to parse and the
    # rows are rejected (transactedAt is required), nothing else changes
    good, bad = BrokerTransactionsImporter().decode(
        spark, str(p), def_time_of_day="00:00:00' , '" + AWKWARD
    )
    assert good.count() == 0 and bad.count() == 2
    release_caches(good, bad)


@pytest.mark.parametrize("schema", [AllocSchema.TRANSACTION, AllocSchema.HOLDING], ids=lambda s: s.value)
def test_awkward_time_zone_raises_spark_error_naming_it(spark, tmp_path, schema):
    from pyspark.errors import PySparkException

    tz = "Europe\\Paris' , 'UTC"
    p = tmp_path / "in.csv"
    if schema is AllocSchema.TRANSACTION:
        p.write_text(BROKER_TXNS)
        imp = BrokerTransactionsImporter()
    else:
        p.write_text(FIXTURES[AllocSchema.HOLDING].replace("2021-03-01T00:00:00Z", "2021-03-01"))
        imp = AllocDataImporter()
    good, bad = imp.decode(spark, str(p), output_schema=schema, time_zone=tz)
    with pytest.raises(PySparkException, match="INVALID_TIMEZONE") as err:
        good.collect()
    assert f"The timezone: {tz} is invalid" in str(err.value)
    release_caches(good, bad)
