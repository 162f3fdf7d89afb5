"""Driver round-trip budgets for the per-file ingest path.

FINporter runs detect -> decode -> export once per file, so the driver's
fixed cost per file is what a user pays. Each py4j round trip is a socket
exchange with the driver JVM plus reflection; decode and export build
their plans as SQL text so that one file costs about a hundred of them.
A plan rebuilt from Column-API calls costs 500 to 1,300.
"""

from __future__ import annotations

import pytest

from finporter_spark.caching import release_caches
from finporter_spark.importers.allocdata import (
    AllocDataImporter,
    BrokerTransactionsImporter,
)
from finporter_spark.importers.tabular import PositionsImporter
from finporter_spark.model import AllocFormat, AllocSchema

BUDGET = 200

ALLOC_TRANSACTIONS = (
    "action,transactedAt,accountID,securityID,lotID,shareCount,"
    "sharePrice,realizedGainShort,realizedGainLong,txnID\n"
    "BUY,2021-03-01T00:00:00Z,acc1,VTI,,3.0,220.1,,,A2021030100001\n"
    "SELL,2021-03-02,acc1,BND,,-2.0,85.5,1.5,-0.25,A2021030200001\n"
)
BROKER = (
    "Date,Action,Symbol,Account,Shares,Price\n"
    "03/01/2021,buy,VTI,acc1,3,220.10\n"
    "03/02/2021,sell,VTI,acc1,-1,221.00\n"
    "bad-date,buy,XXX,acc1,1,1.00\n"
)
POSITIONS = (
    '"Positions"\r\n'
    "\r\n"
    '"Individual Something                       abcd-1234"\r\n'
    "Symbol,Description,Qty,Price,Mkt Val,Cost Basis,Date Acquired\r\n"
    "VTI,Total Stock Market,10.25,220.10,2256.03,1800.00,03/01/2021\r\n"
    "BAD,not-a-number,XX,,,,\r\n"
)

# importer, schema, input, decode keywords, rows decoded
CASES = {
    "allocdata": (AllocDataImporter(), AllocSchema.TRANSACTION, ALLOC_TRANSACTIONS, {}, 2),
    "broker": (BrokerTransactionsImporter(), AllocSchema.TRANSACTION, BROKER, {"id_prefix": "A"}, 2),
    "positions": (PositionsImporter(), AllocSchema.HOLDING, POSITIONS, {"account_id": "abcd-1234"}, 1),
}


@pytest.mark.parametrize("fmt", [AllocFormat.CSV, AllocFormat.JSON], ids=lambda f: f.value)
@pytest.mark.parametrize("case", sorted(CASES))
def test_decode_and_export_round_trip_budget(spark, tmp_path, py4j_round_trips, case, fmt):
    imp, schema, text, kw, n_rows = CASES[case]
    p = tmp_path / "in.csv"
    p.write_bytes(text.encode())
    py4j_round_trips.n = 0
    good, bad = imp.decode(spark, str(p), output_schema=schema, **kw)
    out = imp.export(good, fmt, schema)
    used = py4j_round_trips.n
    release_caches(good, bad)
    if fmt is AllocFormat.CSV:
        assert out.count("\n") == 1 + n_rows
    else:
        assert out.count("{") == n_rows
    assert used <= BUDGET, f"{case} decode + export made {used} py4j round trips"
