"""Seeded inputs for the workloads, with the outputs they must produce.

Pure Python on purpose: values are drawn from ``random.Random(seed)``,
written to disk in the golden encoding, and the outputs the pipeline must
produce are computed here by a reference encoder that shares no code with
``finporter_spark.encoder``. The same seed gives byte-identical files.

Injected malformed rows are of kinds the decoders reject:

- broker transactions: an unparseable date (``31/12/2021`` is dd/MM, the
  importer reads MM/dd/yyyy) or an empty Account (required key);
- positions exports: a qty of ``XX``;
- AllocData tables: a truncated row. An empty required *string* key is
  accepted by AllocData by design (it decodes to ``""``), so truncation,
  which lands in the corrupt-record channel, is the reject used there.

Transaction sort keys (date, symbol, shares) are unique within a file, so
the per-file surrogate IDs the importer assigns are deterministic.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
from types import SimpleNamespace as Expected  # what one input must produce

# Declared AllocData attribute order and types (the golden spec):
# s = string, s! = required string, b = bool, i = int, d = double,
# t = timestamp, t! = required timestamp.
ENTITIES: dict[str, list[tuple[str, str]]] = {
    "allocAccount": [
        ("accountID", "s!"), ("title", "s"), ("isActive", "b"),
        ("isTaxable", "b"), ("canTrade", "b"), ("strategyID", "s"),
    ],
    "allocAllocation": [
        ("strategyID", "s!"), ("assetID", "s!"), ("targetPct", "d"),
        ("isLocked", "b"),
    ],
    "allocAsset": [
        ("assetID", "s!"), ("title", "s"), ("colorCode", "i"),
        ("parentAssetID", "s"),
    ],
    "allocHolding": [
        ("accountID", "s!"), ("securityID", "s!"), ("lotID", "s!"),
        ("shareCount", "d"), ("shareBasis", "d"), ("acquiredAt", "t"),
    ],
    "allocSecurity": [
        ("securityID", "s!"), ("assetID", "s"), ("sharePrice", "d"),
        ("updatedAt", "t"), ("trackerID", "s"),
    ],
    "allocStrategy": [("strategyID", "s!"), ("title", "s")],
    "allocTransaction": [
        ("action", "s!"), ("transactedAt", "t!"), ("accountID", "s!"),
        ("securityID", "s!"), ("lotID", "s"), ("shareCount", "d"),
        ("sharePrice", "d"), ("realizedGainShort", "d"),
        ("realizedGainLong", "d"), ("txnID", "s"),
    ],
}

REJECT_SHARE = 0.01

TXN_HEADER = "Date,Action,Symbol,Account,Shares,Price"
POS_HEADER = "Symbol,Description,Qty,Price,Mkt Val,Cost Basis,Date Acquired"
TXN_PREFIX = "X"  # BrokerTransactionsImporter's default id_prefix

_EPOCH = dt.datetime(2019, 1, 1)
_WORDS = ("Total", "Bond", "Growth", "Value", "Index", "Core", "Intl", "Cap")


# ---------------------------------------------------------------- encoding

def encode_field(v, delimiter: str) -> str:
    """One field under FINporter's delimited rules: nil is empty, ``"`` is
    escaped as ``\\"``, and a field is quoted only if it holds the
    delimiter; doubles print shortest round-trip, timestamps ISO-8601 Z."""
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%SZ")
    s = v.replace('"', '\\"')
    return f'"{s}"' if delimiter in s else s


def encode_line(row, delimiter: str) -> str:
    return delimiter.join(encode_field(v, delimiter) for v in row)


def encode_table(names, rows, delimiter: str) -> str:
    """Header plus one line per row, each followed by ``\\n``."""
    return "".join(
        line + "\n"
        for line in [delimiter.join(names)]
        + [encode_line(r, delimiter) for r in rows]
    )


def json_element(names, row) -> str:
    """One row as Spark's JSON writer renders it: null fields omitted,
    timestamps with milliseconds and ``Z``, doubles shortest round-trip."""
    parts = []
    for n, v in zip(names, row):
        if v is None:
            continue
        if isinstance(v, dt.datetime):
            js = json.dumps(v.strftime("%Y-%m-%dT%H:%M:%S.000Z"))
        elif isinstance(v, bool):
            js = "true" if v else "false"
        elif isinstance(v, float):
            js = repr(v)
        else:
            js = json.dumps(v, ensure_ascii=False)
        parts.append(f"{json.dumps(n)}:{js}")
    return "{" + ",".join(parts) + "}"


def encode_json(names, rows) -> str:
    return "[" + ",".join(json_element(names, r) for r in rows) + "]"


# ---------------------------------------------------------------- values

def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def _when(rng: random.Random, days: int = 900) -> dt.datetime:
    return _EPOCH + dt.timedelta(days=rng.randrange(days))


def _title(rng: random.Random) -> str:
    words = rng.sample(_WORDS, 2)
    # a comma forces golden quoting on CSV output
    return f"{words[0]}, {words[1]}" if rng.random() < 0.2 else " ".join(words)


def entity_rows(entity: str, n: int, rng: random.Random, tag: str = "") -> list[tuple]:
    """``n`` valid rows of one AllocData entity with unique keys."""
    rows = []
    for i in range(n):
        if entity == "allocAccount":
            rows.append((
                f"A{tag}{i}", _title(rng) if rng.random() < 0.9 else None,
                rng.random() < 0.5, None if rng.random() < 0.1 else rng.random() < 0.5,
                True, f"S{rng.randrange(25)}",
            ))
        elif entity == "allocAllocation":
            rows.append((
                f"S{tag}{i // 4}", f"AS{i % 4}", _money(rng, 0.01, 0.5),
                rng.random() < 0.3,
            ))
        elif entity == "allocAsset":
            rows.append((
                f"AS{tag}{i}", _title(rng), rng.randrange(1 << 24),
                "Total" if rng.random() < 0.7 else None,
            ))
        elif entity == "allocHolding":
            rows.append((
                f"A{rng.randrange(5000)}", f"SEC{tag}{i}",
                "" if rng.random() < 0.5 else f"L{rng.randrange(9)}",
                _money(rng, 1, 5000), _money(rng, 1, 900),
                None if rng.random() < 0.05 else _when(rng),
            ))
        elif entity == "allocSecurity":
            rows.append((
                f"SEC{tag}{i}", f"AS{rng.randrange(25)}", _money(rng, 1, 900),
                _when(rng), None if rng.random() < 0.3 else f"TRK{rng.randrange(99)}",
            ))
        elif entity == "allocStrategy":
            rows.append((f"S{tag}{i}", _title(rng)))
        elif entity == "allocTransaction":
            when = _when(rng)
            rows.append((
                rng.choice(("BUY", "SELL")), when, f"A{rng.randrange(5000)}",
                f"SEC{tag}{i}", None, _money(rng, 1, 500), _money(rng, 1, 900),
                None, None, f"T{tag}{when:%Y%m%d}{i:05d}",
            ))
        else:
            raise ValueError(f"unknown entity {entity}")
    return rows


def truncated_line(row, delimiter: str) -> str:
    """A malformed AllocData line: the row cut to fewer fields."""
    keep = max(1, len(row) // 2)
    return encode_line(row[:keep], delimiter)


# ---------------------------------------------------------------- files

def write_alloc_file(path, entity, rows, delimiter, rng, n_bad):
    """AllocData table with ``n_bad`` truncated rows spliced in."""
    names = [n for n, _ in ENTITIES[entity]]
    lines = [delimiter.join(names)] + [encode_line(r, delimiter) for r in rows]
    for _ in range(n_bad):
        victim = rows[rng.randrange(len(rows))]
        lines.insert(1 + rng.randrange(len(lines)), truncated_line(victim, delimiter))
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write("".join(line + "\n" for line in lines))


def broker_rows(n, rng: random.Random, tag: str):
    """(file rows, expected transaction rows, n_bad) for one broker file.

    Sort keys are unique per file, so the importer's row_number over
    (transactedAt, securityID, shareCount) is deterministic."""
    raw, good, n_bad = [], [], 0
    used = set()
    for i in range(n):
        if rng.random() < REJECT_SHARE:
            if rng.random() < 0.5:
                raw.append(("31/12/2021", "buy", f"BAD{tag}{i}", "A1", "1", "2.5"))
            else:
                raw.append(("03/01/2021", "sell", f"BAD{tag}{i}", "", "1", "2.5"))
            n_bad += 1
            continue
        while True:
            day = _when(rng, 700)
            sym = f"SYM{rng.randrange(400)}"
            shares = float(rng.randrange(1, 500))
            if (day, sym, shares) not in used:
                used.add((day, sym, shares))
                break
        action = rng.choice(("buy", "sell", "Buy", "SELL"))
        price = _money(rng, 1, 900)
        acct = f"A{tag}{rng.randrange(50)}"
        raw.append((f"{day:%m/%d/%Y}", action, sym, acct, repr(shares), repr(price)))
        good.append((action.upper(), day, acct, sym, "", shares, price, None, None))
    good.sort(key=lambda r: (r[1], r[3], r[5]))
    txns = [
        r + (f"{TXN_PREFIX}{r[1]:%Y%m%d}{k:05d}",) for k, r in enumerate(good, 1)
    ]
    return raw, txns, n_bad


def write_broker_file(path, raw, crlf=False):
    eol = "\r\n" if crlf else "\n"
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(TXN_HEADER + eol)
        fh.writelines(",".join(r) + eol for r in raw)


def positions_file(path, n, rng: random.Random, tag: str):
    """Positions export with banner and account line; returns
    (holding rows, n_bad)."""
    acct = f"{rng.choice(('abcd', 'wxyz', 'ira'))}-{rng.randrange(10_000):04d}"
    lines = [
        '"Positions"', "",
        f'"{rng.choice(("Individual", "Joint", "Roth IRA"))} Brokerage   {acct}"',
        POS_HEADER,
    ]
    good, n_bad = [], 0
    for i in range(n):
        sym = f"P{tag}{i}"
        if rng.random() < REJECT_SHARE * 3:
            lines.append(f"{sym},not-a-number,XX,,,,")
            n_bad += 1
            continue
        qty = float(rng.randrange(1, 2000)) / 4
        price = _money(rng, 1, 900)
        # quarter-dollar basis: qty * basis is exact, so the importer's
        # cost / qty gives the basis back bit for bit
        basis = rng.randrange(4, 3600) / 4
        cost = None if rng.random() < 0.1 else qty * basis
        day = None if rng.random() < 0.1 else _when(rng)
        desc = f'"{_title(rng)}"' if rng.random() < 0.3 else "Fund"
        lines.append(",".join((
            sym, desc, repr(qty), repr(price), repr(round(qty * price, 2)),
            "" if cost is None else repr(cost),
            "" if day is None else f"{day:%m/%d/%Y}",
        )))
        good.append((acct, sym, "", qty, None if cost is None else basis, day))
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write("".join(line + "\r\n" for line in lines))
    return good, n_bad


# ---------------------------------------------------------------- workloads

STRAY_FILES = {
    "notes.txt": b"quarterly notes\nnothing tabular here\n",
    "empty.csv": b"",
    "latin1.csv": b"Symbol,Qty\n\xe9\xe8\xff,1\n",
    "renamed_header.csv": b"accountID,name,isActive,isTaxable,canTrade,strategyID\nA1,x,true,true,true,S1\n",
}
OUTPUT_FORMATS = ("csv", "tsv", "json")


# Rows per file, by position in the drop folder. Sizes and kinds follow the
# position, not the seed, so every seed gives the same amount of work;
# the seed draws the values.
FILE_ROWS = (30, 2500, 90, 800, 45, 1500, 200, 400, 60, 1200, 120, 600)
FILE_KINDS = ("positions", "broker", "alloc", "alloc")


def make_files(root: str, seed: int, n_files: int) -> list[Expected]:
    """A file-drop folder of ``n_files`` small inputs plus the stray files.

    Sizes go from tens to a few thousand rows; each file gets the output
    format it must be transformed to, rotating CSV, TSV, JSON. AllocData
    files cycle through the seven entities, alternating CSV and TSV."""
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    entities = list(ENTITIES)
    out: list[Expected] = []
    n_alloc = 0
    for k in range(n_files):
        n = FILE_ROWS[k % len(FILE_ROWS)]
        fmt = OUTPUT_FORMATS[k % 3]
        kind = FILE_KINDS[k % len(FILE_KINDS)]
        tag = f"k{k}"
        if kind == "positions":
            path = os.path.join(root, f"{k:03d}_positions.csv")
            rows, n_bad = positions_file(path, n, rng, tag)
            entity, importer, in_fmt = "allocHolding", "positions", "csv"
        elif kind == "broker":
            path = os.path.join(root, f"{k:03d}_broker.csv")
            raw, rows, n_bad = broker_rows(n, rng, tag)
            write_broker_file(path, raw, crlf=k % 8 == 1)
            entity, importer, in_fmt = "allocTransaction", "brokertxn", "csv"
        else:
            entity = entities[n_alloc % len(entities)]
            in_fmt = "tsv" if n_alloc % 2 else "csv"
            n_bad = 1 if n_alloc % 3 == 0 else 0
            n_alloc += 1
            delim = "\t" if in_fmt == "tsv" else ","
            path = os.path.join(root, f"{k:03d}_{entity}.{in_fmt}")
            rows = entity_rows(entity, n, rng, tag)
            write_alloc_file(path, entity, rows, delim, rng, n_bad)
            importer = "allocdata"
        names = [c for c, _ in ENTITIES[entity]]
        if fmt == "json":
            text = encode_json(names, rows)
        else:
            text = encode_table(names, rows, "\t" if fmt == "tsv" else ",")
        out.append(Expected(
            path=path, kind=kind, entity=entity, out_fmt=fmt, in_fmt=in_fmt,
            detect=[f"{importer}: {entity}: {in_fmt}"], text=text,
            n_rows=len(rows) + n_bad, n_bad=n_bad, error=None,
        ))
    for name, data in STRAY_FILES.items():
        path = os.path.join(root, f"zz_{name}")
        with open(path, "wb") as fh:
            fh.write(data)
        out.append(Expected(
            path=path, kind="stray", entity=None, out_fmt="csv", in_fmt=None,
            detect=[], text=None, n_rows=0, n_bad=0,
            error="SourceFormatNotRecognized",
        ))
    return out


def make_catalog(root: str, seed: int, sf: float) -> str:
    """The catalog tables at ``sf``, drawn by tools/gen_testdata.py with
    this seed in place of its fixed one. Returns the sf directory."""
    import numpy as np

    from tools import gen_testdata

    sf_dir = os.path.join(root, f"sf{sf:g}")
    real = np.random.default_rng
    gen_testdata.np.random.default_rng = lambda _fixed: real(seed)
    try:
        import contextlib
        import io

        with contextlib.redirect_stdout(io.StringIO()):
            gen_testdata.gen(sf, sf_dir)
    finally:
        gen_testdata.np.random.default_rng = real
    return sf_dir
