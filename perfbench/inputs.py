"""Inputs the benchmark generates: the query tables, the Price-Paid CSV and
the seeded call order.

The query tables reproduce the shape of the engine's TPC-H-ish test tables
(ten parquet files, same schemas, value domains and row counts at a given
scale) from a fixed generator seed, so every run reads the same tables.
``--seed`` sets only the order of calls and the content of the ingest CSV.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at scale 1.0; the engine's sf0.1 test tables have these.
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
TABLE_SEED = 42
TABLES_VERSION = 1

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "new", "large", "hot", "cold", "blue", "old", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPE = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _day_ts(rng: np.random.Generator, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    days = rng.integers(0, (hi - lo).days + 1, n)
    us = _micros(lo) + days.astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.05:
            # near-duplicate: an earlier document with one word appended
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and u < 0.052:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [_LANGS[j] for j in rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def build_tables(scale: float) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` (1.0 = the sf0.1 row counts)."""
    rng = np.random.default_rng(TABLE_SEED)
    n = {t: max(int(r * scale), 50) for t, r in BASE_ROWS.items()}
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    nl, ne = n["lineitem"], n["events"]
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": _keyed_names("Customer", nc),
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, nc)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": _keyed_names("Supplier", ns),
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, np_)],
            "p_type": [_PTYPE[j] for j in rng.integers(0, 6, np_)],
            "p_size": rng.integers(1, 51, np_).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _day_ts(rng, no, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
            "o_orderpriority": [_PRIORITY[j] for j in rng.integers(0, 5, no)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, nl)],
            "l_linestatus": [("O", "F")[j] for j in rng.integers(0, 2, nl)],
            "l_shipdate": _day_ts(rng, nl, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
        }
    )
    gaps = rng.exponential(30 * 86_400e6 / ne, ne).astype(np.int64) + 1
    t["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(_micros(dt.datetime(2024, 1, 1)) + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": rng.integers(0, max(ne // 66, 10), ne).astype(np.int64),
            "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def ensure_tables(root: str, scale: float) -> str:
    """Write the tables once under ``root`` and return their directory.

    The directory is published by rename after every file is written, so a
    run that was interrupted mid-write leaves nothing that a later run reads.
    """
    name = f"tables-v{TABLES_VERSION}-x{scale:g}"
    dest = os.path.join(root, name)
    if os.path.isdir(dest):
        return dest
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, f".{name}.{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for table, data in build_tables(scale).items():
        pq.write_table(data, os.path.join(tmp, f"{table}.parquet"))
    os.rename(tmp, dest)
    return dest


def call_order(names: list[str], seed: int) -> list[str]:
    """The workload's calls in the order this seed runs them."""
    order = sorted(names)
    random.Random(seed).shuffle(order)
    return order


# --- Price-Paid CSV (FIXTURES.md section 1) --------------------------------

_PROPERTY = "DSTFO"
_STREETS = ["HIGH STREET", "STATION ROAD", "CHURCH LANE", "MILL ROAD", "PARK AVENUE",
            "VICTORIA ROAD", "GREEN LANE", "MANOR WAY", "KING STREET", "THE CRESCENT"]
_TOWNS = ["LONDON", "LEEDS", "BRISTOL", "YORK", "BATH", "DERBY", "LEICESTER", "EXETER"]
_COUNTIES = [f"COUNTY {i:03d}" for i in range(100)]
_LOCALITIES = ["", "", "", "OLD TOWN", "NEWTON", "HILLSIDE"]
_LETTERS = "ABCDEFGHJKLMNPRSTUWYZ"
PLANTED_MAX = dt.datetime(2024, 3, 28, 0, 0)


def _guid(rng: random.Random) -> str:
    h = "%032X" % rng.getrandbits(128)
    return "{%s-%s-%s-%s-%s}" % (h[:8], h[8:12], h[12:16], h[16:20], h[20:])


def write_pp_csv(path: str, seed: int, rows: int) -> dict:
    """Write a headerless 16-column Price-Paid CSV and return what was planted.

    ``\\N`` is the only NULL sentinel (in ``ppd_cat``), empty strings are
    values, about 2% of rows replay an earlier ``transaction_unique_id``
    with another ``record_op``, and exactly one row carries
    ``PLANTED_MAX``, the maximum ``transaction_date``.
    """
    rng = random.Random(seed)
    lo = dt.datetime(1995, 1, 1)
    span_min = int((PLANTED_MAX - lo).total_seconds() // 60)
    planted_row = rng.randrange(rows)
    ids: list[str] = []
    null_ppd = 0
    with open(path, "w", newline="") as fh:
        for i in range(rows):
            if ids and rng.random() < 0.02:
                uid, op = ids[rng.randrange(len(ids))], rng.choice("CD")
            else:
                uid, op = _guid(rng), "A"
                ids.append(uid)
            if i == planted_row:
                when = PLANTED_MAX
            else:
                when = lo + dt.timedelta(minutes=rng.randrange(span_min))
            postcode = "" if rng.random() < 0.01 else (
                f"{rng.choice(_LETTERS)}{rng.choice(_LETTERS)}{rng.randrange(1, 99)} "
                f"{rng.randrange(10)}{rng.choice(_LETTERS)}{rng.choice(_LETTERS)}"
            )
            if rng.random() < 0.05:
                ppd, null_ppd = "\\N", null_ppd + 1
            else:
                ppd = rng.choice("AB")
            town = rng.choice(_TOWNS)
            fh.write(",".join((
                uid,
                str(int(min(max(rng.lognormvariate(12.3, 0.8), 50_000), 10_000_000))),
                when.strftime("%Y-%m-%d %H:%M"),
                postcode,
                rng.choice(_PROPERTY),
                rng.choice("YN"),
                rng.choice("FL"),
                str(rng.randrange(1, 300)),
                "" if rng.random() < 0.8 else f"FLAT {rng.randrange(1, 40)}",
                rng.choice(_STREETS),
                rng.choice(_LOCALITIES),
                town,
                town,
                rng.choice(_COUNTIES),
                ppd,
                op,
            )) + "\n")
    return {
        "rows": rows,
        "bytes": os.path.getsize(path),
        "max_date": PLANTED_MAX.date(),
        "null_ppd_cat": null_ppd,
    }
