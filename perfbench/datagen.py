"""Seeded synthetic inputs in the shape of the engine's fixture tables.

The benchmark never reads fixture data from outside its checkout, so it
stages its own copy of the star schema plus the ``events`` log and the
``documents`` corpus. Column names, types and value ranges follow the
fixture tables the engine's plans were written against (TESTDATA.md):
orders dated 1995-01-01..2001-08-01, events spread over 2024-01-01..30,
a 30-word document vocabulary with ~5 % " dup"-suffixed near-copies.

The same ``(seed, sf)`` always gives byte-identical tables. Rows are
written in a seed-permuted order, so two seeds differ in content and
layout while every size stays fixed by ``sf``; event-type counts,
document lengths and the number of near-copies are fixed too.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "error", "signup"])
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
ORDER_START = dt.date(1995, 1, 1)
ORDER_END = dt.date(2001, 8, 1)
SHIP_START = dt.date(1995, 1, 2)
SHIP_END = dt.date(2001, 11, 4)

VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch".split()
)
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["PROMO", "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM"])
PART_ADJ = np.array("large small hot cold red blue green shiny".split())
PART_NOUN = np.array("ring bolt nut gear pipe valve spring plate".split())
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

#: tables each workload stages (only what its code paths scan)
WAREHOUSE_TABLES = ("region", "nation", "customer", "part", "orders", "lineitem", "events")
PUBLISHER_TABLES = WAREHOUSE_TABLES + ("documents",)


def _sizes(sf: float) -> dict[str, int]:
    """Row counts per table; sf=0.1 matches the fixture's sf0.1 sizes."""
    return {
        "customer": max(int(150_000 * sf), 10),
        "part": max(int(200_000 * sf), 10),
        "orders": max(int(1_500_000 * sf), 10),
        "lineitem": max(int(6_000_000 * sf), 10),
        "events": max(int(1_000_000 * sf), 10),
        "users": max(int(15_000 * sf), 5),
        "documents": max(int(50_000 * sf), 20),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: dt.date, hi: dt.date, n: int) -> pa.Array:
    span = (hi - lo).days
    base = np.datetime64(lo, "us")
    off = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + off, pa.timestamp("us"))


def _permuted(rng: np.random.Generator, t: pa.Table) -> pa.Table:
    return t.take(pa.array(rng.permutation(t.num_rows)))


def make_tables(seed: int, sf: float, names: tuple[str, ...]) -> dict[str, pa.Table]:
    """Generate the named tables. Each table draws from its own stream
    (seed, table index), so the set of tables asked for does not change
    any table's content."""
    n = _sizes(sf)
    out: dict[str, pa.Table] = {}
    for name in names:
        rng = np.random.default_rng([seed, list(_GEN).index(name)])
        out[name] = _permuted(rng, _GEN[name](rng, n))
    return out


def _region(rng, n):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })


def _nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, n):
    k = n["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), k)],
    })


def _part(rng, n):
    k = n["part"]
    adj = PART_ADJ[rng.integers(0, len(PART_ADJ), k)]
    noun = PART_NOUN[rng.integers(0, len(PART_NOUN), k)]
    return pa.table({
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, k).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, len(PART_TYPES), k)],
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10, 2),
    })


def _orders(rng, n):
    k = n["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _days(rng, ORDER_START, ORDER_END, k),
        "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), k)],
    })


def _lineitem(rng, n):
    k = n["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(n["part"] // 20, 1), k), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": rng.integers(0, 11, k) / 100.0,
        "l_tax": rng.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, k)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, k)],
        "l_shipdate": _days(rng, SHIP_START, SHIP_END, k),
    })


def _events(rng, n):
    k = n["events"]
    span_us = EVENT_DAYS * 86_400 * 1_000_000
    off = np.sort(rng.integers(0, span_us, k))
    ts = np.datetime64(EVENT_START, "us") + off.astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], k), pa.int64()),
        "event_type": rng.permutation(np.resize(EVENT_TYPES, k)),
        "value": _money(rng, 0.0, 560.0, k),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })


def _documents(rng, n):
    k = n["documents"]
    # the same multiset of lengths and the same number of near-copies for
    # every seed, so the seed moves content, not the amount of work
    lens = rng.permutation(np.resize(np.arange(10, 70), k))
    words = VOCAB[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # 5 % near-copies of an earlier document: the corpus the MinHash
    # dedup stage exists for
    for i in sorted(rng.choice(np.arange(1, k), k // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(k)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), k, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


_GEN = {
    "region": _region, "nation": _nation, "customer": _customer, "part": _part,
    "orders": _orders, "lineitem": _lineitem, "events": _events,
    "documents": _documents,
}


def stage(out_dir: str, seed: int, sf: float, names: tuple[str, ...]) -> dict[str, int]:
    """Write ``<out_dir>/<name>.parquet`` for each table (one file, one
    row group each, like the fixtures); returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in make_tables(seed, sf, names).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
