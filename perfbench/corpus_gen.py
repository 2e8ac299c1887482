"""Seeded corpus generator for the maintained-table workload.

Writes the engine's TPC-H-shaped facts and the text corpus with the same
schemas as the engine's test data (``catalog.TABLES``), each table a
directory dataset so a day can be appended as one more part file — the
shape the incremental refreshes key on.  The same seed gives the same
files.  Documents carry near-duplicate copies and shared passages, so the
text index sees repeated content.

Sizes follow the engine's sf0.01 test data (TESTDATA.md, the scale its
DuckDB parity gate runs at): its row counts, its 31-word vocabulary and
10–100 words per document, its language mix, 1–7 line items per order and
order dates from 1995-01-01 to 2001-08-01.  An appended day is 1% of the
base rows, the share ``bench.py``
appends to stage one ingest day.  The benchmark generates these files
rather than copying the test data because it reads nothing outside its
checkout.
"""

from __future__ import annotations

import os
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FIRST_DAY = date(1995, 1, 1)
BASE_DAYS = 2404  # order dates 1995-01-01 .. 2001-08-01

# sf0.01 row counts; a day appends 1% of the growing tables.
BASE_DOCS = 500
BASE_ORDERS = 15000
LINES_PER_ORDER = 4
N_CUSTOMERS = 1500
N_SUPPLIERS = 100
N_PARTS = 2000
DAY_DOCS = BASE_DOCS // 100
DAY_ORDERS = BASE_ORDERS // 100
DAY_ID_STRIDE = 100_000_000  # above every earlier id, derived duplicate ids included

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "documents")


def _write(sf: str, table: str, part: str, tbl: pa.Table) -> None:
    d = os.path.join(sf, f"{table}.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(tbl, os.path.join(d, f"part-{part}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int, pool: list[str]) -> list[str]:
    """Random word-bag documents; a quarter copy an earlier document with a
    few words changed and a tenth splice in a shared passage."""
    passages = [" ".join(rng.choice(VOCAB, 12)) for _ in range(8)]
    out = []
    for _ in range(n):
        r = rng.random()
        if pool and r < 0.25:
            words = pool[int(rng.integers(len(pool)))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(len(words)))] = str(rng.choice(VOCAB))
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(VOCAB, int(rng.integers(10, 89))))
            if r > 0.9:
                text = f"{text} {passages[int(rng.integers(len(passages)))]}"
        pool.append(text)
        out.append(text)
    return out


def _documents(rng: np.random.Generator, ids: np.ndarray, pool: list[str]) -> pa.Table:
    texts = _texts(rng, len(ids), pool)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, len(ids), p=LANG_P), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, N_SOURCES, len(ids))], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _orders_lines(
    rng: np.random.Generator, keys: np.ndarray, day_lo: int, day_hi: int
) -> tuple[pa.Table, pa.Table]:
    n = len(keys)
    odays = rng.integers(day_lo, day_hi, n)
    odates = [datetime.combine(FIRST_DAY + timedelta(days=int(d)), datetime.min.time()) for d in odays]
    orders = pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n), pa.float64()),
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n), pa.string()),
    })
    per = rng.integers(1, 2 * LINES_PER_ORDER, n)
    lk = np.repeat(keys, per)
    m = len(lk)
    lineno = np.concatenate([np.arange(1, p + 1) for p in per]).astype(np.int32)
    # An appended day ships on its own date, so refreshing that day's month
    # covers every row it adds.
    ship = np.repeat(odays, per)
    if day_hi - day_lo > 1:
        ship = ship + rng.integers(1, 120, m)
    qty = rng.integers(1, 51, m).astype(np.float64)
    lines = pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PARTS, m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, m), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, 900, 2000, m), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], m), pa.string()),
        "l_shipdate": pa.array(
            [datetime.combine(FIRST_DAY + timedelta(days=int(d)), datetime.min.time()) for d in ship],
            pa.timestamp("us")),
    })
    return orders, lines


class Corpus:
    """A generated dataset directory that grows one appended day at a time."""

    def __init__(self, sf: str, seed: int):
        self.sf, self.seed = sf, seed
        self.days = 0
        self._pool: list[str] = []

    def write_base(self) -> None:
        """Write every table's base part file."""
        rng = np.random.default_rng([self.seed, 1])
        _write(self.sf, "region", "00000", pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}))
        _write(self.sf, "nation", "00000", pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
        _write(self.sf, "customer", "00000", pa.table({
            "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMERS)]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999, 9999, N_CUSTOMERS), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMERS))}))
        _write(self.sf, "supplier", "00000", pa.table({
            "s_suppkey": pa.array(range(N_SUPPLIERS), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)]),
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999, 9999, N_SUPPLIERS), pa.float64())}))
        _write(self.sf, "part", "00000", pa.table({
            "p_partkey": pa.array(range(N_PARTS), pa.int64()),
            "p_name": pa.array([f"{rng.choice(['small', 'red', 'large'])} {rng.choice(['ring', 'widget', 'gear'])}"
                                for _ in range(N_PARTS)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)]),
            "p_type": pa.array(rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], N_PARTS)),
            "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + np.arange(N_PARTS) * 0.1, 2), pa.float64())}))
        orders, lines = _orders_lines(rng, np.arange(BASE_ORDERS), 0, BASE_DAYS)
        _write(self.sf, "orders", "00000", orders)
        _write(self.sf, "lineitem", "00000", lines)
        _write(self.sf, "documents", "00000", _documents(rng, np.arange(BASE_DOCS), self._pool))

    def append_day(self) -> tuple[str, int]:
        """Append the next day's orders, line items and documents
        as new part files.  Returns the day (yyyy-MM-dd) and rows appended."""
        k = self.days
        self.days += 1
        rng = np.random.default_rng([self.seed, 2, k])
        base = (k + 1) * DAY_ID_STRIDE
        day = BASE_DAYS + k
        orders, lines = _orders_lines(rng, base + np.arange(DAY_ORDERS), day, day + 1)
        docs = _documents(rng, base + np.arange(DAY_DOCS), self._pool)
        part = f"day{k:04d}"
        for table, tbl in (("orders", orders), ("lineitem", lines), ("documents", docs)):
            _write(self.sf, table, part, tbl)
        rows = orders.num_rows + lines.num_rows + docs.num_rows
        return (FIRST_DAY + timedelta(days=day)).isoformat(), rows
