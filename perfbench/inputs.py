"""Seeded input generator for the benchmark.

One seed fixes every input a run feeds the program: the batch tables
the analytics workload queries, the order of each analytics cycle, and
the change files the live workloads ingest. The program sees only the
files written here, never the seed.

Tables follow the column names, types and value domains of the
repository's graded fixture set (FIXTURES.md), at a chosen scale
factor: `sf=0.01` gives about 60,000 lineitem rows. Change files carry
the `events` schema with fresh monotone `event_id` and `ts`, so a
later file always wins last-writer-wins against an earlier one.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: tables the analytics mix reads
TABLES = ("region", "nation", "customer", "supplier", "orders",
          "lineitem", "documents")

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
#: key space of the sf0.1 `events` table
N_USERS = 1500
ROWS_PER_CHANGE_FILE = 2000

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                      "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                        "4-NOT SPECIFIED", "5-LOW"])
_VOCAB = np.array(
    "a the data spark stream batch query table row column key value "
    "join group agg filter sort hash scan window merge order line part "
    "customer vector fast slow big small index".split())
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_EPOCH_DAY_1995 = 9131  # 1995-01-01
_US_PER_DAY = 86_400_000_000
_EVENTS_T0_US = 1_706_745_600_000_000  # 2024-02-01


def rng(seed: int, stream: str, index: int = 0) -> np.random.Generator:
    """Independent generator per (seed, stream, index), so adding a
    table or a file never shifts the values of another."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode()), index])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform values with two decimals, as the fixture tables have."""
    cents = rng.integers(round(lo * 100), round(hi * 100) + 1, n)
    return cents / 100.0


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _US_PER_DAY,
                    type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def make_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the analytics tables as `<out_dir>/<name>.parquet`, the
    layout `catalog.load_table` reads. Returns `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_docs = max(500, int(50_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }), os.path.join(out_dir, "region.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(out_dir, "nation.parquet"))

    r = rng(seed, "customer")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _SEGMENTS[r.integers(0, 5, n_cust)],
    }), os.path.join(out_dir, "customer.parquet"))

    r = rng(seed, "supplier")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    }), os.path.join(out_dir, "supplier.parquet"))

    r = rng(seed, "orders")
    # order dates span 1995-01-01 .. 2001-08-01 like the fixtures
    o_days = _EPOCH_DAY_1995 + r.integers(0, 2404, n_ord)
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days_to_ts(o_days),
        "o_orderpriority": _PRIORITIES[r.integers(0, 5, n_ord)],
    }), os.path.join(out_dir, "orders.parquet"))

    r = rng(seed, "lineitem")
    lines = r.integers(1, 8, n_ord)  # 1..7 lines, about 4 per order
    n_li = int(lines.sum())
    order_of = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_li) - starts + 1).astype(np.int32)
    _write(pa.table({
        "l_orderkey": order_of,
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_li)],
        "l_shipdate": _days_to_ts(o_days[order_of]
                                  + r.integers(1, 122, n_li)),
    }), os.path.join(out_dir, "lineitem.parquet"))

    r = rng(seed, "documents")
    texts = []
    for i in range(n_docs):
        u = r.random() if i >= 10 else 1.0
        if u < 0.02:
            # exact duplicate of an earlier document
            words = texts[int(r.integers(0, i))].split(" ")
        elif u < 0.07:
            # near-duplicate of an earlier document: one word swapped
            words = texts[int(r.integers(0, i))].split(" ")
            words[int(r.integers(0, len(words)))] = str(
                _VOCAB[r.integers(0, len(_VOCAB))])
        else:
            words = _VOCAB[r.integers(0, len(_VOCAB),
                                      int(r.integers(10, 101)))].tolist()
        texts.append(" ".join(words))
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[r.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), os.path.join(out_dir, "documents.parquet"))
    return out_dir


def cycle_order(names: list[str], seed: int, cycle: int) -> list[str]:
    """The analytics mix in the order the seed fixes for one cycle."""
    perm = rng(seed, "cycle", cycle).permutation(len(names))
    return [names[i] for i in perm]


def make_change_file(path: str, seed: int, index: int) -> str:
    """Change file `index` of a live run: `ROWS_PER_CHANGE_FILE`
    events whose `event_id` and `ts` continue where file `index - 1`
    stopped."""
    rows = ROWS_PER_CHANGE_FILE
    r = rng(seed, "changes", index)
    eid = np.arange(index * rows, (index + 1) * rows, dtype=np.int64)
    return _write(pa.table({
        "event_id": eid,
        "ts": pa.array(_EVENTS_T0_US + eid * 1_000_000,
                       type=pa.timestamp("us")),
        "user_id": r.integers(0, N_USERS, rows).astype(np.int64),
        "event_type": EVENT_TYPES[r.integers(0, 5, rows)],
        "value": _money(r, 0.0, 600.0, rows),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, rows)],
    }), path)
