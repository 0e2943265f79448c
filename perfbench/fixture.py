"""Seeded TPC-H-ish star schema plus ``events`` and ``documents``: the
tables the benchmarked registry queries read, written as parquet split
into several row groups so scans run in parallel.

Value shapes follow the repo's reference fixtures: 2-decimal money,
integral quantities, a 30-word document vocabulary with ~5% near-
duplicate documents, and JSON ``props`` on events.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector line table "
    "data agg value key stream window a spark part group big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _dates(rng, start, days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev, n_doc = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    t = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
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
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _dates(rng, "1995-01-01", 2405, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": rng.choice(["R", "A", "N"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _dates(rng, "1995-01-02", 2498, n_line),
        }
    )
    gaps = rng.exponential(259.0, n_ev)
    ts = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(0.01 + np.floor(rng.exponential(49.6, n_ev) * 100) / 100.0, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], dest: str, row_groups: int) -> str:
    os.makedirs(dest, exist_ok=True)
    for name, table in tables.items():
        per_group = max(1024, math.ceil(table.num_rows / row_groups))
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"), row_group_size=per_group)
    return dest
