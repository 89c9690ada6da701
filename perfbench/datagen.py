"""Seeded TPC-H-shaped fixture tables for the batch workloads.

The tables have the column names, types and value distributions of the
repository's parquet fixtures (``region nation customer supplier part orders
lineitem events``), so every batch query and its DuckDB oracle run on them
unchanged. The same ``(seed, sf)`` always writes the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "green", "hot", "large", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "nut", "plate", "ring", "spring", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Midnight timestamps ``lo..hi`` days after 1995-01-01."""
    return _EPOCH_1995 + rng.integers(lo, hi + 1, n).astype("timedelta64[D]")


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (fixture sf0.1 = 600k
    lineitem rows)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(10, int(15_000 * sf)),
    }


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n = table_rows(sf)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
            "n_regionkey": pa.array([i % len(REGIONS) for i in range(N_NATIONS)], pa.int32()),
        }),
    }
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    names = np.asarray([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN], dtype=object)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": pa.array(names[rng.integers(0, len(names), p)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    })
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), o),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
        "o_orderdate": _days(rng, 0, 2403, o),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), li),
        "l_linestatus": _pick(rng, ("F", "O"), li),
        "l_shipdate": _days(rng, 1, 2499, li),
    })
    e = n["events"]
    month_us = 30 * _DAY_US
    ts = np.sort(rng.integers(0, month_us, e)) + np.datetime64("2024-01-01", "us")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n["users"], e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": _money(rng, 0.0, 560.0, e),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    return tables


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the fixture tables as ``{out_dir}/{name}.parquet``; returns
    ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
