"""Seeded TPC-H-shaped tables, written as parquet bytes.

Only the columns the benchmark's queries read are generated. The same
seed and scale give the same bytes.
"""

from __future__ import annotations

import datetime
import io

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DAY0 = (datetime.date(1992, 1, 1) - datetime.date(1970, 1, 1)).days
ORDER_DAYS = 2405  # order dates 1992-01-01 .. 1998-08-02


def _strs(rng, choices, n):
    return pa.array(np.asarray(choices, dtype=object)[
        rng.integers(0, len(choices), n)], pa.string())


def _dates(days):
    return pa.array((DAY0 + days).astype(np.int32), pa.date32())


def tables(seed: int, orders: int) -> dict:
    """{name: pyarrow.Table}; lineitem has ~4 rows per order."""
    rng = np.random.default_rng(seed)
    n_cust = max(orders // 10, 10)
    n_supp = max(orders // 150, 5)
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)}),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": _strs(rng, SEGMENTS, n_cust)}),
    }
    odays = rng.integers(0, ORDER_DAYS, orders)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, orders), pa.int64()),
        "o_totalprice": np.round(rng.uniform(1000, 500000, orders), 2),
        "o_orderdate": _dates(odays),
        "o_orderpriority": _strs(rng, PRIORITIES, orders)})
    lines = rng.integers(1, 8, orders)
    n = int(lines.sum())
    okey = np.repeat(np.arange(orders), lines)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = odays[okey] + rng.integers(1, 122, n)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _strs(rng, ("A", "N", "R"), n),
        "l_linestatus": pa.array(np.where(ship > 2350, "O", "F"), pa.string()),
        "l_shipdate": _dates(ship)})
    return out


def parquet_parts(table: pa.Table, parts: int) -> list:
    """Split ``table`` into ``parts`` row ranges, each as parquet bytes."""
    step = -(-table.num_rows // parts)
    out = []
    for i in range(parts):
        buf = io.BytesIO()
        pq.write_table(table.slice(i * step, step), buf)
        out.append(buf.getvalue())
    return out


def blob(seed: int, version: int, size: int) -> bytes:
    """Content of one version of a byte-level object."""
    return np.random.default_rng([seed, version]).bytes(size)
