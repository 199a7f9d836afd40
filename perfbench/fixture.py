"""Seeded generator for the TPC-H-shaped source tables the graph is
built from (see FIXTURES.md §A for how tables become vertices and
edges).

The tables mirror the schema, key ranges and value shapes of the
repository's sf fixtures: the same eight tables and column types,
timestamps stored as TIMESTAMP(NANOS), every foreign key inside its
parent's key range (no dangling edge endpoints), and `events` touching
one customer in ten. Row counts scale linearly with ``sf`` from the
TPC-H base sizes (sf=1: 150k customers, 1.5M orders, 6M line items).

The fixture is fixed (``FIXTURE_SEED``); the benchmark's ``--seed``
only picks the requests run against it.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

_BASE = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
         "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["cold", "large", "red", "small", "green", "blue", "steel",
             "smooth"]
_PART_NOUN = ["gear", "widget", "ring", "gizmo", "bolt", "panel"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DAY_NS = 86_400 * 10**9
_ORDER_EPOCH = np.datetime64("1995-01-01", "ns").astype(np.int64)
_EVENT_EPOCH = np.datetime64("2024-01-01", "ns").astype(np.int64)


def table_sizes(sf: float) -> dict[str, int]:
    return {k: max(1, round(v * sf)) for k, v in _BASE.items()}


def _ts(ns: np.ndarray) -> pa.Array:
    return pa.array(ns, type=pa.timestamp("ns"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, sf: float) -> dict[str, int]:
    """Write ``<table>.parquet`` for every source table into
    ``out_dir``; return the row count of each table."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n = table_sizes(sf)
    nc, ns_, np_, no, nl, ne = (n["customer"], n["supplier"], n["part"],
                                n["orders"], n["lineitem"], n["events"])
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, nc)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns_), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns_)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns_), pa.int32()),
        "s_acctbal": _money(rng, ns_, -999.99, 9999.99)})
    adj = rng.choice(_PART_ADJ, np_)
    noun = rng.choice(_PART_NOUN, np_)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(_PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(np_) % 1000 * 0.1, 1)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000, 500_000),
        "o_orderdate": _ts(_ORDER_EPOCH
                           + rng.integers(0, 2404, no) * _DAY_NS),
        "o_orderpriority": rng.choice(_PRIORITIES, no)})
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns_, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900, 100_000),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(_ORDER_EPOCH
                          + rng.integers(0, 2500, nl) * _DAY_NS)})
    n_users = max(2, nc // 10)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(np.sort(_EVENT_EPOCH + rng.integers(
            0, 30 * _DAY_NS // 1000, ne) * 1000)),
        "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, ne),
        "value": _money(rng, ne, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
