"""Seeded TPC-H-shaped corpus: the seven tables the TPC-H and trade-graph
registry entries read, one parquet file each, in the layout
``sources.catalog.load_table`` expects (``<dir>/<table>.parquet``).

Column names, physical types and value domains follow the engine's test
corpus (uniform keys from 0, ``NATION_<k>`` nations over five regions,
2-decimal prices built from integer cents, 1995-2001 dates stored as
``timestamp[us]``), so every entry's predicates select rows at any seed.

Usage: python3 gen_tpch.py OUT_DIR --seed N [--sf 0.01]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale factor (TPC-H proportions)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "green", "small", "large", "hot", "cold", "shiny"]
PART_NOUN = ["gear", "widget", "bolt", "ring", "gizmo", "valve", "spring", "nut"]
ORDER_DAYS = (np.datetime64("1995-01-01"), np.datetime64("2001-08-01"))
SHIP_DAYS = (np.datetime64("1995-01-02"), np.datetime64("2001-11-04"))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts in [lo, hi] cents; integer cents / 100
    is the double nearest the decimal literal, as in the SQL twins."""
    return rng.integers(lo, hi + 1, n) / 100.0


def _days(rng: np.random.Generator, span: tuple, n: int) -> pa.Array:
    lo, hi = span
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(r * sf))) for t, r in ROWS_PER_SF.items()}
    i32, i64 = pa.int32(), pa.int64()
    region = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    c = n["customer"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _cents(rng, -99_999, 999_999, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _cents(rng, -99_999, 999_999, s),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": _pick(rng, names, p),
        "p_brand": _pick(rng, [f"Brand#{k}" for k in range(1, 26)], p),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": (9000 + np.arange(p) % 1000) / 10.0,
    })
    o = n["orders"]
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _cents(rng, 100_000, 50_000_000, o),
        "o_orderdate": _days(rng, ORDER_DAYS, o),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, SHIP_DAYS, li),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def write(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table; returns table -> row count."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    args = ap.parse_args()
    write(args.out_dir, args.seed, args.sf)


if __name__ == "__main__":
    main()
