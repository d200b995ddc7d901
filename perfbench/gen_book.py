#!/usr/bin/env python3
"""Seeded generator for the benchmark's input book.

Writes region, nation, customer, supplier, part, orders and lineitem as one
parquet file each, in exactly the column names and types of the repo's
synthetic star schema (TESTDATA.md): int64 keys, int32 nation/region keys,
doubles for money and rates, strings, timestamp[us] dates. Every non-key
column is drawn independently and uniformly from the ranges that schema uses,
so the derived credit book (counterparties, exposures, collateral,
guarantees, provisions) has the same make-up at any scale.

The same (seed, sf) always gives byte-identical files. Sizes scale with sf:
customers 150,000 x sf, orders 1,500,000 x sf, lineitem 6,000,000 x sf,
part 200,000 x sf, supplier 10,000 x sf.

Usage: python3 perfbench/gen_book.py --seed 7 --sf 0.1 --out <dir>
"""
import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DAY0 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404   # 1995-01-01 .. 2001-08-01
SHIP_DAYS = 2499    # 1995-01-02 .. 2001-11-04
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]


def sizes(sf):
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
    }


def _pick(rng, values, n):
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo, hi, n):
    return DAY0 + rng.integers(lo, hi + 1, n).astype("timedelta64[D]")


def book(seed, sf):
    """The seven tables as pyarrow Tables, drawn from one seeded stream."""
    n = sizes(sf)
    rng = np.random.default_rng(seed)
    i64 = lambda k: pa.array(np.arange(k, dtype=np.int64))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": i64(k),
        "c_name": [f"Customer#{j:09d}" for j in range(k)],
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(rng, -1000.0, 10000.0, k),
        "c_mktsegment": _pick(rng, SEGMENTS, k)})
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": i64(k),
        "s_name": [f"Supplier#{j:09d}" for j in range(k)],
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(rng, -1000.0, 10000.0, k)})
    k = n["part"]
    t["part"] = pa.table({
        "p_partkey": i64(k),
        "p_name": _pick(rng, ADJECTIVES, k) + " " + _pick(rng, NOUNS, k),
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, k)],
        "p_type": _pick(rng, PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(k) % 1000) / 10.0})
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": i64(k),
        "o_custkey": rng.integers(0, n["customer"], k, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k),
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _days(rng, 0, ORDER_DAYS, k),
        "o_orderpriority": _pick(rng, PRIORITIES, k)})
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k, dtype=np.int64),
        "l_partkey": rng.integers(0, n["part"], k, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": np.round(rng.uniform(0.0, 0.10, k), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, k), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], k),
        "l_linestatus": _pick(rng, ["F", "O"], k),
        "l_shipdate": _days(rng, 1, SHIP_DAYS, k)})
    return t


def generate(out_dir, seed, sf):
    """Write the book to out_dir unless a complete copy is already there.
    Returns the row counts. Files appear atomically: a partial directory
    from an interrupted run is discarded, never read."""
    marker = os.path.join(out_dir, "_BOOK.json")
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)["rows"]
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = {}
    for name, table in book(seed, sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        rows[name] = table.num_rows
    with open(os.path.join(tmp, "_BOOK.json"), "w") as f:
        json.dump({"seed": seed, "sf": sf, "rows": rows}, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.seed, a.sf)))


if __name__ == "__main__":
    main()
