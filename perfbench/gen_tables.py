#!/usr/bin/env python3
"""Generate the registry tables the graph_iterative workload reads.

Usage:
    python3 perfbench/gen_tables.py --out DIR

Writes DIR/<table>.parquet for nation, customer, supplier, orders, lineitem
and events, one file and one row group per table, with the gate data's
column names, physical types, value domains and row counts at scale factor
0.01 (TESTDATA.md): integer keys as int32/int64 as in the gate data,
timestamps as zone-less microseconds. The data seed is fixed, so every run
writes the same bytes and the golden query hashes in data/golden.tsv hold.
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.01
SEED = 42
# each table's random stream
STREAMS = {"nation": 1, "customer": 2, "supplier": 3, "orders": 5, "lineitem": 6, "events": 7}
TABLES = list(STREAMS)
ROWS = {"nation": 25, "customer": round(150000 * SF), "supplier": round(10000 * SF),
        "orders": round(1500000 * SF), "lineitem": round(6000000 * SF),
        "events": round(1000000 * SF)}
# key range of l_partkey: the gate data's part table
PARTS = round(200000 * SF)
US_PER_DAY = 86400 * 1000000


def ts(base, us):
    """Zone-less timestamps: `base` (YYYY-MM-DD) plus microseconds."""
    return pa.array(np.datetime64(base, "us") + us.astype("timedelta64[us]"), pa.timestamp("us"))


def pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def money(x):
    return np.round(x, 2)


def build(name):
    """One table, from its own random stream."""
    rng = np.random.default_rng([SEED, STREAMS[name]])
    k = ROWS[name]
    ids = np.arange(k, dtype=np.int64)
    if name == "nation":
        return pa.table({"n_nationkey": pa.array(ids, pa.int32()),
                         "n_name": [f"NATION_{i}" for i in ids],
                         "n_regionkey": pa.array(ids % 5, pa.int32())})
    if name == "customer":
        return pa.table({"c_custkey": ids, "c_name": [f"Customer#{i:09d}" for i in ids],
                         "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
                         "c_acctbal": money(rng.uniform(-999.99, 9999.99, k)),
                         "c_mktsegment": pick(rng, ["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                                    "HOUSEHOLD", "BUILDING"], k)})
    if name == "supplier":
        return pa.table({"s_suppkey": ids, "s_name": [f"Supplier#{i:09d}" for i in ids],
                         "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
                         "s_acctbal": money(rng.uniform(-999.99, 9999.99, k))})
    if name == "orders":
        return pa.table({"o_orderkey": ids, "o_custkey": rng.integers(0, ROWS["customer"], k),
                         "o_orderstatus": pick(rng, ["O", "F", "P"], k),
                         "o_totalprice": money(rng.uniform(1000.0, 500000.0, k)),
                         "o_orderdate": ts("1995-01-01", rng.integers(0, 2405, k) * US_PER_DAY),
                         "o_orderpriority": pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                       "4-NOT SPECIFIED", "5-LOW"], k)})
    if name == "lineitem":
        return pa.table({"l_orderkey": rng.integers(0, ROWS["orders"], k),
                         "l_partkey": rng.integers(0, PARTS, k),
                         "l_suppkey": rng.integers(0, ROWS["supplier"], k),
                         "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
                         "l_quantity": rng.integers(1, 51, k).astype(np.float64),
                         "l_extendedprice": money(rng.uniform(900.0, 105000.0, k)),
                         "l_discount": rng.integers(0, 11, k) / 100.0,
                         "l_tax": rng.integers(0, 9, k) / 100.0,
                         "l_returnflag": pick(rng, ["A", "N", "R"], k),
                         "l_linestatus": pick(rng, ["O", "F"], k),
                         "l_shipdate": ts("1995-01-02", rng.integers(0, 2498, k) * US_PER_DAY)})
    if name == "events":
        # 30 days, ids in time order
        us = np.sort(rng.integers(0, 30 * US_PER_DAY, k))
        return pa.table({"event_id": ids, "ts": ts("2024-01-01", us),
                         "user_id": rng.integers(0, round(15000 * SF), k),
                         "event_type": pick(rng, ["signup", "click", "error", "view",
                                                  "purchase"], k),
                         "value": money(rng.exponential(50.0, k)),
                         "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]})
    raise ValueError(name)


def write_all(out):
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        pq.write_table(build(t), os.path.join(out, f"{t}.parquet"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    write_all(ap.parse_args().out)


if __name__ == "__main__":
    main()
