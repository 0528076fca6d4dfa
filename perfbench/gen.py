"""Seeded input generator with planted truth.

Writes the lineitem-shaped batch (write_flag) and the orders-shaped source
(pipeline_split) as parquet, and returns a manifest recording, per seed, the
row and byte counts, the violating rows planted per rule, the duplicate keys
and the physical type drift against the contracts in Main.scala.

Every planted violation sits on its own row (the planted sets are disjoint),
so the number of rows carrying a flag, or landing in a reject subset, equals
the sum of the planted counts.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the row counts of TPC-H lineitem and orders at scale factor 0.1, the
# scale of the tables analytics_cold reads
LINEITEM_ROWS = 600_000
ORDERS_ROWS = 150_000

# planted violations per expectation key, as a share of the rows
LINEITEM_PLANT = {
    "not_null_l_orderkey": 0.004,
    "gt_l_quantity": 0.006,
    "le_l_quantity": 0.005,
    "ge_l_discount": 0.003,
    "lt_l_discount": 0.004,
    "enum_l_returnflag": 0.007,
    "regex_l_partcode": 0.005,
}
ORDERS_PLANT = {
    "not_null_o_custkey": 0.004,
    "enum_o_orderstatus": 0.006,
    "gt_o_totalprice": 0.005,
    "regex_o_orderpriority": 0.004,
    "ge_o_shippriority": 0.003,
}
ORDERS_DUPLICATES = 0.008

# source physical type -> contract type, the drift the read aligns away
ORDERS_DRIFT = {
    "o_orderkey": ["int", "bigint"],
    "o_custkey": ["int", "bigint"],
    "o_shippriority": ["smallint", "int"],
    "o_clerk": ["missing", "string"],
}

_EPOCH = datetime.date(1970, 1, 1)
_DAY0 = (datetime.date(1992, 1, 1) - _EPOCH).days


def _plant(rng, n, shares, reserved=0):
    """Disjoint row sets, one per key, drawn from a seeded permutation."""
    order = rng.permutation(n)
    sets, at = {}, reserved
    for key, share in shares.items():
        k = max(1, int(n * share))
        sets[key] = np.sort(order[at:at + k])
        at += k
    return sets, order[:reserved]


def _codes(rng, n, fmt, width):
    return np.char.add(fmt, np.char.zfill(rng.integers(0, 10 ** width, n).astype(str), width))


def lineitem(seed, n=LINEITEM_ROWS):
    rng = np.random.default_rng([seed, 1])
    plant, _ = _plant(rng, n, LINEITEM_PLANT)
    orderkey = rng.permutation(n).astype(np.int64) + 1
    quantity = rng.integers(1, 51, n).astype(np.float64)
    discount = rng.integers(0, 11, n) / 100.0
    returnflag = rng.choice(np.array(["A", "N", "R"]), n)
    partcode = _codes(rng, n, "P-", 6)

    p = plant["gt_l_quantity"]
    quantity[p] = rng.integers(-5, 1, len(p))
    p = plant["le_l_quantity"]
    quantity[p] = rng.integers(51, 100, len(p))
    p = plant["ge_l_discount"]
    discount[p] = -rng.integers(1, 6, len(p)) / 100.0
    p = plant["lt_l_discount"]
    discount[p] = rng.integers(12, 21, len(p)) / 100.0
    p = plant["enum_l_returnflag"]
    returnflag[p] = rng.choice(np.array(["X", "Z"]), len(p))
    p = plant["regex_l_partcode"]
    partcode[p] = np.char.lower(partcode[p])
    null_key = np.zeros(n, dtype=bool)
    null_key[plant["not_null_l_orderkey"]] = True

    table = pa.table({
        "l_orderkey": pa.array(orderkey, mask=null_key),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 100000.0, n), 2)),
        "l_discount": pa.array(discount),
        "l_returnflag": pa.array(returnflag.tolist(), pa.string()),
        "l_partcode": pa.array(partcode.tolist(), pa.string()),
        "l_shipdate": pa.array((_DAY0 + rng.integers(0, 2500, n)).astype(np.int32), pa.date32()),
    })
    return table, {k: len(v) for k, v in plant.items()}, 0


def orders(seed, n=ORDERS_ROWS):
    rng = np.random.default_rng([seed, 2])
    dups = max(1, int(n * ORDERS_DUPLICATES))
    # the first 2*dups rows of the permutation are the duplicate sources
    # and their targets, so no predicate violation lands on them
    plant, dup_rows = _plant(rng, n, ORDERS_PLANT, reserved=2 * dups)
    orderkey = rng.permutation(n).astype(np.int32) + 1
    src, dst = dup_rows[:dups], dup_rows[dups:]
    orderkey[src] = orderkey[dst]
    status = rng.choice(np.array(["F", "O", "P"]), n)
    price = np.round(rng.uniform(850.0, 500000.0, n), 2)
    priority = rng.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOTSPEC", "5-LOW"]), n)
    shippriority = rng.integers(0, 3, n).astype(np.int16)

    p = plant["enum_o_orderstatus"]
    status[p] = "X"
    p = plant["gt_o_totalprice"]
    price[p] = -np.round(rng.uniform(0.0, 100.0, len(p)), 2)
    p = plant["regex_o_orderpriority"]
    priority[p] = "urgent"
    p = plant["ge_o_shippriority"]
    shippriority[p] = -1
    null_cust = np.zeros(n, dtype=bool)
    null_cust[plant["not_null_o_custkey"]] = True

    table = pa.table({
        "o_orderkey": pa.array(orderkey),
        "o_custkey": pa.array(rng.integers(1, 15000, n).astype(np.int32), mask=null_cust),
        "o_orderstatus": pa.array(status.tolist(), pa.string()),
        "o_totalprice": pa.array(price),
        "o_orderdate": pa.array((_DAY0 + rng.integers(0, 2400, n)).astype(np.int32), pa.date32()),
        "o_orderpriority": pa.array(priority.tolist(), pa.string()),
        "o_shippriority": pa.array(shippriority),
    })
    return table, {k: len(v) for k, v in plant.items()}, dups


def write(table, path, files=4):
    """Parquet part files inside a dataset directory, as a locator expects.
    One file per core of the `local[4]` session: a single file is one row
    group, which Spark scans with one task."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    total = 0
    for i in range(files):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), f)
        total += os.path.getsize(f)
    return total


def generate(workload, seed, lake):
    """Generate the workload's input under `lake` and return its manifest."""
    if workload == "write_flag":
        table, planted, dups = lineitem(seed)
        dataset, drift = "bench.lineitem_raw", {}
    elif workload == "pipeline_split":
        table, planted, dups = orders(seed)
        dataset, drift = "bench.orders_raw", ORDERS_DRIFT
    else:
        return {}
    nbytes = write(table, os.path.join(lake, dataset, "1.0.0"))
    return {
        "dataset": dataset,
        "rows": table.num_rows,
        "bytes": nbytes,
        "planted": planted,
        "violating_rows": sum(planted.values()),
        "duplicate_keys": dups,
        "type_drift": drift,
    }
