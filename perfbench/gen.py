"""Seeded TPC-H-shaped input generator for the graft benchmark.

Draws the seven tables graft's TPC-H graph mapping reads, in the sf0.1
shape (15k customers, 1k suppliers, 20k parts, 150k orders and 600k
lineitems over 25 nations and 5 regions) times ``scale``, with the sf0.1
distributions: uniform foreign keys, about four lineitems per order, and
dates, prices and codes in the TPC-H ranges. Every key space is then
renumbered by a seeded permutation applied to primary and foreign keys
alike. The same seed and scale always give byte-identical parquet files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["almond", "bolt", "hot", "large", "ring", "steel", "tan", "wire"]
DAY_US = 86400 * 1000000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _base(rng, rows):
    """The five large tables; keys are dense and 0-based."""
    nc, ns, np_, no, nl = (rows[t] for t in
                           ("customer", "supplier", "part", "orders", "lineitem"))
    odate = EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US
    l_order = rng.integers(0, no, nl)
    return {
        "customer": {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc)},
        "supplier": {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns)},
        "part": {
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": np.char.add(np.char.add(_pick(rng, PART_WORDS, np_).astype(str), " "),
                                  _pick(rng, PART_WORDS, np_).astype(str)).astype(object),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)).astype(object),
            "p_type": _pick(rng, PART_TYPES, np_),
            "p_size": rng.integers(1, 51, np_).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 2000) / 10.0, 2)},
        "orders": {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 800.0, 450000.0, no),
            "o_orderdate": odate,
            "o_orderpriority": _pick(rng, PRIORITIES, no)},
        "lineitem": {
            "l_orderkey": l_order.astype(np.int64),
            "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": odate[l_order] + rng.integers(1, 122, nl) * DAY_US},
    }


# owning table -> (primary key, (table, foreign key) pairs that reference it)
KEYS = {
    "customer": ("c_custkey", (("orders", "o_custkey"),)),
    "supplier": ("s_suppkey", (("lineitem", "l_suppkey"),)),
    "part": ("p_partkey", (("lineitem", "l_partkey"),)),
    "orders": ("o_orderkey", (("lineitem", "l_orderkey"),)),
}


def _remap(rng, tables):
    """Renumber each key space by one seeded permutation, PK and FKs alike,
    so which row holds which key (and so partitioning, hashing and the
    operators' key-derived choices) depends on the seed."""
    for owner, (pk, refs) in KEYS.items():
        perm = rng.permutation(len(tables[owner][pk])).astype(np.int64)
        tables[owner][pk] = perm[tables[owner][pk]]
        for t, fk in refs:
            tables[t][fk] = perm[tables[t][fk]]
    c, s = tables["customer"], tables["supplier"]
    c["c_name"] = np.char.add("Customer#", np.char.zfill(c["c_custkey"].astype(str), 9)).astype(object)
    s["s_name"] = np.char.add("Supplier#", np.char.zfill(s["s_suppkey"].astype(str), 9)).astype(object)


COLUMN_ORDER = {
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                 "l_linestatus", "l_shipdate"],
}
TIMESTAMPS = {"o_orderdate", "l_shipdate"}


def _arrow(cols, order):
    arrays = []
    for c in order:
        v = cols[c]
        if c in TIMESTAMPS:
            arrays.append(pa.array(v, type=pa.timestamp("us")))
        elif v.dtype == object:
            arrays.append(pa.array(v, type=pa.string()))
        else:
            arrays.append(pa.array(v))
    return pa.table(arrays, names=order)


def generate(out_dir, seed, scale):
    """Write the seven tables under ``out_dir``; return rows per table.

    ``scale`` multiplies the sf0.1 row counts of the five large tables."""
    rows = {t: max(1, int(round(n * scale))) for t, n in BASE_ROWS.items()}
    rng = np.random.default_rng([seed, int(round(scale * 1000))])
    tables = _base(rng, rows)
    _remap(rng, tables)
    os.makedirs(out_dir, exist_ok=True)
    out = {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": ["NATION_%d" % i for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    for t, order in COLUMN_ORDER.items():
        out[t] = _arrow(tables[t], order)
    rows = {}
    for t in TABLES:
        pq.write_table(out[t], os.path.join(out_dir, t + ".parquet"), compression="snappy")
        rows[t] = out[t].num_rows
    return rows
