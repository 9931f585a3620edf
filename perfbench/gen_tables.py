"""Seeded star-schema tables for the registry workload.

Writes region, nation, customer, supplier, part, orders, lineitem and events
as one parquet file each, with the column names, types and value domains the
registered relational and window queries read. Money columns carry whole
cents, as the program's money pattern expects.

Usage: python3 gen_tables.py <out dir> <scale> <seed>
"""
import datetime as dt
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "cold", "shiny", "tiny"]
PART_NOUN = ["widget", "bolt", "gear", "gizmo", "ring", "anvil", "valve", "nut"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def cents(rnd, lo, hi):
    return rnd.randint(int(lo * 100), int(hi * 100)) / 100.0


def table(cols):
    return pa.table({name: pa.array(vals, type=t) for name, (t, vals) in cols.items()})


def generate(out, scale, seed):
    """Write the tables into `out` unless they are there; returns `out`."""
    done = os.path.join(out, "_done")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    rnd = random.Random(seed)
    n_cust = max(50, int(150000 * scale))
    n_supp = max(10, int(10000 * scale))
    n_part = max(100, int(200000 * scale))
    n_ord = max(500, int(1500000 * scale))
    n_events = max(500, int(1000000 * scale))
    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    day0 = dt.datetime(1995, 1, 1)

    tables = {
        "region": {"r_regionkey": (i32, list(range(5))), "r_name": (s, REGIONS)},
        "nation": {"n_nationkey": (i32, list(range(25))),
                   "n_name": (s, [f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": (i32, [rnd.randrange(5) for _ in range(25)])},
        "customer": {
            "c_custkey": (i64, list(range(n_cust))),
            "c_name": (s, [f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": (i32, [rnd.randrange(25) for _ in range(n_cust)]),
            "c_acctbal": (f64, [cents(rnd, -999.99, 9999.99) for _ in range(n_cust)]),
            "c_mktsegment": (s, [rnd.choice(SEGMENTS) for _ in range(n_cust)])},
        "supplier": {
            "s_suppkey": (i64, list(range(n_supp))),
            "s_name": (s, [f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": (i32, [rnd.randrange(25) for _ in range(n_supp)]),
            "s_acctbal": (f64, [cents(rnd, -999.99, 9999.99) for _ in range(n_supp)])},
        "part": {
            "p_partkey": (i64, list(range(n_part))),
            "p_name": (s, [f"{rnd.choice(PART_ADJ)} {rnd.choice(PART_NOUN)}"
                           for _ in range(n_part)]),
            "p_brand": (s, [f"Brand#{rnd.randint(1, 25)}" for _ in range(n_part)]),
            "p_type": (s, [rnd.choice(PART_TYPES) for _ in range(n_part)]),
            "p_size": (i32, [rnd.randint(1, 50) for _ in range(n_part)]),
            "p_retailprice": (f64, [900.0 + (i % 1000) / 10.0 for i in range(n_part)])},
    }
    orders = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus",
                              "o_totalprice", "o_orderdate", "o_orderpriority")}
    lines = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                             "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                             "l_returnflag", "l_linestatus", "l_shipdate")}
    for o in range(n_ord):
        date = day0 + dt.timedelta(days=rnd.randrange(2400))
        orders["o_orderkey"].append(o)
        orders["o_custkey"].append(rnd.randrange(n_cust))
        orders["o_orderstatus"].append(rnd.choice("FOP"))
        orders["o_totalprice"].append(cents(rnd, 1000, 500000))
        orders["o_orderdate"].append(date)
        orders["o_orderpriority"].append(rnd.choice(PRIORITIES))
        for ln in range(1, rnd.randint(1, 7) + 1):
            lines["l_orderkey"].append(o)
            lines["l_partkey"].append(rnd.randrange(n_part))
            lines["l_suppkey"].append(rnd.randrange(n_supp))
            lines["l_linenumber"].append(ln)
            lines["l_quantity"].append(float(rnd.randint(1, 50)))
            lines["l_extendedprice"].append(cents(rnd, 900, 105000))
            lines["l_discount"].append(rnd.randint(0, 10) / 100.0)
            lines["l_tax"].append(rnd.randint(0, 8) / 100.0)
            lines["l_returnflag"].append(rnd.choice("ANR"))
            lines["l_linestatus"].append(rnd.choice("FO"))
            lines["l_shipdate"].append(date + dt.timedelta(days=rnd.randint(1, 120)))
    otypes = [i64, i64, s, f64, ts, s]
    ltypes = [i64, i64, i64, i32, f64, f64, f64, f64, s, s, ts]
    tables["orders"] = {k: (t, v) for (k, v), t in zip(orders.items(), otypes)}
    tables["lineitem"] = {k: (t, v) for (k, v), t in zip(lines.items(), ltypes)}

    t0 = dt.datetime(2024, 1, 1)
    offs = sorted(rnd.randrange(30 * 86400 * 10**6) for _ in range(n_events))
    tables["events"] = {
        "event_id": (i64, list(range(n_events))),
        "ts": (ts, [t0 + dt.timedelta(microseconds=u) for u in offs]),
        "user_id": (i64, [rnd.randrange(max(10, n_cust // 10)) for _ in range(n_events)]),
        "event_type": (s, [rnd.choice(EVENT_TYPES) for _ in range(n_events)]),
        "value": (f64, [cents(rnd, 0.01, 490) for _ in range(n_events)]),
        "props": (s, [f'{{"k": {rnd.randrange(100)}}}' for _ in range(n_events)])}

    for name, cols in tables.items():
        pq.write_table(table(cols), os.path.join(out, f"{name}.parquet"))
    open(done, "w").close()
    return out


if __name__ == "__main__":
    print(generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
