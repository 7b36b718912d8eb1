"""Seeded input generator for the graft benchmark.

Everything a run consumes is made here from `--seed`: the star-schema
tables (same names, columns and physical types as the engine's testdata
layout), the IVM append pool, the lake DML op stream and the query-mix
pass orders. The JVM side receives only these files.

Tables scale with `sf` the way the testdata layout does (sf0.1: orders
150k, lineitem 600k, events 100k rows).
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rng(seed, salt):
    """Independent stream per (seed, table): adding a table never shifts
    another table's values."""
    return np.random.default_rng([int(seed), sum(map(ord, salt))])


def _days(start, end, n, rng):
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(arr):
    return pa.array(arr.astype("datetime64[us]"), pa.timestamp("us"))


def make_tables(sf, seed):
    """All ten tables at scale `sf` as pyarrow Tables."""
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(500, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_vec = max(100, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})

    r = _rng(seed, "supplier")
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})

    r = _rng(seed, "part")
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})

    r = _rng(seed, "orders")
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days("1995-01-01", "2001-08-01", n_ord, r)),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})

    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_line).astype(np.float64)
    flags = r.integers(0, 3, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(r, 900.0, 2100.0, n_line), 2),
        "l_discount": np.round(r.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[flags],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days("1995-01-02", "2001-11-04", n_line, r))})

    r = _rng(seed, "events")
    start = np.datetime64("2024-01-01T00:00:00", "us")
    month_us = 30 * 86400 * 1_000_000
    ts = start + np.sort(r.integers(0, month_us, n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    r = _rng(seed, "documents")
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i > 10 and r.random() < 0.05:  # near-duplicate of an earlier doc
            src = texts[int(r.integers(0, i))].split()
            src.insert(int(r.integers(0, len(src) + 1)), "dup")
            texts.append(" ".join(src))
        elif i > 10 and r.random() < 0.002:  # exact duplicate
            texts.append(texts[int(r.integers(0, i))])
        else:
            texts.append(" ".join(words[r.integers(0, len(words),
                                                   int(r.integers(8, 98)))]))
    lang = np.where(r.random(n_doc) < 0.4, "en",
                    np.array(LANGS[1:])[r.integers(0, 4, n_doc)])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": lang,
        "source": [f"src{s}" for s in r.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})

    r = _rng(seed, "embeddings")
    v = r.standard_normal((n_vec, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vec), pa.int32())})
    return t


def write_tables(out_dir, tables, names=None):
    os.makedirs(out_dir, exist_ok=True)
    for name in names or tables:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))


# ---- ivm_refresh -----------------------------------------------------------

def ivm_inputs(out_dir, sf, seed, batches, batch_orders):
    """Base tables plus a held-out append pool.

    The pool is the newest `batches * batch_orders` orders (highest keys)
    with their lineitems, appended oldest first in batches of equal size.
    Returns the input sizes for spec.json."""
    t = make_tables(sf, seed)
    orders, lineitem = t["orders"], t["lineitem"]
    n_ord = orders.num_rows
    pool = batches * batch_orders
    cut = n_ord - pool
    okeys = orders.column("o_orderkey").to_numpy()
    lkeys = lineitem.column("l_orderkey").to_numpy()
    # the dimension gets a name no delta source is registered under, so
    # the IVM rewrite treats it as static
    write_tables(out_dir, {
        "orders": orders.filter(pa.array(okeys < cut)),
        "lineitem": lineitem.filter(pa.array(lkeys < cut)),
        "dim_customer": t["customer"]})
    batch_of = np.full(n_ord, -1)
    batch_of[cut:] = np.arange(pool) // batch_orders
    pool_dir = os.path.join(out_dir, "pool")
    os.makedirs(pool_dir, exist_ok=True)
    ob = batch_of[okeys]
    lb = batch_of[lkeys]
    for b in range(batches):
        pq.write_table(orders.filter(pa.array(ob == b)),
                       os.path.join(pool_dir, f"orders_{b:03d}.parquet"))
        pq.write_table(lineitem.filter(pa.array(lb == b)),
                       os.path.join(pool_dir, f"lineitem_{b:03d}.parquet"))
    return {"orders_base": int(cut), "lineitem_base": int((lkeys < cut).sum()),
            "customer": t["customer"].num_rows, "batches": batches,
            "batch_orders": batch_orders,
            "batch_lineitems_mean": float((lkeys >= cut).sum() / batches)}


# ---- lake_query: the lake DML part ----------------------------------------

LAKE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderdate", "o_orderpriority"]


def _order_rows(rng, keys, n_cust):
    rows = []
    for k in keys:
        day = dt.date(1995, 1, 1) + dt.timedelta(days=int(rng.integers(0, 2404)))
        rows.append([int(k), int(rng.integers(0, n_cust)),
                     ["F", "O", "P"][int(rng.integers(0, 3))],
                     round(float(rng.uniform(1000.0, 500000.0)), 2),
                     day.isoformat() + " 00:00:00",
                     PRIORITIES[int(rng.integers(0, 5))]])
    return rows


def _spark_values(rows):
    return ", ".join(
        f"({k}L, {c}L, '{s}', {p!r}D, TIMESTAMP_NTZ '{d}', '{pri}')"
        for k, c, s, p, d, pri in rows)


def lake_ops(seed, n_ops, n_orders, n_cust):
    """The lake DML op stream: n_ops writes.

    Op i is of kind LAKE_KINDS[i % 5] (INSERT, MERGE upsert with part of
    the keys matched and part new, key-range UPDATE, key-range DELETE,
    maintenance) on the Delta table for even i and the Iceberg table for
    odd i, so every ten ops give each table every kind and every fifth op
    is maintenance. Every write is followed by one key-range read of the
    same table.

    Every op carries both its structured form (for the independent
    replay) and the Spark SQL statements the engine runs."""
    rng = _rng(seed, "lake_ops")
    next_key = {"delta": n_orders, "iceberg": n_orders}
    fmts = ["delta", "iceberg"]
    return [_lake_op(rng, LAKE_KINDS[i % len(LAKE_KINDS)], fmts[i % 2], next_key,
                     n_orders, n_cust)
            for i in range(n_ops)]


LAKE_KINDS = ["insert", "merge", "update", "delete", "maintenance"]


def _lake_op(rng, kind, fmt, next_key, n_orders, n_cust):
    op = {"kind": kind, "fmt": fmt}
    if kind == "maintenance":  # run through the module calls, not SQL
        op["sql"] = []
    elif kind == "insert":
        n = int(rng.integers(20, 61))
        keys = range(next_key[fmt], next_key[fmt] + n)
        next_key[fmt] += n
        op["rows"] = _order_rows(rng, keys, n_cust)
        op["sql"] = [f"INSERT INTO {{t}} VALUES {_spark_values(op['rows'])}"]
    elif kind == "merge":
        # matched keys cluster in one key window, as upserts of recent
        # business keys do
        lo = int(rng.integers(0, n_orders - 500))
        old = lo + rng.choice(500, 20, replace=False)
        new = range(next_key[fmt], next_key[fmt] + 20)
        next_key[fmt] += 20
        op["rows"] = _order_rows(rng, list(old) + list(new), n_cust)
        op["sql"] = [
            "MERGE INTO {t} t USING (SELECT * FROM VALUES "
            f"{_spark_values(op['rows'])} AS v({', '.join(LAKE_COLS)})) s "
            "ON t.o_orderkey = s.o_orderkey "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"]
    elif kind == "update":
        lo = int(rng.integers(0, n_orders - 200))
        op.update(lo=lo, hi=lo + 199, add=float(rng.integers(1, 100)) + 0.25)
        op["sql"] = [
            f"UPDATE {{t}} SET o_totalprice = o_totalprice + {op['add']!r}D, "
            "o_orderstatus = 'U' "
            f"WHERE o_orderkey >= {op['lo']} AND o_orderkey <= {op['hi']}"]
    else:
        lo = int(rng.integers(0, n_orders - 60))
        op.update(lo=lo, hi=lo + 59)
        op["sql"] = [f"DELETE FROM {{t}} WHERE o_orderkey >= {op['lo']} "
                     f"AND o_orderkey <= {op['hi']}"]
    lo = int(rng.integers(0, n_orders - n_orders // 20))
    op["read_lo"], op["read_hi"] = lo, lo + n_orders // 20
    op["read_sql"] = read_sql("{t}", op["read_lo"], op["read_hi"])
    return op


def read_sql(table, lo, hi):
    """The key-range aggregate run after every lake write (the same
    text is valid Spark SQL and DuckDB SQL)."""
    return ("SELECT o_orderpriority AS pri, COUNT(*) AS cnt, "
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR(40)) "
            "AS total, MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi "
            f"FROM {table} WHERE o_orderkey >= {lo} AND o_orderkey <= {hi} "
            "GROUP BY o_orderpriority ORDER BY pri")


# ---- lake_query: the query-mix part ---------------------------------------

def query_orders(seed, names, cycles):
    """The query-mix op stream: `cycles` seeded permutations of the frozen
    op list, one after the other."""
    rng = _rng(seed, "query_mix")
    return [[names[j] for j in rng.permutation(len(names))]
            for _ in range(cycles)]


def write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)
