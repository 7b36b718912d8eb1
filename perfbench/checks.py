"""Untimed correctness checks that run outside the engine under test.

- query_mix: every dumped result against its `SparkEntry.oracleSql` in
  DuckDB (columns sorted by name, values in row order); queries without
  an oracle must return rows.
- lake_dml: an independent DuckDB replay of the same op stream; every
  read the engine answered and both final tables must match it.
"""
import glob
import json
import os

import duckdb
import pandas as pd

import gen


def _frame_mismatch(spark_df, duck_df):
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"columns {sorted(spark_df.columns)} vs oracle {sorted(duck_df.columns)}"
    if len(spark_df) != len(duck_df):
        return f"{len(spark_df)} rows vs oracle {len(duck_df)}"
    cols = sorted(spark_df.columns)
    for c in cols:
        sv, dv = spark_df[c].values, duck_df[c].values
        eq = (sv == dv) | (pd.isna(sv) & pd.isna(dv))
        if not eq.all():
            return f"column {c} differs from oracle"
    return None


def query_mix(data_dir, results_dir, oracle):
    """Query name -> failure text, for the names dumped under results_dir."""
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    fails = {}
    for path in sorted(glob.glob(os.path.join(results_dir, "*"))):
        name = os.path.basename(path)
        got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
        if name not in oracle:
            if len(got) == 0:
                fails[name] = "no oracle and no rows"
            continue
        try:
            want = con.sql(oracle[name]).df()
        except duckdb.Error as e:
            fails[name] = f"oracle SQL failed: {e}"
            continue
        bad = _frame_mismatch(got, want)
        if bad:
            fails[name] = bad
    return fails


def _duck_values(rows):
    return ", ".join(f"({k}, {c}, '{s}', {p!r}, TIMESTAMP '{d}', '{pri}')"
                     for k, c, s, p, d, pri in rows)


def lake_dml(orders_parquet, ops, executed, reads, final_dir):
    """Replays ops [0, executed) on DuckDB. Returns (op index -> failure,
    table failures)."""
    con = duckdb.connect()
    tables = {"delta": "od", "iceberg": "oi"}
    for t in tables.values():
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{orders_parquet}'")
    answered = {r["op"]: r["rows"] for r in reads}
    op_fails = {}
    for i, op in enumerate(ops[:executed]):
        t = tables[op["fmt"]]
        kind = op["kind"]
        if kind == "insert":
            con.execute(f"INSERT INTO {t} VALUES {_duck_values(op['rows'])}")
        elif kind == "merge":
            keys = ", ".join(str(r[0]) for r in op["rows"])
            con.execute(f"DELETE FROM {t} WHERE o_orderkey IN ({keys})")
            con.execute(f"INSERT INTO {t} VALUES {_duck_values(op['rows'])}")
        elif kind == "update":
            con.execute(f"UPDATE {t} SET o_totalprice = o_totalprice + {op['add']!r}, "
                        f"o_orderstatus = 'U' WHERE o_orderkey >= {op['lo']} "
                        f"AND o_orderkey <= {op['hi']}")
        elif kind == "delete":
            con.execute(f"DELETE FROM {t} WHERE o_orderkey >= {op['lo']} "
                        f"AND o_orderkey <= {op['hi']}")
        if i in answered:
            want = [[str(v) for v in row] for row in
                    con.sql(gen.read_sql(t, op["read_lo"], op["read_hi"])).fetchall()]
            if want != answered[i]:
                op_fails[i] = "read differs from replay"
    table_fails = {}
    for fmt, t in tables.items():
        path = os.path.join(final_dir, fmt)
        if not os.path.isdir(path):
            table_fails[fmt] = "final table not dumped"
            continue
        cols = ", ".join(gen.LAKE_COLS)
        got = f"(SELECT {cols} FROM '{path}/*.parquet')"
        want = f"(SELECT {cols} FROM {t})"
        extra = con.sql(f"SELECT COUNT(*) FROM ({got} EXCEPT ALL {want})").fetchone()[0]
        missing = con.sql(f"SELECT COUNT(*) FROM ({want} EXCEPT ALL {got})").fetchone()[0]
        if extra or missing:
            table_fails[fmt] = f"{extra} extra, {missing} missing rows vs replay"
    return op_fails, table_fails


def lake_stats(paths, ops, executed, orders_rows, orders_bytes):
    """Files added/removed per write, write amplification and log bytes,
    read from the tables' own logs after the run."""
    added = removed = 0
    added_bytes = 0
    log_bytes = 0
    # the Delta log: one JSON commit per version; version 0 is the stage
    dlog = os.path.join(paths["delta"], "_delta_log")
    for f in sorted(glob.glob(os.path.join(dlog, "*.json"))):
        v = int(os.path.basename(f).split(".")[0])
        if v == 0:
            continue
        with open(f) as fh:
            for line in fh:
                a = json.loads(line)
                if "add" in a:
                    added += 1
                    added_bytes += a["add"].get("size", 0)
                elif "remove" in a:
                    removed += 1
    for root, _, files in os.walk(dlog):
        log_bytes += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    # Iceberg: the newest metadata file lists every snapshot's summary
    meta = os.path.join(paths["iceberg"], "metadata")
    metas = sorted(glob.glob(os.path.join(meta, "*.metadata.json")),
                   key=os.path.getmtime)
    if metas:
        with open(metas[-1]) as fh:
            snaps = json.load(fh).get("snapshots", [])
        for s in sorted(snaps, key=lambda s: s.get("sequence-number", 0))[1:]:
            summ = s.get("summary", {})
            added += int(summ.get("added-data-files", 0)) + int(summ.get("added-delete-files", 0))
            removed += int(summ.get("deleted-data-files", 0)) + int(summ.get("removed-delete-files", 0))
            added_bytes += int(summ.get("added-files-size", 0))
    for root, _, files in os.walk(meta):
        log_bytes += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    touched = sum(len(op["rows"]) if "rows" in op else op["hi"] - op["lo"] + 1
                  for op in ops[:executed] if op["kind"] != "maintenance")
    row_bytes = orders_bytes / max(1, orders_rows)
    writes = max(1, executed)
    return {"files_added": added / writes, "files_removed": removed / writes,
            "write_amp": added_bytes / (touched * row_bytes) if touched else 0.0,
            "log_bytes": float(log_bytes)}


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
