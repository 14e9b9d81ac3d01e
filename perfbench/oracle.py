"""Oracle check of the verified pass: DuckDB runs each op's twin over
the same fixture files, and both results go through the project's
calibrated compare (`tools/check.py`: column-name sort, float rounding,
NULL token, sorted-line SHA-256). DuckDB is the reference; nothing here
runs the code under test.
"""
import os
import sys

import duckdb
import pandas as pd
import pyarrow as pa

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from check import TABLES, df_hash, df_lines  # noqa: E402

# the oracle-safe output types (graft.Verify.allowedTypes)
ARROW = {"long": pa.int64(), "integer": pa.int32(), "double": pa.float64(),
         "string": pa.string(), "boolean": pa.bool_(),
         "timestamp": pa.timestamp("us"), "timestamp_ntz": pa.timestamp("us"),
         "date": pa.date32()}


def spark_frame(res):
    """The harness's collected rows as pandas, through the same
    arrow→pandas conversion `pd.read_parquet` applies to a Spark
    parquet dump."""
    cols, types, rows = res["columns"], res["types"], res["rows"]
    arrays = []
    for i, t in enumerate(types):
        vals = [r[i] for r in rows]
        if t.startswith("timestamp") or t == "date":
            vals = [None if v is None else pd.Timestamp(v) for v in vals]
            if t == "date":
                vals = [None if v is None else v.date() for v in vals]
        arrays.append(pa.array(vals, type=ARROW[t]))
    return pa.table(dict(zip(cols, arrays))).to_pandas()


def same(got, want):
    """None when equal under check.py's compare, else the reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"cols {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        if df_hash(df_lines(got)) != df_hash(df_lines(want)):
            return f"hash mismatch ({len(got)} rows)"
    except Exception as e:  # list cells etc., as check.py reports them
        return f"sort/hash: {type(e).__name__}: {e}"
    return None


def connect(data_dir, work):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb_tmp')}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check(workload, doc, out, data_dir, work):
    """{key: reason} for every verified result the oracle rejects, plus
    every key the verified pass did not produce."""
    verified = out["verified"]
    bad = {}
    con = connect(data_dir, work)

    def compare(key, sql):
        if key not in verified:
            bad[key] = "no verified result"
            return
        try:
            want = con.execute(sql).df()
            why = same(spark_frame(verified[key]), want)
        except Exception as e:
            why = f"oracle: {type(e).__name__}: {e}"
        if why:
            bad[key] = why

    if workload == "dialect_serve":
        for key, sql in doc["twins"].items():
            compare(key, sql)
    elif workload == "pipeline_iterative":
        for key, sql in out["oracle_sql"].items():
            if sql is None:
                bad[key] = "entry has no oracleSql"
            else:
                compare(key, sql)
    else:
        for stmt in doc["duck_setup"]:
            con.execute(stmt)
        failed_before = set(d["seq"] for d in out["done"]
                            if d["pass"] == 0 and d["error"])
        for op in doc["ops"]:
            if op["kind"] == "write":
                if op["seq"] in failed_before:
                    # a failed write leaves the table unchanged
                    continue
                try:
                    con.execute(op["twin"])
                except Exception as e:
                    bad[op["key"]] = f"oracle: {type(e).__name__}: {e}"
            else:
                compare(op["key"], op["twin"])
    con.close()
    return bad
