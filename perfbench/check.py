"""Output checks for one benchmark run, run after the JVM exits.

- curation: every query result the run wrote is compared with the query's
  oracle SQL run in DuckDB over the same parquet tables: same columns
  (sorted by name), same row count, equal values row by row.
- etl_daily: the warehouse is compared with values derived directly from
  the fixture parquet: order and item counts, unique order ids, the gross
  total, and the watermark in state.json.

Each check returns a list of problems; an empty list means it passed.
"""
import datetime
import decimal
import json
import math
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def compare_frames(spark_df, duck_df):
    s = spark_df.reindex(sorted(spark_df.columns), axis=1)
    d = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(s.columns) != list(d.columns):
        return [f"columns spark={list(s.columns)} duck={list(d.columns)}"]
    if len(s) != len(d):
        return [f"rows spark={len(s)} duck={len(d)}"]
    problems = []
    for c in s.columns:
        sv = [_cell(x) for x in s[c].tolist()]
        dv = [_cell(x) for x in d[c].tolist()]
        if str(s[c].dtype).startswith("datetime") or str(d[c].dtype).startswith("datetime"):
            sv = [None if x is None else str(pd.Timestamp(x)) for x in sv]
            dv = [None if x is None else str(pd.Timestamp(x)) for x in dv]
        bad = [i for i, (a, b) in enumerate(zip(sv, dv)) if a != b]
        if bad:
            i = bad[0]
            problems.append(f"col {c}: {len(bad)}/{len(sv)} cells differ; "
                            f"row {i}: spark={sv[i]!r} duck={dv[i]!r}")
    return problems


def check_queries(data_dir, work_dir):
    oracle = json.load(open(os.path.join(work_dir, "oracle_sql.json")))
    con = _connect(data_dir)
    problems = []
    for name, sql in sorted(oracle.items()):
        if not sql:
            problems.append(f"{name}: no oracle sql")
            continue
        try:
            spark_df = pd.read_parquet(os.path.join(work_dir, "results", f"{name}.parquet"))
            duck_df = con.sql(sql).df()
        except Exception as e:  # a missing result or a failing oracle is a mismatch
            problems.append(f"{name}: {e}")
            continue
        problems += [f"{name}: {p}" for p in compare_frames(spark_df, duck_df)]
    return problems, len(oracle)


def _ts(day):
    return datetime.datetime.fromisoformat(day)


def check_warehouse(data_dir, work_dir):
    got = json.load(open(os.path.join(work_dir, "etl_check.json")))
    con = _connect(data_dir)
    windows = got["windows"]
    new_days = [w for w in windows if w >= got["seed_end"]]
    end = (_ts(max(new_days)) + datetime.timedelta(days=1)) if new_days \
        else _ts(got["seed_end"])
    n, gross = con.execute(
        "SELECT count(*), sum(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders "
        "WHERE o_orderdate < ?", [end]).fetchone()
    items = con.execute(
        "SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
        "WHERE o.o_orderdate < ?", [end]).fetchone()[0]
    # the watermark follows the last window that carried orders:
    # max(order date in window) + 1 minute
    mark = None
    for w in windows:
        m = con.execute("SELECT max(o_orderdate) FROM orders WHERE o_orderdate >= ? "
                        "AND o_orderdate < ?",
                        [_ts(w), _ts(w) + datetime.timedelta(days=1)]).fetchone()[0]
        if m is not None:
            mark = m + datetime.timedelta(minutes=1)
    problems = []
    if got["orders"] != n:
        problems.append(f"fct_orders rows {got['orders']} != {n}")
    if got["distinct_order_ids"] != n:
        problems.append(f"unique order_id {got['distinct_order_ids']} != {n}")
    if got["items"] != items:
        problems.append(f"fct_order_items rows {got['items']} != {items}")
    if decimal.Decimal(got["gross_total"] or "0") != (gross or decimal.Decimal(0)):
        problems.append(f"gross total {got['gross_total']} != {gross}")
    want_state = None if mark is None else mark.strftime("%Y-%m-%d %H:%M:%S")
    state = json.loads(got["state"]).get("since_iso") if got["state"] else None
    if state != want_state:
        problems.append(f"watermark {state} != {want_state}")
    return problems, 1
