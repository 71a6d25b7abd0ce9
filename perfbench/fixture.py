"""Seeded input tables for the stream_gates workload, and the DuckDB oracle
check of its outputs.

The tables follow the schemas and value distributions of the engine's
parquet fixtures (FIXTURES.md) at sf0.01: ``events`` (10 000 rows over the
30 days from 2024-01-01, sorted by time, 150 users), ``customer`` (1 500)
and ``orders`` (15 000). Only these three are read by the gate queries.
The seed picks every value; the shapes and sizes are fixed, so timings of
different seeds compare.
"""
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the repository's own oracle checker: its canonical form and type gate
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts"))
from check import canon  # noqa: E402
from typegate import type_gate  # noqa: E402

TABLES = ["events", "customer", "orders"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def write_tables(out_dir, seed, n_events=10000, n_customers=1500, n_orders=15000):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    start_us = 1704067200 * 10**6  # 2024-01-01T00:00:00
    span_us = 30 * 86400 * 10**6
    ts = np.unique(rng.integers(0, span_us, size=n_events * 2))
    ts = np.sort(rng.choice(ts, size=n_events, replace=False)) + start_us
    n_users = max(1, n_events * 3 // 200)
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, size=n_events, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, size=n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)]),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_customers, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_customers, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_customers), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, size=n_customers)]),
    })
    day0 = np.datetime64("1995-01-01", "D")
    days = (np.datetime64("2001-08-01", "D") - day0).astype(int)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_customers, size=n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array([STATUSES[i] for i in rng.integers(0, 3, size=n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, size=n_orders), 2)),
        "o_orderdate": pa.array((day0 + rng.integers(0, days + 1, size=n_orders))
                                .astype("datetime64[us]")),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, size=n_orders)]),
    })
    for name, t in (("events", events), ("customer", customer), ("orders", orders)):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def check_results(data_dir, results_dir, names):
    """Compare each query's parquet output with its DuckDB oracle as
    scripts/check.py does: type gate, pandas sort probe, then the canonical
    rows. Returns {name: None if it matches, else a one-line reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    path = os.path.join(results_dir, "oracle_sql.json")
    oracle = json.load(open(path)) if os.path.exists(path) else {}
    verdict = {}
    for name in names:
        if name not in oracle:
            verdict[name] = "no oracle"
            continue
        files = os.path.join(results_dir, name, "*.parquet")
        violations = type_gate(con, name, oracle[name], files)
        if violations:
            verdict[name] = "; ".join(violations)
            continue
        try:
            got = con.execute(f"SELECT * FROM '{files}'")
            g_cols = [d[0] for d in got.description]
            g = canon(got.fetchall(), g_cols)
            df = con.execute(f"SELECT * FROM '{files}'").df()
            df.sort_values(by=sorted(df.columns), inplace=True)
        except Exception as e:  # missing, unreadable or unsortable output
            verdict[name] = f"output unreadable: {str(e).splitlines()[0]}"
            continue
        try:
            exp = con.execute(oracle[name])
            e = canon(exp.fetchall(), [d[0] for d in exp.description])
        except Exception as ex:
            verdict[name] = f"oracle failed: {str(ex).splitlines()[0]}"
            continue
        if g[0] != e[0]:
            verdict[name] = f"columns {g[0]} != {e[0]}"
        elif g[1] != e[1]:
            verdict[name] = f"rows differ ({len(g[1])} vs {len(e[1])})"
        else:
            verdict[name] = None
    return verdict
