"""Independent output check: the program's results against DuckDB.

Each oracle is the `SparkEntry.oracleSql` string of the matching batch
query, run by DuckDB over the same generated input the program read. Rows
are compared as multisets: same column names in the same order, same row
count, and equal values after sorting (floats within 1e-9 relative or
1e-6 absolute, everything else exactly).
"""
import glob
import math
import os

import duckdb
import numpy as np
import pandas as pd

# stream sink -> (batch oracle query, SQL predicate selecting the windows
# closed at watermark {wm}; None where every row is final when emitted)
STREAM_ORACLES = {
    "high_value_alerts": ("q_enrich_cdc_dim", None),
    "balance_updates": ("q_balance_reconcile", None),
    "fraud_alerts": ("q_velocity_count", "window_end_ms <= {wm}"),
    "daily_spend": ("q_daily_spend_sum", "day_start_ms + 86400000 <= {wm}"),
    "dormancy_alerts": ("q_dormancy_session", "session_end_ms <= {wm}"),
}


def connect(tables):
    """DuckDB connection with one view per table: name -> list of files."""
    con = duckdb.connect()
    for name, files in tables.items():
        lst = ", ".join(f"'{f}'" for f in files)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{lst}])")
    return con


def read_output(path):
    """A Spark parquet output directory as one DataFrame (None if absent)."""
    parts = sorted(glob.glob(f"{path}/*.parquet"))
    if not parts:
        return None
    return pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)


def _cell_equal(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _canon(v):
    """Hashable, sortable form of a cell (arrays and maps become strings)."""
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, (np.ndarray, list, tuple, dict)):
        return (3, str(v.tolist() if isinstance(v, np.ndarray) else v))
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return (0, "")
    if isinstance(v, pd.Timestamp):
        return (1, v.value // 1000)
    if isinstance(v, (bool, int, float)):
        return (1, v)
    return (2, str(v))


def compare(got, want):
    """Problems found comparing two frames as row multisets; [] if equal."""
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} vs {list(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} vs {len(want)}"]
    rows_g = sorted(tuple(_canon(v) for v in r) for r in got.itertuples(index=False))
    rows_w = sorted(tuple(_canon(v) for v in r) for r in want.itertuples(index=False))
    for i, (a, b) in enumerate(zip(rows_g, rows_w)):
        for c, x, y in zip(got.columns, a, b):
            if x[0] != y[0] or not _cell_equal(x[1], y[1]):
                return [f"row {i} column {c}: {x[1]!r} vs {y[1]!r}"]
    return []


def oracle(con, sql, where=None):
    if where:
        sql = f"SELECT * FROM ({sql}) WHERE {where}"
    return con.sql(sql).df()


def check_batch(con, out_dir, oracles):
    """Every batch_mix query's warm-up output against its oracle."""
    problems = {}
    for name, sql in oracles.items():
        got = read_output(f"{out_dir}/{name}")
        if got is None:
            problems[name] = ["no output"]
            continue
        p = compare(got, oracle(con, sql))
        if p:
            problems[name] = p
    return problems


def check_streams(con, out_dir, oracles, sinks):
    """Stream sinks against their batch oracles, windowed sinks on the
    windows that closed before the sink's final watermark."""
    problems = {}
    for sink, (query, closed) in STREAM_ORACLES.items():
        if sink not in sinks:
            continue
        wm = sinks[sink]["watermark_ms"]
        got = read_output(f"{out_dir}/{sink}")
        want = oracle(con, oracles[query], closed.format(wm=wm) if closed else None)
        if got is None:
            got = want.iloc[0:0]
        else:
            got = got[[c for c in want.columns if c in got.columns]] \
                if set(want.columns) <= set(got.columns) else got
        p = compare(got, want)
        if p:
            problems[sink] = p
        elif len(want) == 0:
            problems[sink] = ["oracle selects no rows: nothing was checked"]
    return problems


def check_properties(result):
    """Properties the streaming method must have on time-ordered input."""
    problems = []
    chk = result["check"]
    for q, b in chk.get("batches", {}).items():
        if b["input_rows"] != chk["landed_rows"]:
            problems.append(f"{q}: read {b['input_rows']} rows, landed {chk['landed_rows']}")
        if b["data_batches"] != chk["landed"]:
            problems.append(f"{q}: {b['data_batches']} data batches for {chk['landed']} files")
        if b["dropped_by_watermark"] != 0:
            problems.append(f"{q}: {b['dropped_by_watermark']} rows dropped by watermark")
    return problems


def tables_in(dir_, names):
    return {n: [f"{dir_}/{n}.parquet"] for n in names
            if os.path.exists(f"{dir_}/{n}.parquet")}
