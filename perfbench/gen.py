"""Seeded input generator for the benchmark.

Writes a small corpus with the same schemas as the repository test corpus
(`events`, `customer`, `nation`, `lineitem`, `documents`, `embeddings`)
from one integer seed: the same seed always gives byte-identical tables.
Distributions follow the sf0.1 corpus where the queries are sensitive to
them (event values are log-normal with median ~35 and p90 ~115, events
are time-ordered by `event_id`, accounts 1..1500 with a few invalid id-0
rows, a 31-word document vocabulary with planted duplicates, 64-d
embeddings in 10 labelled clusters), and the customer table has sf0.1's
15 000 rows.

`chunk_events` cuts the event stream into time-ordered chunks for the
trickle workload; `content_hash` fingerprints a directory of inputs.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ACCOUNTS = 1500
CUSTOMERS = 15000  # the sf0.1 customer table
T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def events(seed, n, gap_s=26.0):
    """`n` events, time-ordered by event_id, `gap_s` mean gap between
    events (26 s is the sf0.1 density)."""
    r = _rng(seed, 1)
    gaps = r.exponential(gap_s * 1e6, n).astype(np.int64) + 1
    ts = T0_US + np.cumsum(gaps)
    user = r.integers(1, ACCOUNTS + 1, n)
    user[r.random(n) < 0.001] = 0  # invalid-account marker rows
    value = np.round(np.clip(np.exp(r.normal(3.55, 0.93, n)), 0.01, 600.0), 2)
    etype = r.integers(0, len(EVENT_TYPES), n)
    k = r.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {i}}}' for i in k]),
    })


def customer(seed, n=CUSTOMERS):
    r = _rng(seed, 2)
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in r.integers(0, 5, n)]),
    })


def nation():
    return pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })


def lineitem(seed, orders=4000, parts=1500, suppliers=200):
    r = _rng(seed, 3)
    per = r.integers(1, 8, orders)
    ok = np.repeat(np.arange(orders, dtype=np.int64), per)
    ln = np.concatenate([np.arange(1, p + 1) for p in per]).astype(np.int32)
    n = len(ok)
    qty = r.integers(1, 51, n).astype(np.float64)
    day0 = np.datetime64("1995-01-02", "us").astype(np.int64)
    ship = day0 + r.integers(0, 2500, n) * 86_400_000_000
    return pa.table({
        "l_orderkey": pa.array(ok),
        "l_partkey": pa.array(r.integers(0, parts, n).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, suppliers, n).astype(np.int64)),
        "l_linenumber": pa.array(ln),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * r.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(np.round(r.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(r.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in r.integers(0, 3, n)]),
        "l_linestatus": pa.array([("O", "F")[i] for i in r.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
    })


def documents(seed, n=400):
    """Random-vocabulary documents; every 50th doc repeats an earlier one
    exactly and every 50th+7 is a one-word edit of one (planted dups)."""
    r = _rng(seed, 4)
    texts = []
    for i in range(n):
        if i >= 50 and i % 50 == 0:
            texts.append(texts[i - 37])
        elif i >= 50 and i % 50 == 7:
            w = texts[i - 41].split(" ")
            w[len(w) // 2] = "dup"
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), int(r.integers(8, 90)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in r.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(seed, n=500, dim=64, labels=10):
    r = _rng(seed, 5)
    centers = r.normal(0, 1, (labels, dim))
    label = r.integers(0, labels, n)
    v = centers[label] * 0.35 + r.normal(0, 1, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def write(table, path):
    """Write atomically: a temp name in the same directory, then rename in."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def corpus(seed, out_dir, n_events=0, gap_s=26.0, with_analytic=False,
           customers=CUSTOMERS):
    """Write the tables a workload reads into `out_dir` (no events table
    when `n_events` is 0)."""
    if n_events:
        write(events(seed, n_events, gap_s), f"{out_dir}/events.parquet")
    write(customer(seed, customers), f"{out_dir}/customer.parquet")
    write(nation(), f"{out_dir}/nation.parquet")
    if with_analytic:
        write(lineitem(seed), f"{out_dir}/lineitem.parquet")
        write(documents(seed), f"{out_dir}/documents.parquet")
        write(embeddings(seed), f"{out_dir}/embeddings.parquet")


def chunk_events(table, rows_per_chunk):
    """Cut a time-ordered events table into consecutive chunks. Every row
    lands in exactly one chunk and each chunk's event times are >= the
    previous chunk's, so landing the chunks in order is an event-time
    ordered stream."""
    order = np.argsort(table.column("ts").to_numpy(), kind="stable")
    t = table.take(pa.array(order))
    return [t.slice(i, rows_per_chunk) for i in range(0, t.num_rows, rows_per_chunk)]


def content_hash(paths):
    """sha256 over the bytes of the given files, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]
