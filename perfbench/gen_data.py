#!/usr/bin/env python3
"""Generate the benchmark's input tables as parquet.

Usage: gen_data.py <out_dir> [scale]

Writes the ten tables the library's queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one `<name>.parquet` file each, with the column names and
physical types the queries expect: timestamps are microsecond
TIMESTAMP without UTC adjustment, embeddings are 64 float32s. Row counts
follow a TPC-H-style scale factor.

It also lands `events` as daily batches for the ingest steps:
`landing/batches/<day>.parquet` holds one day's events,
`landing/redo/<day>.parquet` a corrected re-delivery of that day (every
seventh event dropped, values raised by a tenth), and `landing/days.tsv`
lists each day with its first and last event_id (ids follow ts, so a
day's ids are contiguous). Here ts is a UTC-adjusted timestamp, as a
Spark job would have written it.

Everything depends only on the fixed DATA_SEED and the scale, never on a
benchmark run's seed: the run seed orders the calls and picks which
batches are ingested, so pinned result fingerprints stay valid for every
run.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ("the stream query row fast small spark group customer line sort hash "
         "batch dup data filter value big key order table scan merge part "
         "window join slow agg column a vector").split()


def timestamps(rng, n, lo, hi, sort=False, whole_days=False):
    lo_us = np.datetime64(lo, "us").astype(np.int64)
    hi_us = np.datetime64(hi, "us").astype(np.int64)
    v = rng.integers(lo_us, hi_us, n)
    if whole_days:
        v -= v % (86400 * 10**6)
    if sort:
        v.sort()
    return pa.array(v.astype("datetime64[us]"), pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale):
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(10, int(150000 * scale))
    n_supp = max(5, int(10000 * scale))
    n_part = max(20, int(200000 * scale))
    n_ord = max(100, int(1500000 * scale))
    n_line = max(400, int(6000000 * scale))
    n_ev = max(100, int(1000000 * scale))
    n_users = max(5, int(15000 * scale))
    n_docs = 500 if scale <= 0.01 else int(50000 * scale)
    n_emb = 500 if scale <= 0.01 else int(20000 * scale)
    i32, i64 = pa.int32(), pa.int64()

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    yield "customer", pa.table({
        "c_custkey": pa.array(range(n_cust), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adj = ["small", "red", "blue", "hot", "cold", "new", "old", "large"]
    noun = ["ring", "widget", "bolt", "gear", "rod", "anvil", "plate", "gizmo"]
    yield "part", pa.table({
        "p_partkey": pa.array(range(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n_part), rng.choice(noun, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 20000) * 0.1, 2)})
    yield "orders", pa.table({
        "o_orderkey": pa.array(range(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": timestamps(rng, n_ord, "1995-01-01", "2001-08-02", whole_days=True),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": timestamps(rng, n_line, "1995-01-02", "2001-11-05", whole_days=True)})
    yield "events", pa.table({
        "event_id": pa.array(range(n_ev), i64),
        "ts": timestamps(rng, n_ev, "2024-01-01", "2024-01-31", sort=True),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(30.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(10, 100, n_docs)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    yield "documents", pa.table({
        "doc_id": pa.array(range(n_docs), i64),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "es", "fr", "zh"], n_docs),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    x = rng.standard_normal((n_emb, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(range(n_emb), i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})


def land(events, out):
    """Write one batch and one re-delivery per day of `events`."""
    ts = events.column("ts").cast(pa.timestamp("us", tz="UTC"))
    day = ts.cast(pa.date32())
    t = events.set_column(events.schema.get_field_index("ts"), "ts", ts).append_column("day", day)
    ids = t.column("event_id").to_numpy()
    days = day.to_numpy()
    for sub in ("batches", "redo"):
        os.makedirs(os.path.join(out, "landing", sub))
    rows = []
    for d in np.unique(days):
        sel = np.flatnonzero(days == d)
        batch = t.take(sel)
        keep = batch.filter(pa.array(ids[sel] % 7 != 0))
        redo = keep.set_column(keep.schema.get_field_index("value"), "value",
                               pa.array(np.round(keep.column("value").to_numpy() * 1.1, 2)))
        pq.write_table(batch, os.path.join(out, "landing", "batches", f"{d}.parquet"))
        pq.write_table(redo, os.path.join(out, "landing", "redo", f"{d}.parquet"))
        rows.append(f"{d}\t{ids[sel].min()}\t{ids[sel].max()}\n")
    with open(os.path.join(out, "landing", "days.tsv"), "w") as f:
        f.writelines(rows)


def main():
    out = sys.argv[1]
    scale = float(sys.argv[2]) if len(sys.argv) > 2 else 0.001
    os.makedirs(out, exist_ok=True)
    for name, table in tables(scale):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        if name == "events":
            land(table, out)


if __name__ == "__main__":
    main()
