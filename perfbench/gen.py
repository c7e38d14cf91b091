"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files, another seed writes other files.

- ``star_schema``: the engine's source tables (TPC-H-shaped star schema,
  an ``events`` stream table, ``documents`` and ``embeddings``), in the
  column layout the engine's table loaders read.
- ``taxi_csv``: a raw taxi-trip CSV in the reference's column layout with
  planted defects whose counts are returned, so the expected ``raw_texi``
  and ``core_texi`` row counts are known without running the engine.
- ``arrivals``: a seeded split of a ``documents`` corpus into arrival
  files, one per streaming trigger.
"""
import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("the a fast slow key order sort table scan merge part window small big "
         "hash join batch stream spark dup group query row data filter customer "
         "line value agg column vector").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
EMBED_DIM = 64

TAXI_COLUMNS = [
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "pickup_longitude", "pickup_latitude",
    "RateCodeID", "store_and_fwd_flag", "dropoff_longitude", "dropoff_latitude",
    "payment_type", "fare_amount", "extra", "mta_tax", "tip_amount",
    "tolls_amount", "improvement_surcharge", "total_amount"]


def _rng(seed, stream):
    # one independent generator per table, so resizing one table never
    # changes another's contents
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _money(x):
    return np.round(x, 2)


def documents_table(seed, n_docs):
    """Bag-of-words documents; one in ten is a near copy of an earlier
    document (one word replaced), so the dedup queries find pairs."""
    rng = _rng(seed, 8)
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def star_schema(seed, out_dir, customers=1500, orders_per_customer=10,
                events=10000, n_docs=500, n_vectors=500):
    """Write the engine's source tables under ``out_dir`` as
    ``<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)

    def put(name, table):
        _write(table, os.path.join(out_dir, f"{name}.parquet"))

    put("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)}))
    put("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    rng = _rng(seed, 1)
    put("customer", pa.table({
        "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, customers).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, customers))),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, customers)])}))

    rng = _rng(seed, 2)
    n_orders = customers * orders_per_customer
    epoch_day = dt.datetime(1995, 1, 1)
    order_day = rng.integers(0, 2404, n_orders)
    put("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, customers, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(_money(rng.uniform(1000.0, 500000.0, n_orders))),
        "o_orderdate": pa.array([epoch_day + dt.timedelta(days=int(d)) for d in order_day],
                                pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_orders)])}))

    rng = _rng(seed, 3)
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_lines = len(okey)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    ship = order_day[okey] + rng.integers(1, 122, n_lines)
    put("lineitem", pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, 2000, n_lines).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, n_lines).astype(np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(qty * rng.uniform(900.0, 2100.0, n_lines))),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_lines)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_lines)]),
        "l_shipdate": pa.array([epoch_day + dt.timedelta(days=int(d)) for d in ship],
                               pa.timestamp("us"))}))

    rng = _rng(seed, 4)
    start_us = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, events)) + start_us
    put("events", pa.table({
        "event_id": pa.array(np.arange(events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, customers // 10), events).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, events)]),
        "value": pa.array(_money(rng.uniform(0.01, 490.0, events))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, events)])}))

    put("documents", documents_table(seed, n_docs))

    rng = _rng(seed, 5)
    labels = rng.integers(0, 10, n_vectors)
    centers = rng.normal(0.0, 0.12, (10, EMBED_DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n_vectors, EMBED_DIM))).astype(np.float32)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vectors, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))}))


def taxi_csv(seed, path, rows):
    """Write a raw taxi CSV of ``rows`` lines (plus header) and
    return the planted counts and the expected model row counts.

    Valid trips have distinct pickup times (so distinct surrogate keys),
    a positive duration and a speed under 60 mph. Planted defects:
    exact duplicate lines of valid trips, empty dropoff times, zero
    durations and trips faster than 300 mph. ``core_texi`` keeps exactly
    the valid trips; ``raw_texi`` keeps every line."""
    rng = _rng(seed, 6)
    n_dup, n_null, n_zero, n_fast = (int(rng.integers(rows // 100, rows // 50 + 1))
                                     for _ in range(4))
    n_valid = rows - n_dup - n_null - n_zero - n_fast
    n_unique = n_valid + n_null + n_zero + n_fast
    # unique, strictly increasing pickup seconds
    pickup = np.cumsum(rng.integers(1, 4, n_unique)) + int(
        (dt.datetime(2015, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds())
    kind = np.zeros(n_unique, dtype=np.int8)          # 0 valid
    kind[rng.permutation(n_unique)[:n_null + n_zero + n_fast]] = np.repeat(
        np.array([1, 2, 3], dtype=np.int8), [n_null, n_zero, n_fast])
    dur = rng.integers(60, 3600, n_unique)
    speed = rng.uniform(1.0, 60.0, n_unique)
    speed[kind == 3] = rng.uniform(400.0, 900.0, int((kind == 3).sum()))
    dist = np.round(speed * dur / 3600.0, 2)
    dur[kind == 2] = 0
    vendor = rng.integers(1, 3, n_unique)
    pax = rng.integers(1, 7, n_unique)
    rate = rng.integers(1, 7, n_unique)
    flag = rng.integers(0, 2, n_unique)
    pay = rng.integers(1, 5, n_unique)
    plon, plat = rng.uniform(-74.05, -73.75, n_unique), rng.uniform(40.6, 40.9, n_unique)
    dlon, dlat = rng.uniform(-74.05, -73.75, n_unique), rng.uniform(40.6, 40.9, n_unique)
    fare = np.round(2.5 + dist * 2.5, 2)
    tip = np.round(rng.uniform(0.0, 5.0, n_unique), 2)
    tolls = np.where(rng.random(n_unique) < 0.05, 5.54, 0.0)

    def fmt_ts(sec):
        return dt.datetime.fromtimestamp(int(sec), dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")

    out = []
    for i in range(n_unique):
        total = fare[i] + 0.5 + 0.5 + tip[i] + tolls[i] + 0.3
        out.append([
            int(vendor[i]), fmt_ts(pickup[i]),
            "" if kind[i] == 1 else fmt_ts(pickup[i] + dur[i]),
            int(pax[i]), f"{dist[i]:.2f}", f"{plon[i]:.6f}", f"{plat[i]:.6f}",
            int(rate[i]), "YN"[flag[i]], f"{dlon[i]:.6f}", f"{dlat[i]:.6f}",
            int(pay[i]), f"{fare[i]:.2f}", "0.5", "0.5", f"{tip[i]:.2f}",
            f"{tolls[i]:.2f}", "0.3", f"{total:.2f}"])
    valid_idx = np.flatnonzero(kind == 0)
    dups = [out[i] for i in rng.choice(valid_idx, n_dup, replace=False)]
    lines = out + dups
    order = rng.permutation(len(lines))
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(TAXI_COLUMNS)
        for i in order:
            w.writerow(lines[i])
    return {"rows": len(lines), "duplicates": n_dup, "null_dropoff": n_null,
            "zero_duration": n_zero, "over_300_mph": n_fast,
            "raw_texi": len(lines), "core_texi": n_valid}


def arrivals(seed, docs, out_dir, n_files):
    """Split the ``docs`` table into ``n_files`` arrival files by a seeded
    assignment; returns the file paths in arrival order."""
    rng = _rng(seed, 7)
    os.makedirs(out_dir, exist_ok=True)
    which = rng.integers(0, n_files, docs.num_rows)
    paths = []
    for k in range(n_files):
        p = os.path.join(out_dir, f"arrival-{k:03d}.parquet")
        _write(docs.filter(pa.array(which == k)), p)
        paths.append(p)
    return paths
