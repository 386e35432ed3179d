"""Deterministic input generator for the benchmark.

Two kinds of input:

* ``tables(scale, out_dir)`` writes the ten engine tables (``region`` ...
  ``embeddings``) as one parquet file each, with the same schemas and the
  same value distributions as the engine's test data. The table content
  depends only on the scale and ``TABLE_SEED``: the oracle digests in
  ``expected.json`` are recorded once against it, so a run never needs the
  oracle engine.
* ``stream_files(events, seed, out_dir, ...)`` turns the ``events`` table
  into the arrival files the ``stream`` workload reads. It depends on the
  run's seed: each replica of the events gets a seed-chosen disjoint user-id
  slot, and the rows inside every file arrive in a seed-shuffled order.
  File membership is cut on base-event boundaries, so every file holds all
  replicas of the same base events and per-user event-time order holds
  across files, which the ``transformWithState`` processors require.

Usage: ``python3 perfbench/gen.py <scale> <out_dir>`` writes the tables.
"""
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20261017
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
USER_STRIDE = 1_000_000          # replica slot k owns user ids [k*S, (k+1)*S)
EVENT_STRIDE = 1_000_000_000     # and event ids [k*E, (k+1)*E)
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DAY_US = 86_400_000_000


def _rng(name: str, scale: float) -> np.random.Generator:
    """One independent stream per (table, scale), so tables never share
    draws and adding a column to one table leaves the others unchanged."""
    key = int.from_bytes(hashlib.sha256(f"{name}@{scale}".encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64([TABLE_SEED, key]))


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(a, b + 1, n) * DAY_US).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path + ".tmp", compression="snappy")
    os.replace(path + ".tmp", path)


def _sizes(scale: float) -> dict:
    return {
        "customer": int(150_000 * scale), "supplier": max(10, int(10_000 * scale)),
        "part": int(200_000 * scale), "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale), "events": int(1_000_000 * scale),
        "users": max(10, int(15_000 * scale)), "documents": int(50_000 * scale),
        "embeddings": max(500, int(20_000 * scale)),
    }


def tables(scale: float, out_dir: str) -> dict:
    """Write all ten tables for ``scale``; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    n = _sizes(scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}))

    r = _rng("customer", scale)
    k = n["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(k), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)], s),
        "c_nationkey": pa.array(r.integers(0, 25, k), i32),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, k), f64),
        "c_mktsegment": pa.array(segs[r.integers(0, 5, k)], s)}))

    r = _rng("supplier", scale)
    k = n["supplier"]
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(k), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)], s),
        "s_nationkey": pa.array(r.integers(0, 25, k), i32),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, k), f64)}))

    r = _rng("part", scale)
    k = n["part"]
    adj = np.array(["blue", "red", "small", "old", "new", "hot", "cold", "big"])
    noun = np.array(["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    names = np.char.add(np.char.add(adj[r.integers(0, 8, k)], " "), noun[r.integers(0, 8, k)])
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(k), i64),
        "p_name": pa.array(names, s),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k)], s),
        "p_type": pa.array(types[r.integers(0, 6, k)], s),
        "p_size": pa.array(r.integers(1, 51, k), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(k) % 1000) / 10.0, f64)}))

    r = _rng("orders", scale)
    k = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(k), i64),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, k)], s),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, k), f64),
        "o_orderdate": pa.array(_days(r, "1995-01-01", "2001-08-01", k), ts),
        "o_orderpriority": pa.array(prio[r.integers(0, 5, k)], s)}))

    r = _rng("lineitem", scale)
    k = n["lineitem"]
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), i64),
        "l_partkey": pa.array(r.integers(0, n["part"], k), i64),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), i64),
        "l_linenumber": pa.array(r.integers(1, 8, k), i32),
        "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, k), f64),
        "l_discount": pa.array(r.integers(0, 11, k) / 100.0, f64),
        "l_tax": pa.array(r.integers(0, 9, k) / 100.0, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, k)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, k)], s),
        "l_shipdate": pa.array(_days(r, "1995-01-02", "2001-11-04", k), ts)}))

    r = _rng("events", scale)
    k = n["events"]
    offs = np.sort(r.integers(0, 30 * DAY_US, k))
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    etypes = np.array(["view", "click", "purchase", "signup", "error"])
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(k), i64),
        "ts": pa.array((t0 + offs).astype("datetime64[us]"), ts),
        "user_id": pa.array(r.integers(0, n["users"], k), i64),
        "event_type": pa.array(etypes[r.integers(0, 5, k)], s),
        "value": pa.array(_money(r, 0.01, 500.0, k), f64),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)], s)}))

    r = _rng("documents", scale)
    k = n["documents"]
    vocab = np.array(VOCAB)
    texts = []
    for i in range(k):
        u = r.random()
        if texts and u < 0.002:                      # exact duplicate
            texts.append(texts[int(r.integers(max(0, i - 50), i))])
        elif texts and u < 0.08:                     # near duplicate
            words = texts[int(r.integers(max(0, i - 5), i))].split(" ")
            for j in r.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = vocab[r.integers(0, len(vocab))]
            words.append("dup")
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[r.integers(0, len(vocab), int(r.integers(10, 101)))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(k), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(langs[r.integers(0, 7, k)], s),
        "source": pa.array([f"src{v}" for v in r.integers(0, 20, k)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)}))

    r = _rng("embeddings", scale)
    k = n["embeddings"]
    centroids = r.normal(0.0, 1.0, (10, 64))
    label = r.integers(0, 10, k)
    vecs = centroids[label] + 0.8 * r.normal(0.0, 1.0, (k, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(k), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, i32)}))
    return {t: pq.ParquetFile(os.path.join(out_dir, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}


def stream_files(events_path: str, seed: int, out_dir: str,
                 replicas: int, files: int) -> int:
    """Write ``files`` parquet arrival files of ``replicas`` disjoint copies
    of the events table; returns the total row count."""
    ev = pq.read_table(events_path, columns=["user_id", "ts", "event_id",
                                             "event_type", "value"])
    base = len(ev)
    rng = np.random.Generator(np.random.PCG64([TABLE_SEED, seed]))
    slots = rng.permutation(replicas)
    uid = ev.column("user_id").to_numpy()
    eid = ev.column("event_id").to_numpy()
    ts = ev.column("ts").cast(pa.int64()).to_numpy()
    etype = ev.column("event_type").to_numpy(zero_copy_only=False)
    val = ev.column("value").to_numpy()
    os.makedirs(out_dir, exist_ok=True)
    cuts = np.linspace(0, base, files + 1).astype(np.int64)
    mtime = 1_700_000_000
    for f in range(files):
        lo, hi = cuts[f], cuts[f + 1]
        rep = np.repeat(slots, hi - lo)
        idx = np.tile(np.arange(lo, hi), replicas)
        order = rng.permutation(len(idx))
        rep, idx = rep[order], idx[order]
        table = pa.table({
            "user_id": pa.array(uid[idx] + rep * USER_STRIDE, pa.int64()),
            "ts": pa.array(ts[idx], pa.int64()).cast(pa.timestamp("us", tz="UTC")),
            "event_id": pa.array(eid[idx] + rep * EVENT_STRIDE, pa.int64()),
            "event_type": pa.array(etype[idx], pa.string()),
            "value": pa.array(val[idx], pa.float64())})
        path = os.path.join(out_dir, f"part-{f:04d}.parquet")
        pq.write_table(table, path, compression="snappy")
        # the file source orders new files by modification time: pin it
        os.utime(path, (mtime + f, mtime + f))
    return base * replicas


if __name__ == "__main__":
    print(tables(float(sys.argv[1]), sys.argv[2]))
