"""Seeded input generator for the benchmark.

Writes, under one output directory:
  tables/<name>.parquet   the ten catalog tables (the TPC-H-like star schema,
                          the events stream, the document corpus and its
                          embeddings), in the shape the catalog queries read
  graph_small.parquet     an edge set well below the connected-components
                          local-path cutover
  graph_large.parquet     an edge set well above it
  serve_stream.json       the serve workload's closed-loop call sequence

The same seed gives byte-identical files; every random draw comes from one
numpy PCG64 stream per artifact, seeded from (seed, artifact name).
"""
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMB_DIM = 64

# Connected components solves edge sets at or below this many oriented
# distinct edges on the driver (ConnectedComponents.LocalEdgeLimitDefault).
CC_LOCAL_EDGE_LIMIT = 100_000
GRAPH_SMALL_EDGES = 20_000
GRAPH_LARGE_EDGES = 130_000


def rng(seed, name):
    return np.random.Generator(np.random.PCG64([seed, zlib.crc32(name.encode())]))


def sizes(sf):
    return {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _write(table, path):
    # one row group, as the catalog's test tables have: a narrow scan is
    # one task, which is what QueryDef.spread exists for
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _days(r, start, span_days, n):
    base = np.datetime64(start, "us")
    return base + r.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def tables(seed, sf):
    n = sizes(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng(seed, "customer")
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, k)]})

    r = rng(seed, "supplier")
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, k)})

    r = rng(seed, "part")
    k = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, k), r.integers(0, 8, k))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
        "p_type": [PART_TYPES[t] for t in r.integers(0, 6, k)],
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) * 0.1, 2)})

    r = rng(seed, "orders")
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in r.integers(0, 3, k)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, k),
        "o_orderdate": pa.array(_days(r, "1995-01-01", 2404, k), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[p] for p in r.integers(0, 5, k)]})

    r = rng(seed, "lineitem")
    k = n["lineitem"]
    qty = r.integers(1, 51, k).astype(np.float64)
    flags = r.integers(0, 6, k)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, k), 2),
        "l_discount": np.round(r.integers(0, 11, k) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, k) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[f // 2] for f in flags],
        "l_linestatus": [("F", "O")[f % 2] for f in flags],
        "l_shipdate": pa.array(_days(r, "1995-01-02", 2498, k), pa.timestamp("us"))})

    r = rng(seed, "events")
    k = n["events"]
    gaps = r.integers(1, 2 * 30 * 86_400_000_000 // max(1, k), k)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + np.cumsum(gaps).astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(150, k * 3 // 200), k), pa.int64()),
        "event_type": [EVENT_TYPES[e] for e in r.integers(0, 5, k)],
        "value": np.round(r.uniform(0.01, 500.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)]})

    out["documents"] = documents(seed, n["documents"])

    r = rng(seed, "embeddings")
    k = n["embeddings"]
    v = r.standard_normal((k, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, k), pa.int32())})
    return out


def documents(seed, k):
    """Word-salad documents over a 30-word vocabulary; one in twenty copies
    an earlier document and appends "dup" (the near-duplicate population the
    dedup and decontamination queries look for)."""
    r = rng(seed, "documents")
    texts = []
    for i in range(k):
        if i > 0 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in r.integers(0, len(VOCAB), int(r.integers(10, 101)))))
    return pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": [LANGS[x] for x in r.integers(0, len(LANGS), k)],
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def edges(seed, name, n_edges):
    """Clustered random graph: nodes fall into blocks of 8, and each edge
    joins two nodes of one block, so the graph has many small components,
    the shape of near-duplicate clusters. Returns (src, dst) with exactly n_edges oriented distinct
    non-loop edges."""
    r = rng(seed, name)
    n_nodes = n_edges // 2
    block = 8
    seen = set()
    src, dst = [], []
    while len(src) < n_edges:
        b = r.integers(0, n_nodes // block, 4096)
        u = b * block + r.integers(0, block, 4096)
        v = b * block + r.integers(0, block, 4096)
        for a, c in zip(u.tolist(), v.tolist()):
            key = (a, c) if a > c else (c, a)
            if a != c and key not in seen and len(src) < n_edges:
                seen.add(key)
                src.append(a)
                dst.append(c)
    # sparse node ids: components keep their minimum id, not a dense rank
    perm = r.permutation(n_nodes * 3)[:n_nodes]
    return pa.table({"src": pa.array(perm[src], pa.int64()),
                     "dst": pa.array(perm[dst], pa.int64())})


def serve_stream(seed, n_docs, n_emb, n_calls):
    """Closed-loop call sequence for the serve workload: serve batches
    alternating with mutations (upsert, then remove, and so on). Mutations
    touch disjoint doc ids inside the embedded prefix (the serving corpus),
    so no call removes an id that an earlier call already removed."""
    r = rng(seed, "serve")
    pool = [int(x) for x in r.permutation(min(n_docs, n_emb))]
    calls = []
    for i in range(n_calls):
        if i % 2 == 1:
            kind = "upsert" if (i // 2) % 2 == 0 else "remove"
            ids = sorted(pool.pop() for _ in range(8))
            calls.append({"op": kind, "ids": ids})
        else:
            qs = []
            for j in range(4):
                qs.append({"query_id": f"c{i}q{j}",
                           "terms": [VOCAB[w] for w in r.integers(0, len(VOCAB), 3)],
                           "vec_id": int(r.integers(0, n_emb))})
            calls.append({"op": "serve", "queries": qs})
    return calls


def generate(seed, sf, out_dir, serve_calls=32):
    os.makedirs(os.path.join(out_dir, "tables"), exist_ok=True)
    tabs = tables(seed, sf)
    for name, t in tabs.items():
        _write(t, os.path.join(out_dir, "tables", f"{name}.parquet"))
    _write(edges(seed, "graph_small", GRAPH_SMALL_EDGES), os.path.join(out_dir, "graph_small.parquet"))
    _write(edges(seed, "graph_large", GRAPH_LARGE_EDGES), os.path.join(out_dir, "graph_large.parquet"))
    calls = serve_stream(seed, tabs["documents"].num_rows, tabs["embeddings"].num_rows, serve_calls)
    with open(os.path.join(out_dir, "serve_stream.json"), "w") as f:
        json.dump(calls, f, sort_keys=True)
