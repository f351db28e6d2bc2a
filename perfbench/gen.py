"""Seeded input generator for the benchmark workloads.

Every workload reads the engine's ten-table star schema (documents,
embeddings, events, TPC-H-style orders/lineitem and their dimensions).
The generator first draws a fixed *base* corpus from a constant structure
seed, with the shapes the engine's queries expect: uniform TPC-H-style
facts, a 30-word token vocabulary with 5% " dup"-suffixed near-duplicate
documents, and unit-norm 64-dim embeddings. The run's ``--seed`` then only
relabels that base, so two seeds do the same amount of work on different
bytes:

* ``relabelled`` (rag_retrieval, ingest_ticks): bijective permutations of
  ``doc_id``, ``vec_id`` and ``user_id``. Query vectors (``vec_id < 5``),
  hash-based train/test splits and per-user streams move with the seed.
* ``scaled4`` (etl_batch): four disjoint re-keyed copies of the base, the
  way ``graft.ScaleProbe.buildScaled`` builds its scaled corpus; copy k's
  text applies a letter rotation chosen by the seed, all four distinct, so
  each copy's near-duplicate structure is isomorphic while cross-copy
  token overlap stays low.

The same seed gives byte-identical parquet files; every seed gives the same
row counts. Nothing outside the output directory is read or written.

Run standalone: ``python3 perfbench/gen.py <scaled4|relabelled> <seed> <outdir>``.
"""
import json
import os
import string
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRUCTURE_SEED = 20240101
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Base sizes: the sf0.01 shape of the engine's test data.
N_DOCS, N_VECS, N_EVENTS = 500, 500, 10_000
N_ORDERS, N_LINES, N_CUST, N_SUPP, N_PART = 15_000, 60_000, 1_500, 100, 2_000
N_USERS, DIM, N_NEAR_DUPS = 150, 64, 25

VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "data", "table", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts(base, offsets, unit):
    return (np.datetime64(base, "us") + offsets.astype(f"timedelta64[{unit}]")
            ).astype("datetime64[us]")


def base_tables():
    """The seed-independent base corpus, as numpy column dicts."""
    rng = np.random.default_rng(STRUCTURE_SEED)
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    t["customer"] = {
        "c_custkey": np.arange(N_CUST, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": rng.integers(0, 25, N_CUST).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUST), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], N_CUST)}
    t["supplier"] = {
        "s_suppkey": np.arange(N_SUPP, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": rng.integers(0, 25, N_SUPP).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPP), 2)}
    adj = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
    t["part"] = {
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(N_PART) % 1000) * 0.1, 1)}
    t["orders"] = {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUST, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORDERS), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, N_ORDERS), "D"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)}
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINES).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINES).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPP, N_LINES).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINES).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINES).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, N_LINES), 2),
        "l_discount": rng.integers(0, 11, N_LINES) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINES) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINES),
        "l_linestatus": rng.choice(["F", "O"], N_LINES),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, N_LINES), "D")}
    t["events"] = {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts("2024-01-01", np.sort(
            rng.integers(0, 30 * 86400 * 10**6, N_EVENTS)), "us"),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], N_EVENTS),
        "value": np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]}
    words = rng.integers(10, 91, N_DOCS)
    texts = [" ".join(rng.choice(VOCAB, w)) for w in words]
    # near-duplicates: a doc's text replaced by another's plus " dup"
    dup_of = rng.choice(N_DOCS, N_NEAR_DUPS, replace=False)
    src = rng.integers(0, N_DOCS, N_NEAR_DUPS)
    for d, s in zip(dup_of, src):
        if d != s:
            texts[d] = texts[s] + " dup"
    t["documents"] = {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    v = rng.standard_normal((N_VECS, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": [row for row in v.astype(np.float32)],
        "label": rng.integers(0, 10, N_VECS).astype(np.int32)}
    return t


def _arrow(cols):
    out = {}
    for k, v in cols.items():
        if k == "embedding":
            out[k] = pa.array([r.tolist() for r in v], type=pa.list_(pa.float32()))
        else:
            out[k] = pa.array(v.tolist() if isinstance(v, np.ndarray) and
                              v.dtype.kind == "U" else v)
    return pa.table(out)


def _sorted_by(cols, key):
    order = np.argsort(np.asarray(cols[key]), kind="stable")
    return {k: ([v[i] for i in order] if isinstance(v, list) else v[order])
            for k, v in cols.items()}


def relabel(t, seed):
    """Bijective, seed-chosen relabelling of doc_id, vec_id and user_id."""
    rng = np.random.default_rng([seed, 1])
    t = dict(t)
    for table, key, n in (("documents", "doc_id", N_DOCS),
                          ("embeddings", "vec_id", N_VECS)):
        cols = dict(t[table])
        cols[key] = rng.permutation(n).astype(np.int64)[cols[key]]
        t[table] = _sorted_by(cols, key)
    ev = dict(t["events"])
    ev["user_id"] = rng.permutation(N_USERS).astype(np.int64)[ev["user_id"]]
    t["events"] = ev
    return t


def rotation(k):
    ring = string.ascii_lowercase
    r = ring[k:] + ring[:k]
    return str.maketrans(ring + ring.upper(), r + r.upper())


def scaled_copies(t, seed, copies=4):
    """`copies` disjoint re-keyed copies per fact table, one file each."""
    rng = np.random.default_rng([seed, 4])
    rots = rng.choice(26, copies, replace=False)
    parts = {name: [] for name in TABLES}
    offs = {"doc": N_DOCS, "vec": N_VECS, "evt": N_EVENTS, "usr": N_USERS,
            "ord": N_ORDERS, "cust": N_CUST, "supp": N_SUPP}

    def shift(cols, **keys):
        out = dict(cols)
        for col, off in keys.items():
            out[col] = cols[col] + off
        return out

    for k in range(copies):
        tr = rotation(int(rots[k]))
        docs = shift(t["documents"], doc_id=k * offs["doc"])
        docs["text"] = [x.translate(tr) for x in docs["text"]]
        parts["documents"].append(docs)
        parts["embeddings"].append(shift(t["embeddings"], vec_id=k * offs["vec"]))
        parts["events"].append(shift(t["events"], event_id=k * offs["evt"],
                                     user_id=k * offs["usr"]))
        parts["orders"].append(shift(t["orders"], o_orderkey=k * offs["ord"],
                                     o_custkey=k * offs["cust"]))
        parts["lineitem"].append(shift(t["lineitem"], l_orderkey=k * offs["ord"],
                                       l_suppkey=k * offs["supp"]))
        parts["customer"].append(shift(t["customer"], c_custkey=k * offs["cust"]))
        parts["supplier"].append(shift(t["supplier"], s_suppkey=k * offs["supp"]))
    for name in ("region", "nation", "part"):
        parts[name] = [t[name]]
    return parts, [int(r) for r in rots]


def generate(kind, seed, outdir):
    """Write the workload's tables under `outdir`; return a manifest dict."""
    base = base_tables()
    manifest = {"kind": kind, "seed": seed, "tables": {}}
    if kind == "relabelled":
        parts = {name: [cols] for name, cols in relabel(base, seed).items()}
    elif kind == "scaled4":
        parts, manifest["rotations"] = scaled_copies(base, seed)
    else:
        raise ValueError(f"unknown input kind {kind!r}")
    os.makedirs(outdir, exist_ok=True)
    for name in TABLES:
        tables = [_arrow(c) for c in parts[name]]
        if len(tables) == 1:
            path = os.path.join(outdir, f"{name}.parquet")
            pq.write_table(tables[0], path)
            files = [path]
        else:
            d = os.path.join(outdir, f"{name}.parquet")
            os.makedirs(d, exist_ok=True)
            files = []
            for i, tb in enumerate(tables):
                files.append(os.path.join(d, f"part-{i:05d}.parquet"))
                pq.write_table(tb, files[-1])
        manifest["tables"][name] = {
            "rows": sum(tb.num_rows for tb in tables),
            "bytes": sum(os.path.getsize(f) for f in files)}
    return manifest


if __name__ == "__main__":
    kind, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(kind, seed, out)))
