"""Seeded input generation for the connector benchmark.

Every input a workload reads is made here from the workload seed: the
parquet files the in-process sharing server serves, their per-file Delta
stats, and (for `lookup`) the query constants and their order. The same
seed gives byte-identical files, so a run can be repeated exactly and two
seeds give two independent samples of the same workload shape.

The tables follow the shapes of TPC-H sf0.1 (`lineitem`, `orders`) and of
the repo's synthetic curation corpus (`documents`, `embeddings`).
`generate` writes `out/manifest.json` plus the parquet files it names.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Full sizes; `--scale` shrinks them for smoke runs.
LINEITEM_ROWS = 600_000
LINEITEM_FILES = 16
ORDERS_ROWS = 150_000
ORDERS_KEY_SPACE = 600_000
ORDERS_FILES = 16
DOCUMENTS_ROWS = 2_500
DOCUMENTS_FILES = 8
EMBEDDINGS_ROWS = 1_000
EMBEDDINGS_FILES = 4
EMBEDDING_DIM = 64
# Queries each lookup client cycles through; one third of each type.
LOOKUP_QUERIES_PER_CLIENT = 12
LOOKUP_CLIENTS = 2

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EPOCH_1992 = 8035  # days from 1970-01-01 to 1992-01-01
VOCAB = [a + b for a in
         ["spark", "delta", "share", "table", "scan", "file", "row", "col",
          "batch", "query", "plan", "stage", "task", "hash", "sort", "join",
          "key", "value", "page", "block", "range", "merge", "group", "agg",
          "token", "shard", "index", "cache", "frame", "vector", "model",
          "data"]
         for b in ["", "s", "ed", "er", "ing", "ion", "al", "ly", "ful",
                   "ize", "ism", "ist", "less", "ment", "ness", "ous"]]


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    # one row group per file; fixed writer options so bytes depend only on
    # the data
    pq.write_table(table, path, row_group_size=table.num_rows + 1,
                   compression="snappy", write_statistics=True)


def _stats(table, columns):
    """Delta-style per-file stats JSON over `columns`."""
    mins, maxs, nulls = {}, {}, {}
    for c in columns:
        arr = table.column(c).to_numpy(zero_copy_only=False)
        v = arr[0]
        cast = int if isinstance(v, (np.integer, int)) else float
        mins[c] = cast(arr.min())
        maxs[c] = cast(arr.max())
        nulls[c] = 0
    return json.dumps({"numRecords": table.num_rows, "minValues": mins,
                       "maxValues": maxs, "nullCount": nulls},
                      sort_keys=True)


def _split(n, parts):
    """Row bounds of `parts` near-equal slices of n rows."""
    edges = np.linspace(0, n, parts + 1).astype(np.int64)
    return list(zip(edges[:-1], edges[1:]))


def lineitem(rng, rows):
    orderkey = np.sort(rng.integers(0, ORDERS_KEY_SPACE, rows))
    quantity = rng.integers(1, 51, rows).astype(np.float64)
    price = np.round(quantity * rng.uniform(900.0, 2100.0, rows), 2)
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, rows), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, rows), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, rows), pa.int32()),
        "l_quantity": pa.array(quantity, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, rows) / 100.0,
                               pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, rows) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, rows)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            rng.integers(0, 2, rows)], pa.string()),
        "l_shipdate": pa.array((EPOCH_1992 + rng.integers(0, 2557, rows))
                               .astype(np.int32), pa.date32()),
    })


def orders(rng, rows):
    keys = np.sort(rng.choice(ORDERS_KEY_SPACE, rows, replace=False))
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15_000, rows), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, rows)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(900.0, 500_000.0, rows),
                                          2), pa.float64()),
        "o_orderdate": pa.array((EPOCH_1992 + rng.integers(0, 2406, rows))
                                .astype(np.int32), pa.date32()),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, len(PRIORITIES), rows)], pa.string()),
    })


def documents(rng, rows):
    """Zipf-ish token text; about one doc in eight is a near-duplicate of
    an earlier doc with one to three tokens replaced."""
    vocab = np.array(VOCAB)
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()
    lengths = rng.integers(12, 90, rows)
    tokens = np.split(rng.choice(len(vocab), int(lengths.sum()), p=weights),
                      np.cumsum(lengths)[:-1])
    dup = rng.random(rows) < 0.125
    for i in np.nonzero(dup)[0]:
        if i == 0:
            continue
        src = tokens[rng.integers(0, i)].copy()
        for pos in rng.integers(0, len(src), rng.integers(1, 4)):
            src[pos] = rng.integers(0, len(vocab))
        tokens[i] = src
    text = [" ".join(vocab[t]) for t in tokens]
    return pa.table({
        "doc_id": pa.array(np.arange(rows), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(np.array(["en", "de", "fr", "zh"])[
            rng.integers(0, 4, rows)], pa.string()),
        "source": pa.array(np.array([f"src{i}" for i in range(8)])[
            rng.integers(0, 8, rows)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in text]), pa.int64()),
    })


def embeddings(rng, rows):
    """Clustered unit-ish vectors; one in ten is a jittered copy of an
    earlier vector, so cosine pairs exist above any high threshold."""
    centers = rng.normal(0.0, 1.0, (16, EMBEDDING_DIM))
    label = rng.integers(0, 16, rows)
    vecs = centers[label] + rng.normal(0.0, 0.9, (rows, EMBEDDING_DIM))
    dup = np.nonzero(rng.random(rows) < 0.1)[0]
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(np.int64)
    vecs[dup] = vecs[src] + rng.normal(0.0, 0.05, (len(dup), EMBEDDING_DIM))
    label[dup] = label[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(rows + 1) * EMBEDDING_DIM, pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(rows), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label, pa.int32()),
    })


def _sliced(name, table, files, out, stats_cols=()):
    entries = []
    for i, (lo, hi) in enumerate(_split(table.num_rows, files)):
        part = table.slice(lo, hi - lo)
        rel = f"{name}/part-{i:02d}.parquet"
        _write(part, os.path.join(out, rel))
        entries.append({"path": rel, "partitionValues": {},
                        "stats": _stats(part, stats_cols) if stats_cols
                        else None})
    return {"name": name, "partitionColumns": [], "files": entries}


def _by_priority(table, out):
    entries = []
    pri = table.column("o_orderpriority").to_numpy(zero_copy_only=False)
    data = table.drop(["o_orderpriority"])
    for p in PRIORITIES:
        part = data.filter(pa.array(pri == p))
        # hive-style directory, so a direct `spark.read.parquet` of the
        # table directory sees the same partition column
        rel = f"orders_pri/o_orderpriority={p}/part-0.parquet"
        _write(part, os.path.join(out, rel))
        entries.append({"path": rel, "partitionValues": {"o_orderpriority": p},
                        "stats": _stats(part, ["o_orderkey"])})
    return {"name": "orders_pri", "partitionColumns": ["o_orderpriority"],
            "files": entries}


def lookup_queries(rng, orders_table, clients, per_client):
    """Per client: a round-robin of point / partition-aggregate /
    partition-count queries, with seeded constants and seeded type order."""
    keys = orders_table.column("o_orderkey").to_numpy()
    plans = []
    for _ in range(clients):
        order = rng.permutation(["point", "agg", "count"]).tolist()
        qs = []
        for i in range(per_client):
            kind = order[i % 3]
            if kind == "point":
                # half hit a stored key, half probe the whole key space
                key = (int(keys[rng.integers(0, len(keys))]) if rng.random() < 0.5
                       else int(rng.integers(0, ORDERS_KEY_SPACE)))
                qs.append({"type": "point", "key": key})
            elif kind == "agg":
                qs.append({"type": "agg",
                           "priority": PRIORITIES[rng.integers(0, 5)],
                           "minPrice": float(np.round(
                               rng.uniform(0.0, 400_000.0), 2))})
            else:
                qs.append({"type": "count"})
        plans.append(qs)
    return plans


def generate(workload, seed, out, scale=1.0):
    """Write `workload`'s inputs for `seed` under `out`; returns the
    manifest (also written to out/manifest.json)."""
    rng = np.random.default_rng([seed, {"scan": 1, "lookup": 2,
                                        "pipeline": 3}[workload]])

    def n(rows):
        return max(int(rows * scale), 64)

    manifest = {"workload": workload, "seed": seed, "scale": scale}
    if workload == "scan":
        manifest["tables"] = [_sliced("lineitem", lineitem(rng, n(LINEITEM_ROWS)),
                                      LINEITEM_FILES, out)]
    elif workload == "lookup":
        o = orders(rng, n(ORDERS_ROWS))
        kr = _sliced("orders_kr", o, ORDERS_FILES, out,
                     ["o_orderkey", "o_custkey", "o_totalprice"])
        manifest["tables"] = [kr, _by_priority(o, out)]
        manifest["queries"] = lookup_queries(
            rng, o, LOOKUP_CLIENTS, LOOKUP_QUERIES_PER_CLIENT)
    elif workload == "pipeline":
        manifest["tables"] = [
            _sliced("documents", documents(rng, n(DOCUMENTS_ROWS)),
                    DOCUMENTS_FILES, out),
            _sliced("embeddings", embeddings(rng, n(EMBEDDINGS_ROWS)),
                    EMBEDDINGS_FILES, out)]
    else:
        raise ValueError(f"unknown workload {workload}")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest

