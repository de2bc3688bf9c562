"""Seeded inputs and the DuckDB output check for the `llm_ops` workload.

`generate` writes the ten tables of the repository's test fixtures (a
TPC-H-like star schema, an event stream, a text corpus and an embedding
table) at the size of their 0.01 scale factor. Sizes, key ranges and value
distributions follow what those fixture files hold; the comment above each
table states it. Every value is drawn from numpy's PCG64 seeded with the
workload seed, so one seed always gives the same files.

`check` grades the warm-up pass with `tools/compare_local.py`, the
repository's DuckDB oracle comparison, which it runs read-only.
"""
import datetime
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generated data changes, so cached inputs are rebuilt
VERSION = 2
VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
         "small", "slow", "merge", "order", "vector", "line", "table", "data",
         "agg", "value", "key", "stream", "window", "a", "spark", "part",
         "group", "big", "sort", "query", "fast", "the"]
CUSTOMERS, SUPPLIERS, PARTS, ORDERS, LINES = 1500, 100, 2000, 15000, 60000
EVENTS, DOCUMENTS, VECTORS, DIM = 10000, 500, 500, 64
DAY_US = 86_400 * 10**6


def _us(dt):
    return int((dt - datetime.datetime(1970, 1, 1)).total_seconds()) * 10**6


def _ts(us):
    """Naive microsecond timestamps, the fixtures' physical type."""
    return pa.array(np.asarray(us, np.int64), pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return np.array(values)[rng.choice(len(values), n, p=p)]


def generate(seed, dst):
    """Write the seed's tables as `<dst>/<table>.parquet`."""
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    # keys are dense from 0; every other column is uniform and independent
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, CUSTOMERS), 2),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], CUSTOMERS)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIERS), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, SUPPLIERS), 2)})
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(PARTS), pa.int64()),
        "p_name": [f"{a} {n}" for a, n in zip(_pick(rng, adjectives, PARTS),
                                              _pick(rng, nouns, PARTS))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, PARTS)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], PARTS),
        "p_size": pa.array(rng.integers(1, 51, PARTS), pa.int32()),
        "p_retailprice": 900 + (np.arange(PARTS) % 1000) / 10.0})
    # order dates span 1995-01-01 + 0..2404 days
    epoch95 = _us(datetime.datetime(1995, 1, 1))
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, ORDERS), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 500000, ORDERS), 2),
        "o_orderdate": _ts(epoch95 + rng.integers(0, 2405, ORDERS) * DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], ORDERS)})
    # lines pick their order uniformly (about 4 per order, 1.7 % of orders
    # have none), in no particular row order; price and ship date do not
    # depend on quantity or order date
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ORDERS, LINES), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, PARTS, LINES), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, LINES), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, LINES), pa.int32()),
        "l_quantity": rng.integers(1, 51, LINES).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, LINES), 2),
        "l_discount": rng.integers(0, 11, LINES) / 100.0,
        "l_tax": rng.integers(0, 9, LINES) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], LINES),
        "l_linestatus": _pick(rng, ["F", "O"], LINES),
        "l_shipdate": _ts(epoch95 + rng.integers(1, 2500, LINES) * DAY_US)})
    # a 30-day stream from 2024-01-01: exponential gaps (mean 259 s) and
    # values (mean 50), 150 users, five event types
    gaps = np.round(rng.exponential(259.2, EVENTS) * 10**6).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(EVENTS), pa.int64()),
        "ts": _ts(_us(datetime.datetime(2024, 1, 1)) + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, EVENTS), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], EVENTS),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, EVENTS), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)]})
    # 10-99 words drawn uniformly from the fixtures' 30-word vocabulary;
    # 5 % of the documents are near-duplicates: another document's text
    # plus " dup" (which MinHash and LSH must find)
    texts = [" ".join(_pick(rng, VOCAB, k)) for k in rng.integers(10, 100, DOCUMENTS)]
    for j in rng.choice(DOCUMENTS, DOCUMENTS // 20, replace=False):
        src = (j + rng.integers(1, DOCUMENTS)) % DOCUMENTS
        texts[j] = texts[src] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": _pick(rng, ["en", "de", "es", "fr", "zh"], DOCUMENTS,
                      p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(DOCUMENTS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    # unit-length Gaussian vectors; the labels carry no cluster structure
    emb = rng.normal(0.0, 1.0, (VECTORS, DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(VECTORS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, VECTORS), pa.int32())})
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in t.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)


def ensure(seed, root, keep=8):
    """The seed's input directory under `root`, generated on first use.
    Only the `keep` most recently generated seeds are kept."""
    dst = os.path.join(root, f"v{VERSION}-seed{seed}")
    if not os.path.isdir(dst):
        os.makedirs(root, exist_ok=True)
        generate(seed, dst)
        dirs = sorted((os.path.join(root, d) for d in os.listdir(root)),
                      key=os.path.getmtime)
        for old in dirs[:-keep]:
            shutil.rmtree(old, ignore_errors=True)
    return dst


def check(compare_tool, data_dir, check_dir, queries, timeout):
    """Grade each query's warm-up output (`<check_dir>/<q>/*.parquet`, with
    `<check_dir>/oracle_sql.json`) with the repository's comparison tool,
    which runs the oracle SQL in DuckDB over `data_dir` and compares rows
    in order. Returns a list of failures (empty when every query is OK)."""
    try:
        out = subprocess.run([sys.executable, compare_tool, data_dir, check_dir],
                             capture_output=True, text=True, timeout=timeout,
                             stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        return [f"oracle comparison did not finish within {timeout:.0f} s"]
    lines = out.stdout.splitlines()
    ok = {ln.split()[1].rstrip(":") for ln in lines if ln.startswith("OK ")}
    errors = [ln for ln in lines if ln and not ln.startswith(("OK ", " "))
              and not ln[0].isdigit()]
    errors += [f"{q}: not graded OK by the oracle comparison"
               for q in queries if q not in ok]
    if out.returncode != 0:
        errors.append(f"oracle comparison exited {out.returncode}: "
                      f"{out.stderr.strip()[-500:]}")
    return errors
