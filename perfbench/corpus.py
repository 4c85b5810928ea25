"""Deterministic fixture-shaped corpus for the benchmark.

The benchmark must run in a bare checkout, so it generates its own copy of
the fixture schema (FIXTURES.md §2: a TPC-H-ish star schema plus the
`events`, `documents` and `embeddings` tables) instead of reading a corpus
from outside the checkout. Row counts scale with the scale factor like the
fixtures' (x10 per step); key ranges, value domains and the near-duplicate
structure of `documents` follow them. The corpus seed is a constant: every
workload seed sees the same tables, and the seed only drives what is asked
of them.

Timestamps are written as unannotated TIMESTAMP(MICROS), the encoding
`graft.Tables.ensureNanosReadable` reads as plain TIMESTAMP, so Spark and
DuckDB see the same wall-clock values.
"""
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
# row counts at sf0.1
ROWS_SF01 = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
             "lineitem": 600000, "events": 100000, "documents": 5000,
             "embeddings": 2000}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ("a the data spark table column row scan filter join group agg sort "
         "merge hash key value query batch stream window vector line part "
         "order customer big small fast slow").split()
EPOCH_1995 = np.datetime64("1995-01-01", "D")


def _days(rng, n, lo_days, span):
    d = EPOCH_1995 + rng.integers(lo_days, lo_days + span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(rng, sf):
    """Return {table name: pyarrow.Table} at scale factor `sf`; a pure
    function of `rng`'s state."""
    rows = {k: round(v * sf / 0.1) for k, v in ROWS_SF01.items()}
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = rows["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n)]})

    n = rows["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})

    n = rows["part"]
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "),
                              noun[rng.integers(0, 8, n)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": types[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)})

    n = rows["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n, 0, 2404),  # 1995-01-01 .. 2001-08-01
        "o_orderpriority": prio[rng.integers(0, 5, n)]})

    n = rows["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, rows["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(rng, n, 1, 2500)})

    n = rows["events"]
    # strictly increasing timestamps over 30 days, microsecond resolution
    gaps = rng.integers(1, 2 * 30 * 86400 * 1000000 // n, n)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = rows["documents"]
    n_dup = n // 20
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), int(k))])
             for k in rng.integers(10, 101, n - n_dup)]
    # near-duplicates: an earlier document with one extra token, scattered
    # through the id space like the fixture's `... dup` rows
    srcs = rng.integers(0, n - n_dup, n_dup)
    texts += [texts[i] + " dup" for i in srcs]
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})

    n = rows["embeddings"]
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    v = centroids[labels] * 0.5 + rng.normal(0.0, 1.0, (n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def stamp(sf):
    """Identity of the corpus at `sf`: the digest of this generator's source
    and the scale factor, so any edit here rewrites the corpus."""
    with open(__file__, "rb") as f:
        return f"{hashlib.sha256(f.read()).hexdigest()[:16]}/sf{sf}"


def ensure(root, sf):
    """Write the corpus at `sf` under `root` once; later calls only check
    the stamp."""
    path = os.path.join(root, "_version")
    if os.path.exists(path) and open(path).read() == stamp(sf):
        return root
    shutil.rmtree(root, ignore_errors=True)
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(np.random.default_rng(CORPUS_SEED), sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_version"), "w") as f:
        f.write(stamp(sf))
    os.replace(tmp, root)
    return root
