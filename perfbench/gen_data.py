"""Synthetic tables for the benchmark, shaped like the sf0.1 test data.

Same table names, column names, parquet types and row counts as the sf0.1
tables the queries were written against, with the same value domains:
events are a 30-day stream (exponential gaps, 1 500 users, five event types),
documents draw from a 30-word vocabulary with 8 exact and 250 near
duplicates, embeddings are 64-dim unit vectors. Every value comes from
TABLE_SEED, so the tables are the same bytes in every checkout; the run's
--seed varies the query order and the layer probes' inputs, not the tables.

    python3 perfbench/gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated data changes, so cached tables are rebuilt.
VERSION = 3
TABLE_SEED = 42

ROWS = {
    "lineitem": 600_000,
    "orders": 150_000,
    "customer": 15_000,
    "part": 20_000,
    "supplier": 1_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
VOCAB = (
    "spark window merge table column vector stream value data small join filter big group "
    "hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return pa.array(base + rng.integers(0, n_days, n).astype("timedelta64[D]"), pa.timestamp("us"))


def tables(seed: int) -> dict:
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n),
    })
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = ROWS["part"]
    names = [f"{a} {b}" for a in "red blue green hot cold old new large".split()
             for b in "bolt ring plate nut screw gear pipe valve".split()]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
    })
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n),
    })
    n = ROWS["events"]
    gaps = np.maximum(1, np.round(rng.exponential(25.92e6, n))).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    t["documents"] = _documents(rng, ROWS["documents"])
    n = ROWS["embeddings"]
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return t


def _documents(rng, n):
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n)]
    # Near duplicates (a copy plus one extra token) feed the MinHash/Jaccard
    # queries; exact copies feed the fingerprint dedup.
    ids = rng.permutation(n)
    for i in ids[:250]:
        texts[i] = texts[rng.integers(0, n)] + " dup"
    for i in ids[250:258]:
        texts[i] = texts[rng.integers(0, n)]
    langs = np.asarray(["en", "es", "fr", "de", "zh"], dtype=object)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.choice(5, n, p=[0.41, 0.15, 0.15, 0.15, 0.14])], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def write(out_dir: str, seed: int = TABLE_SEED) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


if __name__ == "__main__":
    write(sys.argv[1])
