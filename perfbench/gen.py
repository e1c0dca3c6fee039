"""Seeded generator of the fixture tables the engine's queries read.

The tables have the schema and value domains of the engine's fixture set
(region nation customer supplier part orders lineitem events documents
embeddings, one parquet file each). Row counts scale with `sf` the way the
fixture scales: sf=0.01 gives 60,000 lineitem rows, sf=0.1 gives 5,000
documents and 2,000 embeddings, and neither text table has fewer than 500
rows. The documents and embeddings follow the fixture's generation rules
(DESIGN.md, "Curation data"), so the dedup queries find about as many
candidate and result pairs per document as they do on the fixture.
The same (seed, sf) always gives byte-identical values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# the fixture's 30 words; its near-duplicates carry a 31st, "dup"
VOCAB = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter key agg scan slow table part a merge "
         "window order column join vector").split()
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _cents(a):
    return np.round(a, 2)


def _docs(rng, n):
    """Documents of 10-99 words drawn uniformly from the vocabulary. Then
    n/20 distinct documents, in turn, are replaced by a copy of a random
    other document with " dup" appended; a copy of a document replaced
    earlier carries two or more of them. This gives the dedup operators
    the fixture's near-duplicate clusters."""
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
             for _ in range(n)]
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return texts


def _region(rng, sf):
    return {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}


def _nation(rng, sf):
    return {"n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}


def _customer(rng, sf):
    n = int(150_000 * sf)
    return {"c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n)),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n)]}


def _supplier(rng, sf):
    n = int(10_000 * sf)
    return {"s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n))}


def _part(rng, sf):
    n = int(200_000 * sf)
    return {"p_partkey": np.arange(n, dtype=np.int64),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n)],
            "p_type": [PTYPES[j] for j in rng.integers(0, 6, n)],
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)}


def _orders(rng, sf):
    n, n_cust = int(1_500_000 * sf), int(150_000 * sf)
    return {"o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n)],
            "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, n)),
            "o_orderdate": pa.array(EPOCH_1995_US + rng.integers(0, 2404, n) * DAY_US,
                                    pa.timestamp("us")),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n)]}


def _lineitem(rng, sf):
    n = int(6_000_000 * sf)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {"l_orderkey": rng.integers(0, int(1_500_000 * sf), n).astype(np.int64),
            "l_partkey": rng.integers(0, int(200_000 * sf), n).astype(np.int64),
            "l_suppkey": rng.integers(0, int(10_000 * sf), n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": _cents(qty * rng.uniform(900.0, 2100.0, n)),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n)],
            "l_shipdate": pa.array(EPOCH_1995_US + rng.integers(0, 2499, n) * DAY_US,
                                   pa.timestamp("us"))}


def _events(rng, sf):
    n = int(1_000_000 * sf)
    gaps = rng.integers(1, 2 * (30 * DAY_US // max(n, 1)), n)
    return {"event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(EPOCH_2024_US + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": rng.integers(0, 150, n).astype(np.int64),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n)],
            "value": _cents(rng.exponential(20.0, n) + 0.01),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n)]}


def _documents(rng, sf):
    n = max(500, int(50_000 * sf))
    texts = _docs(rng, n)
    return {"doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[j] for j in rng.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def _embeddings(rng, sf):
    n = max(500, int(20_000 * sf))
    emb = rng.standard_normal((n, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {"vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32)}


TABLES = {"region": _region, "nation": _nation, "customer": _customer,
          "supplier": _supplier, "part": _part, "orders": _orders,
          "lineitem": _lineitem, "events": _events, "documents": _documents,
          "embeddings": _embeddings}


def generate(out, seed, sf, tables=None):
    """Writes the named tables (default: all) under `out`. Each table has
    its own random stream, so its contents depend only on (seed, sf)."""
    os.makedirs(out, exist_ok=True)
    for i, name in enumerate(TABLES):
        if tables is None or name in tables:
            cols = TABLES[name](np.random.default_rng([seed, i]), sf)
            pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))
