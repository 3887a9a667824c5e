"""Seeded analytics tables for the corpus_analytics workload.

Writes the seven tables the headline queries read (nation, customer,
orders, lineitem, events, documents, embeddings) as one parquet file each.
Sizes, column names, types and value distributions follow the test tables
described in TESTDATA.md, measured on their sf0.1 instance:

* rows per scale factor ``sf``: customer 150,000, orders 1,500,000,
  lineitem 6,000,000 and events 1,000,000 times ``sf``; documents
  max(500, 50,000 sf) and embeddings max(500, 20,000 sf) (500, 500 and
  5,000 documents and 500, 500 and 2,000 embeddings at sf0.001, 0.01
  and 0.1);
* documents: 10-99 words drawn uniformly from a 30-word vocabulary;
  5% of them are another document's text with " dup" appended (so a few
  are exact duplicates of each other); language en 40%, de/es/fr/zh 15%
  each; source ``src{doc_id % 20}``;
* embeddings: 64-dimensional unit vectors in uniformly random directions,
  label uniform over 10 values;
* lineitem: order key uniform over the orders (about 4 lines an order),
  part and supplier keys uniform over 200,000 sf and 10,000 sf keys,
  quantity 1-50, extended price uniform 900-105,000, discount 0-0.10,
  tax 0-0.08, ship date independent of the order date;
* events: user id uniform over 15,000 sf users, timestamps uniform over
  30 days in event-id order, value exponential with mean 50.

The seed fixes every value, so Spark and the DuckDB oracle read identical
bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join"
         " key line merge order part query row scan slow small sort spark"
         " stream table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64
DUP_SHARE = 0.05


def table_rows(sf: float) -> dict:
    return {"customer": int(150_000 * sf), "orders": int(1_500_000 * sf),
            "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
            "documents": max(500, int(50_000 * sf)),
            "embeddings": max(500, int(20_000 * sf))}


def _ts(base: str, secs: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + (secs * 1_000_000).astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _pick(values: list, idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    base = [" ".join(vocab[rng.integers(0, len(VOCAB), int(k))])
            for k in rng.integers(10, 100, n)]
    texts = list(base)
    dups = rng.choice(n, int(n * DUP_SHARE), replace=False)
    for i, j in zip(dups, rng.integers(0, n, len(dups))):
        texts[int(i)] = base[int(j)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(LANGS, rng.choice(len(LANGS), n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * DIM + 1, DIM), pa.int32()),
        pa.array(vecs.ravel(), pa.float32()))
    return pa.table({"vec_id": pa.array(np.arange(n), pa.int64()),
                     "embedding": emb,
                     "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def write_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write the tables of scale factor ``sf`` under ``out_dir``; returns
    rows per table."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    os.makedirs(out_dir, exist_ok=True)
    t: dict[str, pa.Table] = {}

    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })

    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, nc)),
    })

    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, no)),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, no), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, no) * 86400),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, no)),
    })

    nl = n["lineitem"]
    okey = np.sort(rng.integers(0, no, nl))
    starts = np.flatnonzero(np.r_[True, okey[1:] != okey[:-1]])
    lnum = np.arange(nl) - np.repeat(starts, np.diff(np.r_[starts, nl])) + 1
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), nl),
                              pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, int(10_000 * sf), nl),
                              pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, nl), 2),
        "l_discount": np.round(rng.uniform(0, 0.10, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, nl)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, nl)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, nl) * 86400),
    })

    ne = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, ne))),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), ne),
                            pa.int64()),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, ne)),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": _pick([f'{{"k": {k}}}' for k in range(100)],
                       rng.integers(0, 100, ne)),
    })

    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])

    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
