"""Seeded input tables for the query workloads.

Writes the columns the chosen queries read, in the schema of the
TPC-H-style tables ``__spark_entry__.queries()`` expects (one parquet
file per table under ``out_dir``):

* ``orders`` (o_orderkey, o_custkey) and ``lineitem`` (l_orderkey,
  l_partkey, l_suppkey): 1,500 customers, 100 suppliers and 2,000 parts,
  15,000 orders of 1-7 lines each, the size of the sf0.01 tables;
* ``documents`` (doc_id, text, lang, source, n_chars): 500 documents of
  10-99 words over a 30-word vocabulary, one in ten a copy of an earlier
  document with ``dup`` appended, so the dedup and contamination
  operators find pairs;
* ``embeddings`` (vec_id, embedding, label): 500 random unit vectors of
  64 float32 components.

The same seed gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS, N_SUPPLIERS, N_PARTS, N_ORDERS = 1_500, 100, 2_000, 15_000
N_DOCS, N_VECS, DIM = 500, 500, 64
VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]


def write_tables(out_dir: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    orderkey = np.arange(N_ORDERS, dtype=np.int64)
    write("orders", {
        "o_orderkey": orderkey,
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS, dtype=np.int64),
    })
    lines = np.repeat(orderkey, rng.integers(1, 8, N_ORDERS))
    write("lineitem", {
        "l_orderkey": lines,
        "l_partkey": rng.integers(0, N_PARTS, lines.size, dtype=np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, lines.size, dtype=np.int64),
    })

    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.1:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    vecs = rng.standard_normal((N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_VECS, dtype=np.int32),
    })
