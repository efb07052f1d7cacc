"""Seeded registry tables with the TESTDATA / FIXTURES schemas.

Writes ``lineitem``, ``orders``, ``documents`` and ``embeddings`` as
parquet files into one directory, which the registry queries then read as
their ``sf_dir``. The seed changes only the data; sizes are fixed by
:data:`SIZES` (:data:`TINY_SIZES` for the smoke test).

``embeddings`` is skewed on purpose: one planted cluster holds
``big_cluster`` vectors, three times the 1024-row chunk of the engine's
in-cluster pair kernels, while the other clusters hold a few dozen.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "orders": 3000,
    "parts": 600,
    "suppliers": 10,
    "customers": 300,
    "documents": 300,
    "clusters": 16,
    "big_cluster": 3072,
    "small_cluster": 40,
    "dim": 16,
}
TINY_SIZES = dict(
    SIZES, orders=300, parts=100, customers=50, documents=60, big_cluster=1100, small_cluster=8
)

# The fixture corpus vocabulary: 30 words plus a rare "dup" marker, so the
# trigram pre-tokenizer of the BPE queries sees a Zipf-like, 10^4-sized
# word space.
VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()

LANGS = ["en", "en", "fr", "es", "zh", "de"]

LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)
ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)
DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EMBEDDINGS_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)


def _orders_and_lineitem(rng: random.Random, sizes: dict) -> tuple[pa.Table, pa.Table]:
    n_orders = sizes["orders"]
    base = dt.datetime(1995, 1, 1)
    orders = {name: [] for name in ORDERS_SCHEMA.names}
    items = {name: [] for name in LINEITEM_SCHEMA.names}
    for ok in range(n_orders):
        odate = base + dt.timedelta(days=rng.randrange(2400))
        orders["o_orderkey"].append(ok)
        orders["o_custkey"].append(rng.randrange(sizes["customers"]))
        orders["o_orderstatus"].append(rng.choice("FOP"))
        orders["o_orderdate"].append(odate)
        orders["o_orderpriority"].append(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]))
        total = 0.0
        # uniform parts keep the support>=2 co-purchase graph sparse (mean
        # degree ~3), like the sf0.01 fixture: the oracles' recursive walk
        # CTEs grow with degree^hops
        parts = rng.choices(range(sizes["parts"]), k=rng.randint(1, 7))
        for ln, pk in enumerate(parts, start=1):
            qty = float(rng.randint(1, 50))
            price = round(qty * (900 + pk) * 1.01, 2)
            total += price
            items["l_orderkey"].append(ok)
            items["l_partkey"].append(pk)
            items["l_suppkey"].append(rng.randrange(sizes["suppliers"]))
            items["l_linenumber"].append(ln)
            items["l_quantity"].append(qty)
            items["l_extendedprice"].append(price)
            items["l_discount"].append(rng.randint(0, 10) / 100)
            items["l_tax"].append(rng.randint(0, 8) / 100)
            items["l_returnflag"].append(rng.choice("ANR"))
            items["l_linestatus"].append(rng.choice("FO"))
            items["l_shipdate"].append(odate + dt.timedelta(days=rng.randint(1, 120)))
        orders["o_totalprice"].append(round(total, 2))
    return (
        pa.table(orders, schema=ORDERS_SCHEMA),
        pa.table(items, schema=LINEITEM_SCHEMA),
    )


def _documents(rng: random.Random, sizes: dict) -> pa.Table:
    cols = {name: [] for name in DOCUMENTS_SCHEMA.names}
    weights = [1.0] * len(VOCAB)
    for doc_id in range(sizes["documents"]):
        n = rng.randint(8, 100)
        words = rng.choices(VOCAB, weights=weights, k=n)
        if rng.random() < 0.05:
            words.insert(rng.randrange(n), "dup")
        text = " ".join(words)
        cols["doc_id"].append(doc_id)
        cols["text"].append(text)
        cols["lang"].append(rng.choice(LANGS))
        cols["source"].append(f"src{doc_id % 20}")
        cols["n_chars"].append(len(text))
    return pa.table(cols, schema=DOCUMENTS_SCHEMA)


def _embeddings(seed: int, sizes: dict) -> pa.Table:
    """Planted clusters; the first ``clusters`` vec_ids are one member of
    each planted cluster, so the Lloyd seeding (the k smallest vec_ids)
    starts from every cluster and the big one survives as one block."""
    g = np.random.default_rng(seed)
    k, d = sizes["clusters"], sizes["dim"]
    centers = g.normal(size=(k, d))
    counts = [sizes["big_cluster"]] + [sizes["small_cluster"]] * (k - 1)
    members = [np.full(n, c) for c, n in enumerate(counts)]
    # one member of each cluster first, then the rest in shuffled order
    head = np.arange(k)
    tail = np.concatenate([m[1:] for m in members])
    g.shuffle(tail)
    cid = np.concatenate([head, tail])
    vecs = centers[cid] + g.normal(scale=0.35, size=(len(cid), d))
    # exact duplicates: every 50th vector repeats its predecessor
    vecs[50::50] = vecs[49:-1:50]
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(len(cid), dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": cid.astype(np.int32) % 10,
        },
        schema=EMBEDDINGS_SCHEMA,
    )


def write_tables(out_dir: str, seed: int, sizes: dict = SIZES) -> dict[str, int]:
    """Write the four tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    orders, lineitem = _orders_and_lineitem(rng, sizes)
    tables = {
        "orders": orders,
        "lineitem": lineitem,
        "documents": _documents(rng, sizes),
        "embeddings": _embeddings(seed, sizes),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
