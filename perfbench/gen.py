"""Seeded input generators for the workloads.

Every function is pure in its seed: the same ``(seed, size)`` gives the
same rows. Tables are returned as ``pyarrow.Table`` and written with
``write_table``; the program under test only ever sees those files.
Schemas follow the TPC-H-ish star the engine's queries expect
(``customer``, ``orders``, ``documents``, ``embeddings``)
and the reference's ``MigratorRecordQueue``.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DEFAULT_SEED = 1

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = (
    "a agg batch big column data fast filter group hash key line merge order "
    "part query row scan slow small sort spark stream table value vector "
    "window join shuffle index commit state offset queue delta cache plan"
).split()
LANGS = ["en", "zh", "de", "fr"]
EMB_DIM = 64
EPOCH = datetime(2024, 1, 1)

# queue entry mix for cdc_queue_merge (shares of all entries)
QUEUE_MIX = {"update": 0.55, "remove": 0.15, "repeat": 0.20, "unknown": 0.10}
QUEUE_HOT_KEYS = 40  # repeated-key entries draw from this many keys


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input): adding an input never
    shifts the draws of another."""
    return np.random.default_rng([seed, sum(map(ord, stream))])


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def customer(seed: int, n: int, stream: str = "customer") -> pa.Table:
    r = rng_for(seed, stream)
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)],
        }
    )


def updated_customer(seed: int, base: pa.Table) -> pa.Table:
    """The CDC source: the same keys as ``base`` with every balance
    redrawn, so an applied UPDATE is visible in the target."""
    r = rng_for(seed, "customer-src")
    bal = np.round(r.uniform(-999.99, 9999.99, base.num_rows), 2)
    return base.set_column(
        base.schema.get_field_index("c_acctbal"), "c_acctbal", pa.array(bal)
    )


def record_queue(seed: int, n_entries: int, n_keys: int, db: str) -> pa.Table:
    """``MigratorRecordQueue`` rows for table ``customer``.

    Entries mix UPDATEs and REMOVEs of known keys, a hot set of keys
    repeated many times (so one batch carries several events per key)
    and UPDATEs of keys the source lacks (``>= n_keys``). Timestamps are
    one second apart in entry order, so the drain order is total."""
    r = rng_for(seed, "queue")
    kinds = r.choice(
        list(QUEUE_MIX), size=n_entries, p=list(QUEUE_MIX.values())
    )
    hot = r.choice(n_keys, QUEUE_HOT_KEYS, replace=False)
    keys = r.integers(0, n_keys, n_entries)
    keys = np.where(kinds == "repeat", hot[r.integers(0, QUEUE_HOT_KEYS, n_entries)], keys)
    keys = np.where(kinds == "unknown", n_keys + r.integers(0, n_keys, n_entries), keys)
    remove = (kinds == "remove") | ((kinds == "repeat") & (r.random(n_entries) < 0.3))
    ts = np.datetime64(EPOCH, "us") + np.arange(n_entries) * np.timedelta64(1, "s")
    return pa.table(
        {
            "sourceDatabase": [db] * n_entries,
            "sourceTable": ["customer"] * n_entries,
            "pkColumn": ["c_custkey"] * n_entries,
            "pkValue": [str(int(k)) for k in keys],
            "timestampUpdated": pa.array(ts, pa.timestamp("us")),
            "method": np.where(remove, "REMOVE", "UPDATE"),
        }
    )


def orders(seed: int, n: int, n_cust: int) -> pa.Table:
    r = rng_for(seed, "orders")
    days = r.integers(0, 2400, n)
    dates = np.datetime64("1992-01-01", "us") + days * np.timedelta64(1, "D")
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
            "o_totalprice": np.round(r.uniform(850.0, 560000.0, n), 2),
            "o_orderdate": pa.array(dates, pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)],
        }
    )


def append_cut(seed: int, n_total: int, tail: int) -> int:
    """Rows already loaded before the append drain starts. The tail
    length is fixed so every seed drains the same number of rows; the
    seed moves the cut (and with it the pre-loaded table size) within
    the last tenth of the table before the tail, since the cycle cost
    grows with the table and seeds should compare."""
    r = rng_for(seed, "cut")
    hi = n_total - tail
    return int(r.integers(hi - hi // 10, hi + 1))


def documents(seed: int, n: int) -> pa.Table:
    """Word-salad documents over a small vocabulary; every fifth one is
    a light edit of an earlier document, so near-duplicate pairs exist."""
    r = rng_for(seed, "documents")
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 5 == 0:
            w = texts[int(r.integers(0, i))].split()
            for _ in range(int(r.integers(1, 3))):
                w[int(r.integers(0, len(w)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
        else:
            w = [VOCAB[j] for j in r.integers(0, len(VOCAB), int(r.integers(8, 60)))]
        texts.append(" ".join(w))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), n)],
            "source": [f"src{j}" for j in r.integers(0, 5, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(seed: int, n: int, n_labels: int = 8) -> pa.Table:
    """Unit-scale vectors around ``n_labels`` centres; one in ten is a
    perturbed copy of an earlier vector (a semantic duplicate)."""
    r = rng_for(seed, "embeddings")
    centres = r.normal(0.0, 1.0, (n_labels, EMB_DIM))
    labels = r.integers(0, n_labels, n)
    vecs = 0.35 * centres[labels] + r.normal(0.0, 1.0, (n, EMB_DIM))
    for i in range(10, n, 10):
        j = int(r.integers(0, i))
        vecs[i] = vecs[j] + r.normal(0.0, 0.3, EMB_DIM)
        labels[i] = labels[j]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) / 2).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
