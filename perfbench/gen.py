"""Seeded input generation for the benchmark.

Every table the declared queries read is generated here from the seed,
with the schemas and value distributions of the engine's fixture star
schema (FIXTURES.md section 1), so the program sees only generated
inputs.  Inputs are cached by (workload, seed, scale) under the cache
root, so generation never counts towards set-up time.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale 1 (the fixture's sf0.001 sizes).
BASE_ROWS = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
    "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.38, 0.16, 0.16, 0.15, 0.15]
EMBED_DIM = 64
EPOCH = datetime(1970, 1, 1)


def _days(a: datetime) -> int:
    return (a - EPOCH).days


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _write(out: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(out: str, seed: int, scale: float) -> None:
    """The TPC-H-like tables plus `events`, `documents` and `embeddings`."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * scale))) for k, v in BASE_ROWS.items()}
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    nc = n["customer"]
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    }))
    ns = n["supplier"]
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }))
    npart = n["part"]
    _write(out, "part", pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 200) * 0.1, 2),
    }))
    _write(out, "orders", orders_table(rng, n["orders"], nc))
    nl = n["lineitem"]
    d0, d1 = _days(datetime(1995, 1, 2)), _days(datetime(2001, 11, 4))
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts_us(rng.integers(d0, d1 + 1, nl)),
    }))
    ne = n["events"]
    t0 = int((datetime(2024, 1, 1) - EPOCH).total_seconds() * 1e6)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, ne))
    _write(out, "events", pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(2, ne // 66), ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": _money(rng, 0.01, 330.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }))
    _write(out, "documents", documents_table(rng, n["documents"]))
    _write(out, "embeddings", embeddings_table(rng, n["embeddings"]))


def orders_table(rng: np.random.Generator, n: int, ncust: int) -> pa.Table:
    d0, d1 = _days(datetime(1995, 1, 1)), _days(datetime(2001, 8, 1))
    return pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ncust, n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts_us(rng.integers(d0, d1 + 1, n)),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents; about one in ten is a near-copy of an earlier
    document with a few words replaced, so near-duplicate clusters exist."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 1 + int(rng.integers(0, 3))):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 0.125, (n, EMBED_DIM)).astype("float32")
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def change_batches(out: str, seed: int, windows: int, rows: int,
                   base_orders: int, ncust: int) -> list[str]:
    """One parquet file of order changes per daily window.

    Each change row carries the full order columns plus `_op` (insert,
    update or delete) and `_delete`.  80% of the changes hit the hottest
    20% of the base keys; one change in ten inserts a new key past the
    base range and a tenth of the rest are deletes.  Keys are unique
    within a batch, so last-write-wins across batches is well defined.
    """
    rng = np.random.default_rng(seed + 1)
    hot = max(1, base_orders // 5)
    next_key = base_orders
    paths = []
    for w in range(windows):
        keys: list[int] = []
        seen: set[int] = set()
        while len(keys) < rows:
            r = rng.random()
            if r < 0.1:
                k, next_key = next_key, next_key + 1
            elif r < 0.82:
                k = int(rng.integers(0, hot))
            else:
                k = int(rng.integers(hot, base_orders))
            if k not in seen:
                seen.add(k)
                keys.append(k)
        t = orders_table(rng, rows, ncust)
        t = t.set_column(0, "o_orderkey", pa.array(keys, pa.int64()))
        new = np.array(keys) >= base_orders
        dele = (rng.random(rows) < 0.1) & ~new
        op = np.where(new, "insert", np.where(dele, "delete", "update"))
        t = t.append_column("_op", pa.array(op)).append_column("_delete", pa.array(dele))
        path = os.path.join(out, f"batch_{w:03d}.parquet")
        pq.write_table(t, path)
        paths.append(path)
    return paths


def cached(cache_root: str, key: str, build) -> str:
    """Return the directory for `key`, building it once with `build(dir)`.

    The directory is published by rename, so an interrupted build never
    leaves a half-written cache entry behind.
    """
    final = os.path.join(cache_root, key)
    if os.path.isfile(os.path.join(final, "_DONE")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump({"key": key}, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    # write the new files back now, not during the timed passes
    os.sync()
    return final


def window_start(w: int) -> datetime:
    return datetime(2024, 3, 1) + timedelta(days=w)
