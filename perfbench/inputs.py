"""Seeded benchmark inputs.

The tables have the schemas and value domains of the engine's test data
(a TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings``). Row *content* comes from a fixed content seed, so every
benchmark seed runs the same work; ``--seed`` picks the row order of each
file, the split of ``events`` into stream files, and the table
``mart_refresh`` rewrites and its new row orders. A query whose output changes under
reordering is a defect the benchmark must show, not hide.

Each table is one parquet file with one row group.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _days(start: str, n_days: int, rng, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float) -> dict[str, pa.Table]:
    """Row content at scale ``sf`` (rows per table as in the test data)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_li = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = 500 if sf <= 0.01 else round(50_000 * sf)
    n_emb = 500 if sf <= 0.01 else round(20_000 * sf)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days("1995-01-02", 2499, rng, n_li),
    })
    # events: ascending timestamps over 30 days, event_id in time order
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents as in the test data: 10-100 words drawn uniformly from a
    # 30-word vocabulary; then one document in twenty, in random order,
    # becomes a copy of another (random) document plus " dup", so copies
    # of copies and copies of since-replaced texts occur as they do there
    texts = [" ".join(rng.choice(_VOCAB, int(rng.integers(10, 101)))) for _ in range(n_docs)]
    for i in rng.permutation(n_docs)[: n_docs // 20]:
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def _write(table: pa.Table, path: str, order_rng) -> None:
    """Write ``table`` to ``path`` as one file and one row group, rows in
    an ``order_rng``-chosen order (atomic rename, so a crash never
    leaves a half-written input behind)."""
    perm = order_rng.permutation(table.num_rows)
    tmp = path + ".tmp"
    pq.write_table(table.take(perm), tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def _order_rng(seed: int, name: str):
    return np.random.default_rng([seed, *name.encode()])


def ensure_tables(d: str, sf: float, seed: int) -> str:
    """Write every table at scale ``sf`` in seed order into ``d``, unless a
    finished copy is already there; return ``d``."""
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    for name, table in _tables(sf).items():
        _write(table, os.path.join(d, f"{name}.parquet"), _order_rng(seed, name))
    open(done, "w").close()
    return d


def table_variants(sf_dir: str, name: str, out_dir: str, seed: int) -> list[str]:
    """Two copies of one input table, each with the same rows in another
    seeded order. Putting one in place of the table (alternately) moves the
    input fingerprint while every query result stays the same."""
    table = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k in range(2):
        path = os.path.join(out_dir, f"{name}.{k}.parquet")
        _write(table, path, np.random.default_rng([seed, k, *name.encode()]))
        paths.append(path)
    return paths


def replace_table(variant: str, sf_dir: str, name: str) -> None:
    """Put ``variant`` in place of table ``name`` (a byte copy, then an
    atomic rename: the driver process parses nothing)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    shutil.copyfile(variant, path + ".tmp")
    os.replace(path + ".tmp", path)


def split_events(sf_dir: str, out_dir: str, seed: int, n_files: int) -> list[str]:
    """Split ``events`` into ``n_files`` stream files at seeded points in time.

    Each file holds a contiguous time range (rows in seeded order inside
    it), so however the files are batched no event arrives behind the
    watermark. Modification times ascend with the ranges, which fixes
    the order the file source takes them in."""
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    events = events.sort_by("ts")
    rng = np.random.default_rng([seed, *b"events-split"])
    n = events.num_rows
    cuts = np.sort(rng.choice(np.arange(1, n), n_files - 1, replace=False))
    bounds = [0, *cuts.tolist(), n]
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    base = dt.datetime(2020, 1, 1).timestamp()
    for i in range(n_files):
        part = events.slice(bounds[i], bounds[i + 1] - bounds[i])
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        _write(part, path, rng)
        os.utime(path, (base + 60 * i, base + 60 * i))
        paths.append(path)
    return paths
