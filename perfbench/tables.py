"""Deterministic synthetic tables for the query_mix workload.

The schemas mirror what ``fmx.sources.load_table`` reads (a TPC-H-like
star schema plus the ``events``, ``documents`` and ``embeddings``
tables), at roughly TPC-H scale factor 0.01: 60,000 lineitem rows.
The generator seed is fixed, so the expected query results kept in
``expected_queries.json`` stay valid; the workload seed only changes
the order in which each table's rows are stored.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
SIZES = {"customer": 1500, "supplier": 100, "part": 2000,
         "orders": 15000, "lineitem": 60000, "events": 10000,
         "documents": 500, "embeddings": 500}
EMBED_DIM = 64
EVENT_USERS = 150
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

_US_PER_DAY = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(
        pa.timestamp("us"))


def _day(rng, n, start="1995-01-01", days=2400) -> np.ndarray:
    base = np.datetime64(start, "us").astype("int64")
    return base + rng.integers(0, days, n) * _US_PER_DAY


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = SIZES["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n)),
        "c_mktsegment": rng.choice(SEGMENTS, n)})

    n = SIZES["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n))})

    n = SIZES["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n),
                                              rng.choice(PART_NOUN, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": _money(900.0 + (np.arange(n) % 1000) * 0.1)})

    n_orders, n_items = SIZES["orders"], SIZES["lineitem"]
    odate = _day(rng, n_orders, days=2400)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, SIZES["customer"], n_orders),
                              pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n_orders)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})

    okey = np.sort(rng.integers(0, n_orders, n_items))
    linenumber = np.ones(n_items, dtype=np.int64)
    for i in range(1, n_items):
        if okey[i] == okey[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    qty = rng.integers(1, 51, n_items).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, SIZES["part"], n_items),
                              pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SIZES["supplier"], n_items),
                              pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * rng.uniform(900.0, 2100.0, n_items)),
        "l_discount": rng.integers(0, 11, n_items) / 100.0,
        "l_tax": rng.integers(0, 9, n_items) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_items),
        "l_linestatus": rng.choice(["F", "O"], n_items),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 120, n_items)
                          * _US_PER_DAY)})

    n = SIZES["events"]
    start = np.datetime64("2024-01-01", "us").astype("int64")
    gaps = rng.exponential(30 * _US_PER_DAY / n, n).astype("int64") + 1
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(start + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": _money(np.minimum(rng.exponential(25.0, n), 490.0) + 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    n = SIZES["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, n_words)))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})

    n = SIZES["embeddings"]
    centers = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + 0.8 * rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array([row for row in vecs.astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_tables(out_dir: Path, seed: int = DATA_SEED,
                 row_seed: int | None = None) -> Path:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir.
    With ``row_seed``, each table's rows are stored in an order drawn from
    it: the same rows, so the same query results."""
    out_dir.mkdir(parents=True, exist_ok=True)
    rng = None if row_seed is None else np.random.default_rng(row_seed)
    for name, table in build_tables(seed).items():
        if rng is not None:
            table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, out_dir / f"{name}.parquet")
    return out_dir
