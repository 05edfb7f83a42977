"""Seeded star-schema tables for the query workloads.

Writes the ten parquet tables the registered queries read (the
``cc_pyspark_spark.catalog.TABLES`` layout: a TPC-H-like star schema,
an ``events`` click stream, a ``documents`` corpus with planted
near-duplicates and an ``embeddings`` table). Row counts scale with
``sf`` the way the engine's test data does: TPC-H tables and events
linearly, documents and embeddings with a floor of 500 rows.

The tables are a fixed input: the query workloads always use
``TABLE_SEED``, so one committed digest per query checks every run.
The same seed and scale give identical values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EMBED_DIM = 64
N_LABELS = 10


def row_counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _documents(rng, n: int) -> dict:
    n_words = rng.integers(10, 101, n)
    words = np.asarray(DOC_VOCAB)
    text = [" ".join(words[rng.integers(0, len(words), k)]) for k in n_words]
    # 5% near-duplicates: another document's text plus one marker word.
    dup_rows = rng.choice(n, n // 20, replace=False)
    sources = rng.integers(0, n, len(dup_rows))
    for row, src in zip(dup_rows, sources):
        if row != src:
            text[row] = text[src] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in text], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> pa.Table:
    label = rng.integers(0, N_LABELS, n).astype(np.int32)
    centers = rng.standard_normal((N_LABELS, EMBED_DIM))
    vec = rng.standard_normal((n, EMBED_DIM)) + 0.5 * centers[label]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": label,
        }
    )


def generate_tables(out_dir: str, sf: float, seed: int = TABLE_SEED) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; return row counts."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i32 = np.int32
    t: dict[str, dict | pa.Table] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=i32) % 5,
    }
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, nc)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }
    pk = np.arange(npart, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.asarray(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, no)],
    }
    nl = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    }
    ne = n["events"]
    gaps_us = (rng.exponential(26.0, ne) * 1e6).astype(np.int64) + 1
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": (start + np.cumsum(gaps_us)).astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])

    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in t.items():
        table = cols if isinstance(cols, pa.Table) else pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
