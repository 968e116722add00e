"""Input tables for the benchmark.

Writes the ten tables the registry's queries read (``core.io.TABLES``) as
one parquet file each, shaped like the engine's fixture tables (TESTDATA.md):
the same column names and parquet types (``events.ts`` included: INT64
TIMESTAMP(MICROS), no timezone), row counts that scale with ``sf`` exactly
as the fixtures do, and the same value ranges and distributions. The text
column uses the fixtures' 31-word vocabulary and 10-99 words per document,
and like theirs 5% of documents repeat another one with a word appended or
dropped at the end (no exact copies). README.md records the side-by-side
comparison at sf0.01.

Every value comes from ``numpy.random.default_rng(DATA_SEED)``: the tables
are the same in every run, so run-to-run differences are not differences
in the data. The benchmark's ``--seed`` orders the ops instead.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
COLORS = ("blue", "cold", "hot", "red", "small", "new", "old", "large")
NOUNS = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")
P_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBED_DIM = 64
DATA_SEED = 42
#: share of documents that repeat an earlier-drawn one, one word longer or shorter
NEAR_DUP_SHARE = 0.05

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    words = [list(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]) for _ in range(n)]
    # near-duplicates: another document with one word appended or dropped
    k = int(n * NEAR_DUP_SHARE)
    picked = rng.choice(n, 2 * k, replace=False)
    for i, j in zip(picked[:k], picked[k:]):
        src = words[int(j)]
        words[int(i)] = src + [vocab[rng.integers(0, len(vocab))]] if rng.random() < 0.5 else src[:-1]
    texts = [" ".join(w) for w in words]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def make_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = row_counts(sf)
    nc, ns, np_, no, nl, ne = (n[t] for t in ("customer", "supplier", "part", "orders", "lineitem", "events"))
    part_keys = np.arange(np_, dtype=np.int64)
    retail = np.round(900 + (part_keys % 1000) / 10, 1)
    users = max(1, int(15_000 * sf))
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
                "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
                "c_mktsegment": _pick(rng, SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
                "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(part_keys),
                "p_name": pa.array(
                    [f"{COLORS[c]} {NOUNS[w]}" for c, w in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
                "p_type": _pick(rng, P_TYPES, np_),
                "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
                "p_retailprice": pa.array(retail),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, nc, no)),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
                "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_US),
                "o_orderpriority": _pick(rng, PRIORITIES, no),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl)),
                "l_partkey": pa.array(rng.integers(0, np_, nl)),
                "l_suppkey": pa.array(rng.integers(0, ns, nl)),
                "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, nl)),
                "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
                "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
                "l_linestatus": _pick(rng, ("F", "O"), nl),
                "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, nl) * _DAY_US),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(ne, dtype=np.int64)),
                "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, ne))),
                "user_id": pa.array(rng.integers(0, users, ne)),
                "event_type": _pick(rng, EVENT_TYPES, ne),
                "value": pa.array(np.round(np.minimum(rng.exponential(50.0, ne), 490.0) + 0.01, 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def write_tables(out_dir: str, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        rows[name] = table.num_rows
    return rows
