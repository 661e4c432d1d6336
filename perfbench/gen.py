"""Seeded input generator for the benchmark.

Writes the ten tables `duckdb_ml_spark.tables.TABLE_NAMES` reads (the
TPC-H-like star schema, the `events` stream and the `documents`/`embeddings`
corpus) as single-file parquet, with the schema, physical types, join keys and
value domains of the engine's reference test data:

- every foreign key points at an existing row (lineitem -> orders/part/supplier,
  orders -> customer, customer/supplier -> nation -> region);
- 5% of the documents are near-duplicates (another document's text plus
  " dup"), so the dedup operators find pairs;
- embeddings are unit-norm 64-d float32 vectors with a weak per-label bias.

Row counts scale with `sf` like the reference data (sf 0.01 -> 60,000
lineitem rows). The same (seed, sf) gives byte-identical files; `file_hashes`
checks that.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor `sf`."""
    n_cust = max(10, round(150_000 * sf))
    n_orders = max(10, round(1_500_000 * sf))
    return {
        "region": 5,
        "nation": 25,
        "customer": n_cust,
        "supplier": max(5, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": n_orders,
        "lineitem": 4 * n_orders,
        "events": max(100, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _days_since_1995(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    return _ts(_EPOCH_1995 + rng.integers(lo, hi + 1, n) * _DAY_US)


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": _keys(n),
            "text": pa.array(texts),
            "lang": _choice(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vec = rng.normal(0.0, 1.0, (n, EMB_DIM)) + 0.5 * centroids[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": _keys(n),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(labels, type=pa.int32()),
        }
    )


def corpus_tables(seed: int, sf: float, index: int = 0) -> dict[str, pa.Table]:
    """The `documents` and `embeddings` tables alone; each `index` gives
    another corpus from the same seed (one per curation pass)."""
    n = sizes(sf)
    rng = np.random.default_rng([seed, 1, index])
    return {
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table, as Arrow tables, from (seed, sf)."""
    n = sizes(sf)
    rng = np.random.default_rng([seed, 0])
    i32 = pa.int32()
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), type=i32), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), type=i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], type=i32),
            }
        ),
    }
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": _keys(c),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": pa.array(rng.integers(0, 25, c), type=i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": _choice(rng, SEGMENTS, c),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": _keys(s),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": pa.array(rng.integers(0, 25, s), type=i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table(
        {
            "p_partkey": _keys(p),
            "p_name": _choice(rng, names, p),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
            "p_type": _choice(rng, PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), type=i32),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": _keys(o),
            "o_custkey": pa.array(rng.integers(0, c, o)),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, o),
            # 1995-01-01 .. 2001-08-01
            "o_orderdate": _days_since_1995(rng, 0, 2404, o),
            "o_orderpriority": _choice(rng, PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li)),
            "l_partkey": pa.array(rng.integers(0, p, li)),
            "l_suppkey": pa.array(rng.integers(0, s, li)),
            "l_linenumber": pa.array(rng.integers(1, 8, li), type=i32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, li),
            "l_discount": np.round(rng.uniform(0.0, 0.10, li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, li), 2),
            "l_returnflag": _choice(rng, ["A", "N", "R"], li),
            "l_linestatus": _choice(rng, ["F", "O"], li),
            # 1995-01-02 .. 2001-11-04
            "l_shipdate": _days_since_1995(rng, 1, 2499, li),
        }
    )
    e = n["events"]
    out["events"] = pa.table(
        {
            "event_id": _keys(e),
            "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, e))),
            "user_id": pa.array(rng.integers(0, max(1, c // 10), e)),
            "event_type": _choice(rng, EVENT_TYPES, e),
            "value": _money(rng, 0.01, 490.0, e),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )
    out.update(corpus_tables(seed, sf))
    return out


def write(tabs: dict[str, pa.Table], out_dir: str) -> int:
    """Write each table as `<out_dir>/<name>.parquet`; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tab in tabs.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tab, path, compression="snappy")
        total += os.path.getsize(path)
    return total


def file_hashes(out_dir: str) -> dict[str, str]:
    """sha256 prefix of every file in `out_dir` (the same-seed identity check)."""
    out = {}
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()[:16]
    return out
