"""Seeded input generator for the benchmark.

Reproduces the fixture schema and physical layout the engine reads
(FIXTURES.md A.1-A.3): one parquet file per table, one row group per file,
``events.ts`` and the TPC-H dates as naive microsecond timestamps. The
value domains follow the fixtures, and so do the invariants the plans rely
on:

- ``doc_id`` is dense from 0 and ``n_chars = len(text)``;
- ``vec_id`` is a dense prefix of ``doc_id`` (``vec_id ⊆ doc_id``);
- embeddings are unit vectors drawn around 10 labelled cluster centres;
- 5 % of documents are an earlier document's text plus ``" dup"``.

The same seed always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
DIMS = 64
N_LABELS = 10
# Share of each embedding's norm that comes from its cluster centre.
CLUSTER_WEIGHT = 0.6

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in µs


def sizes(sf: float) -> dict[str, int]:
    """Row counts of every table at scale factor ``sf``, as the fixtures
    have them."""
    return {
        "region": 5,
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _write(table: pa.Table, path: str) -> None:
    # One row group per file, as the fixtures have: Spark then maps each
    # scan to a single task until the first exchange.
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> pa.Array:
    days = rng.integers(first_day, first_day + n_days, n)
    return pa.array(_EPOCH_1995 + days * _DAY_US, pa.timestamp("us"))


def documents(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    """``n`` documents with ids ``first_id .. first_id + n - 1``."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(vocab[words[pos : pos + k]]))
        pos += k
    n_dup = n // 20
    if n > 1 and n_dup:
        dups = rng.choice(np.arange(1, n), n_dup, replace=False)
        for i in sorted(dups):
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centres = rng.standard_normal((N_LABELS, DIMS))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n)
    noise = rng.standard_normal((n, DIMS))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vecs = CLUSTER_WEIGHT * centres[labels] + (1 - CLUSTER_WEIGHT) * noise
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def _tpch(rng: np.random.Generator, rows: dict[str, int]) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_li = rows["orders"], rows["lineitem"]
    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n_cust,
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
    }
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days_us(rng, 0, 2404, n_ord),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days_us(rng, 1, 2499, n_li),
        }
    )
    return out


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    # Ordered arrivals over 30 days with exponential gaps, µs-aligned.
    gaps = rng.exponential(30 * _DAY_US / max(n, 1), n)
    ts = _EPOCH_2024 + np.cumsum(gaps).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(n_users, 1), n, dtype=np.int64)),
            "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def generate(
    out_dir: str, seed: int, rows: dict[str, int], tables: tuple[str, ...] = TABLES
) -> None:
    """Write ``tables`` into ``out_dir`` as ``<name>.parquet``. Each table
    draws from its own stream of ``seed``, so its content does not depend
    on which other tables are written."""
    os.makedirs(out_dir, exist_ok=True)
    built: dict[str, pa.Table] = {}
    if set(tables) & {"region", "nation", "customer", "supplier", "part", "orders", "lineitem"}:
        built.update(_tpch(np.random.default_rng([seed, 1]), rows))
    if "events" in tables:
        built["events"] = _events(
            np.random.default_rng([seed, 2]), rows["events"], rows["customer"] // 10
        )
    if "documents" in tables:
        built["documents"] = documents(np.random.default_rng([seed, 3]), rows["documents"])
    if "embeddings" in tables:
        built["embeddings"] = embeddings(np.random.default_rng([seed, 4]), rows["embeddings"])
    for name in tables:
        _write(built[name], os.path.join(out_dir, f"{name}.parquet"))
