"""Seeded synthetic tables for the batch workloads.

Writes the ten tables the contract queries read (``region nation customer
supplier part orders lineitem events documents embeddings``, one parquet
file each) with the row counts and value shapes of the repo's synthetic
test data: uniform keys, independent columns, a 30-word document
vocabulary with ~5 % near-duplicate documents, 64-d unit embeddings.

The tables depend only on ``sf`` and the generator seed, so the oracle
fingerprints computed over them once per checkout stay valid for every run.
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

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("large", "small", "hot", "cold", "blue", "red", "old", "new")
_PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_STATUS = ("F", "O", "P")
_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (sf0.1: 600k lineitem)."""
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": 5000 if sf >= 0.1 else 500,
        "embeddings": 2000 if sf >= 0.1 else 500,
    }


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    c = row_counts(sf)
    pick = lambda vals, n: np.asarray(vals, dtype=object)[  # noqa: E731
        rng.integers(0, len(vals), n)
    ]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = c["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": pick(_SEGMENTS, n),
        }
    )
    n = c["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, n, -999.99, 9999.99),
        }
    )
    n = c["part"]
    adj, noun = pick(_PART_ADJ, n), pick(_PART_NOUN, n)
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": pick(_PART_TYPES, n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
        }
    )
    n = c["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, c["customer"], n, dtype=np.int64),
            "o_orderstatus": pick(_STATUS, n),
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pick(_PRIORITY, n),
        }
    )
    n = c["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, c["orders"], n, dtype=np.int64),
            "l_partkey": rng.integers(0, c["part"], n, dtype=np.int64),
            "l_suppkey": rng.integers(0, c["supplier"], n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pick(("A", "N", "R"), n),
            "l_linestatus": pick(("F", "O"), n),
            "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
        }
    )
    n = c["events"]
    # sorted arrival times over 30 days (exponential gaps), as a stream lands
    gaps = rng.exponential(1.0, n)
    secs = np.cumsum(gaps) / gaps.sum() * (30 * 86400 - 60)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, max(1, n * 15 // 1000), n, dtype=np.int64),
            "event_type": pick(_EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    n = c["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document: same words plus a marker
            words = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join([w for w in words if w != "dup"] + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.asarray(_VOCAB)[rng.integers(0, 30, k)]))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": pick(_LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    n = c["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = rng.normal(0.0, 1.0, (n, 64)) + 0.3 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def write_tables(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (atomic per file)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)


if __name__ == "__main__":
    import sys

    write_tables(sys.argv[1], float(sys.argv[2]))
