"""Seeded fixture generator for the warehouse benchmark.

Writes the ten star-schema tables the package reads (``tables.TABLES``)
as one parquet file each, with the column types and value domains of the
warehouse's synthetic fixtures (FIXTURES.md part B). The same seed and
scale give byte-identical files, so two commits measured with one seed
see the same inputs. The program only ever receives the files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 1.0; region and nation are fixed.
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
ORDER_EPOCH = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2405  # 1995-01-01 .. 2001-08-01, as in the fixtures
EVENT_EPOCH = np.datetime64("2024-01-01", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _rows(name: str, scale: float) -> int:
    return max(int(round(_ROWS[name] * scale)), 10)


def _pick(rng: np.random.Generator, domain: list[str], n: int, p=None):
    return np.asarray(domain, dtype=object)[rng.choice(len(domain), n, p=p)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(epoch, offsets) -> np.ndarray:
    return (epoch + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at scale factor ``scale``."""
    rng = np.random.default_rng([seed, int(scale * 1e6)])
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    n = _rows("customer", scale)
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    })
    n_cust = n

    n = _rows("supplier", scale)
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n_supp = n

    n = _rows("part", scale)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, _PTYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": rng.integers(9000, 10000, n) / 10.0,
    })
    n_part = n

    n = _rows("orders", scale)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(ORDER_EPOCH, rng.integers(0, ORDER_DAYS, n)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })
    n_orders = n

    n = _rows("lineitem", scale)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(ORDER_EPOCH + 1, rng.integers(0, 2499, n)),
    })

    n = _rows("events", scale)
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EVENT_EPOCH + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(n // 66, 10), n).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })

    n = _rows("documents", scale)
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lens.sum()))
    vocab = np.asarray(_VOCAB, dtype=object)
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(vocab[words[at:at + k]]))
        at += k
    # exact-duplicate documents at ~0.2%, the fixtures' observed rate
    for i in rng.choice(np.arange(1, n), max(n // 500, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    t["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })

    n = _rows("embeddings", scale)
    vec = rng.standard_normal((n, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write each table as ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


def remap_days(seed: int, n_days: int) -> np.ndarray:
    """Seeded map of the fixtures' ORDER_DAYS calendar days onto a
    retention window of ``n_days`` consecutive days: day offset d lands
    on window day ``perm[d]`` (every window day is hit)."""
    rng = np.random.default_rng([seed, n_days])
    return rng.permutation(np.arange(ORDER_DAYS) % n_days)
