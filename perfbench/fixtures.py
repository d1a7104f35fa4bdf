"""Seeded generator for the query fixtures the benchmark runs over.

Writes the ten tables the query registry reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names, types and value domains of the
repository's test fixtures (FIXTURES.md), at roughly the sf0.01 row counts.
The same seed gives byte-identical files; another seed gives other values
with the same row counts, so the per-pass input size never depends on it.

Value domains that queries rely on are kept: every document is non-empty
(ANSI division by ``n_chars``), ~5% of documents are near-duplicates of
another (an existing text plus `` dup``), embeddings are unit vectors, and
events are time-ordered by ``event_id``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
EMBED_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _dates_us(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(n["region"]), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    nk = np.arange(n["nation"])
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk, pa.int32()),
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": pa.array(nk % n["region"], pa.int32()),
        }
    )

    ck = np.arange(n["customer"])
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck, pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": pa.array(rng.integers(0, n["nation"], len(ck)), pa.int32()),
            "c_acctbal": _money(rng, len(ck), -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, len(ck)),
        }
    )

    sk = np.arange(n["supplier"])
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk, pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": pa.array(rng.integers(0, n["nation"], len(sk)), pa.int32()),
            "s_acctbal": _money(rng, len(sk), -999.99, 9999.99),
        }
    )

    pk = np.arange(n["part"])
    names = [
        f"{a} {b}"
        for a, b in zip(rng.choice(_PART_ADJ, len(pk)), rng.choice(_PART_NOUN, len(pk)))
    ]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": names,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(pk))],
            "p_type": rng.choice(_PART_TYPES, len(pk)),
            "p_size": pa.array(rng.integers(1, 51, len(pk)), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )

    ok = np.arange(n["orders"])
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], len(ok)), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], len(ok)),
            "o_totalprice": _money(rng, len(ok), 1000.0, 500000.0),
            "o_orderdate": _ts(_dates_us(rng, len(ok), "1995-01-01", "2001-08-01")),
            "o_orderpriority": rng.choice(_PRIORITIES, len(ok)),
        }
    )

    m = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype("float64"),
            "l_extendedprice": _money(rng, m, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], m),
            "l_linestatus": rng.choice(["F", "O"], m),
            "l_shipdate": _ts(_dates_us(rng, m, "1995-01-02", "2001-11-04")),
        }
    )

    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype("int64")
    ts = np.sort(start + rng.integers(0, 30 * _DAY_US, e))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, e), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )

    d = n["documents"]
    texts = [
        " ".join(rng.choice(_WORDS, int(k))) for k in rng.integers(10, 101, d)
    ]
    dup = np.flatnonzero(rng.random(d) < 0.05)
    for i in dup:
        j = int(rng.integers(0, d))
        if j != i:
            texts[i] = texts[j] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(d), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, d, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    v = rng.standard_normal((n["embeddings"], EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(len(v)), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, len(v)), pa.int32()),
        }
    )
    return out


def write_fixtures(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
