"""Seeded generator for the engine's ten input tables.

The catalog queries read ``<sf_dir>/<table>.parquet`` for the TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``. This module
writes those files from a seed, with the schemas, key ranges and value
distributions of the engine's reference fixtures, so a benchmark run
needs nothing outside its own checkout. The same ``(seed, sf)`` always
gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "new", "hot", "cold", "old", "blue"]
PART_NOUN = ["ring", "widget", "bolt", "anvil", "rod", "plate", "gear", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
DUP_RATE = 0.05

_DAY_US = 86_400_000_000


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (TPC-H ratios; the text and
    vector corpora have a floor of 500 rows, as in the fixtures)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start: str, days: int, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days + 1, n) * np.timedelta64(1, "D")


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    n = row_counts(sf)
    # one independent stream per table, so a table's contents do not
    # depend on the sizes of the tables generated before it
    rngs = {
        t: np.random.default_rng([seed, i]) for i, t in enumerate(TABLES)
    }
    out: dict[str, pa.Table] = {}
    i32 = pa.int32()

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })

    r, c = rngs["customer"], n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": _names("Customer", c),
        "c_nationkey": pa.array(r.integers(0, 25, c), i32),
        "c_acctbal": _money(r, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, c)],
    })

    r, s = rngs["supplier"], n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": _names("Supplier", s),
        "s_nationkey": pa.array(r.integers(0, 25, s), i32),
        "s_acctbal": _money(r, -999.99, 9999.99, s),
    })

    r, p = rngs["part"], n["part"]
    pname = np.char.add(
        np.char.add(np.array(PART_ADJ)[r.integers(0, 8, p)], " "),
        np.array(PART_NOUN)[r.integers(0, 8, p)],
    )
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": pname,
        "p_brand": np.char.add("Brand#", r.integers(1, 26, p).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, p)],
        "p_size": pa.array(r.integers(1, 51, p), i32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 2),
    })

    r, o = rngs["orders"], n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": r.integers(0, max(c, 1), o, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, o)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, o),
        "o_orderdate": _dates(r, "1995-01-01", 2404, o),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, o)],
    })

    r, li = rngs["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, max(o, 1), li, dtype=np.int64),
        "l_partkey": r.integers(0, max(p, 1), li, dtype=np.int64),
        "l_suppkey": r.integers(0, max(s, 1), li, dtype=np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, li), i32),
        "l_quantity": r.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, li),
        "l_discount": np.round(r.uniform(0.0, 0.1, li), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, li)],
        "l_shipdate": _dates(r, "1995-01-02", 2498, li),
    })

    r, e = rngs["events"], n["events"]
    users = max(1, int(15_000 * sf))
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        r.integers(0, 30 * _DAY_US, e)
    ) * np.timedelta64(1, "us")
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts,
        "user_id": r.integers(0, users, e, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, e)],
        "value": np.round(r.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, e)],
    })

    out["documents"] = _documents(rngs["documents"], n["documents"])

    r, v = rngs["embeddings"], n["embeddings"]
    vec = r.standard_normal((v, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, v), i32),
    })
    return out


def _documents(r, d: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary; ~5% are exact
    copies of an earlier document with a trailing ``dup`` token, which
    gives the dedup operators near-duplicate pairs to find."""
    vocab = np.array(WORDS)
    lengths = r.integers(8, 101, d)
    dup = r.random(d) < DUP_RATE
    texts: list[str] = []
    for i in range(d):
        if dup[i] and i > 0:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[r.integers(0, len(WORDS), lengths[i])]))
    return pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<table>.parquet`` (one row group,
    like the fixtures, so scan split counts match). Returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(sf, seed).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
        counts[name] = table.num_rows
    return counts
