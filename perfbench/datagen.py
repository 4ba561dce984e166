"""Seeded generator for the ten relational tables the node benchmark reads.

The tables have the schemas and value ranges of the TPC-H-ish star schema
the package is written against (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings), scaled by ``sf`` the same
way: 150 000·sf customers, 1 500 000·sf orders, 6 000 000·sf lineitems.
Everything is derived from one ``numpy.random.Generator`` so the same seed
writes byte-identical parquet; no Spark is involved, so the engine under
test sees only finished files.
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
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "red", "small", "big", "old", "new", "hot", "cold"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "widget", "anvil", "nut", "pipe"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
WORDS = (
    "a the row query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part merge window "
    "order column join vector"
).split()
EMB_DIM = 64

_US = np.int64(1_000_000)


def _epoch_us(y: int, m: int, d: int) -> np.int64:
    return np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64)


def _days(rng, n: int, start: tuple, end: tuple) -> np.ndarray:
    """Midnight timestamps (µs) uniformly between two dates."""
    lo, hi = _epoch_us(*start) // (86400 * _US), _epoch_us(*end) // (86400 * _US)
    return rng.integers(lo, hi + 1, n).astype(np.int64) * 86400 * _US


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def generate(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(50_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": _keys(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": _keys(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": _keys(n_part),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": _keys(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, n_ord, (1995, 1, 1), (2001, 8, 1))),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days(rng, n_li, (1995, 1, 2), (2001, 11, 4))),
    })
    t0 = _epoch_us(2024, 1, 1)
    span = 30 * 86400 * _US
    out["events"] = pa.table({
        "event_id": _keys(n_ev),
        "ts": _ts(t0 + np.sort(rng.integers(0, span, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng, n_ev, 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, n_docs)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0.0, 0.8, (n_emb, EMB_DIM))) * 0.1
    out["embeddings"] = pa.table({
        "vec_id": _keys(n_emb),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a 31-word vocabulary; one in ten is a
    near-copy of an earlier document (one word swapped) so near-duplicate
    detection has pairs to find."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = words[int(rng.integers(0, len(words)))]
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(8, 80)))])
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": _keys(n),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in generate(rng, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
