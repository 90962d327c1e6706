"""Deterministic generator for the ten corpus tables.

The tables follow the schemas in FIXTURES.md and the value domains of
the TPC-H-ish synthetic test data (row counts scale linearly with the
scale factor; dimension tables are fixed). Every column is drawn from
one ``numpy`` generator seeded by ``(scale, seed)``, so a given pair
always yields byte-identical parquet files.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJECTIVES = ["blue", "red", "green", "small", "large", "shiny", "rusty", "steel"]
_NOUNS = ["anvil", "widget", "gear", "bolt", "spring", "valve", "lever", "hinge"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMBED_DIM = 64


def _rows(base: int, scale: float) -> int:
    return max(int(round(base * scale)), 10)


def _dates(rng, n: int, start: str, days: int) -> np.ndarray:
    origin = np.datetime64(start, "D")
    return origin + rng.integers(0, days, n).astype("timedelta64[D]")


def _prices(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """Every corpus table at ``scale`` (1.0 = TPC-H SF1 row counts)."""
    rng = np.random.default_rng([seed, int(scale * 1_000_000)])
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    n_cust = _rows(150_000, scale)
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _prices(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })

    n_supp = _rows(10_000, scale)
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _prices(rng, n_supp, -999.99, 9999.99),
    })

    n_part = _rows(200_000, scale)
    names = np.array([f"{a} {b}" for a in _ADJECTIVES for b in _NOUNS])
    retail = np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 1)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    })

    n_ord = _rows(1_500_000, scale)
    order_dates = _dates(rng, n_ord, "1995-01-01", 2405)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _prices(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": pa.array(order_dates.astype("datetime64[us]")),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })

    n_li = _rows(6_000_000, scale)
    li_order = rng.integers(0, n_ord, n_li)
    li_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = order_dates[li_order] + rng.integers(1, 96, n_li).astype(
        "timedelta64[D]"
    )
    out["lineitem"] = pa.table({
        "l_orderkey": li_order,
        "l_partkey": li_part,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[li_part], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })

    n_ev = _rows(1_000_000, scale)
    span_us = 30 * 86_400 * 1_000_000
    ts_us = np.sort(rng.integers(0, span_us, n_ev))
    ev_origin = np.datetime64("2024-01-01T00:00:00", "us")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_origin + ts_us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_doc = _rows(50_000, scale)
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    n_emb = _rows(20_000, scale)
    vecs = rng.standard_normal((n_emb, _EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return out


def ensure_tables(root: Path, scale: float, seed: int) -> Path:
    """Write the tables under ``root`` once; later calls reuse them.

    A ``_COMPLETE`` marker is written last, so an interrupted build is
    redone rather than read half-written.
    """
    target = root / f"sf{scale:g}-seed{seed}"
    if (target / "_COMPLETE").exists():
        return target
    target.mkdir(parents=True, exist_ok=True)
    for name, table in build_tables(scale, seed).items():
        tmp = target / f".{name}.parquet.tmp"
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, target / f"{name}.parquet")
    (target / "_COMPLETE").write_text("ok\n")
    return target


if __name__ == "__main__":
    import sys

    root, scale, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    print(ensure_tables(Path(root), scale, seed))
