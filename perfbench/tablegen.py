"""Seeded star-schema tables for the analytic and index workloads.

Writes the ten tables ``hcdc_spark.catalog.TABLES`` names, as one parquet
file each, with the schemas and value domains of the TPC-H-like test
tables the registry queries are written against. Row counts follow the
scale factor: ``lineitem`` has 6,000,000 x sf rows. numpy and pyarrow
only, so generation runs no Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "red", "small", "large", "hot", "cold", "green", "shiny"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "ring", "widget", "spring", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
EMB_DIM = 64
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(SEGMENTS)
        .take(rng.integers(0, 5, n_cust)),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    p_name = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(p_name).take(rng.integers(0, len(p_name), n_part)),
        "p_brand": pa.array([f"Brand#{i}" for i in range(1, 26)])
        .take(rng.integers(0, 25, n_part)),
        "p_type": pa.array(P_TYPES).take(rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(["F", "O", "P"])
        .take(rng.integers(0, 3, n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(
            EPOCH_1995_US + rng.integers(0, 2_400, n_ord) * DAY_US
        ),
        "o_orderpriority": pa.array(PRIORITIES)
        .take(rng.integers(0, 5, n_ord)),
    })
    l_part = rng.integers(0, n_part, n_line)
    l_qty = rng.integers(1, 51, n_line).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": l_qty,
        "l_extendedprice": np.round(
            l_qty * retail[l_part] * rng.uniform(0.9, 1.1, n_line), 2
        ),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": pa.array(["A", "N", "R"])
        .take(rng.integers(0, 3, n_line)),
        "l_linestatus": pa.array(["F", "O"]).take(rng.integers(0, 2, n_line)),
        "l_shipdate": _ts(
            EPOCH_1995_US + rng.integers(1, 2_500, n_line) * DAY_US
        ),
    })
    # strictly increasing, so every event has its own timestamp
    ev_ts = (
        np.sort(rng.integers(0, 30 * DAY_US - n_ev, n_ev))
        + np.arange(n_ev) + EPOCH_2024_US
    )
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_ts),
        "user_id": pa.array(
            rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()
        ),
        "event_type": pa.array(EVENT_TYPES).take(rng.integers(0, 5, n_ev)),
        "value": _money(rng, 0.01, 500.0, n_ev),
        "props": pa.array([f'{{"k": {i}}}' for i in range(100)])
        .take(rng.integers(0, 100, n_ev)),
    })
    texts = [
        " ".join(rng.choice(WORDS, size=int(rng.integers(10, 100))))
        for _ in range(n_doc)
    ]
    # ~5% near-duplicates: another document's text plus one marker word
    for i in rng.choice(n_doc, size=n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(LANGS).take(rng.integers(0, 5, n_doc)),
        "source": pa.array([f"src{i}" for i in range(20)])
        .take(np.arange(n_doc) % 20),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vec = rng.standard_normal((n_emb, EMB_DIM)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
