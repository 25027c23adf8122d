"""Seeded tables for the registry workload.

Writes `<dir>/<table>.parquet` for the ten tables the contract entries
read (`poc_spark.sources.catalog.TABLES`), with the column names and
types of the project's scale-factor layout and its row counts at the
0.01 scale: 60,000 line items, 15,000 orders, 10,000 events from 150
users, 500 embeddings. Documents are 250, the 0.001 count: the DuckDB
oracle of `dedup_minhash_lsh` grows with their square, and took 12 s
of the correctness gate at 500.

Properties the headline entries depend on are planted on purpose:
customers with no orders (anti join), exact and near-duplicate
documents (dedup), several languages (langid), a day span for the
sessionisation and percentile entries.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "the a fast slow big small key value row column table data spark "
    "query join sort merge hash scan filter group agg window order part "
    "line customer batch stream vector dup"
).split()
_LANG_WORDS = {
    "en": "the and of to is in it you that was".split(),
    "fr": "le la les et des est une pas pour que".split(),
    "es": "el la los las y que de es por una".split(),
    "de": "der die das und ist nicht ein zu mit den".split(),
    "zh": "的 是 在 不 了 有 和 人 这 中".split(),
}
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "purchase", "error", "signup", "view")


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    epoch_s = (base - dt.datetime(1970, 1, 1)).total_seconds()
    micros = int(epoch_s * 1e6) + (seconds * 1e6).astype(np.int64)
    return pa.array(micros, type=pa.int64()).cast(pa.timestamp("us"))


def _doc_text(rng: np.random.Generator, lang: str) -> str:
    n = int(rng.integers(8, 90))
    words = rng.choice(_WORDS, size=n).tolist()
    for i in rng.choice(n, size=max(1, n // 4), replace=False):
        words[i] = str(rng.choice(_LANG_WORDS[lang]))
    return " ".join(words)


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under `out_dir`; returns row counts."""
    rng = np.random.default_rng(seed)
    base = dt.datetime(1992, 1, 1)
    n_cust, n_supp, n_part, n_ord, n_li = 1500, 100, 2000, 15000, 60000
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust).tolist(),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    adj = ("cold", "small", "large", "red", "blue", "shiny")
    noun = ("widget", "gadget", "bolt", "gear", "valve")
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(("ECONOMY", "STANDARD", "PROMO", "LARGE"), n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    # every third customer never orders (TPC-H's rule), so the anti
    # join has rows to return
    ordering = np.array([c for c in range(n_cust) if c % 3 != 0])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.choice(ordering, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": _ts(base, rng.integers(0, 2400, n_ord) * 86400.0),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord).tolist(),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_li).tolist(),
        "l_linestatus": rng.choice(("F", "O"), n_li).tolist(),
        "l_shipdate": _ts(base, rng.integers(0, 3500, n_li) * 86400.0),
    })
    n_ev = 10000
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts(
            dt.datetime(2024, 1, 1),
            np.sort(rng.uniform(0, 30 * 86400, n_ev)).round(6),
        ),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.uniform(0, 500, n_ev), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = 250
    langs = rng.choice(list(_LANG_WORDS), n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    texts = [_doc_text(rng, str(lang)) for lang in langs]
    # plant exact duplicates and one-word-edit near duplicates
    for i in rng.choice(n_doc, 12, replace=False):
        j = int(rng.integers(0, n_doc))
        if i % 2:
            texts[i] = texts[j]
        else:
            words = texts[j].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts[i] = " ".join(words)
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_emb, dim = 500, 64
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.15, (10, dim))
    vecs = (centers[labels] + rng.normal(0, 0.05, (n_emb, dim))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
