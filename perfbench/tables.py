"""Seeded analytical tables for the ``analytics_mix`` workload.

Writes the parquet tables the registry queries read through
``queries.base.load(spark, sf_dir, name)`` — ``part``, ``orders``,
``lineitem``, ``customer``, ``supplier``, ``documents``, ``embeddings`` —
with the column names and types of the repository's test data, at a
quarter of the row counts of its sf0.01 set. Every value derives from the
seed.

Documents are word bags over a small vocabulary; a fifth of them are
near-copies (one token dropped or replaced) of an earlier document, so the
dedup operators have pairs to verify. Embeddings are 64-dim vectors drawn
around a few label centres, so the IVF/PQ index has clusters to route to.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_ADJ = ("small", "red", "blue", "green", "large", "steel", "brass", "matte")
_NOUN = ("ring", "widget", "bolt", "gear", "valve", "spring", "bracket", "panel")
_TYPES = ("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")
_SEGMENTS = ("BUILDING", "HOUSEHOLD", "MACHINERY", "FURNITURE", "AUTOMOBILE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_LANGS = ("en", "de", "fr", "es", "it")
_VOCAB = (
    "a the key row scan slow fast table value part hash merge batch spark window "
    "line sort order data column agg join small big customer query stream group "
    "filter vector index shard"
).split()
_DIM = 64
_DAY_US = 86_400_000_000
_T0_US = 820_454_400_000_000  # 1996-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def write(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir`` (``<name>.parquet``); returns
    the row count of each."""
    rng = np.random.default_rng(seed)
    n_part, n_cust, n_supp, n_ord, n_docs, n_vec = 500, 375, 25, 3750, 125, 200
    tables: dict[str, pa.Table] = {}

    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{x}" for x in rng.integers(1, 26, n_part)],
            "p_type": [_TYPES[x] for x in rng.integers(0, len(_TYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + pk * 0.1, 2),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    tables["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{x:09d}" for x in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": [_SEGMENTS[x] for x in rng.integers(0, len(_SEGMENTS), n_cust)],
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    tables["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": [f"Supplier#{x:09d}" for x in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }
    )
    ok = np.arange(n_ord, dtype=np.int64)
    odate = _T0_US + rng.integers(0, 365 * 5, n_ord) * _DAY_US
    tables["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": [("F", "O", "P")[x] for x in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _ts(odate),
            "o_orderpriority": [_PRIORITIES[x] for x in rng.integers(0, 5, n_ord)],
        }
    )
    per_order = rng.integers(1, 8, n_ord)  # 4 line items per order on average
    l_ord = np.repeat(ok, per_order)
    n_li = len(l_ord)
    line_no = np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order, per_order) + 1
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_ord,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": pa.array(line_no, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[x] for x in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[x] for x in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(np.repeat(odate, per_order) + rng.integers(1, 122, n_li) * _DAY_US),
        }
    )

    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.2:  # near-copy of an earlier document
            toks = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(toks)))
            if rng.random() < 0.5:
                del toks[j]
            else:
                toks[j] = _VOCAB[int(rng.integers(0, len(_VOCAB)))]
        else:
            toks = [_VOCAB[x] for x in rng.integers(0, len(_VOCAB), int(rng.integers(8, 80)))]
        texts.append(" ".join(toks))
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[x] for x in rng.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{x}" for x in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 8, n_vec)
    centres = rng.normal(0, 1, (8, _DIM))
    vecs = centres[labels] + rng.normal(0, 0.6, (n_vec, _DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )

    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
