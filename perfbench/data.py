"""Seeded input tables for the benchmark.

Writes the ten driver tables the engine registers as views
(``sources.synth.TABLES``) into one directory, as a pure function of
the seed. Only ``orders`` (the pages source: ``o_orderkey`` picks the
page ids) and ``documents`` (the dedup corpus) carry benchmark load;
the other eight are a few rows each, present because view registration
reads every table's schema.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the documents fixture's vocabulary (31 words, texts of 44-577 chars)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "fr", "es", "zh"]
#: the oracles' shingle CTE enumerates at most 600 positions per text
MAX_DOC_CHARS = 577

#: page ids are ``o_orderkey * mult + rep`` and enter the generator's
#: LCG (``* 1103515245``): keys stay far below 2**62 / 2**31 / mult
MAX_ORDERKEY = 1 << 24


def _ts(n: int, rng: np.random.Generator) -> pa.Array:
    us = 1577836800_000000 + rng.integers(0, 126230400, n) * 1_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    texts = []
    for _ in range(n):
        target = int(rng.integers(44, MAX_DOC_CHARS + 1))
        words: list[str] = []
        length = -1
        while True:
            w = VOCAB[int(rng.integers(len(VOCAB)))]
            if length + 1 + len(w) > target:
                break
            words.append(w)
            length += 1 + len(w)
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _small_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = 5
    ids = pa.array(np.arange(n), pa.int64())
    i32 = pa.array(np.arange(n, dtype=np.int32))
    names = [f"n{i}" for i in range(n)]
    dbl = pa.array(rng.random(n).round(2))
    return {
        "region": pa.table({"r_regionkey": i32, "r_name": names}),
        "nation": pa.table({"n_nationkey": i32, "n_name": names, "n_regionkey": i32}),
        "customer": pa.table(
            {"c_custkey": ids, "c_name": names, "c_nationkey": i32,
             "c_acctbal": dbl, "c_mktsegment": names}
        ),
        "supplier": pa.table(
            {"s_suppkey": ids, "s_name": names, "s_nationkey": i32, "s_acctbal": dbl}
        ),
        "part": pa.table(
            {"p_partkey": ids, "p_name": names, "p_brand": names, "p_type": names,
             "p_size": i32, "p_retailprice": dbl}
        ),
        "lineitem": pa.table(
            {"l_orderkey": ids, "l_partkey": ids, "l_suppkey": ids, "l_linenumber": i32,
             "l_quantity": dbl, "l_extendedprice": dbl, "l_discount": dbl, "l_tax": dbl,
             "l_returnflag": names, "l_linestatus": names, "l_shipdate": _ts(n, rng)}
        ),
        "events": pa.table(
            {"event_id": ids, "ts": _ts(n, rng), "user_id": ids, "event_type": names,
             "value": dbl, "props": names}
        ),
        "embeddings": pa.table(
            {"vec_id": ids,
             "embedding": pa.array([list(rng.random(4, dtype=np.float32)) for _ in range(n)],
                                   pa.list_(pa.float32())),
             "label": i32}
        ),
    }


def write_tables(out_dir: str, seed: int, n_orders: int, n_docs: int) -> str:
    """Write all ten tables under ``out_dir`` and return it. The same
    ``(seed, n_orders, n_docs)`` always writes the same rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    keys = np.sort(rng.choice(MAX_ORDERKEY, size=n_orders, replace=False)).astype(np.int64)
    tables = _small_tables(rng)
    tables["orders"] = pa.table(
        {
            "o_orderkey": keys,
            "o_custkey": pa.array(rng.integers(0, 5, n_orders), pa.int64()),
            "o_orderstatus": pa.array(np.where(rng.random(n_orders) < 0.5, "O", "F")),
            "o_totalprice": pa.array(rng.random(n_orders).round(2)),
            "o_orderdate": _ts(n_orders, rng),
            "o_orderpriority": pa.array(np.where(rng.random(n_orders) < 0.5, "1-URGENT", "5-LOW")),
        }
    )
    tables["documents"] = _documents(n_docs, rng)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
