"""Deterministic sf0.1-shaped corpus for the batch workloads.

The catalog queries read ``{dir}/{table}.parquet`` for the TPC-H-style
tables plus ``events``, ``documents`` and ``embeddings``. This module
builds those ten tables with the row counts, key ranges, value domains
and physical types of the sf0.1 test corpus (uniform keys, a 1995-2001
order/ship calendar, January-2024 events, a 31-word document vocabulary
with a few percent near-duplicate documents, unit-norm 64-d embeddings),
so every query runs the same plan shapes it runs on that corpus.

The corpus is fixed: it is generated from ``CORPUS_SEED`` regardless of
the benchmark's ``--seed`` (which only shuffles query order), built once
per checkout and reused by every later run.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
#: bump when the generated bytes change, so a stale build is rebuilt
VERSION = "1"
SF = 0.1

ROWS = {
    "customer": int(150_000 * SF),
    "supplier": int(10_000 * SF),
    "part": int(200_000 * SF),
    "orders": int(1_500_000 * SF),
    "lineitem": int(6_000_000 * SF),
    "events": int(1_000_000 * SF),
    "documents": 5_000,
    "embeddings": 2_000,
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "large", "small", "red", "cold", "green", "dark"]
PART_NOUN = ["anvil", "bolt", "ring", "widget", "gear", "nut", "spring", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
VOCAB = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _us(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    day = 86_400_000_000
    first, last = _us(lo) // day, _us(hi) // day
    return pa.array(rng.integers(first, last + 1, n) * day, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 50 and r < 0.002:  # exact copy of an earlier document
            texts.append(texts[rng.integers(0, i)])
            continue
        if i > 50 and r < 0.035:  # near-duplicate: a few word substitutions
            words = texts[rng.integers(0, i)].split()
            for pos in rng.integers(0, len(words), rng.integers(1, 3)):
                words[pos] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
            continue
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    n, dim = ROWS["embeddings"], 64
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), pa.array(x.ravel(), pa.float32())
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def build_tables(seed: int = CORPUS_SEED) -> dict[str, pa.Table]:
    """Every table of the corpus, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    n_ord, n_li, n_ev = ROWS["orders"], ROWS["lineitem"], ROWS["events"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array(_names("Customer", n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array(_names("Supplier", n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(start, start + 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def ensure_corpus(root: str) -> str:
    """Build the corpus under ``root`` unless this version is already
    there; return the directory the catalog queries read."""
    out = os.path.join(root, f"sf{SF}-v{VERSION}")
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
