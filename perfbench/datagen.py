"""Tables for the batch_curation workload.

The program's queries read ten parquet tables (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``; see
``streaming_amqp_spark.tables.TABLE_NAMES``).  This module writes them
with the same column names, types and value distributions as the
reference test data, at a chosen scale factor, from a fixed seed: the
stored oracle hashes (``oracle_hashes.json``) are hashes of query results
on exactly these tables, so the data must not depend on the run's seed.

Each file is a single parquet row group, like the reference data.  At the
default scale the tables take well under a second to write, so each run
writes its own copy into its run directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.02
DATA_SEED = 20240101
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = "large hot blue old cold red small green".split()
_NOUN = "ring bolt plate gear widget rod anvil nut".split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _ts(start: str, end: str, n: int, rng, unit: str = "D") -> np.ndarray:
    lo = np.datetime64(start, unit)
    span = (np.datetime64(end, unit) - lo).astype(np.int64)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(scale: float = SCALE, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_li = int(6_000_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_cust = int(150_000 * scale)
    n_part = int(200_000 * scale)
    n_supp = int(10_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = int(15_000 * scale)
    n_docs = int(50_000 * scale)
    n_emb = int(20_000 * scale)
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
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, 0, 10_000, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
            n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, 0, 10_000, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts("1995-01-02", "2001-11-04", n_li, rng),
    })
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(_ts("2024-01-01T00:00:00.000000",
                          "2024-01-30T23:59:59.999999", n_ev, rng, "us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(
            ["signup", "click", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), k)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vec = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def write_tables(out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows),
                       compression="snappy")
    return out_dir
