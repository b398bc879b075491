"""Deterministic sf0.1-shaped tables for the benchmark.

The tables follow the testdata layout the library reads
(``sources.io.TESTDATA_TABLES``: one single-row-group parquet file per
table, TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``) with the same row counts, value domains and types as
the sf0.1 set. They are generated from a fixed seed, so every run of
the benchmark reads the same bytes; the workload seed only changes
what is asked of them (see ``inputs.py``).

Generation takes a few seconds, so the result is kept under
``<checkout>/.perfbench/`` and reused; a version stamp in the directory
name invalidates it when this file changes the data.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_VERSION = "sf0.1-v2"
TABLE_SEED = 42

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_DOCS = 5_000
N_NEAR_DUP_DOCS = 250
N_EXACT_DUP_DOCS = 8
N_VECS = 2_000
DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_STATUS = ["F", "O", "P"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "green", "hot", "large", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

ORDER_DATE_LO = np.datetime64("1995-01-01")
ORDER_DATE_DAYS = 2404  # through 2001-08-01
SHIP_DATE_LO = np.datetime64("1995-01-02")
SHIP_DATE_DAYS = 2498  # through 2001-11-04
EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 24 * 3600 * 1_000_000


def _days(rng: np.random.Generator, lo: np.datetime64, n_days: int, n: int):
    day = lo + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(day.astype("datetime64[us]"), pa.timestamp("us"))


def _choice(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    lengths = rng.integers(10, 101, N_DOCS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # near duplicates: a copy of an earlier document with a word or two
    # edited and a marker appended, so the similarity joins, the line
    # dedup and the minhash pairs all have positives to find
    targets = rng.choice(np.arange(N_DOCS // 2, N_DOCS), N_NEAR_DUP_DOCS + N_EXACT_DUP_DOCS, replace=False)
    for j, t in enumerate(targets):
        src = texts[int(rng.integers(0, N_DOCS // 2))]
        if j >= N_NEAR_DUP_DOCS:
            texts[t] = src
            continue
        toks = src.split()
        for _ in range(int(rng.integers(1, 3))):
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        texts[t] = " ".join(toks) + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _choice(rng, LANGS, N_DOCS),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    # isotropic unit vectors with uniform labels, as in the sf0.1 set
    labels = rng.integers(0, 10, N_VECS).astype(np.int32)
    vecs = rng.standard_normal((N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def build_tables(seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """All ten tables, generated in memory from ``seed``."""
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
            "c_mktsegment": _choice(rng, SEGMENTS, N_CUSTOMER),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
        }
    )
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), N_PART)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), N_PART)]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(N_PART, dtype=np.int64)),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
            "p_type": _choice(rng, PART_TYPES, N_PART),
            "p_size": pa.array(rng.integers(1, 51, N_PART).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 1)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS)),
            "o_orderstatus": _choice(rng, ORDER_STATUS, N_ORDERS),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
            "o_orderdate": _days(rng, ORDER_DATE_LO, ORDER_DATE_DAYS, N_ORDERS),
            "o_orderpriority": _choice(rng, PRIORITIES, N_ORDERS),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM)),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM)),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM)),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, N_LINEITEM).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, N_LINEITEM)),
            "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100.0),
            "l_returnflag": _choice(rng, ["A", "N", "R"], N_LINEITEM),
            "l_linestatus": _choice(rng, ["F", "O"], N_LINEITEM),
            "l_shipdate": _days(rng, SHIP_DATE_LO, SHIP_DATE_DAYS, N_LINEITEM),
        }
    )
    ts = EVENT_EPOCH + rng.integers(0, EVENT_SPAN_US, N_EVENTS).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(np.sort(ts), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, N_EVENTS)),
            "event_type": _choice(rng, EVENT_TYPES, N_EVENTS),
            "value": pa.array(np.round(rng.exponential(100.0, N_EVENTS), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def ensure_tables(cache_root: str) -> str:
    """Directory holding the parquet tables, generating it on first use.

    Written to a private temporary directory and renamed into place, so
    a concurrent or interrupted run never sees a half-written set."""
    final = os.path.join(cache_root, f"data-{DATA_VERSION}")
    if os.path.isdir(final):
        return final
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables().items():
        pq.write_table(
            table,
            os.path.join(tmp, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
            compression="snappy",
        )
    try:
        os.rename(tmp, final)
    except OSError:  # another run won the race; its copy is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return final
