"""Deterministic sf0.1-shaped corpus for the batch workloads.

The benchmark reads nothing outside its checkout, so it generates its own
copy of the corpus the registry queries expect (FIXTURES.md B): the same ten
tables, column names, parquet types and row counts as the sf0.1 test corpus,
with the same kinds of value ranges (uniform TPC-H-ish keys and prices, a
30-day event stream, word-salad documents with appended near-duplicates, and
unit-norm 64-dim embeddings around ten weak cluster centres).

The corpus is fixed (its own seed, not the run's), so every run of a batch
workload reads identical input; it is built once per checkout and reused.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
CORPUS_VERSION = "sf0.1-v1"

ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
        "lineitem": 600_000, "events": 100_000, "documents": 5_000, "embeddings": 2_000}

VOCAB = ("spark slow line value filter customer fast stream hash table key group query "
         "the scan order window join part vector small data sort row a agg batch big "
         "merge column").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.41, 0.14, 0.15, 0.15, 0.15)


def _days(rng, n, first: str, last: str) -> pa.Array:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _tables(rng) -> dict[str, pa.Table]:
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    n = ROWS["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), i64), "c_name": _names("Customer", n),
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n)})
    n = ROWS["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), i64), "s_name": _names("Supplier", n),
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    n = ROWS["part"]
    adjectives = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
    nouns = ["ring", "bolt", "plate", "gear", "nut", "pipe", "screw", "wheel"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": pa.array([f"{adjectives[a]} {nouns[b]}" for a, b in
                            zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0})
    n = ROWS["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), i64),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000, 500_000),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n)})
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 105_000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")})
    n = ROWS["events"]
    jan_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00
    span_us = 30 * 86_400_000_000
    ts = jan_us + rng.choice(span_us, n, replace=False)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), i64),
        "event_type": _pick(rng, ["signup", "click", "error", "view", "purchase"], n),
        "value": np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB),
                                                                  rng.integers(10, 101))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), i64), "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_WEIGHTS),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(s) for s in texts], i64)})
    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0.0, 0.009, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 0.125, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return t


def ensure_corpus(cache_dir: str) -> str:
    """Build the corpus under ``cache_dir`` once; return its directory."""
    out = os.path.join(cache_dir, CORPUS_VERSION)
    if os.path.isfile(os.path.join(out, "_SUCCESS")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(np.random.default_rng(CORPUS_SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=len(table) or 1)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def fingerprint(corpus_dir: str) -> dict:
    """File sizes plus one sha256 over every table file, in name order."""
    digest, sizes = hashlib.sha256(), {}
    for name in sorted(f for f in os.listdir(corpus_dir) if f.endswith(".parquet")):
        path = os.path.join(corpus_dir, name)
        sizes[name] = os.path.getsize(path)
        with open(path, "rb") as f:
            digest.update(f.read())
    return {"dir": corpus_dir, "bytes": sizes, "sha256": digest.hexdigest()}
