"""Self-check: run every registered query on Spark AND its DuckDB oracle,
compare row count / schema shape / values (order-insensitive), mimicking the
driver's correctness gate.

Usage:
    python tools/selfcheck.py [sf_dir] [query ...]
    python tools/selfcheck.py --schema [sf_dir]   # schema contract only
    python tools/selfcheck.py --evidence-age      # driver-evidence ledger

``--evidence-age`` (no Spark needed) reads the committed CORRECTNESS_r*.json
files; exit nonzero on evidence >2 rounds old, never-checked, or
failing-at-latest-check - mechanizing the oldest-first prefix rotation
(126 queries / 50 slots: steady-state max age 2). Every run starts with a
testdata schema-contract check (round 2 lost 14 queries to events.ts
parquet drift). Each query runs in its own ``query_scope`` and FAILs if it
leaves a persisted RDD behind. Exit 0 iff the contract holds and every
checked query matches without leaking.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import sys
import time

import duckdb

sys.path.insert(0, ".")

from real_time_crypto_market_data_pipeline_spark.plans import ORACLES, QUERIES  # noqa: E402
from real_time_crypto_market_data_pipeline_spark.session import get_spark, query_scope  # noqa: E402
from real_time_crypto_market_data_pipeline_spark.tables import TABLES  # noqa: E402


def canon_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return 0.0
        # round to 6 significant digits (driver rounds floats before hashing)
        return float(f"{v:.6g}")
    if isinstance(v, int):
        return v
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(canon_value(r[i]) for i in order))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def max_float_dev(a_rows, b_rows):
    dev = 0.0
    for ra, rb in zip(a_rows, b_rows):
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                denom = max(abs(va), abs(vb), 1e-300)
                dev = max(dev, abs(va - vb) / denom)
    return dev


def compare(s_cols, s_rows, o_cols, o_rows) -> list[str]:
    """Driver-gate comparison (count + column set + canonical value
    multiset); [] = match. Also tests/test_queries_oracle.py's
    comparator, so the test gate and this CLI can never drift."""
    problems: list[str] = []
    if len(s_rows) != len(o_rows):
        problems.append(f"rowcount spark={len(s_rows)} duck={len(o_rows)}")
    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in o_cols):
        problems.append(f"columns spark={sorted(s_cols)} duck={sorted(o_cols)}")
    if problems:
        return problems
    _, s_canon = canon_rows(s_cols, s_rows)
    _, o_canon = canon_rows(o_cols, o_rows)
    if s_canon != o_canon:
        n_bad = sum(1 for a, b in zip(s_canon, o_canon) if a != b)
        dev = max_float_dev(s_canon, o_canon)
        problems.append(
            f"values: {n_bad}/{len(s_canon)} rows differ, max_rel_dev={dev:.2e}"
        )
        for a, b in zip(s_canon, o_canon):
            if a != b:
                problems.append(f"  spark={a}")
                problems.append(f"  duck ={b}")
                break
    return problems


def duckdb_with_views(sf_dir: str):
    """A DuckDB connection with every testdata table as a view."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


# Accepted dtypes per column the engine depends on. A column may ship
# as any listed type (the loaders adapt - tables.events_ms_col); any
# OTHER type, or a missing column, is contract drift and fails loudly.
SCHEMA_CONTRACT = {
    "events": {
        "event_id": {"bigint"},
        "ts": {"bigint", "timestamp", "timestamp_ntz"},
        "user_id": {"bigint"},
        "event_type": {"string"},
        "value": {"double"},
        "props": {"string"},
    },
    "lineitem": {
        "l_orderkey": {"bigint"},
        "l_quantity": {"double"},
        "l_extendedprice": {"double"},
        "l_discount": {"double"},
        "l_shipdate": {"timestamp", "timestamp_ntz", "date"},
    },
    "orders": {
        "o_orderkey": {"bigint"},
        "o_custkey": {"bigint"},
        "o_totalprice": {"double"},
        "o_orderdate": {"timestamp", "timestamp_ntz", "date"},
    },
    "documents": {"doc_id": {"bigint"}, "text": {"string"}},
    "embeddings": {"vec_id": {"bigint"}, "embedding": {"array<float>", "array<double>"}},
}


def check_schema(spark, sf_dir: str) -> list[str]:
    """Print each table's dtypes; return a list of contract violations."""
    from real_time_crypto_market_data_pipeline_spark.tables import load

    drift = []
    for t in TABLES:
        try:
            dtypes = dict(load(spark, sf_dir, t).dtypes)
        except Exception as e:  # noqa: BLE001
            drift.append(f"{t}: unreadable ({type(e).__name__}: {e})")
            continue
        print(f"schema {t:11s} " + ", ".join(f"{c}:{d}" for c, d in dtypes.items()))
        for col, accepted in SCHEMA_CONTRACT.get(t, {}).items():
            got = dtypes.get(col)
            if got is None:
                drift.append(f"{t}.{col}: MISSING (expected one of {sorted(accepted)})")
            elif got not in accepted:
                drift.append(f"{t}.{col}: {got!r} not in accepted {sorted(accepted)}")
    for d in drift:
        print(f"SCHEMA DRIFT  {d}")
    return drift


def evidence_age(max_age: int = 2) -> int:
    """Per-query driver-evidence ledger from committed CORRECTNESS files."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    verdict: dict[str, bool] = {}
    rounds: list[int] = []
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r0*(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        rounds.append(rnd)
        for name, res in json.load(open(path)).items():
            latest[name] = rnd
            ok = bool(res.get("rows_match")) and res.get("err") is None
            # hash/schema checks exist only for oracle-checked queries
            for k in ("schema_match", "hash_match"):
                if k in res and res[k] is not None:
                    ok = ok and bool(res[k])
            verdict[name] = ok
    if not rounds:
        print("no CORRECTNESS_r*.json files found - nothing to audit")
        return 1
    newest = max(rounds)
    stale, never, failing = [], [], []
    for name in sorted(QUERIES):
        if name not in latest:
            never.append(name)
            print(f"NEVER {name:28s} no driver evidence")
            continue
        age = newest - latest[name]
        if age > max_age:
            stale.append(name)
        if not verdict[name]:
            failing.append(name)
        print(
            f"{'PASS' if verdict[name] else 'FAIL'}  {name:28s} "
            f"last=r{latest[name]} age={age} {'STALE' if age > max_age else 'ok'}"
        )
    print(
        f"\n{len(QUERIES)} registered; newest committed round r{newest}; "
        f"{len(stale)} stale (age>{max_age}), {len(never)} never-checked, "
        f"{len(failing)} failing-at-latest-check"
    )
    return 1 if (stale or never or failing) else 0


def load_line(tag: str) -> None:
    """Machine-load evidence inside the sweep artifact itself (r17: the
    r16 255s sweep needed forensics; bench.py's snapshot shape)."""
    running = 0
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                running += f.read().rsplit(")", 1)[1].split()[0] == "R"
        except OSError:
            continue
    la = ", ".join(f"{v:.2f}" for v in os.getloadavg())
    print(f"load  [{tag}] loadavg=({la}) procs_running={running}")


def main() -> int:
    args = [a for a in sys.argv[1:]]
    if "--evidence-age" in args:
        return evidence_age()
    schema_only = "--schema" in args
    args = [a for a in args if a != "--schema"]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]

    load_line("start")
    spark = get_spark("selfcheck")
    drift = check_schema(spark, sf_dir)
    if drift:
        print(f"\n{len(drift)} schema contract violations - fix tables.py loaders first")
        return 2
    if schema_only:
        print("\nschema contract OK")
        return 0
    con = duckdb_with_views(sf_dir)

    names = only or sorted(QUERIES)
    failed = []
    jsc = spark.sparkContext._jsc
    for name in names:
        fn = QUERIES[name]
        t0 = time.time()
        before = set(jsc.getPersistentRDDs().keySet())
        try:
            with query_scope():
                sdf = fn(spark, sf_dir)
                s_cols = sdf.columns
                s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:24s} spark error: {type(e).__name__}: {e}")
            failed.append(name)
            continue
        # a set difference: the ContextCleaner dropping older ids cannot trip it
        leaked = sorted(set(jsc.getPersistentRDDs().keySet()) - before)
        if leaked:
            print(f"FAIL  {name} leaked persisted RDDs {leaked}")
            failed.append(name)
            continue
        if name not in ORACLES:
            print(f"ok    {name:24s} rows={len(s_rows):7d} (no oracle - rows-only)")
            continue
        try:
            o = con.sql(ORACLES[name])
            o_cols = [c for c in o.columns]
            o_rows = o.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name:24s} duckdb error: {type(e).__name__}: {e}")
            failed.append(name)
            continue
        dt = time.time() - t0
        problems = compare(s_cols, s_rows, o_cols, o_rows)
        if problems:
            print(f"FAIL  {name:24s} " + "; ".join(problems[:3]))
            failed.append(name)
        else:
            print(f"PASS  {name:24s} rows={len(s_rows):7d} {dt:6.1f}s")

    print()
    load_line("end")
    if failed:
        print(f"{len(failed)}/{len(names)} FAILED: {failed}")
        return 1
    print(f"all {len(names)} queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
