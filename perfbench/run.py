"""Benchmark for the market-data pipeline and its registry queries.

Usage, from the repository root:

    python3 perfbench/run.py --workload stream_fanout --seed 1 --seconds 15 --trace 0

A run measures whole drains (stream) or whole queries (batch) until at least
``--seconds`` have passed.

Workloads (see BENCHMARK.json for why each exists):

- ``stream_fanout``: closed-loop drains of a seeded OKX frame file through
  replay source -> decode health -> normalize -> JSONL + CSV snapshot sinks.
- ``registry_batch``: the bench registry queries (market analytics, dedup,
  similarity, text) over a generated sf0.1-shaped corpus.

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics, spans are kept in memory and
written to ``.perfbench/runs/`` with the run record when the run ends. Every
run checks the program's outputs (stream output checks, DuckDB oracles) and
reports failures in ``failed`` and ``success_rate``.

Everything runs in one process on ``local[nproc]``. Each run works in a fresh
directory under ``.perfbench/`` that is removed when it ends; the generated
corpus is kept in ``.perfbench/corpus`` and reused.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import probes  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("stream_fanout", "registry_batch")


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    work: str
    tracer: probes.Tracer
    session_s: float = 0.0
    corpus_dir: str | None = None
    problems: list[str] = field(default_factory=list)
    record: dict = field(default_factory=dict)


def _isolate(work: str) -> None:
    """Keep Spark, the JVM and Python workers inside the run's directory,
    and let Python workers import the package."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                                       + os.environ.get("JAVA_TOOL_OPTIONS", "")).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def _metric_specs(trace: bool) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    specs = _metric_specs(bool(args.trace))

    work = os.path.join(STATE, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, record = _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for s in specs:
        name = s["name"]
        if args.trace:
            value = result["layers"].get(name, 0.0)  # 0: the layer is idle here
        elif name == "success_rate":
            value = 1.0 - result["failed"] / max(result["attempted"], 1)
        else:
            value = result[name]
        metrics[name] = {"value": value, "unit": s["unit"]}
    record["result"] = {k: v for k, v in result.items() if k != "layers"}
    record["metrics"] = metrics
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    stem = os.path.join(STATE, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    with open(f"{stem}.json", "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1, default=str)
    for problem in record["problems"]:
        print(f"problem: {problem}", file=sys.stderr)
    print(json.dumps({"correct": not record["problems"] and result["failed"] == 0,
                      "attempted": result["attempted"], "failed": result["failed"],
                      "metrics": metrics}), flush=True)
    return 0


def _run(args, work: str) -> tuple[dict, dict]:
    _isolate(work)
    tracer = probes.Tracer(bool(args.trace))
    ctx = Context(args.workload, args.seed, args.seconds, work, tracer)
    load_start = probes.loadavg()
    oracles = None
    if args.workload != "stream_fanout":
        import batch
        import corpus

        ctx.corpus_dir = corpus.ensure_corpus(os.path.join(STATE, "corpus"))
        oracles = batch.Oracles(ctx.corpus_dir, batch.QUERY_NAMES)

    from real_time_crypto_market_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    ctx.session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        env = probes.environment(spark)
        if args.workload == "stream_fanout":
            import stream

            result = stream.run(spark, ctx)
        else:
            env["corpus"] = corpus.fingerprint(ctx.corpus_dir)
            result = batch.run(spark, ctx, oracles)
    finally:
        t0 = time.perf_counter()
        probes.stop_spark()
        ctx.record["stop_s"] = time.perf_counter() - t0
    if tracer.enabled:
        layers = result.setdefault("layers", {})
        layers["session.start_s"] = ctx.session_s
        layers["session.shuffle_partitions"] = env["shuffle_partitions"]
        stem = os.path.join(STATE, "runs", f"{args.workload}-s{args.seed}")
        os.makedirs(os.path.dirname(stem), exist_ok=True)
        tracer.write(f"{stem}.trace.json", layers)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "environment": env, **ctx.record,
              "loadavg_start": load_start, "loadavg_end": probes.loadavg(),
              "problems": ctx.problems}
    return result, record


if __name__ == "__main__":
    sys.exit(main())
