"""CLI entry point (SURVEY 2.5 P1): the reference's argparse surface on Spark.

Mirrors ``src/app.py:150-227`` of the reference: ``--symbols`` /
``--channels`` comma-split + stripped + non-empty-validated,
``--url``, ``--csv-export`` / ``--csv-export-interval``,
``--no-stdout`` / ``--no-jsonl``; adds ``--mode replay`` +
``--replay-path`` (the deterministic dev path) and ``--duration``.

Run:  python -m real_time_crypto_market_data_pipeline_spark --mode replay --replay-path frames.jsonl
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import threading


def split_csv_arg(value: str, flag: str) -> list[str]:
    """Comma-split, strip, reject empties (reference app.py:203-211)."""
    items = [s.strip() for s in value.split(",") if s.strip()]
    if not items:
        raise SystemExit(f"error: {flag} must contain at least one non-empty item")
    return items


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="real_time_crypto_market_data_pipeline_spark",
        description="PySpark-native OKX market-data pipeline",
    )
    p.add_argument("--symbols", default="BTC-USDT,ETH-USDT")
    p.add_argument("--channels", default="books5")
    p.add_argument("--url", default="wss://ws.okx.com:8443/ws/v5/public")
    p.add_argument("--mode", choices=("replay", "live"), default="replay")
    p.add_argument("--replay-path", default=None)
    p.add_argument("--out-dir", default="./data")
    p.add_argument("--csv-export", default=None, help="CSV metrics output dir")
    p.add_argument("--csv-export-interval", type=float, default=30.0)
    p.add_argument("--no-stdout", action="store_true")
    p.add_argument("--no-jsonl", action="store_true")
    p.add_argument(
        "--duration",
        type=float,
        default=None,
        help="stop after N seconds (default: run until signal)",
    )
    args = p.parse_args(argv)
    args.symbol_list = split_csv_arg(args.symbols, "--symbols")
    args.channel_list = split_csv_arg(args.channels, "--channels")
    if args.mode == "replay" and not args.replay_path:
        raise SystemExit("error: --mode replay requires --replay-path")
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)

    from .session import get_spark
    from .streaming.observability import last_counters
    from .streaming.pipeline import start_pipeline

    spark = get_spark("okx-pipeline")
    handles = start_pipeline(
        spark,
        out_dir=args.out_dir,
        mode=args.mode,
        path=args.replay_path,
        symbols=",".join(args.symbol_list),
        channels=",".join(args.channel_list),
        url=args.url,
        console=not args.no_stdout,
        jsonl=not args.no_jsonl,
        csv_dir=args.csv_export or None,
        csv_interval=args.csv_export_interval,
    )

    # K7: SIGINT/SIGTERM -> graceful stop (flushes in-flight microbatch)
    stop_event = threading.Event()

    def _on_signal(signum, frame):  # noqa: ARG001
        stop_event.set()

    for sig in (signal.SIGINT, signal.SIGTERM):
        signal.signal(sig, _on_signal)

    if args.mode == "replay":
        handles.process_all_available()
    elif args.duration is not None:
        stop_event.wait(args.duration)
    else:  # pragma: no cover - interactive path
        stop_event.wait()
    handles.stop()
    # decode-health counters of each sink's last microbatch, one JSON line
    # per sink query
    for name, q in handles.queries.items():
        counters = last_counters(q)
        if counters is not None:
            print(json.dumps({"sink": name, **counters}), file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
