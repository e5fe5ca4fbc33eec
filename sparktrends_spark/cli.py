"""CLI entry point (replaces the reference's edge_runner.py).

Modes (reference edge_runner.py:26): ``batch`` (bounded ingest ->
bars), ``stream`` (file-source micro-batches -> bars/metrics/alerts),
``meta`` (company CSV -> parquet overwrite), plus engine-native
``query`` (run any registered query) and ``bench``.

The reference's batch/stream modes read Kafka; without a broker the
CLI's transport is the file-frame format (one JSON envelope per line),
which exercises the identical parse->aggregate->sink plan.

Usage:
  python -m sparktrends_spark.cli query --name vwap_metrics --sf-dir /root/testdata/sf0.001
  python -m sparktrends_spark.cli sql --query "SELECT count(*) FROM lineitem"
  python -m sparktrends_spark.cli batch --frames /path/frames --out /tmp/bars
  python -m sparktrends_spark.cli stream --frames /path/frames --out /tmp/out
  python -m sparktrends_spark.cli meta --csv company.csv --out /tmp/company
"""

from __future__ import annotations

import argparse
import json
import sys

from sparktrends_spark.session import get_spark


def _session(args: argparse.Namespace, app_name: str):
    """Session from --config (reference: every job loads config.yml,
    spark/utilities.py:17-26) or from the code-first factory."""
    if getattr(args, "config", None):
        from sparktrends_spark.config import spark_from_config

        return spark_from_config(args.config)
    return get_spark(app_name)


def _cmd_query(args: argparse.Namespace) -> int:
    from sparktrends_spark.plans import QUERIES

    spark = _session(args, "sparktrends-query")
    df = QUERIES[args.name](spark, args.sf_dir)
    df.show(args.rows, truncate=False)
    return 0


def _cmd_batch(args: argparse.Namespace) -> int:
    from sparktrends_spark.operators.bars import ohlcv_bars
    from sparktrends_spark.operators.parse import parse_trade_envelope

    spark = _session(args, "sparktrends-batch")
    trades = parse_trade_envelope(spark.read.text(args.frames))
    bars = ohlcv_bars(trades)
    bars.write.mode("overwrite").parquet(args.out)
    print(f"wrote {spark.read.parquet(args.out).count()} bars -> {args.out}")
    return 0


def _cmd_stream(args: argparse.Namespace) -> int:
    from sparktrends_spark.alerts import format_anomaly_message
    from sparktrends_spark.streaming import (
        run_bar_pipeline,
        streaming_minute_bars,
        trade_stream_from_files,
    )
    from sparktrends_spark.streaming.pipeline import await_or_raise

    spark = _session(args, "sparktrends-stream")
    trades = trade_stream_from_files(spark, args.frames)
    bars = streaming_minute_bars(trades, watermark=args.watermark)
    query = run_bar_pipeline(
        bars,
        bars_path=f"{args.out}/bars",
        metrics_path=f"{args.out}/metrics",
        checkpoint_dir=f"{args.out}/checkpoint",
        alert_fn=lambda rows: print(format_anomaly_message(rows)),
        available_now=args.available_now,
        processing_time=None if args.available_now else args.trigger,
    )
    if not args.available_now:
        query.awaitTermination()
        return 0
    # a timed-out backlog is a partial export: fail, and stop the query
    # rather than leave it running behind a returned command
    try:
        await_or_raise(query, args.timeout)
    finally:
        if query.isActive:
            query.stop()
    return 0


def _cmd_meta(args: argparse.Namespace) -> int:
    from sparktrends_spark.schemas import COMPANY_SCHEMA
    from sparktrends_spark.sources.files import read_csv

    spark = _session(args, "sparktrends-meta")
    df = read_csv(spark, args.csv, COMPANY_SCHEMA)
    # K2: full dimension refresh is an overwrite (stock_batch.py:68)
    df.write.mode("overwrite").parquet(args.out)
    print(f"wrote {spark.read.parquet(args.out).count()} companies -> {args.out}")
    return 0


def _cmd_sql(args: argparse.Namespace) -> int:
    """Raw ANSI-SQL entry point: the testdata tables are registered as
    temp views (``region nation customer supplier part orders lineitem
    events documents embeddings``) and the statement runs through
    Spark SQL — same Catalyst plans as the DataFrame API, so every
    optimization (pushdown, pruning, broadcast, AQE) applies."""
    from sparktrends_spark.sources.tables import register_views

    spark = _session(args, "sparktrends-sql")
    register_views(spark, args.sf_dir)
    if args.file:
        with open(args.file) as fh:
            statement = fh.read()
    else:
        statement = args.query
    df = spark.sql(statement)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {spark.read.parquet(args.out).count()} rows -> {args.out}")
    else:
        df.show(args.rows, truncate=False)
    return 0


def _cmd_compact(args: argparse.Namespace) -> int:
    from sparktrends_spark.sources.compaction import compact_parquet_dir

    spark = _session(args, "sparktrends-compact")
    stats = compact_parquet_dir(
        spark, args.path, target_file_bytes=args.target_file_mb * 1024 * 1024
    )
    print(json.dumps(stats))
    return 0


def _cmd_delete(args: argparse.Namespace) -> int:
    from sparktrends_spark.sources.deletion import delete_keys

    spark = _session(args, "sparktrends-delete")
    keys: list = [
        int(k) if k.lstrip("-").isdigit() else k
        for k in args.keys.split(",")
    ]
    stats = delete_keys(spark, args.path, args.key_col, keys)
    print(json.dumps(stats))
    return 0


def _cmd_zorder(args: argparse.Namespace) -> int:
    from sparktrends_spark.sources.layout import file_prune_stats, zorder_write

    spark = _session(args, "sparktrends-zorder")
    cols = args.cols.split(",")
    df = spark.read.parquet(args.path)
    zorder_write(df, cols, args.out, n_files=args.n_files, bits=args.bits)
    summary = {"out": args.out, "cols": cols, "n_files": args.n_files}
    print(json.dumps(summary))
    return 0


def _cmd_bench(args: argparse.Namespace) -> int:
    import runpy

    sys.argv = ["bench.py"]
    runpy.run_path(args.bench_path, run_name="__main__")
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="sparktrends_spark")
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument(
        "--config",
        help="engine config file (YAML/JSON, see config.py); "
        "builds the session via spark_from_config",
    )
    sub = parser.add_subparsers(dest="mode", required=True)

    q = sub.add_parser("query", help="run a registered query", parents=[common])
    q.add_argument("--name", required=True)
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    q.add_argument("--rows", type=int, default=20)
    q.set_defaults(fn=_cmd_query)

    b = sub.add_parser("batch", help="bounded frames -> OHLCV bars", parents=[common])
    b.add_argument("--frames", required=True)
    b.add_argument("--out", required=True)
    b.set_defaults(fn=_cmd_batch)

    s = sub.add_parser("stream", help="streaming frames -> bars/metrics/alerts", parents=[common])
    s.add_argument("--frames", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--watermark", default="2 minutes")
    s.add_argument("--trigger", default="1 minute")
    s.add_argument("--available-now", action="store_true")
    s.add_argument("--timeout", type=int, default=300)
    s.set_defaults(fn=_cmd_stream)

    m = sub.add_parser("meta", help="company CSV -> parquet dimension", parents=[common])
    m.add_argument("--csv", required=True)
    m.add_argument("--out", required=True)
    m.set_defaults(fn=_cmd_meta)

    sq = sub.add_parser("sql", help="run ANSI SQL over the testdata views", parents=[common])
    g = sq.add_mutually_exclusive_group(required=True)
    g.add_argument("--query", help="SQL statement")
    g.add_argument("--file", help="path to a .sql file")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    sq.add_argument("--out", help="write result parquet here instead of showing")
    sq.add_argument("--rows", type=int, default=20)
    sq.set_defaults(fn=_cmd_sql)

    be = sub.add_parser("bench", help="run the bench harness", parents=[common])
    be.add_argument("--bench-path", default="bench.py")
    be.set_defaults(fn=_cmd_bench)

    co = sub.add_parser(
        "compact", help="compact a parquet dir's small files", parents=[common]
    )
    co.add_argument("--path", required=True)
    co.add_argument("--target-file-mb", type=int, default=128)
    co.set_defaults(fn=_cmd_compact)

    de = sub.add_parser(
        "delete",
        help="surgically delete rows by key from a parquet dir",
        parents=[common],
    )
    de.add_argument("--path", required=True)
    de.add_argument("--key-col", required=True)
    de.add_argument(
        "--keys", required=True, help="comma-separated key values"
    )
    de.set_defaults(fn=_cmd_delete)

    zo = sub.add_parser(
        "zorder",
        help="rewrite a parquet dir clustered on a Z-order curve",
        parents=[common],
    )
    zo.add_argument("--path", required=True)
    zo.add_argument("--out", required=True)
    zo.add_argument(
        "--cols", required=True, help="comma-separated numeric columns"
    )
    zo.add_argument("--n-files", type=int, default=16)
    zo.add_argument("--bits", type=int, default=16)
    zo.set_defaults(fn=_cmd_zorder)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
