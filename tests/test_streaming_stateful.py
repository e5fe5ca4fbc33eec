"""Stateful streaming + stream-static / stream-stream joins."""

from __future__ import annotations

import json
import math

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sparktrends_spark.streaming.sinks import write_batch_partitioned
from sparktrends_spark.streaming.stateful import running_symbol_stats

BASE_MS = 1_700_000_000_000 - (1_700_000_000_000 % 60_000)

BAR_SCHEMA = StructType(
    [
        StructField("symbol", StringType()),
        StructField("timestamp", TimestampType()),
        StructField("close", DoubleType()),
        StructField("volume", DoubleType()),
    ]
)


def _bar(sym: str, minute: int, close: float, volume: float) -> str:
    ts = (BASE_MS + minute * 60_000) // 1000
    return json.dumps(
        {"symbol": sym, "timestamp": ts, "close": close, "volume": volume}
    )


def _write(d, name: str, lines: list[str]) -> None:
    p = d / name
    p.write_text("\n".join(lines) + "\n")
    # the file source orders micro-batches by mtime; same-instant writes
    # tie and the batch order becomes undefined — pin it explicitly
    import os

    seq = int("".join(c for c in name if c.isdigit()) or 0)
    os.utime(p, (1_700_000_000 + seq, 1_700_000_000 + seq))


def _bar_stream(spark, path: str):
    # epoch-seconds -> timestamp via a post-read cast keeps the fixture
    # files human-readable
    raw_schema = "symbol string, timestamp long, close double, volume double"
    return (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .json(path)
        .withColumn("timestamp", F.timestamp_seconds("timestamp"))
    )


def test_stateful_running_metrics_across_batches(spark, tmp_path):
    d = tmp_path / "bars"
    d.mkdir()
    _write(d, "b0.json", [_bar("A", 0, 10.0, 1.0), _bar("A", 1, 12.0, 3.0)])
    _write(d, "b1.json", [_bar("A", 2, 11.0, 2.0), _bar("B", 0, 5.0, 1.0)])

    out = str(tmp_path / "out")
    stats = running_symbol_stats(_bar_stream(spark, str(d)), history=10, frame=5)
    (
        stats.writeStream.outputMode("append")
        .foreachBatch(lambda b, i: write_batch_partitioned(b, i, out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    collected = spark.read.parquet(out).collect()
    by_symbol: dict[str, list] = {}
    for r in sorted(collected, key=lambda r: (r.symbol, r.timestamp)):
        by_symbol.setdefault(r.symbol, []).append(r)
    rows = {
        (sym, i): r for sym, rs in by_symbol.items() for i, r in enumerate(rs)
    }
    # A minute-1: vwap over 2 bars, sample stddev over (10, 12)
    a1 = rows[("A", 1)]
    assert a1.vwap_5 == (10.0 * 1 + 12.0 * 3) / 4
    assert a1.vol_5 == math.sqrt(2.0)  # stddev([10,12]) = sqrt(2)
    assert a1.n_history == 2
    # A minute-2 (second micro-batch): state carried across batches
    a2 = rows[("A", 2)]
    assert a2.n_history == 3
    assert a2.vwap_5 == (10.0 + 12.0 * 3 + 11.0 * 2) / 6
    # first bar of a symbol: null metrics, null anomaly (reference
    # null-history semantics)
    b0 = rows[("B", 0)]
    assert b0.vol_5 is None and b0.is_anomaly is None and b0.n_history == 1


def test_stream_static_join_enrichment(spark, tmp_path):
    d = tmp_path / "bars"
    d.mkdir()
    _write(d, "b0.json", [_bar("AAPL", 0, 10.0, 1.0), _bar("XXX", 0, 1.0, 1.0)])

    dim = spark.createDataFrame(
        [("AAPL", "Apple", "Tech")], "symbol string, name string, sector string"
    )
    joined = _bar_stream(spark, str(d)).join(F.broadcast(dim), "symbol", "left")
    out = str(tmp_path / "out")
    (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda b, i: write_batch_partitioned(b, i, out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    rows = {r.symbol: r for r in spark.read.parquet(out).collect()}
    assert rows["AAPL"].sector == "Tech"
    assert rows["XXX"].sector is None  # left join keeps unmatched facts


def test_stream_stream_interval_join(spark, tmp_path):
    bars_d = tmp_path / "bars"
    news_d = tmp_path / "news"
    bars_d.mkdir()
    news_d.mkdir()
    _write(bars_d, "b0.json", [_bar("A", 5, 10.0, 1.0), _bar("B", 5, 9.0, 1.0)])
    # news 30s before A's minute-5 bar, and hours away for B
    _write(
        news_d,
        "n0.json",
        [
            json.dumps(
                {"symbol": "A", "news_ts": (BASE_MS + 5 * 60_000 - 30_000) // 1000}
            ),
            json.dumps({"symbol": "B", "news_ts": (BASE_MS - 3_600_000) // 1000}),
        ],
    )
    bars = _bar_stream(spark, str(bars_d)).withWatermark("timestamp", "10 minutes")
    news = (
        spark.readStream.schema("symbol string, news_ts long")
        .json(str(news_d))
        .withColumn("news_ts", F.timestamp_seconds("news_ts"))
        .withWatermark("news_ts", "10 minutes")
    )
    joined = bars.join(
        news,
        (bars.symbol == news.symbol)
        & (news.news_ts >= bars.timestamp - F.expr("INTERVAL 1 MINUTE"))
        & (news.news_ts <= bars.timestamp),
        "inner",
    ).select(bars.symbol, "timestamp", "news_ts", "close")
    out = str(tmp_path / "out")
    (
        joined.writeStream.outputMode("append")
        .foreachBatch(lambda b, i: write_batch_partitioned(b, i, out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and rows[0].symbol == "A"
