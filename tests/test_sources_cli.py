"""File sources, parse operators, sink registry, alerts, CLI modes."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from sparktrends_spark.alerts import collecting_sink, format_anomaly_message
from sparktrends_spark.operators.parse import (
    parse_crypto_quotes,
    parse_json_records,
    parse_trade_envelope,
)
from sparktrends_spark.schemas import COMPANY_SCHEMA, OHLCV_SCHEMA
from sparktrends_spark.sources.files import read_csv, read_json_lines
from sparktrends_spark.sources.sinks import register_sink, registered_sinks, write


def test_read_csv_with_schema(spark, tmp_path):
    p = tmp_path / "companies.csv"
    p.write_text(
        "symbol,name,sector,industry\n"
        "AAPL,Apple,Tech,Hardware\n"
        "XOM,Exxon,Energy,Oil\n"
    )
    df = read_csv(spark, str(p), COMPANY_SCHEMA)
    # file sources surface every column nullable; names/types must hold
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in COMPANY_SCHEMA.fields
    ]
    assert {r.symbol for r in df.collect()} == {"AAPL", "XOM"}


def test_read_json_lines_permissive_nulls(spark, tmp_path):
    p = tmp_path / "bars.jsonl"
    rows = [
        {"symbol": "A", "open": 1.0, "high": 2.0, "low": 0.5, "close": 1.5,
         "volume": 10.0, "timestamp": "2024-01-01T00:00:00Z"},
        {"symbol": "B"},  # partial record -> nulls, not a failure
    ]
    p.write_text("\n".join(json.dumps(r) for r in rows))
    df = read_json_lines(spark, str(p), OHLCV_SCHEMA)
    got = {r.symbol: r for r in df.collect()}
    assert got["A"].close == 1.5
    assert got["B"].close is None


def test_parse_trade_envelope_malformed_frames(spark):
    frames = [
        ('{"data": [{"s": "A", "p": 1.0, "v": 2.0, "t": 1700000000000}]}',),
        ("not json at all",),
        ('{"data": null}',),
        ('{"data": []}',),
    ]
    df = spark.createDataFrame(frames, "value string")
    out = parse_trade_envelope(df).collect()
    assert len(out) == 1
    assert out[0].symbol == "A" and out[0].volume == 2.0


def test_parse_crypto_nested_struct(spark):
    msg = {
        "symbol": "BTC", "name": "Bitcoin", "sector": "crypto",
        "market_date": "2024-03-01",
        "crypto_info": {"open": 1.0, "high": 2.0, "low": 0.5, "close": 1.5,
                        "volume": 0.25},
    }
    df = spark.createDataFrame([(json.dumps(msg),)], "value string")
    row = parse_crypto_quotes(df).collect()[0]
    assert row.symbol == "BTC" and row.volume == 0.25  # fractional (Q5)
    assert str(row.market_date) == "2024-03-01"


def test_parse_json_records_flatten(spark):
    rec = {"symbol": "A", "open": 1.0, "high": 2.0, "low": 0.5, "close": 1.5,
           "volume": 3.0, "timestamp": "2024-01-01T00:00:00Z"}
    df = spark.createDataFrame([(json.dumps(rec),)], "value string")
    out = parse_json_records(df, OHLCV_SCHEMA)
    assert out.columns == [f.name for f in OHLCV_SCHEMA.fields]
    assert out.collect()[0].high == 2.0


def test_sink_registry_roundtrip(spark, tmp_path):
    out = str(tmp_path / "sunk")
    register_sink("bars_test", lambda df: df.write.mode("overwrite").parquet(out))
    assert "bars_test" in registered_sinks()
    write("bars_test", spark.range(5))
    assert spark.read.parquet(out).count() == 5
    with pytest.raises(KeyError):
        write("nope", spark.range(1))


def test_alert_formatting_and_collecting_sink():
    store: list = []
    sink = collecting_sink(store)
    rows = [{"symbol": "A", "timestamp": "t", "close": 1.0, "vwap_5": 2.0,
             "vol_5": 0.1}]
    sink(rows)
    assert store == [rows]
    msg = format_anomaly_message(rows)
    assert "A" in msg and "vwap_5=2.0" in msg


def test_slack_sink_counts_and_logs_failed_deliveries(caplog):
    import logging
    import socket

    from sparktrends_spark.alerts import slack_webhook_sink

    # a port that was just free and is now closed: connection refused
    # at once, no network involved
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    send = slack_webhook_sink(f"http://127.0.0.1:{port}/hook", timeout_s=2.0)
    rows = [{"symbol": "A", "timestamp": "t", "close": 1.0}]
    with caplog.at_level(logging.WARNING, logger="sparktrends_spark.alerts"):
        send(rows)  # must not raise: alerting never fails the batch
        send(rows)
        send([])  # nothing to deliver, not a failure
    assert send.failures == 2
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 2
    assert f"127.0.0.1:{port}" in warnings[0].getMessage()
    assert "refused" in warnings[0].getMessage().lower()


def test_cli_batch_and_meta(spark, tmp_path, capsys):
    from sparktrends_spark.cli import main

    frames = tmp_path / "frames"
    frames.mkdir()
    (frames / "f.json").write_text(
        json.dumps(
            {"data": [{"s": "A", "p": 1.0, "v": 2.0, "t": 1700000000000}]}
        )
        + "\n"
    )
    out = tmp_path / "bars_out"
    assert main(["batch", "--frames", str(frames), "--out", str(out)]) == 0
    assert spark.read.parquet(str(out)).count() == 1

    csv = tmp_path / "c.csv"
    csv.write_text("symbol,name,sector,industry\nAAPL,Apple,Tech,HW\n")
    meta_out = tmp_path / "meta_out"
    assert main(["meta", "--csv", str(csv), "--out", str(meta_out)]) == 0
    assert spark.read.parquet(str(meta_out)).collect()[0].symbol == "AAPL"


def test_cli_stream_available_now(spark, tmp_path):
    from sparktrends_spark.cli import main

    frames = tmp_path / "frames"
    frames.mkdir()
    base = 1_700_000_000_000 - (1_700_000_000_000 % 60_000)
    (frames / "f.json").write_text(
        json.dumps({"data": [
            {"s": "A", "p": 1.0, "v": 2.0, "t": base},
            {"s": "A", "p": 2.0, "v": 1.0, "t": base + 30_000},
        ]}) + "\n"
    )
    out = tmp_path / "stream_out"
    rc = main([
        "stream", "--frames", str(frames), "--out", str(out), "--available-now",
    ])
    assert rc == 0
    bars = spark.read.parquet(str(out / "bars")).collect()
    assert len(bars) == 1 and bars[0].volume == 3.0
    assert spark.read.parquet(str(out / "metrics")).count() == 1


def test_cli_stream_available_now_timeout_fails_and_stops(
    spark, tmp_path, monkeypatch
):
    """A backlog that outlasts --timeout is a partial export: the command
    fails instead of returning 0, and the query is stopped, not left
    running."""
    import sparktrends_spark.streaming as streaming
    from sparktrends_spark.cli import main

    class StuckQuery:
        id = "stuck"
        isActive = True
        stopped = False

        def awaitTermination(self, timeout=None):
            return False

        def stop(self):
            self.stopped = True
            self.isActive = False

    query = StuckQuery()
    monkeypatch.setattr(streaming, "run_bar_pipeline", lambda *a, **k: query)
    frames = tmp_path / "frames"
    frames.mkdir()
    with pytest.raises(RuntimeError, match="backlog not fully processed"):
        main([
            "stream", "--frames", str(frames), "--out", str(tmp_path / "out"),
            "--available-now", "--timeout", "1",
        ])
    assert query.stopped


def test_kafka_wire_roundtrip(spark):
    """K7 serialization contract: to_json -> (parse chain) recovers the
    rows byte-exactly without a broker."""
    from pyspark.sql import functions as F

    from sparktrends_spark.sources.kafka import serialize_for_kafka

    bars = spark.createDataFrame(
        [("A", 1.0, 2.0, 0.5, 1.5, 10.0, "2024-01-01T00:00:00Z")],
        "symbol string, open double, high double, low double, close double, "
        "volume double, timestamp string",
    ).withColumn("timestamp", F.to_timestamp("timestamp"))
    wire = serialize_for_kafka(bars, key_col="symbol")
    assert wire.columns == ["key", "value"]
    parsed = parse_json_records(wire, OHLCV_SCHEMA)
    row = parsed.collect()[0]
    src = bars.collect()[0]
    assert row.close == src.close and row.timestamp == src.timestamp


def test_entry_contract_integrity(spark):
    import __spark_entry__ as E

    queries = E.queries()
    oracles = E.oracle_sql()
    assert set(oracles) <= set(queries)
    # every query key is a valid python identifier-ish name (driver
    # uses them as JSON keys / file fragments)
    assert all(n.replace("_", "").isalnum() for n in queries)
    out = E.entry(spark)
    assert out.count() > 0


def test_cli_sql(spark, tmp_path, capsys):
    from sparktrends_spark.cli import main

    out = str(tmp_path / "sql_out")
    rc = main(
        [
            "sql",
            "--query",
            "SELECT o_orderpriority, count(*) AS n FROM orders "
            "GROUP BY o_orderpriority",
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--out",
            out,
        ]
    )
    assert rc == 0
    got = spark.read.parquet(out)
    assert set(got.columns) == {"o_orderpriority", "n"}
    assert got.count() > 0
    # The SQL path and the DataFrame path agree on the same session.
    df = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .groupBy("o_orderpriority")
        .count()
    )
    assert got.count() == df.count()


def test_compaction_reduces_files_and_preserves_rows(spark, sf_dir, tmp_path):
    """compact_parquet_dir: 64 tiny files -> few sized files, content
    identical, atomic swap leaves no temp/old dirs behind."""
    from sparktrends_spark.sources.compaction import compact_parquet_dir, dir_stats

    src = spark.read.parquet(f"{sf_dir}/events.parquet")
    path = str(tmp_path / "events_small")
    src.repartition(64).write.parquet(path)
    n0, bytes0 = dir_stats(path)
    assert n0 == 64

    before = src.count()
    stats = compact_parquet_dir(spark, path, target_file_bytes=bytes0 // 3)
    assert stats["files_before"] == 64
    assert 1 <= stats["files_after"] <= 6
    # content survives byte-for-byte at the row level
    after_df = spark.read.parquet(path)
    assert after_df.count() == before
    assert after_df.exceptAll(src).count() == 0
    assert src.exceptAll(after_df).count() == 0
    # no leftover working dirs
    import os

    leftovers = [d for d in os.listdir(tmp_path) if "__compact_" in d or "__old_" in d]
    assert leftovers == []


def test_compaction_rejects_empty_dir(spark, tmp_path):
    from sparktrends_spark.sources.compaction import compact_parquet_dir

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError):
        compact_parquet_dir(spark, str(empty))


def test_schema_evolution_merge_on_read(spark, sf_dir, tmp_path):
    """Lake schema evolution: a writer adds a column; mergeSchema reads
    the union with NULL backfill for old files, and the pruned scan of
    a shared column still works across both file generations."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    v1 = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    v1.write.parquet(path)
    v2 = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("event_id", "user_id", "value")
        .withColumn("event_id", F.col("event_id") + 10_000_000)
        .withColumn("quality_score", F.col("value") * 2)
    )
    v2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"event_id", "user_id", "value", "quality_score"}
    n = v1.count()
    assert merged.count() == 2 * n
    # old-generation rows surface NULL for the evolved column
    assert merged.filter(F.col("quality_score").isNull()).count() == n
    # and per-generation values survive
    assert (
        merged.filter(F.col("quality_score").isNotNull())
        .filter(F.col("quality_score") != F.col("value") * 2)
        .count()
        == 0
    )


def test_cli_delete(spark, sf_dir, tmp_path, capsys):
    import json

    from sparktrends_spark.cli import main
    from sparktrends_spark.sources.tables import load_table

    path = str(tmp_path / "ev")
    load_table(spark, sf_dir, "events").repartitionByRange(
        4, "user_id"
    ).write.parquet(path)
    assert (
        main(["delete", "--path", path, "--key-col", "user_id", "--keys", "3,7"])
        == 0
    )
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["rows_deleted"] > 0
    assert stats["files_rewritten"] + stats["files_removed"] < stats["files_total"]
    assert (
        spark.read.parquet(path).filter("user_id IN (3, 7)").count() == 0
    )


def test_cli_zorder(spark, sf_dir, tmp_path, capsys):
    import json

    from sparktrends_spark.cli import main
    from sparktrends_spark.sources.tables import load_table

    src = str(tmp_path / "ev_src")
    out = str(tmp_path / "ev_z")
    load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    ).write.parquet(src)
    rc = main([
        "zorder", "--path", src, "--out", out,
        "--cols", "user_id,value", "--n-files", "4",
    ])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["cols"] == ["user_id", "value"]
    a = spark.read.parquet(src)
    b = spark.read.parquet(out)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
