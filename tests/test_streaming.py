"""Streaming end-to-end tests (SURVEY §5.5): file-source micro-batches
through parse -> watermark -> windowed agg -> foreachBatch sinks, with
checkpoint-restart idempotency.

The strongest assertion pattern: the streaming result over all
micro-batches must equal the *batch* computation over the union of all
input — streaming is an incremental evaluation of the same query.
"""

from __future__ import annotations

import contextlib
import json
import os

import pytest
from pyspark.sql import functions as F

from sparktrends_spark.operators.bars import ohlcv_bars
from sparktrends_spark.streaming import (
    run_bar_pipeline,
    session_window_agg,
    sliding_window_counts,
    streaming_minute_bars,
    trade_stream_from_files,
    write_batch_partitioned,
)

BASE_MS = 1_700_000_000_000  # stable epoch anchor, minute-aligned below


def _minute_ms(minute: int, sec: int = 0) -> int:
    base = BASE_MS - (BASE_MS % 60_000)
    return base + minute * 60_000 + sec * 1_000


def _frame(trades: list[tuple[str, float, float, int]]) -> str:
    return json.dumps(
        {"data": [{"s": s, "p": p, "v": v, "t": t} for s, p, v, t in trades]}
    )


def _write_frames(path: str, name: str, frames: list[str]) -> None:
    p = os.path.join(path, name)
    with open(p, "w") as fh:
        fh.write("\n".join(frames) + "\n")
    # the file source orders micro-batches by mtime; pin it so batch
    # order is deterministic even when files are written back-to-back
    seq = int("".join(c for c in name if c.isdigit()) or 0)
    os.utime(p, (1_700_000_000 + seq, 1_700_000_000 + seq))


@pytest.fixture()
def trade_dir(tmp_path):
    d = tmp_path / "frames"
    d.mkdir()
    _write_frames(
        str(d),
        "b0.json",
        [
            _frame(
                [
                    ("AAA", 10.0, 1.0, _minute_ms(0, 5)),
                    ("AAA", 11.0, 2.0, _minute_ms(0, 40)),
                    ("BBB", 5.0, 1.0, _minute_ms(0, 10)),
                ]
            ),
            _frame([("AAA", 12.0, 1.0, _minute_ms(1, 10))]),
        ],
    )
    _write_frames(
        str(d),
        "b1.json",
        [
            _frame(
                [
                    ("AAA", 13.0, 1.0, _minute_ms(2, 5)),
                    ("BBB", 6.0, 3.0, _minute_ms(2, 30)),
                    # late-but-within-watermark trade for minute 1
                    ("AAA", 11.5, 1.0, _minute_ms(1, 50)),
                ]
            ),
        ],
    )
    return str(d)


def _run_pipeline(spark, trade_dir, tmp_path, alerts=None):
    trades = trade_stream_from_files(spark, trade_dir)
    bars = streaming_minute_bars(trades, watermark="2 minutes")
    query = run_bar_pipeline(
        bars,
        bars_path=str(tmp_path / "bars"),
        metrics_path=str(tmp_path / "metrics"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        alert_fn=(alerts.append if alerts is not None else None),
        available_now=True,
    )
    query.awaitTermination(180)
    assert not query.isActive


def test_streaming_bars_match_batch(spark, trade_dir, tmp_path):
    """Streaming OHLCV over micro-batches == batch OHLCV over the union."""
    _run_pipeline(spark, trade_dir, tmp_path)

    from sparktrends_spark.streaming.sinks import read_upserted

    got = (
        read_upserted(spark, str(tmp_path / "bars"))
        .select("symbol", "timestamp", "open", "high", "low", "close", "volume")
        .orderBy("symbol", "timestamp")
        .collect()
    )

    from sparktrends_spark.operators.parse import parse_trade_envelope

    all_trades = parse_trade_envelope(spark.read.text(trade_dir))
    want = (
        ohlcv_bars(all_trades)
        .select("symbol", "timestamp", "open", "high", "low", "close", "volume")
        .orderBy("symbol", "timestamp")
        .collect()
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    # the late minute-1 trade must have amended the minute-1 bar
    aaa_min1 = [r for r in got if r.symbol == "AAA"][1]
    assert aaa_min1.close == 11.5 and aaa_min1.volume == 2.0


def test_streaming_metrics_latest_per_symbol(spark, trade_dir, tmp_path):
    _run_pipeline(spark, trade_dir, tmp_path)
    from sparktrends_spark.streaming.sinks import read_upserted

    metrics = read_upserted(spark, str(tmp_path / "metrics"))
    # one metrics row per (symbol, bar); latest bar per symbol present
    latest = (
        metrics.groupBy("symbol")
        .agg(F.max("timestamp").alias("timestamp"))
        .collect()
    )
    assert {r.symbol for r in latest} == {"AAA", "BBB"}
    cols = set(metrics.columns)
    assert {"symbol", "timestamp", "close", "vwap_5", "vol_5", "is_anomaly"} <= cols


def test_checkpoint_restart_is_idempotent(spark, trade_dir, tmp_path):
    """Re-running with the same checkpoint after new data arrives must
    process only the new file and never duplicate bars."""
    from sparktrends_spark.streaming.sinks import read_upserted

    _run_pipeline(spark, trade_dir, tmp_path)
    n_before = read_upserted(spark, str(tmp_path / "bars")).count()

    # restart with zero new data: nothing changes
    _run_pipeline(spark, trade_dir, tmp_path)
    assert read_upserted(spark, str(tmp_path / "bars")).count() == n_before

    # new file -> new bar, old bars unchanged (upsert by natural key)
    _write_frames(
        trade_dir, "b2.json", [_frame([("CCC", 1.0, 1.0, _minute_ms(9, 0))])]
    )
    _run_pipeline(spark, trade_dir, tmp_path)
    bars = read_upserted(spark, str(tmp_path / "bars"))
    assert bars.filter(F.col("symbol") == "CCC").count() == 1
    assert bars.count() == n_before + 1
    key_counts = bars.groupBy("symbol", "timestamp").count()
    assert key_counts.filter(F.col("count") > 1).count() == 0


_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def _state_partitions(query) -> set[int]:
    return {
        op["numShufflePartitions"]
        for p in query.recentProgress
        for op in p["stateOperators"]
    }


def _assert_pipeline_matches_batch(spark, trade_dir, tmp_path):
    """Streamed bars == batch ``ohlcv_bars`` over every trade, and each
    symbol's last metrics row == batch ``vwap_metrics`` over those bars."""
    from sparktrends_spark.operators.metrics import vwap_metrics
    from sparktrends_spark.operators.parse import parse_trade_envelope
    from sparktrends_spark.streaming.sinks import read_upserted

    bar_cols = ["symbol", "timestamp", "open", "high", "low", "close", "volume"]
    want_bars = ohlcv_bars(parse_trade_envelope(spark.read.text(trade_dir)))
    got_bars = read_upserted(spark, str(tmp_path / "bars"))
    assert got_bars.select(bar_cols).orderBy("symbol", "timestamp").collect() == (
        want_bars.select(bar_cols).orderBy("symbol", "timestamp").collect()
    )

    def last_per_symbol(df):
        cols = ["symbol", "timestamp", "close", "vwap_5", "vol_5"]
        return {
            r.symbol: tuple(
                round(v, 6) if isinstance(v, float) else v for v in r
            )
            for r in df.select(cols).orderBy("timestamp").collect()
        }

    assert last_per_symbol(read_upserted(spark, str(tmp_path / "metrics"))) == (
        last_per_symbol(vwap_metrics(want_bars))
    )


def _run_bar_query(spark, trade_dir, tmp_path):
    query = run_bar_pipeline(
        streaming_minute_bars(
            trade_stream_from_files(spark, trade_dir), watermark="2 minutes"
        ),
        bars_path=str(tmp_path / "bars"),
        metrics_path=str(tmp_path / "metrics"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    query.awaitTermination(180)
    assert not query.isActive and query.exception() is None
    return query


@contextlib.contextmanager
def _shuffle_partitions(spark, n: int):
    prev = spark.conf.get(_SHUFFLE_PARTITIONS)
    spark.conf.set(_SHUFFLE_PARTITIONS, str(n))
    try:
        yield
    finally:
        spark.conf.set(_SHUFFLE_PARTITIONS, prev)


def test_run_bar_pipeline_caps_state_store_at_core_width(
    spark, trade_dir, tmp_path
):
    """A fresh checkpoint under a session wider than the cores gets one
    state-store partition per core; the caller's conf comes back."""
    assert spark.sparkContext.defaultParallelism == 8
    with _shuffle_partitions(spark, 16):
        query = _run_bar_query(spark, trade_dir, tmp_path)
        assert spark.conf.get(_SHUFFLE_PARTITIONS) == "16"
    assert _state_partitions(query) == {8}
    _assert_pipeline_matches_batch(spark, trade_dir, tmp_path)


def test_run_bar_pipeline_restart_keeps_checkpoint_width(
    spark, trade_dir, tmp_path, monkeypatch
):
    """A checkpoint first created at 16 partitions (an uncapped start)
    restarts at 16 — Spark reads the count from the offset log — and
    lands on the same result as batch."""
    import sparktrends_spark.streaming.pipeline as pipeline

    with _shuffle_partitions(spark, 16):
        monkeypatch.setattr(
            pipeline, "start_at_core_width", lambda writer, _spark: writer.start()
        )
        first = _run_bar_query(spark, trade_dir, tmp_path)
        assert _state_partitions(first) == {16}
        monkeypatch.undo()

        _write_frames(
            trade_dir,
            "b2.json",
            [
                _frame(
                    [
                        ("AAA", 14.0, 2.0, _minute_ms(3, 1)),
                        ("CCC", 1.0, 1.0, _minute_ms(3, 20)),
                    ]
                )
            ],
        )
        restarted = _run_bar_query(spark, trade_dir, tmp_path)
        assert spark.conf.get(_SHUFFLE_PARTITIONS) == "16"
    assert _state_partitions(restarted) == {16}
    _assert_pipeline_matches_batch(spark, trade_dir, tmp_path)


def test_dedup_within_watermark(spark, tmp_path):
    """Re-delivered duplicate trades collapse before aggregation."""
    d = tmp_path / "dup"
    d.mkdir()
    tick = ("AAA", 10.0, 2.0, _minute_ms(0, 5))
    _write_frames(str(d), "b0.json", [_frame([tick, tick, tick])])

    trades = trade_stream_from_files(spark, str(d))
    bars = streaming_minute_bars(
        trades,
        watermark="2 minutes",
        dedup_cols=("symbol", "price", "volume", "timestamp"),
    )
    out = str(tmp_path / "dup_bars")

    def process(batch_df, batch_id):
        write_batch_partitioned(batch_df, batch_id, out)

    (
        bars.writeStream.outputMode("update")
        .foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "dup_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    assert rows[0].volume == 2.0 and rows[0].n_trades == 1


def test_sliding_and_session_windows_stream(spark, tmp_path):
    d = tmp_path / "ev"
    d.mkdir()
    _write_frames(
        str(d),
        "b0.json",
        [
            _frame(
                [
                    ("AAA", 1.0, 1.0, _minute_ms(0, 0)),
                    ("AAA", 1.0, 1.0, _minute_ms(0, 20)),
                    # > 30s gap -> second session
                    ("AAA", 1.0, 1.0, _minute_ms(2, 0)),
                ]
            )
        ],
    )
    trades = trade_stream_from_files(spark, str(d))

    slide_out = str(tmp_path / "slide")
    sessions_out = str(tmp_path / "sessions")

    sliding = sliding_window_counts(
        trades, key_col="symbol", window_duration="2 minutes", slide="1 minute"
    )
    sess = session_window_agg(trades, key_col="symbol", gap="30 seconds")

    # session windows can merge as events arrive, so Spark forbids
    # update mode for them; complete re-emits the whole (bounded) state
    for stream_df, out, ckpt, mode in [
        (sliding, slide_out, "ck_slide", "update"),
        (sess, sessions_out, "ck_sess", "complete"),
    ]:
        (
            stream_df.writeStream.outputMode(mode)
            .foreachBatch(lambda b, i, p=out: write_batch_partitioned(b, i, p))
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )

    slide_rows = spark.read.parquet(slide_out).collect()
    # minute-0 events fall in the [-1,0] and [0,1] 2-minute windows etc.
    per_window = {r.window_start: r.n_events for r in slide_rows}
    assert max(per_window.values()) == 2
    assert sum(per_window.values()) == 6  # each event in 2 overlapping windows

    sess_rows = spark.read.parquet(sessions_out).collect()
    assert len(sess_rows) == 2
    assert sorted(r.n_events for r in sess_rows) == [1, 2]


def test_upsert_parquet_bucketed_rewrites_only_touched_buckets(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from sparktrends_spark.streaming.sinks import (
        read_upserted,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "t")
    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    upsert_parquet_bucketed(base, path, keys=("k",), n_buckets=8, version=0)
    buckets = sorted(d for d in os.listdir(path) if d.startswith("_bucket="))
    assert len(buckets) == 8
    mtimes = {d: os.path.getmtime(os.path.join(path, d)) for d in buckets}

    # single-key update: exactly one bucket directory may change
    one = spark.createDataFrame([(7, 777)], "k long, v long")
    upsert_parquet_bucketed(one, path, keys=("k",), n_buckets=8, version=1)
    changed = [
        d
        for d in buckets
        if os.path.getmtime(os.path.join(path, d)) != mtimes[d]
    ]
    assert len(changed) == 1, changed

    out = read_upserted(spark, path)
    assert out.count() == 200
    assert out.filter(F.col("k") == 7).head().v == 777
    # replay the same batch: converges, still no duplicates
    upsert_parquet_bucketed(one, path, keys=("k",), n_buckets=8, version=1)
    assert read_upserted(spark, path).count() == 200


def test_upsert_bucketed_rejects_a_different_bucket_count(spark, tmp_path):
    """Rows hash with the caller's ``n_buckets`` and reads probe with the
    manifest's: reopening an 8-bucket table with 4 would split keys
    across buckets and read back duplicates, so it must fail loudly
    and leave the table as it was."""
    from sparktrends_spark.streaming.sinks import (
        read_manifest,
        read_upserted,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "t")
    base = spark.range(100).select(F.col("id").alias("k"), F.lit(0).alias("v"))
    upsert_parquet_bucketed(base, path, keys=("k",), n_buckets=8, version=0)
    before = read_manifest(path)
    update = spark.range(100).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    with pytest.raises(ValueError, match="table has 8 buckets.*asked for 4"):
        upsert_parquet_bucketed(update, path, keys=("k",), n_buckets=4, version=1)
    assert read_manifest(path) == before
    out = read_upserted(spark, path)
    assert out.count() == 100 and out.select("k").distinct().count() == 100
    assert {r.v for r in out.select("v").distinct().collect()} == {0}


def test_upsert_bucketed_writes_one_file_per_leaf(spark, tmp_path):
    """The rewrite is clustered on the bucket id before the partitioned
    write, so each committed ``_bucket=N/_v=K`` leaf holds exactly one
    data file — without it, every shuffle partition of the merge window
    (which hashes by KEY) emitted its own splinter file into every
    touched bucket, and later point reads paid per-file open cost
    (measured ~2.9k tasks on the small-batch IVM row at sf0.1)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from sparktrends_spark.streaming.sinks import (
        read_upserted,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "t")
    base = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    upsert_parquet_bucketed(base, path, keys=("k",), n_buckets=8, version=0)
    for leaf in glob.glob(os.path.join(path, "_bucket=*", "_v=*")):
        files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        assert len(files) == 1, (leaf, files)
    assert read_upserted(spark, path).count() == 500

    # an empty batch is still a no-op that neither writes nor commits
    # (the bucket-id collect doubles as the emptiness check)
    import json

    manifest_before = json.load(open(os.path.join(path, "_manifest.json")))
    empty = spark.createDataFrame([], "k long, v long")
    upsert_parquet_bucketed(empty, path, keys=("k",), n_buckets=8, version=1)
    manifest_after = json.load(open(os.path.join(path, "_manifest.json")))
    assert manifest_after == manifest_before
    assert read_upserted(spark, path).count() == 500


def test_upsert_parquet_bucketed_manifest_commit_is_atomic(spark, tmp_path):
    """Crash injection at the commit point: a batch that wrote its data
    leaves but died before the manifest swap must be INVISIBLE to
    readers (all-old), and replaying the same batch converges to
    exactly the committed new state (all-new). Never a mix."""
    import os
    from unittest import mock

    from pyspark.sql import functions as F

    import sparktrends_spark.streaming.sinks as sinks

    path = str(tmp_path / "t")
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    sinks.upsert_parquet_bucketed(base, path, keys=("k",), n_buckets=8, version=0)
    before = {r.k: r.v for r in sinks.read_upserted(spark, path).collect()}
    assert len(before) == 100

    # batch 1 touches many buckets; crash BEFORE the manifest rename
    update = spark.range(40).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    with mock.patch.object(
        sinks, "_write_manifest_atomic", side_effect=OSError("injected crash")
    ):
        with pytest.raises(OSError, match="injected crash"):
            sinks.upsert_parquet_bucketed(
                update, path, keys=("k",), n_buckets=8, version=1
            )
    # staged-but-uncommitted _v=1 leaves exist on disk...
    staged = [
        b for b in os.listdir(path)
        if b.startswith("_bucket=") and "_v=1" in os.listdir(os.path.join(path, b))
    ]
    assert staged, "crash test should have staged new leaves"
    # ...but a reader sees the ENTIRE old state: no -1 values, no dupes
    mid = {r.k: r.v for r in sinks.read_upserted(spark, path).collect()}
    assert mid == before

    # checkpoint replay of the same batch: now commits; reader sees the
    # ENTIRE new state
    sinks.upsert_parquet_bucketed(update, path, keys=("k",), n_buckets=8, version=1)
    after = {r.k: r.v for r in sinks.read_upserted(spark, path).collect()}
    expected = dict(before)
    expected.update({k: -1 for k in range(40)})
    assert after == expected
    # superseded leaves were GC'd: each committed bucket has exactly one
    # _v dir, matching the manifest
    manifest = sinks.read_manifest(path)
    for b, v in manifest["buckets"].items():
        vdirs = [
            e for e in os.listdir(os.path.join(path, f"_bucket={b}"))
            if e.startswith("_v=")
        ]
        assert vdirs == [f"_v={v}"], (b, vdirs)

    # replaying an already-committed batch is a no-op that still reads
    # consistently (idempotent convergence)
    sinks.upsert_parquet_bucketed(update, path, keys=("k",), n_buckets=8, version=1)
    assert {r.k: r.v for r in sinks.read_upserted(spark, path).collect()} == expected


def test_read_upserted_refuses_uncommitted_bucketed_table(spark, tmp_path):
    """A bucketed table whose FIRST batch crashed pre-commit has data
    dirs but no manifest: reading it must fail loudly, not silently
    serve uncommitted rows."""
    import os
    from unittest import mock

    from pyspark.sql import functions as F

    import sparktrends_spark.streaming.sinks as sinks

    path = str(tmp_path / "t0")
    df = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v"))
    with mock.patch.object(
        sinks, "_write_manifest_atomic", side_effect=OSError("injected crash")
    ):
        with pytest.raises(OSError):
            sinks.upsert_parquet_bucketed(df, path, keys=("k",), version=0)
    assert os.path.isdir(path)
    with pytest.raises(FileNotFoundError, match="no committed"):
        sinks.read_upserted(spark, path)
    # replay commits; read works
    sinks.upsert_parquet_bucketed(df, path, keys=("k",), version=0)
    assert sinks.read_upserted(spark, path).count() == 10


def test_upsert_parquet_bucketed_last_writer_wins_like_flat(spark, tmp_path):
    from pyspark.sql import functions as F

    from sparktrends_spark.streaming.sinks import (
        read_upserted,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "t2")
    b0 = spark.createDataFrame(
        [("A", 1, 1.0), ("A", 2, 2.0), ("B", 1, 3.0)], "s string, t int, v double"
    )
    b1 = spark.createDataFrame(
        [("A", 2, 20.0), ("C", 1, 9.0)], "s string, t int, v double"
    )
    upsert_parquet_bucketed(b0, path, keys=("s", "t"), version=0)
    upsert_parquet_bucketed(b1, path, keys=("s", "t"), version=1)
    # out-of-order replay of the older batch must not resurrect old rows
    upsert_parquet_bucketed(b0, path, keys=("s", "t"), version=0)
    rows = {
        (r.s, r.t): r.v for r in read_upserted(spark, path).collect()
    }
    assert rows == {("A", 1): 1.0, ("A", 2): 20.0, ("B", 1): 3.0, ("C", 1): 9.0}


def test_upsert_bucketed_time_travel(spark, tmp_path):
    """retain_history: every batch commit writes an immutable snapshot;
    read_upserted_as_of reconstructs the table exactly as each
    retained batch committed it, expired snapshots are GC'd (files AND
    their otherwise-unreferenced leaves), and the latest read is
    unaffected."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparktrends_spark.streaming.sinks import (
        list_snapshots,
        read_upserted,
        read_upserted_as_of,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "tt")
    base = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    upsert_parquet_bucketed(
        base, path, keys=("k",), n_buckets=4, version=0, retain_history=2
    )
    upsert_parquet_bucketed(
        spark.createDataFrame([(7, 700)], "k long, v long"),
        path, keys=("k",), n_buckets=4, version=1, retain_history=2,
    )
    upsert_parquet_bucketed(
        spark.createDataFrame([(7, 7000), (51, 510)], "k long, v long"),
        path, keys=("k",), n_buckets=4, version=2, retain_history=2,
    )

    # only the last 2 snapshots survive
    assert list_snapshots(path) == [1, 2]
    with _pytest.raises(FileNotFoundError, match="retained: \\[1, 2\\]"):
        read_upserted_as_of(spark, path, 0)

    as_of_1 = read_upserted_as_of(spark, path, 1)
    assert as_of_1.count() == 50
    assert as_of_1.filter("k = 7").head().v == 700
    assert as_of_1.filter("k = 51").count() == 0

    as_of_2 = read_upserted_as_of(spark, path, 2)
    assert as_of_2.count() == 51
    assert as_of_2.filter("k = 7").head().v == 7000

    latest = read_upserted(spark, path)
    assert latest.count() == 51 and latest.filter("k = 7").head().v == 7000

    # retention is bounded: per bucket at most (history + current) leaves
    for d in os.listdir(path):
        if d.startswith("_bucket="):
            leaves = [
                e for e in os.listdir(os.path.join(path, d))
                if e.startswith("_v=")
            ]
            assert len(leaves) <= 3, (d, leaves)


def test_retain_history_demotion_drops_stale_snapshots(spark, tmp_path):
    """A table that ran with retain_history>0 and is later demoted to
    retain_history=0 must not keep `_manifest_v*.json` pointers whose
    leaves GC has deleted — read_upserted_as_of must fail with the
    intended clear FileNotFoundError, never mid-scan on missing dirs."""
    from sparktrends_spark.streaming.sinks import (
        list_snapshots,
        read_upserted,
        read_upserted_as_of,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "t")
    df0 = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    upsert_parquet_bucketed(
        df0, path, keys=("k",), n_buckets=4, version=0, retain_history=3
    )
    df1 = spark.createDataFrame([(1, 11)], "k long, v long")
    upsert_parquet_bucketed(
        df1, path, keys=("k",), n_buckets=4, version=1, retain_history=3
    )
    assert list_snapshots(path) == [0, 1]

    # demote: next batch runs with retain_history=0
    df2 = spark.createDataFrame([(2, 22)], "k long, v long")
    upsert_parquet_bucketed(
        df2, path, keys=("k",), n_buckets=4, version=2, retain_history=0
    )
    assert list_snapshots(path) == []
    with pytest.raises(FileNotFoundError, match="no snapshot"):
        read_upserted_as_of(spark, path, 0)
    got = {r.k: r.v for r in read_upserted(spark, path).collect()}
    assert got == {1: 11, 2: 22}


def test_bucketed_batch_n_plus_1_leaves_other_buckets_untouched(spark, tmp_path):
    """The O(touched buckets) contract of the pipeline's default sink:
    batch N+1 must not rewrite (or even re-open for write) data files
    of buckets only batch N touched — their inodes and mtimes are
    byte-identical after the next batch."""
    from sparktrends_spark.streaming.sinks import (
        read_upserted,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "t")
    batch0 = spark.createDataFrame(
        [(k, k * 10) for k in range(50)], "k long, v long"
    )
    upsert_parquet_bucketed(batch0, path, keys=("k",), n_buckets=8, version=0)

    def leaf_files():
        out = {}
        for r, _d, fs in os.walk(path):
            for f in fs:
                if f.endswith(".parquet"):
                    fp = os.path.join(r, f)
                    st = os.stat(fp)
                    out[fp] = (st.st_ino, st.st_mtime_ns, st.st_size)
        return out

    before = leaf_files()
    # batch 1 touches exactly one key -> one bucket
    upsert_parquet_bucketed(
        spark.createDataFrame([(7, 700)], "k long, v long"),
        path, keys=("k",), n_buckets=8, version=1,
    )
    after = leaf_files()
    survivors = set(before) & set(after)
    # every surviving batch-0 file is bit-identical (inode+mtime+size)
    for fp in survivors:
        assert after[fp] == before[fp], fp
    # and only ONE bucket's worth of batch-0 files was replaced
    replaced_buckets = {
        fp.split("_bucket=")[1].split("/")[0]
        for fp in set(before) - survivors
    }
    assert len(replaced_buckets) == 1
    assert {r.k: r.v for r in read_upserted(spark, path).collect()}[7] == 700


def test_upsert_sink_strategy_seam(spark, tmp_path):
    """streaming/upsert.py: the bucketed sink converges to
    last-writer-wins state through its upsert/read_keyed interface."""
    from sparktrends_spark.streaming.sinks import read_upserted
    from sparktrends_spark.streaming.upsert import BucketedParquetUpsertSink

    sink = BucketedParquetUpsertSink()
    path = str(tmp_path / "bucketed")
    sink.upsert(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        path, keys=("k",), version=0,
    )
    sink.upsert(
        spark.createDataFrame([(2, 22)], "k long, v long"),
        path, keys=("k",), version=1,
    )
    assert {r.k: r.v for r in read_upserted(spark, path).collect()} == {
        1: 10, 2: 22,
    }
    keyed = sink.read_keyed(
        spark, path, spark.createDataFrame([(2,)], "k long")
    )
    assert {r.k: r.v for r in keyed.collect()}[2] == 22


def test_upsert_schema_evolution_add_and_widen(spark, tmp_path):
    """Schema-evolution contract of the bucketed sink: a batch may ADD
    a column (old rows read NULL), OMIT a column (its rows store NULL),
    or WIDEN a numeric column; the table stays readable with MIXED leaf
    schemas (only touched buckets are rewritten), and the keyed/pruned
    reads agree."""
    from sparktrends_spark.streaming.sinks import read_upserted
    from sparktrends_spark.streaming.upsert import BucketedParquetUpsertSink

    sink = BucketedParquetUpsertSink()
    path = str(tmp_path / "bucketed")
    # v0: (k, v:int) — two rows landing in different buckets
    sink.upsert(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v int"),
        path, keys=("k",), version=0,
    )
    # v1: adds `note`, widens v int->long, touches only k=2's bucket
    sink.upsert(
        spark.createDataFrame([(2, 22, "hi")], "k long, v long, note string"),
        path, keys=("k",), version=1,
    )
    got = {r.k: (r.v, r.note) for r in read_upserted(spark, path).collect()}
    assert got == {1: (10, None), 2: (22, "hi")}
    assert dict(read_upserted(spark, path).dtypes)["v"] == "bigint"
    # v2: batch MISSING `note` and sending the old narrow v type
    sink.upsert(
        spark.createDataFrame([(3, 30)], "k long, v int"),
        path, keys=("k",), version=2,
    )
    got = {r.k: (r.v, r.note) for r in read_upserted(spark, path).collect()}
    assert got == {1: (10, None), 2: (22, "hi"), 3: (30, None)}

    # keyed read across an evolution: narrow-leaf bucket probed fine
    keyed = sink.read_keyed(
        spark, path, spark.createDataFrame([(1,)], "k long")
    )
    rows = {r.k: (r.v, r.note) for r in keyed.collect()}
    assert rows[1] == (10, None)


def test_upsert_schema_evolution_rejections(spark, tmp_path):
    """Illegal evolutions fail loudly: retyping a key, and
    incompatible (non-numeric) retypes. A narrower-typed key in a
    batch is CAST UP and must land in the same bucket as the stored
    long key (hash pinning)."""
    import pytest as _pytest

    from sparktrends_spark.streaming.sinks import (
        read_upserted,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "t")
    upsert_parquet_bucketed(
        spark.createDataFrame([(1, "a")], "k long, s string"),
        path, keys=("k",), n_buckets=8, version=0,
    )
    # key widening attempt long->double: rejected
    with _pytest.raises(ValueError, match="pinned"):
        upsert_parquet_bucketed(
            spark.createDataFrame([(1.5, "b")], "k double, s string"),
            path, keys=("k",), n_buckets=8, version=1,
        )
    # incompatible retype string->long: rejected
    with _pytest.raises(ValueError, match="cannot change"):
        upsert_parquet_bucketed(
            spark.createDataFrame([(1, 5)], "k long, s long"),
            path, keys=("k",), n_buckets=8, version=1,
        )
    # narrower int key casts up and updates the SAME row (same bucket)
    upsert_parquet_bucketed(
        spark.createDataFrame([(1, "b")], "k int, s string"),
        path, keys=("k",), n_buckets=8, version=1,
    )
    rows = read_upserted(spark, path).collect()
    assert [(r.k, r.s) for r in rows] == [(1, "b")]


def test_upsert_time_travel_across_evolution(spark, tmp_path):
    """A snapshot taken before an evolution reads back with the OLD
    schema (no `note` column), after with the new one."""
    from sparktrends_spark.streaming.sinks import (
        read_upserted_as_of,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "tt")
    upsert_parquet_bucketed(
        spark.createDataFrame([(1, 10)], "k long, v int"),
        path, keys=("k",), n_buckets=4, version=0, retain_history=4,
    )
    upsert_parquet_bucketed(
        spark.createDataFrame([(1, 11, "x")], "k long, v long, note string"),
        path, keys=("k",), n_buckets=4, version=1, retain_history=4,
    )
    v0 = read_upserted_as_of(spark, path, 0)
    assert "note" not in v0.columns
    assert [(r.k, r.v) for r in v0.collect()] == [(1, 10)]
    v1 = read_upserted_as_of(spark, path, 1)
    assert [(r.k, r.v, r.note) for r in v1.collect()] == [(1, 11, "x")]


def test_optimize_upsert_table_compacts_and_survives_concurrent_upsert(
    spark, tmp_path
):
    """OPTIMIZE-vs-live-writer contract (manifest CAS): compaction
    never loses a committed row. Schedule A: a stream batch commits a
    bucket BETWEEN optimize's leaf rewrite and its CAS — optimize must
    lose the CAS for that bucket (skipped) and the batch's row wins.
    Quiet buckets compact (fewer files, same rows)."""
    from sparktrends_spark.sources.optimize import optimize_upsert_table
    from sparktrends_spark.streaming.sinks import (
        read_upserted,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "t")
    # 3 batches -> multi-file leaves worth compacting
    for v in range(3):
        upsert_parquet_bucketed(
            spark.createDataFrame(
                [(k, v * 100 + k) for k in range(40)], "k long, val long"
            ),
            path, keys=("k",), n_buckets=4, version=v,
        )
    before = read_upserted(spark, path)
    before_rows = {r.k: r.val for r in before.collect()}
    n_files_before = len(before.inputFiles())

    # key -> bucket map (same hash the sink uses)
    key_bucket = {
        r.k: r.b
        for r in spark.createDataFrame(
            [(k,) for k in range(40)], "k long"
        ).select("k", F.pmod(F.hash("k"), F.lit(4)).alias("b")).collect()
    }
    raced: list = []

    def interleave(bucket):
        # first bucket only: a concurrent batch updates a key IN the
        # bucket optimize is about to CAS — optimize must lose
        if raced:
            return
        victim = next(k for k, b in key_bucket.items() if str(b) == str(bucket))
        raced.append((bucket, victim))
        upsert_parquet_bucketed(
            spark.createDataFrame([(victim, 9999)], "k long, val long"),
            path, keys=("k",), n_buckets=4, version=7,
        )

    res = optimize_upsert_table(
        spark, path, target_file_bytes=1 << 30, on_before_commit=interleave
    )
    # the raced bucket lost its CAS; the others compacted
    raced_bucket, victim = str(raced[0][0]), raced[0][1]
    assert raced_bucket in res["skipped"], res
    assert len(res["compacted"]) == 3, res

    after = read_upserted(spark, path)
    got = {r.k: r.val for r in after.collect()}
    expect = dict(before_rows)
    expect[victim] = 9999  # the concurrent batch's write must survive
    assert got == expect
    # compacted leaves are single-file at the target size (the sink's
    # per-batch bucket rewrite already yields small leaf counts, so
    # equality is the floor here)
    assert len(after.inputFiles()) <= n_files_before
    assert all("_c" in f or "_v=7" in f for f in after.inputFiles())
    # idempotent second pass with no writer: everything compacts
    res2 = optimize_upsert_table(spark, path, target_file_bytes=1 << 30)
    assert res2["skipped"] == []
    assert {r.k: r.val for r in read_upserted(spark, path).collect()} == expect


def test_optimize_keeps_leaf_referenced_by_concurrent_snapshot(spark, tmp_path):
    """A concurrent upsert (retain_history > 0) committing MID-optimize
    writes a new time-travel snapshot that references an UNTOUCHED
    bucket's old leaf. Optimize's CAS on that bucket still succeeds
    (its pointer never moved) — deleting the superseded leaf would
    break read_upserted_as_of for the new snapshot. The reference
    check re-reads the snapshot list under the CAS lock, so the leaf
    survives."""
    from sparktrends_spark.sources.optimize import optimize_upsert_table
    from sparktrends_spark.streaming.sinks import (
        read_upserted,
        read_upserted_as_of,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "t")
    for v in range(2):  # retain_history=0: no snapshots at startup
        upsert_parquet_bucketed(
            spark.createDataFrame(
                [(k, v * 100 + k) for k in range(20)], "k long, val long"
            ),
            path, keys=("k",), n_buckets=2, version=v,
        )
    key_bucket = {
        r.k: int(r.b)
        for r in spark.createDataFrame([(k,) for k in range(20)], "k long")
        .select("k", F.pmod(F.hash("k"), F.lit(2)).alias("b"))
        .collect()
    }
    fired: list = []

    def interleave(bucket):
        if fired:
            return
        fired.append(str(bucket))
        # touch ONLY the other bucket, with history retention: the
        # snapshot this commit writes references `bucket`'s OLD leaf
        other = next(
            k for k, b in key_bucket.items() if str(b) != str(bucket)
        )
        upsert_parquet_bucketed(
            spark.createDataFrame([(other, 9999)], "k long, val long"),
            path, keys=("k",), n_buckets=2, version=7, retain_history=4,
        )

    res = optimize_upsert_table(
        spark, path, target_file_bytes=1 << 30, on_before_commit=interleave
    )
    assert fired and fired[0] in res["compacted"], res
    # the mid-run snapshot still reads back in full — the old leaf it
    # references was NOT deleted by the winning CAS
    other = next(k for k, b in key_bucket.items() if str(b) != fired[0])
    expect = {k: 100 + k for k in range(20)}
    expect[other] = 9999
    snap = read_upserted_as_of(spark, path, 7)
    assert {r.k: r.val for r in snap.collect()} == expect
    # the live table is the compacted + concurrently-updated state
    assert {r.k: r.val for r in read_upserted(spark, path).collect()} == expect


def test_manifest_lock_times_out_with_clear_error(tmp_path):
    """A stale/contended manifest lock must fail loudly with the lock
    path in the message, never proceed into a torn commit."""
    import pytest as _pytest

    from sparktrends_spark.streaming.sinks import _manifest_lock

    final = str(tmp_path)
    with _manifest_lock(final):
        with _pytest.raises(TimeoutError, match="manifest lock"):
            with _manifest_lock(final, timeout_s=0.3):
                pass
    # released: a fresh acquisition succeeds
    with _manifest_lock(final, timeout_s=0.3):
        pass


def test_optimize_upsert_table_sort_cols_cluster_leaves(spark, tmp_path):
    """sort_cols clusters rows within each compacted leaf: every
    file's rows come out sorted by the column, and values are
    unchanged."""
    from sparktrends_spark.sources.optimize import optimize_upsert_table
    from sparktrends_spark.streaming.sinks import (
        read_upserted,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "t")
    import random

    rng = random.Random(7)
    rows = [(k, float(rng.randrange(1000))) for k in range(200)]
    upsert_parquet_bucketed(
        spark.createDataFrame(rows, "k long, val double"),
        path, keys=("k",), n_buckets=4, version=0,
    )
    optimize_upsert_table(
        spark, path, target_file_bytes=1 << 30, sort_cols=["val"]
    )
    after = read_upserted(spark, path)
    assert {(r.k, r.val) for r in after.collect()} == set(rows)
    import pyarrow.parquet as pq

    for f in after.inputFiles():
        vals = pq.read_table(f.replace("file:", ""), columns=["val"])[
            "val"
        ].to_pylist()
        assert vals == sorted(vals), f


def test_optimize_crash_orphans_swept_on_next_run(spark, tmp_path):
    """A kill between leaf rewrite and CAS leaves invisible _c-tagged
    leaf dirs. The next optimize run sweeps them (they are only ever
    written by optimize itself), then compacts normally — table rows
    unchanged throughout."""
    import os

    from sparktrends_spark.sources.optimize import optimize_upsert_table
    from sparktrends_spark.streaming.sinks import (
        read_upserted,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "t")
    upsert_parquet_bucketed(
        spark.createDataFrame(
            [(k, float(k)) for k in range(40)], "k long, val double"
        ),
        path, keys=("k",), n_buckets=4, version=0,
    )
    before = {r.k: r.val for r in read_upserted(spark, path).collect()}

    class Boom(RuntimeError):
        pass

    def crash(_bucket):
        raise Boom()

    import pytest as _pytest

    with _pytest.raises(Boom):
        optimize_upsert_table(
            spark, path, target_file_bytes=1 << 30, on_before_commit=crash
        )

    def orphans():
        out = []
        for e in os.listdir(path):
            if e.startswith("_bucket="):
                out += [
                    l for l in os.listdir(os.path.join(path, e)) if "_c" in l
                ]
        return out

    assert orphans()  # the crashed run left an invisible leaf
    # crashed leaf is invisible: reads unaffected
    assert {r.k: r.val for r in read_upserted(spark, path).collect()} == before
    res = optimize_upsert_table(spark, path, target_file_bytes=1 << 30)
    assert len(res["compacted"]) == 4
    # exactly the 4 committed compacted leaves remain; the orphan is gone
    assert len(orphans()) == 4
    assert {r.k: r.val for r in read_upserted(spark, path).collect()} == before


def test_upsert_commit_merges_over_concurrent_optimize(spark, tmp_path):
    """Schedule B (the reverse race): OPTIMIZE flips a pointer AFTER a
    stream batch read the manifest but BEFORE its commit. The batch's
    merge-commit must preserve optimize's pointer for buckets it did
    not touch — a whole-manifest overwrite from the batch's stale view
    would dangle the compacted leaf optimize just committed (and GC'd
    the original of)."""
    from sparktrends_spark.sources.optimize import optimize_upsert_table
    from sparktrends_spark.streaming import sinks as _sinks

    path = str(tmp_path / "t")
    for v in range(2):
        _sinks.upsert_parquet_bucketed(
            spark.createDataFrame(
                [(k, v * 100 + k) for k in range(40)], "k long, val long"
            ),
            path, keys=("k",), n_buckets=4, version=v,
        )
    before = {r.k: r.val for r in _sinks.read_upserted(spark, path).collect()}

    fired: list = []

    def run_optimize_mid_batch():
        if not fired:
            fired.append(1)
            optimize_upsert_table(spark, path, target_file_bytes=1 << 30)

    _sinks._pre_commit_hook = run_optimize_mid_batch
    try:
        # this batch touches ONLY key 0's bucket; optimize runs between
        # its manifest read (batch start) and its commit
        _sinks.upsert_parquet_bucketed(
            spark.createDataFrame([(0, 4242)], "k long, val long"),
            path, keys=("k",), n_buckets=4, version=5,
        )
    finally:
        _sinks._pre_commit_hook = None
    assert fired
    got = {r.k: r.val for r in _sinks.read_upserted(spark, path).collect()}
    expect = dict(before)
    expect[0] = 4242
    assert got == expect
    # optimize's pointers survived in the merged manifest: at least one
    # untouched bucket points at a compacted (_c-tagged) leaf
    manifest = _sinks.read_manifest(path)
    assert any("_c" in str(v) for v in manifest["buckets"].values()), manifest


def test_upsert_schema_evolution_decimal_widening(spark, tmp_path):
    """Decimal columns widen when integer AND fraction digit counts
    both cover the stored type; a decimal that covers neither
    direction is rejected."""
    import pytest as _pytest

    from sparktrends_spark.streaming.sinks import (
        read_upserted,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "dec")
    upsert_parquet_bucketed(
        spark.createDataFrame([(1, "10.25")], "k long, amt string").selectExpr(
            "k", "CAST(amt AS DECIMAL(10,2)) AS amt"
        ),
        path, keys=("k",), n_buckets=4, version=0,
    )
    # widen to decimal(18,2): old leaf reads up-cast
    upsert_parquet_bucketed(
        spark.createDataFrame([(2, "9999999999999.99")], "k long, amt string")
        .selectExpr("k", "CAST(amt AS DECIMAL(18,2)) AS amt"),
        path, keys=("k",), n_buckets=4, version=1,
    )
    got = read_upserted(spark, path)
    assert dict(got.dtypes)["amt"] == "decimal(18,2)"
    assert {str(r.amt) for r in got.collect()} == {"10.25", "9999999999999.99"}
    # scale-losing change decimal(18,2) -> decimal(18,0): rejected
    with _pytest.raises(ValueError, match="neither decimal covers"):
        upsert_parquet_bucketed(
            spark.createDataFrame([(3, "5")], "k long, amt string")
            .selectExpr("k", "CAST(amt AS DECIMAL(18,0)) AS amt"),
            path, keys=("k",), n_buckets=4, version=2,
        )


def test_run_bar_pipeline_rejects_unknown_sink(spark, trade_dir, tmp_path):
    """The bucketed sink is the only upsert path: any other sink name
    fails before a streaming query starts."""
    from sparktrends_spark.streaming.pipeline import run_bar_pipeline
    from sparktrends_spark.streaming.sources import trade_stream_from_files
    from sparktrends_spark.streaming.windows import streaming_minute_bars

    bars = streaming_minute_bars(
        trade_stream_from_files(spark, trade_dir), watermark="2 minutes"
    )
    active = {q.id for q in spark.streams.active}
    with pytest.raises(ValueError, match="'flat'"):
        run_bar_pipeline(
            bars,
            bars_path=str(tmp_path / "bars"),
            metrics_path=str(tmp_path / "metrics"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            available_now=True,
            sink="flat",
        )
    assert {q.id for q in spark.streams.active} == active
    assert not (tmp_path / "ckpt").exists()


def test_read_upserted_keyed_prunes_to_entity_buckets(spark, tmp_path):
    """Symbol-prefix bucketing: a keyed read opens only the buckets the
    requested entities hash into (inputFiles ⊂ full read), returns
    every row of those entities, and an unknown entity yields an empty
    frame with the table schema."""
    from sparktrends_spark.streaming.sinks import (
        read_upserted,
        read_upserted_keyed,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "bars")
    rows = [
        (s, t, float(ord(s[0]) + t))
        for s in ["AAA", "BBB", "CCC", "DDD", "EEE"]
        for t in range(20)
    ]
    df = spark.createDataFrame(rows, "symbol string, t long, v double")
    upsert_parquet_bucketed(
        df, path, keys=("symbol", "t"), n_buckets=8, version=0,
        bucket_cols=("symbol",),
    )
    keys = spark.createDataFrame([("AAA",)], "symbol string")
    keyed = read_upserted_keyed(spark, path, keys)
    full = read_upserted(spark, path)
    assert len(keyed.inputFiles()) < len(full.inputFiles())
    got = keyed.filter(F.col("symbol") == "AAA")
    assert got.count() == 20  # no false negatives
    # unknown entity -> empty, schema preserved
    none = read_upserted_keyed(
        spark, path, spark.createDataFrame([("ZZZ",)], "symbol string")
    )
    present = {r.symbol for r in none.select("symbol").distinct().collect()}
    assert "ZZZ" not in present
    assert set(none.columns) == set(full.columns)


def test_read_upserted_keyed_casts_probe_to_written_types(spark, tmp_path):
    """F.hash is type-sensitive: a keys_df whose bucket column is int
    where the table wrote bigint (or string where it wrote long) used
    to hash into the WRONG buckets and silently return nothing. The
    keyed read now casts probes to the manifest-recorded types, so a
    dtype-mismatched probe still finds its rows."""
    from sparktrends_spark.streaming.sinks import (
        read_upserted_keyed,
        upsert_parquet_bucketed,
    )

    path = str(tmp_path / "byid")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "entity_id long, v double"
    )
    upsert_parquet_bucketed(
        df, path, keys=("entity_id",), n_buckets=8, version=0,
        bucket_cols=("entity_id",),
    )
    # int probe against a bigint table: hash(int 7) != hash(long 7)
    int_probe = spark.createDataFrame([(7,)], "entity_id int")
    got = read_upserted_keyed(spark, path, int_probe)
    assert got.filter(F.col("entity_id") == 7).count() == 1
    # string probe, castable: still lands in the right bucket
    str_probe = spark.createDataFrame([("7",)], "entity_id string")
    got2 = read_upserted_keyed(spark, path, str_probe)
    assert got2.filter(F.col("entity_id") == 7).count() == 1


def test_bucket_cols_must_stay_consistent(spark, tmp_path):
    from sparktrends_spark.streaming.sinks import upsert_parquet_bucketed

    path = str(tmp_path / "t")
    df = spark.createDataFrame([("A", 1, 1.0)], "s string, t long, v double")
    upsert_parquet_bucketed(
        df, path, keys=("s", "t"), n_buckets=4, version=0, bucket_cols=("s",)
    )
    with pytest.raises(ValueError, match="bucketed on"):
        upsert_parquet_bucketed(
            df, path, keys=("s", "t"), n_buckets=4, version=1
        )
    with pytest.raises(ValueError, match="subset of keys"):
        upsert_parquet_bucketed(
            df, path, keys=("s", "t"), n_buckets=4, version=1,
            bucket_cols=("v",),
        )


def test_apply_cdc_bucketed_upserts_and_deletes(spark, tmp_path):
    """CDC apply: inserts, updates and deletes resolve per key under
    last-writer-wins; a delete physically removes the key; a later
    re-insert resurrects it; replay is idempotent; only touched
    buckets rewrite."""
    from sparktrends_spark.streaming.sinks import (
        apply_cdc_bucketed,
        read_upserted,
    )

    path = str(tmp_path / "t")
    b0 = spark.createDataFrame(
        [(1, "a", "c"), (2, "b", "c"), (3, "c", "c")],
        "k long, v string, op string",
    )
    apply_cdc_bucketed(b0, path, keys=("k",), n_buckets=4, version=0)
    assert {r.k: r.v for r in read_upserted(spark, path).collect()} == {
        1: "a", 2: "b", 3: "c",
    }

    # update 1, delete 2 — one batch
    b1 = spark.createDataFrame(
        [(1, "a2", "u"), (2, None, "d")], "k long, v string, op string"
    )
    apply_cdc_bucketed(b1, path, keys=("k",), n_buckets=4, version=1)
    got = {r.k: r.v for r in read_upserted(spark, path).collect()}
    assert got == {1: "a2", 3: "c"}

    # replay batch 1: no-op (committed buckets skip)
    apply_cdc_bucketed(b1, path, keys=("k",), n_buckets=4, version=1)
    assert {r.k: r.v for r in read_upserted(spark, path).collect()} == got

    # resurrect 2
    b2 = spark.createDataFrame([(2, "b2", "c")], "k long, v string, op string")
    apply_cdc_bucketed(b2, path, keys=("k",), n_buckets=4, version=2)
    assert {r.k: r.v for r in read_upserted(spark, path).collect()} == {
        1: "a2", 2: "b2", 3: "c",
    }


def test_apply_cdc_bucketed_insert_and_delete_same_batch(spark, tmp_path):
    """A key both written and deleted in ONE batch: the delete and the
    write rank at the same version — the table must not keep a ghost
    row (delete wins ties by sink convention: row_number over equal
    versions is deterministic only if we make it so, so the apply
    layer guarantees it by construction: one change per key per batch
    is the changefeed contract; this test uses distinct keys)."""
    from sparktrends_spark.streaming.sinks import (
        apply_cdc_bucketed,
        read_upserted,
    )

    path = str(tmp_path / "t")
    apply_cdc_bucketed(
        spark.createDataFrame([(1, "x", "c")], "k long, v string, op string"),
        path, keys=("k",), n_buckets=2, version=0,
    )
    apply_cdc_bucketed(
        spark.createDataFrame(
            [(1, None, "d"), (9, "y", "c")], "k long, v string, op string"
        ),
        path, keys=("k",), n_buckets=2, version=1,
    )
    assert {r.k: r.v for r in read_upserted(spark, path).collect()} == {9: "y"}


def test_apply_cdc_bucketed_rejects_unknown_op(spark, tmp_path):
    from sparktrends_spark.streaming.sinks import apply_cdc_bucketed

    with pytest.raises(Exception, match="unknown op"):
        apply_cdc_bucketed(
            spark.createDataFrame(
                [(1, "x", "zz")], "k long, v string, op string"
            ),
            str(tmp_path / "t"), keys=("k",), n_buckets=2, version=0,
        )


def test_apply_cdc_bucketed_can_empty_the_table(spark, tmp_path):
    """Deleting every key is a legal CDC state: the manifest drops all
    buckets, and reads return an EMPTY frame with the original schema
    (recorded in the manifest) — not a missing-path error."""
    from sparktrends_spark.streaming.sinks import (
        apply_cdc_bucketed,
        read_upserted,
        read_upserted_keyed,
    )

    path = str(tmp_path / "t")
    apply_cdc_bucketed(
        spark.createDataFrame(
            [(1, "a", "c"), (2, "b", "c")], "k long, v string, op string"
        ),
        path, keys=("k",), n_buckets=4, version=0,
    )
    apply_cdc_bucketed(
        spark.createDataFrame(
            [(1, None, "d"), (2, None, "d")], "k long, v string, op string"
        ),
        path, keys=("k",), n_buckets=4, version=1,
    )
    out = read_upserted(spark, path)
    assert out.count() == 0
    assert set(out.columns) == {"k", "v"}
    keyed = read_upserted_keyed(
        spark, path, spark.createDataFrame([(1,)], "k long")
    )
    assert keyed.count() == 0 and set(keyed.columns) == {"k", "v"}
    # and the table accepts new writes afterwards
    apply_cdc_bucketed(
        spark.createDataFrame([(5, "z", "c")], "k long, v string, op string"),
        path, keys=("k",), n_buckets=4, version=2,
    )
    assert {r.k: r.v for r in read_upserted(spark, path).collect()} == {5: "z"}
