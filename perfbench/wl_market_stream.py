"""market_stream: open-loop trade files -> minute bars -> metrics -> alerts.

A generator thread writes one Finnhub-style envelope file
(``{"data": [{p, s, t, v}, ...]}``) every ``FILE_INTERVAL_S`` on a fixed
schedule; each trade's ``t`` is its creation time. Prices follow a seeded
random walk per symbol, with seeded one-trade price spikes. The program
runs ``parse_trade_envelope(text_file_stream(...))`` ->
``streaming_minute_bars`` -> ``run_bar_pipeline`` with its default
trigger, its default (bucketed) upsert sink and a collecting ``alert_fn``.

A file's latency runs from its *scheduled* write time to the commit of the
micro-batch that read it (the commit log entry is written after the
batch's metrics upsert returns), so a stalled generator or pipeline is
billed to every file that waited. One micro-batch takes longer than the
window on the reference box, so the window's files land in two batches:
the one started by the window's first file and the one after it. Every
figure then follows the steady per-batch cost rather than the phase of a
batch boundary inside the window.
"""

from __future__ import annotations

import calendar
import json
import os
import sys
import threading
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

from common import Context, Result, file_set, median, retained_mem_mb, tail, tree_stats

SYMBOLS = 200
RATE_TRADES_PER_S = 500
FILE_INTERVAL_S = 0.1
TRADES_PER_FILE = int(RATE_TRADES_PER_S * FILE_INTERVAL_S)  # distinct symbols
SPIKE_EVERY_FILES = 20  # one planted spike per two seconds of trades
SPIKE_FACTOR = 1.3
DRAIN_TIMEOUT_S = 60


class TradeGenerator(threading.Thread):
    """Writes envelope files every ``FILE_INTERVAL_S`` from ``t0`` until
    ``t1`` (epoch seconds). Everything but the creation timestamps derives
    from the seed."""

    def __init__(self, seed: int, out_dir: str):
        super().__init__(name="trade-generator", daemon=True)
        self.rng = np.random.default_rng(seed)
        self.out_dir = out_dir
        self.t0 = self.t1 = 0.0
        self.files: list[dict] = []  # name, scheduled, written, trades
        self.spikes: list[tuple[str, int]] = []  # (symbol, t ms)
        self.error: BaseException | None = None
        self.symbols = [f"SYM{i:03d}" for i in range(SYMBOLS)]
        self.price = self.rng.uniform(20.0, 500.0, SYMBOLS)
        self._last_ms = 0

    def run(self) -> None:
        try:
            i = 0
            while (due := self.t0 + i * FILE_INTERVAL_S) < self.t1:
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                self.write(len(self.files), due)
                i += 1
        except Exception as e:  # reported as a failed run by the workload
            self.error = e

    def write(self, i: int, due: float) -> None:
        idx = self.rng.choice(SYMBOLS, TRADES_PER_FILE, replace=False)
        self.price[idx] *= np.exp(self.rng.normal(0.0, 0.002, TRADES_PER_FILE))
        price = np.round(self.price[idx], 4)
        vol = self.rng.integers(1, 500, TRADES_PER_FILE)
        spike = i % SPIKE_EVERY_FILES == SPIKE_EVERY_FILES // 2
        if spike:
            price[0] = round(price[0] * SPIKE_FACTOR, 4)
        # creation time; strictly increasing so no symbol has two trades
        # in one millisecond (open/close need a total order)
        t_ms = max(int(time.time() * 1000), self._last_ms + 1)
        self._last_ms = t_ms
        data = [
            {"p": float(p), "s": self.symbols[j], "t": t_ms, "v": float(v)}
            for j, p, v in zip(idx, price, vol)
        ]
        name = f"trades-{i:07d}.json"
        tmp = os.path.join(self.out_dir, f".{name}.tmp")
        with open(tmp, "w") as f:
            f.write(json.dumps({"data": data}) + "\n")
        os.rename(tmp, os.path.join(self.out_dir, name))
        if spike:
            self.spikes.append((data[0]["s"], t_ms))
        self.files.append(
            {"name": name, "scheduled": due, "written": time.time(), "trades": len(data)}
        )


def _file_batches(source_log: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    if not os.path.isdir(source_log):
        return out
    for entry in os.listdir(source_log):
        if entry.startswith("."):
            continue
        with open(os.path.join(source_log, entry)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def _commit_times(commit_log: str) -> dict[int, float]:
    out: dict[int, float] = {}
    if not os.path.isdir(commit_log):
        return out
    for entry in os.listdir(commit_log):
        if entry.isdigit():
            out[int(entry)] = os.stat(os.path.join(commit_log, entry)).st_mtime_ns / 1e9
    return out


def run(ctx: Context) -> Result:
    from sparktrends_spark.alerts import collecting_sink
    from sparktrends_spark.operators.bars import ohlcv_bars
    from sparktrends_spark.operators.metrics import vwap_metrics
    from sparktrends_spark.operators.parse import parse_trade_envelope
    from sparktrends_spark.streaming import (
        run_bar_pipeline,
        streaming_minute_bars,
        text_file_stream,
    )
    from sparktrends_spark.streaming.sinks import read_upserted
    from sparktrends_spark.streaming.upsert import BucketedParquetUpsertSink

    spark, tracer = ctx.spark, ctx.tracer
    in_dir = os.path.join(ctx.work, "trades")
    bars_path = os.path.join(ctx.work, "bars")
    metrics_path = os.path.join(ctx.work, "metrics")
    ckpt = os.path.join(ctx.work, "ckpt")
    os.makedirs(in_dir)
    sink_writes: list[dict] = []  # traced only: per-upsert files/bytes added

    class TimingSink(BucketedParquetUpsertSink):
        """The pipeline's ``"bucketed"`` sink (same bucket settings) with
        spans at its calls; traced runs only, so the end-to-end figures
        always come from the program's own default sink."""

        def upsert(self, df, path, keys, version):
            table = "bars" if path == bars_path else "metrics"
            before = file_set(path) if tracer.enabled else None
            with tracer.span(f"sinks.{table}_upsert", batch=version):
                super().upsert(df, path, keys, version)
            if before is not None:
                new = file_set(path) - before
                sink_writes.append(
                    {
                        "batch": version,
                        "files": len(new),
                        "bytes": sum(os.path.getsize(p) for p in new if os.path.exists(p)),
                    }
                )

        def read_keyed(self, spark_, path, keys_df):
            with tracer.span("sinks.read_keyed"):
                return super().read_keyed(spark_, path, keys_df)

    alert_batches: list = []
    collect = collecting_sink(alert_batches)

    def alert_fn(rows):
        with tracer.span("alerts.call", rows=len(rows)):
            collect(rows)

    # set-up: the first micro-batch (one file) pays code generation; the
    # generator starts once it has committed, so no backlog builds up
    gen = TradeGenerator(ctx.seed, in_dir)
    gen.write(0, time.time())
    t_setup = time.perf_counter()
    with tracer.span("streaming.start"):
        bars = streaming_minute_bars(
            parse_trade_envelope(text_file_stream(spark, in_dir, max_files_per_trigger=None))
        )
        query = run_bar_pipeline(
            bars, bars_path, metrics_path, ckpt,
            alert_fn=alert_fn,
            sink=(
                TimingSink(n_buckets=32, bucket_cols=("symbol",))
                if tracer.enabled
                else "bucketed"
            ),
        )
    commit_log = os.path.join(ckpt, "bars", "commits")
    source_log = os.path.join(ckpt, "bars", "sources", "0")

    def wait(pred, timeout):
        deadline = time.monotonic() + timeout
        while not pred():
            if gen.error or not query.isActive or time.monotonic() > deadline:
                return False
            time.sleep(0.05)
        return True

    first_ok = wait(lambda: len(_commit_times(commit_log)) >= 1, DRAIN_TIMEOUT_S)
    setup_s = time.perf_counter() - t_setup

    w0 = gen.t0 = time.time()
    w1 = gen.t1 = w0 + ctx.seconds
    window_start = time.perf_counter()
    gen.start()
    gen.join(timeout=ctx.seconds + 30)
    last = gen.files[-1]["name"]

    def drained():
        b = _file_batches(source_log).get(last)
        return b is not None and b in _commit_times(commit_log)

    drained_ok = first_ok and wait(drained, DRAIN_TIMEOUT_S)
    drain_s = time.time() - w1
    idle = lambda: not query.status["isTriggerActive"]
    wait(idle, 15)
    progress = [json.loads(p.json) for p in query.recentProgress]
    mem_mb, mem_parts = retained_mem_mb(spark)  # with the query's state still held
    # stop only between batches: a stop mid-batch aborts the sink write
    wait(idle, 15)
    query.stop()
    stream_error = query.exception()

    # ---- latency / throughput over the measured window
    fb, ct = _file_batches(source_log), _commit_times(commit_log)
    window = [f for f in gen.files if w0 <= f["scheduled"] < w1]
    done = [f for f in window if fb.get(f["name"]) in ct]
    lat = [ct[fb[f["name"]]] - f["scheduled"] for f in done]
    uncommitted = len(window) - len(done)
    in_window = sorted({fb[f["name"]] for f in done})
    trades_by_batch: dict[int, int] = {}
    files_by_batch: dict[int, int] = {}
    for f in gen.files:
        b = fb.get(f["name"])
        if b is not None:
            trades_by_batch[b] = trades_by_batch.get(b, 0) + f["trades"]
            files_by_batch[b] = files_by_batch.get(b, 0) + 1
    # the window's trades over the time until the last of them committed:
    # the offered rate while the pipeline keeps up, less when it lags
    if done:
        last_commit = max(ct[fb[f["name"]]] for f in done)
        tput = sum(f["trades"] for f in done) / (last_commit - w0)
    else:
        tput = 0.0

    # ---- correctness: stream tables == batch recomputation over all trades
    keys = ["symbol", "timestamp"]
    bar_cols = keys + ["open", "high", "low", "close", "volume"]
    met_cols = keys + ["close", "vwap_5", "vol_5", "is_anomaly"]

    def rounded(df, cols):
        return df.select(
            *[F.round(c, 6).alias(c) if c in ("open", "high", "low", "close", "volume", "vwap_5", "vol_5") else F.col(c) for c in cols]
        ).toPandas().sort_values(keys).reset_index(drop=True)

    bars_ok = metrics_ok = False
    t_gates = time.perf_counter()
    try:
        all_bars = ohlcv_bars(parse_trade_envelope(spark.read.text(in_dir)))
        want_bars = rounded(all_bars, bar_cols)
        got_bars = rounded(read_upserted(spark, bars_path), bar_cols)
        bars_ok = want_bars.equals(got_bars)
        want_m = rounded(vwap_metrics(all_bars), met_cols).groupby("symbol").tail(1)
        got_m = rounded(read_upserted(spark, metrics_path), met_cols).groupby("symbol").tail(1)
        metrics_ok = want_m.reset_index(drop=True).equals(got_m.reset_index(drop=True))
    except Exception:  # a missing or unreadable table fails the gates
        traceback.print_exc(file=sys.stderr)

    gates_s = time.perf_counter() - t_gates
    failed = uncommitted + (not bars_ok) + (not metrics_ok) + (stream_error is not None)
    failed += gen.error is not None
    attempted = len(window) + 2
    correct = bars_ok and metrics_ok and drained_ok and stream_error is None and gen.error is None
    if not lat:
        lat = [float(DRAIN_TIMEOUT_S)]
    tail_p, tail_v = tail(lat)
    lateness_max = max([f["written"] - f["scheduled"] for f in window] or [0.0])
    e2e = {
        "latency_p50_s": median(lat),
        "ops_per_s": tput,
        "mem_retained_mb": mem_mb,
    }
    info = {
        "files_in_window": len(window),
        "drain_s": drain_s,
        "gates_s": gates_s,
        **{f"mem_retained_mb.{k}": v for k, v in mem_parts.items()},
        "latency_tail_s": tail_v,
        "latency_tail_percentile": tail_p,
        "latency_samples": len(lat),
        "batches_covering_window": len(in_window),
        "batch_durations_s": [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress],
        "loadgen_lateness_max_s": lateness_max,
        "bars_match_batch": bars_ok,
        "metrics_match_batch": metrics_ok,
        "stream_error": str(stream_error)[:300] if stream_error else None,
    }

    # ---- per-layer (traced run)
    layer: dict[str, float] = {}
    if tracer.enabled:
        win_prog = [p for p in progress if p["batchId"] in set(in_window)] or progress
        d = lambda k: median([p["durationMs"].get(k, 0) / 1000.0 for p in win_prog])
        state = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
        files_w = [w for w in sink_writes if w["batch"] in set(in_window)] or sink_writes
        per_batch: dict[int, list[int]] = {}
        for w in files_w:
            acc = per_batch.setdefault(w["batch"], [0, 0])
            acc[0] += w["files"]
            acc[1] += w["bytes"]
        spike_minutes = {(s, t // 60000) for s, t in gen.spikes}
        alerted = {
            (r["symbol"], calendar.timegm(r["timestamp"].timetuple()) // 60)
            for rows in alert_batches
            for r in rows
        }
        layer.update(
            {
                "streaming.batch_s": d("triggerExecution"),
                "streaming.add_batch_s": d("addBatch"),
                "streaming.query_planning_s": d("queryPlanning"),
                "streaming.latest_offset_s": d("latestOffset"),
                "streaming.commit_s": d("commitOffsets"),
                "streaming.batches": float(len(in_window)),
                "streaming.trades_per_batch": median(
                    [trades_by_batch.get(b, 0) for b in in_window] or [0]
                ),
                "streaming.state_rows": float(state[-1]["numRowsTotal"]) if state else 0.0,
                "streaming.state_bytes": float(state[-1]["memoryUsedBytes"]) if state else 0.0,
                "streaming.backlog_files_max": float(max(files_by_batch.values(), default=0)),
                "sinks.bars_upsert_s": median(tracer.durations("sinks.bars_upsert", window_start) or [0.0]),
                "sinks.metrics_upsert_s": median(tracer.durations("sinks.metrics_upsert", window_start) or [0.0]),
                "sinks.read_keyed_s": median(tracer.durations("sinks.read_keyed", window_start) or [0.0]),
                "sinks.bytes_written_per_batch": median([v[1] for v in per_batch.values()] or [0]),
                "sinks.files_written_per_batch": median([v[0] for v in per_batch.values()] or [0]),
                "sinks.table_bytes_end": float(
                    tree_stats(bars_path)[1] + tree_stats(metrics_path)[1]
                ),
                "alerts.calls": float(len(alert_batches)),
                "alerts.rows": float(sum(len(r) for r in alert_batches)),
                "alerts.spikes_alerted_ratio": len(spike_minutes & alerted) / max(1, len(spike_minutes)),
                "loadgen.lateness_max_s": lateness_max,
            }
        )
    return Result(
        setup_s=setup_s, e2e=e2e, layer=layer, attempted=attempted, failed=int(failed),
        correct=bool(correct), window_start=window_start, info=info,
    )
