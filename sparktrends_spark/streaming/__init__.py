"""Structured Streaming surface (SURVEY §2.10).

Rebuilds the reference's streaming job (spark/jobs/stock_stream.py) as
composable pieces, plus the gaps the reference declared as intent
(stock_stream.py:118-119 "TRY TO DEDUPLICATE THIS LATER... ALSO ADD
WATERMARKS"): watermarks, dedup-within-watermark, sliding and session
windows, idempotent micro-batch sinks, checkpoint/restart.
"""

from sparktrends_spark.streaming.sources import (
    kafka_stream,
    rate_stream,
    text_file_stream,
    trade_stream_from_files,
)
from sparktrends_spark.streaming.windows import (
    session_window_agg,
    sliding_window_counts,
    streaming_minute_bars,
)
from sparktrends_spark.streaming.sinks import write_batch_partitioned
from sparktrends_spark.streaming.pipeline import (
    run_bar_pipeline,
    start_to_completion,
)
from sparktrends_spark.streaming.stateful import running_symbol_stats

__all__ = [
    "kafka_stream",
    "rate_stream",
    "text_file_stream",
    "trade_stream_from_files",
    "session_window_agg",
    "sliding_window_counts",
    "streaming_minute_bars",
    "write_batch_partitioned",
    "run_bar_pipeline",
    "start_to_completion",
    "running_symbol_stats",
]
