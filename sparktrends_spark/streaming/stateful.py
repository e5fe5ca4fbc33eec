"""Custom stateful streaming operator (SURVEY §2.10 T3 escalation,
§7.4 "escalate to applyInPandasWithState only if latency demands it").

``running_symbol_stats`` keeps a bounded per-symbol ring of recent bars
in the Spark state store and emits, per micro-batch, the trailing-N
VWAP / volatility / anomaly flag for every updated symbol — the
reference's anomaly computation (stock_stream.py:61-97) without
re-reading external history each batch: O(changed symbols) per batch,
state bounded at ``history`` rows per symbol.

It takes a stream of finished bars (e.g. read from files), not the
pipeline's aggregated bars: Spark rejects ``applyInPandasWithState``
after an update-mode streaming aggregation ("not supported with
aggregation on a streaming DataFrame"), so it cannot follow
``streaming_minute_bars``. The pipeline (pipeline.py) therefore stays
on the stream-static pattern.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

STATE_SCHEMA = StructType(
    [
        StructField("ts_ms", StringType()),  # csv ring of epoch-ms
        StructField("closes", StringType()),  # csv ring of closes
        StructField("volumes", StringType()),  # csv ring of volumes
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("symbol", StringType(), False),
        StructField("timestamp", TimestampType(), False),
        StructField("close", DoubleType(), True),
        StructField("vwap_5", DoubleType(), True),
        StructField("vol_5", DoubleType(), True),
        StructField("is_anomaly", BooleanType(), True),
        StructField("n_history", LongType(), False),
    ]
)


def _decode(state: GroupState) -> tuple[list[int], list[float], list[float]]:
    if not state.exists:
        return [], [], []
    ts_s, cl_s, vo_s = state.get
    split = lambda s, f: [f(x) for x in s.split(",")] if s else []  # noqa: E731
    return split(ts_s, int), split(cl_s, float), split(vo_s, float)


def _metrics(
    closes: list[float], volumes: list[float], frame: int, threshold: float
) -> tuple[float | None, float | None, bool | None]:
    tail_c, tail_v = closes[-frame:], volumes[-frame:]
    tot_v = sum(tail_v)
    vwap = (
        sum(c * v for c, v in zip(tail_c, tail_v)) / tot_v if tot_v > 0 else None
    )
    if len(tail_c) >= 2:
        s = pd.Series(tail_c)
        vol = float(s.std(ddof=1))
    else:
        vol = None
    if vwap is None or vol is None:
        anom = None  # reference semantics: null history -> null flag
    else:
        anom = abs(tail_c[-1] - vwap) > threshold * vol
    return vwap, vol, anom


def make_update_fn(history: int = 10, frame: int = 5, threshold: float = 3.0):
    """Build the (key, batches, state) -> output iterator function."""

    def update(
        key: tuple[str],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (symbol,) = key
        ts, closes, volumes = _decode(state)
        rows: list[dict[str, Any]] = []
        batch = pd.concat(list(pdfs)).sort_values("timestamp")
        for _, r in batch.iterrows():
            t_ms = int(r["timestamp"].timestamp() * 1000)
            ts.append(t_ms)
            closes.append(float(r["close"]))
            volumes.append(float(r["volume"]))
            ts, closes, volumes = ts[-history:], closes[-history:], volumes[-history:]
            vwap, vol, anom = _metrics(closes, volumes, frame, threshold)
            rows.append(
                {
                    "symbol": symbol,
                    "timestamp": r["timestamp"],
                    "close": float(r["close"]),
                    "vwap_5": vwap,
                    "vol_5": vol,
                    "is_anomaly": anom,
                    "n_history": len(closes),
                }
            )
        state.update(
            (
                ",".join(str(x) for x in ts),
                ",".join(repr(x) for x in closes),
                ",".join(repr(x) for x in volumes),
            )
        )
        yield pd.DataFrame(rows)

    return update


def running_symbol_stats(
    bars: DataFrame,
    history: int = 10,
    frame: int = 5,
    threshold: float = 3.0,
) -> DataFrame:
    """Stateful trailing metrics over a streaming bars DataFrame.

    Input must have columns (symbol, timestamp, close, volume). Output
    mode must be ``append``/``update`` downstream; state never expires
    (NoTimeout) because symbol cardinality is bounded in this domain —
    at web scale attach an idle-timeout eviction.
    """
    return bars.groupBy("symbol").applyInPandasWithState(
        make_update_fn(history, frame, threshold),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DRAWDOWN_STATE_SCHEMA = StructType(
    [
        StructField("peak", DoubleType()),
        StructField("mdd", DoubleType()),
        StructField("trough_us", LongType()),
        StructField("trough_price", DoubleType()),
        StructField("peak_price", DoubleType()),
        StructField("n_trades", LongType()),
    ]
)

DRAWDOWN_OUTPUT_SCHEMA = StructType(
    [
        StructField("symbol", StringType(), False),
        StructField("trough_ts", TimestampType(), True),
        StructField("trough_price", DoubleType(), True),
        StructField("peak_price", DoubleType(), True),
        StructField("max_drawdown", DoubleType(), True),
        StructField("n_trades", LongType(), False),
    ]
)


def _drawdown_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """O(1)-state running max-drawdown per symbol: fold the batch's
    trades in (ts, event_id) order, carrying (running peak, worst
    drawdown + its first-occurrence trough row). Strictly-less update
    keeps the EARLIEST trough — the batch operator's tie rule — and
    every float op (division, subtraction, comparisons) is the same
    IEEE sequence the batch window form produces, so the converged
    table matches the batch oracle bit-exactly however history is
    micro-batched."""
    import numpy as np

    if state.exists:
        peak, mdd, t_us, t_price, p_price, n = state.get
    else:
        peak, mdd, t_us, t_price, p_price, n = (
            float("-inf"), 0.0, None, None, None, 0,
        )
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values(["ts", "event_id"])
        prices = pdf["price"].to_numpy(dtype="float64")
        # vectorized fold: running max seeded with the carried peak,
        # per-element division (the identical IEEE op sequence the
        # scalar loop and the batch window form perform), argmin keeps
        # the FIRST minimum — the earliest-trough tie rule
        peaks = np.maximum(np.maximum.accumulate(prices), peak)
        dds = prices / peaks - 1.0
        i = int(np.argmin(dds))
        n += len(prices)
        if t_us is None or dds[i] < mdd:
            mdd = float(dds[i])
            t_us = int(pdf["ts"].iloc[i].value // 1_000)  # ns -> us
            t_price = float(prices[i])
            p_price = float(peaks[i])
        peak = float(peaks[-1])
    state.update((peak, mdd, t_us, t_price, p_price, n))
    yield pd.DataFrame(
        {
            "symbol": [key[0]],
            "trough_ts": [pd.Timestamp(t_us * 1_000) if t_us is not None else None],
            "trough_price": [t_price],
            "peak_price": [p_price],
            "max_drawdown": [round(mdd, 6)],
            "n_trades": [n],
        }
    )


def running_symbol_drawdown(trades: DataFrame) -> DataFrame:
    """Streaming max-drawdown per symbol over raw trade prices —
    state is SIX scalars per symbol however long the history."""
    return trades.groupBy("symbol").applyInPandasWithState(
        _drawdown_update,
        outputStructType=DRAWDOWN_OUTPUT_SCHEMA,
        stateStructType=DRAWDOWN_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
