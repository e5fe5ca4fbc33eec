"""Market-domain queries — the reference's computational core
(SURVEY §2.12, §3.2) re-expressed over the driver's ``events`` table.

The testdata has no trade ticks, so a deterministic trades view is
derived from ``events``: symbol = event_type × (user_id % 10) buckets
(50 symbols), price = value, volume = props.k + 1 (exercises the JSON
functions, reference F2). The pipeline is then exactly the reference's:
trades -> 1-min OHLCV bars (A2) -> trailing VWAP/volatility (W1/W2) ->
anomaly predicate (P6) -> last-10/latest-per-symbol restriction
(W3/A1+J1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparktrends_spark.operators.bars import daily_bars, ohlcv_bars
from sparktrends_spark.operators.metrics import vwap_metrics, vwap_metrics_time_range
from sparktrends_spark.operators.topk import latest_per_group, top_k_per_group
from sparktrends_spark.plans.registry import query
from sparktrends_spark.sources.tables import load_table, scan_parallel

# ---------------------------------------------------------------------------
# Shared building blocks

_TRADES_CTE = """
trades AS (
  SELECT event_type || '_' || CAST(user_id % 10 AS VARCHAR) AS symbol,
         value AS price,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) + 1.0 AS volume,
         ts,
         event_id
  FROM events
)
"""

_BARS_CTE = """
bars AS (
  SELECT DISTINCT
    symbol,
    date_trunc('minute', ts) AS timestamp,
    first_value(price) OVER w AS open,
    max(price) OVER w AS high,
    min(price) OVER w AS low,
    last_value(price) OVER w AS close,
    sum(volume) OVER w AS volume,
    count(*) OVER w AS n_trades
  FROM trades
  WINDOW w AS (
    PARTITION BY symbol, date_trunc('minute', ts)
    ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
  )
)
"""

_METRICS_CTE = """
metrics AS (
  SELECT symbol, timestamp, close,
         sum(close * volume) OVER w / sum(volume) OVER w AS vwap_5,
         stddev_samp(close) OVER w AS vol_5
  FROM bars
  WINDOW w AS (
    PARTITION BY symbol ORDER BY timestamp
    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
  )
)
"""

_METRIC_COLS = ["symbol", "timestamp", "close", "vwap_5", "vol_5", "is_anomaly"]


def _round6(df: DataFrame, *cols: str) -> DataFrame:
    """Round float OUTPUT columns to 6 digits (both the Spark plan and
    the oracle SQL do this identically). Windowed sums/stddevs over
    doubles are addition-order-dependent — Spark's frame evaluation vs
    DuckDB's segment trees drift ~1 ULP — so raw values hash-mismatch
    under the driver's exact comparison; predicates (is_anomaly) are
    computed from the UNROUNDED values first on both sides."""
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c), 6))
    return df


def trades_projection(ev: DataFrame) -> DataFrame:
    """Project raw events (batch or streaming) to the trades shape."""
    return ev.select(
        F.concat(
            F.col("event_type"), F.lit("_"), (F.col("user_id") % 10).cast("string")
        ).alias("symbol"),
        F.col("value").alias("price"),
        (F.get_json_object("props", "$.k").cast("double") + F.lit(1.0)).alias(
            "volume"
        ),
        F.col("ts"),
        F.col("event_id"),
    )


def trades_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical trades DataFrame derived from ``events``.

    Per-row JSON extraction is CPU-bound: fan the scan out, pruned to
    the needed raw columns FIRST so the exchange never carries bytes
    the projection will drop. The fan-out hash-partitions on
    ``(symbol, _bucket)`` — both computed from cheap non-JSON columns
    BEFORE the exchange — so the minute-bar aggregation downstream
    (``ohlcv_bars(bucket_col="_bucket")``) reuses this shuffle instead
    of adding its own (guide §2.4); symbols x minutes gives thousands
    of distinct keys per 32 partitions, an even spread (guide §2.5).
    The CPU-heavy JSON volume parse stays downstream of the exchange.
    """
    events = load_table(spark, sf_dir, "events")
    raw = events.select(
        F.concat(
            F.col("event_type"), F.lit("_"), (F.col("user_id") % 10).cast("string")
        ).alias("symbol"),
        F.col("value").alias("price"),
        F.col("props"),
        F.col("ts"),
        F.col("event_id"),
        F.date_trunc("minute", F.col("ts")).alias("_bucket"),
    )
    fanned = scan_parallel(
        raw,
        source_path=getattr(events, "_sparktrends_scan_path", None),
        keys=("symbol", "_bucket"),
    )
    return fanned.select(
        "symbol",
        "price",
        (F.get_json_object("props", "$.k").cast("double") + F.lit(1.0)).alias(
            "volume"
        ),
        "ts",
        "event_id",
        "_bucket",
    )


def bars_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ohlcv_bars(
        trades_view(spark, sf_dir),
        ts_col="ts",
        tiebreak_col="event_id",
        bucket_col="_bucket",
    )


# ---------------------------------------------------------------------------
# Registered queries


@query(
    "ohlcv_bars",
    oracle=f"WITH {_TRADES_CTE.strip()}, {_BARS_CTE.strip()} SELECT * FROM bars",
)
def q_ohlcv_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: deterministic 1-minute OHLCV bars (min_by/max_by open/close)."""
    return bars_df(spark, sf_dir)


@query(
    "ohlcv_rollup_hourly",
    oracle=f"""
WITH {_TRADES_CTE.strip()}, {_BARS_CTE.strip()}
SELECT symbol, hr AS timestamp, open, high, low, close, volume, n_trades
FROM (
  SELECT symbol,
         date_trunc('hour', timestamp) AS hr,
         arg_min(open, timestamp) AS open,
         max(high) AS high,
         min(low) AS low,
         arg_max(close, timestamp) AS close,
         sum(volume) AS volume,
         CAST(sum(n_trades) AS BIGINT) AS n_trades
  FROM bars
  GROUP BY symbol, hr
)
""",
)
def q_ohlcv_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable rollup: hourly bars re-aggregated from 1-min bars
    (continuous-aggregate pattern — coarser resolutions read the finer
    aggregate, never the ticks)."""
    from sparktrends_spark.operators.bars import rollup_bars

    return rollup_bars(bars_df(spark, sf_dir), "1 hour")


@query(
    "vwap_metrics",
    oracle=f"""
WITH {_TRADES_CTE.strip()}, {_BARS_CTE.strip()}, {_METRICS_CTE.strip()}
SELECT symbol, timestamp, close,
       round(vwap_5, 6) AS vwap_5, round(vol_5, 6) AS vol_5, is_anomaly
FROM (
  SELECT m.*, abs(close - vwap_5) > 3.0 * vol_5 AS is_anomaly FROM metrics m
)
""",
)
def q_vwap_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: W1+W2+P6 — trailing-5-row VWAP, volatility, anomaly."""
    return _round6(
        vwap_metrics(bars_df(spark, sf_dir)).select(*_METRIC_COLS),
        "vwap_5",
        "vol_5",
    )


@query(
    "latest_metrics",
    oracle=f"""
WITH {_TRADES_CTE.strip()}, {_BARS_CTE.strip()}, {_METRICS_CTE.strip()}
SELECT symbol, timestamp, close,
       round(vwap_5, 6) AS vwap_5, round(vol_5, 6) AS vol_5,
       abs(close - vwap_5) > 3.0 * vol_5 AS is_anomaly
FROM (
  SELECT m.*, row_number() OVER (PARTITION BY symbol ORDER BY timestamp DESC) AS rn
  FROM metrics m
) WHERE rn = 1
""",
)
def q_latest_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+J1 restated: newest metrics row per symbol (single window pass)."""
    m = vwap_metrics(bars_df(spark, sf_dir)).select(*_METRIC_COLS)
    return _round6(latest_per_group(m, ["symbol"]), "vwap_5", "vol_5")


@query(
    "anomaly_last10",
    oracle=f"""
WITH {_TRADES_CTE.strip()}, {_BARS_CTE.strip()},
last10 AS (
  SELECT symbol, timestamp, close, volume FROM (
    SELECT b.*, row_number() OVER (PARTITION BY symbol ORDER BY timestamp DESC) AS rn
    FROM bars b
  ) WHERE rn <= 10
),
m10 AS (
  SELECT symbol, timestamp, close,
         sum(close * volume) OVER w / sum(volume) OVER w AS vwap_5,
         stddev_samp(close) OVER w AS vol_5
  FROM last10
  WINDOW w AS (
    PARTITION BY symbol ORDER BY timestamp
    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
  )
)
SELECT symbol, timestamp, close,
       round(vwap_5, 6) AS vwap_5, round(vol_5, 6) AS vol_5,
       abs(close - vwap_5) > 3.0 * vol_5 AS is_anomaly
FROM (
  SELECT m.*, row_number() OVER (PARTITION BY symbol ORDER BY timestamp DESC) AS rn
  FROM m10 m
) WHERE rn = 1
""",
)
def q_anomaly_last10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full §2.12 composite: last-10-bars history (the reference's S3/W3
    Postgres pushdown, Spark-native) -> metrics -> latest per symbol."""
    last10 = top_k_per_group(
        bars_df(spark, sf_dir),
        ["symbol"],
        [F.desc("timestamp")],
        k=10,
    ).select("symbol", "timestamp", "close", "volume")
    m = vwap_metrics(last10).select(*_METRIC_COLS)
    return _round6(latest_per_group(m, ["symbol"]), "vwap_5", "vol_5")


@query(
    "vwap_timerange",
    oracle=f"""
WITH {_TRADES_CTE.strip()}, {_BARS_CTE.strip()}
SELECT symbol, timestamp, close,
       round(vwap_t, 6) AS vwap_t, round(vol_t, 6) AS vol_t,
       abs(close - vwap_t) > 3.0 * vol_t AS is_anomaly
FROM (
  SELECT symbol, timestamp, close,
         sum(close * volume) OVER w / sum(volume) OVER w AS vwap_t,
         stddev_samp(close) OVER w AS vol_t
  FROM bars
  WINDOW w AS (
    PARTITION BY symbol ORDER BY CAST(epoch(timestamp) AS BIGINT)
    RANGE BETWEEN 299 PRECEDING AND CURRENT ROW
  )
)
""",
)
def q_vwap_timerange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-true 5-minute VWAP via rangeBetween (SURVEY Q10 variant)."""
    return _round6(
        vwap_metrics_time_range(
            bars_df(spark, sf_dir), frame_seconds=300
        ).select("symbol", "timestamp", "close", "vwap_t", "vol_t", "is_anomaly"),
        "vwap_t",
        "vol_t",
    )


_DAILY_BARS_CTE = """
daily AS (
  SELECT DISTINCT
    symbol,
    date_trunc('day', ts) AS day,
    last_value(price) OVER w AS close
  FROM trades
  WINDOW w AS (
    PARTITION BY symbol, date_trunc('day', ts)
    ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
  )
)
"""


@query(
    "weekly_volatility",
    oracle=f"""
WITH {_TRADES_CTE.strip()}, {_DAILY_BARS_CTE.strip()}
SELECT symbol, day, close,
       round(stddev_samp(close) OVER (
         PARTITION BY symbol
         ORDER BY CAST(epoch(day) AS BIGINT) // 86400
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ), 6) AS vol_7d,
       count(*) OVER (
         PARTITION BY symbol
         ORDER BY CAST(epoch(day) AS BIGINT) // 86400
         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       ) AS n_days
FROM daily
""",
)
def q_weekly_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling volatility of daily closes (SURVEY Q12 — the
    reference generated ``window.weekly_volatility: 7`` config but never
    consumed it; this is that metric).

    Time-true trailing frame: rangeBetween over epoch-days, so calendar
    gaps shorten the sample (unlike a 7-row frame).
    """
    from pyspark.sql import Window

    # hierarchical minute->day composition (see operators/bars.daily_bars)
    daily = daily_bars(
        trades_view(spark, sf_dir),
        ts_col="ts",
        tiebreak_col="event_id",
        bucket_col="_bucket",
    ).select("symbol", F.col("timestamp").alias("day"), "close")
    epoch_day = (F.unix_timestamp("day") / F.lit(86400)).cast("long")
    w = (
        Window.partitionBy("symbol")
        .orderBy(epoch_day)
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "symbol",
        "day",
        "close",
        F.round(F.stddev_samp("close").over(w), 6).alias("vol_7d"),
        F.count(F.lit(1)).over(w).alias("n_days"),
    )


@query(
    "anomaly_vs_history",
    oracle=f"""
WITH {_TRADES_CTE.strip()}, {_BARS_CTE.strip()}
SELECT symbol, timestamp, close,
       round(hist_vwap, 6) AS hist_vwap, round(hist_vol, 6) AS hist_vol,
       abs(close - hist_vwap) > 3.0 * hist_vol AS is_anomaly
FROM (
  SELECT symbol, timestamp, close,
         sum(close * volume) OVER w / sum(volume) OVER w AS hist_vwap,
         stddev_samp(close) OVER w AS hist_vol
  FROM bars
  WINDOW w AS (
    PARTITION BY symbol ORDER BY timestamp
    ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING
  )
)
""",
)
def q_anomaly_vs_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current close vs prior-5-bars VWAP/σ — the alert formulation
    that can actually fire (the reference's in-frame variant provably
    cannot at threshold 3.0; see operators/metrics.py docstring)."""
    from sparktrends_spark.operators.metrics import anomaly_vs_history

    return _round6(
        anomaly_vs_history(bars_df(spark, sf_dir)).select(
            "symbol", "timestamp", "close", "hist_vwap", "hist_vol", "is_anomaly"
        ),
        "hist_vwap",
        "hist_vol",
    )


_GF_START = "2024-01-05 00:00:00"
_GF_END = "2024-01-05 05:59:00"


@query(
    "ohlcv_gapfill",
    oracle=f"""
WITH {_TRADES_CTE.strip()}, {_BARS_CTE.strip()},
scope AS (
  SELECT symbol, timestamp, close AS _v FROM bars
  WHERE timestamp >= TIMESTAMP '{_GF_START}'
    AND timestamp <= TIMESTAMP '{_GF_END}'
),
grid AS (
  SELECT symbol,
         unnest(generate_series(TIMESTAMP '{_GF_START}',
                                TIMESTAMP '{_GF_END}',
                                INTERVAL 1 MINUTE)) AS timestamp
  FROM (SELECT DISTINCT symbol FROM scope)
)
SELECT g.symbol, g.timestamp,
       last_value(s._v IGNORE NULLS) OVER (
         PARTITION BY g.symbol ORDER BY g.timestamp
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ff,
       s._v IS NULL AS is_gap
FROM grid g LEFT JOIN scope s
  ON s.symbol = g.symbol AND s.timestamp = g.timestamp
""",
)
def q_ohlcv_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable gap-fill: dense 1-minute grid per symbol over a fixed
    6-hour range with the close forward-filled (locf) and gap slots
    flagged — the TimescaleDB time_bucket_gapfill pattern the reference's
    bar store would need for chart rendering and indicator warmup."""
    from sparktrends_spark.operators.bars import gapfill_bars

    return gapfill_bars(
        bars_df(spark, sf_dir), start=_GF_START, end=_GF_END
    )
