"""Graded Structured Streaming queries (SURVEY §2.10 T1-T5 + the
declared-intent gaps: watermarks, session windows, update mode).

Each query here runs a REAL streaming query — ``readStream`` file
source -> ``withWatermark`` -> stateful aggregation -> ``foreachBatch``
idempotent upsert sink -> ``availableNow`` trigger — over the driver's
parquet testdata, waits for termination, and returns the sink table.
This is the reference's stream job shape end-to-end
(stock_stream.py:122-193) with the §7.4 scale fixes (idempotent
natural-key sink instead of at-least-once JDBC append).

Determinism / oracle story: in the graded runs the whole table arrives
as ONE micro-batch (single parquet file, no maxFilesPerTrigger), so the
watermark drops nothing and update-mode emissions happen exactly once
per final group — streaming output equals batch semantics, and each
query carries a full DuckDB oracle. What the grade then certifies is
that the *streaming* plan (state store, watermark bookkeeping, sink
idempotence) computes the same answer as the declarative batch plan.
The multi-batch path (``maxFilesPerTrigger`` + time-ordered files) is
covered by tests/test_streaming_multibatch.py, which proves the same
convergence when watermarks advance and state evicts across batches.

At 100 TB the same topology runs with a real trigger: the file source
becomes Kafka (sources/kafka.py), the upsert becomes MERGE INTO on a
keyed table, and watermark+update-mode bound state exactly as here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from sparktrends_spark.operators.bars import ohlcv_bars
from sparktrends_spark.plans.market import (
    _BARS_CTE,
    _TRADES_CTE,
    trades_projection,
)
from sparktrends_spark.plans.registry import query, scratch_dir, scratch_path
from sparktrends_spark.sources.tables import _ensure_read_confs, load_table
from sparktrends_spark.streaming.pipeline import start_to_completion
from sparktrends_spark.streaming.sinks import (
    read_upserted,
    upsert_parquet_bucketed,
)

_EVENTS_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)
_EVENTS_STREAM_SCHEMA_NANOS = (
    "event_id bigint, ts bigint, user_id bigint, "
    "event_type string, value double, props string"
)


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming scan of the events table (file source standing in for
    the reference's Kafka source S2 — identical downstream plan).

    The testdata stores ``ts`` as parquet timestamp[us]; the stream
    schema reads it directly as TIMESTAMP (watermarks reject
    TIMESTAMP_NTZ — EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The session
    is pinned to UTC, so the wall-clock values equal the batch loader's
    TIMESTAMP_NTZ values exactly, and outputs are cast back to ntz
    after aggregation for oracle parity.

    Defensive branch (mirrors sources/tables.py): if a regenerated
    testdata file stores TIMESTAMP(NANOS) instead — which Spark only
    reads as a ns-long under ``nanosAsLong`` — fall back to the long
    schema and convert with integer-µs truncation.
    """
    _ensure_read_confs(spark)
    base = sf_dir.rstrip("/")
    # Probe the materialized batch type before forcing a stream schema;
    # a stale schema silently mis-scales every timestamp (the r3 bug).
    ts_type = spark.read.parquet(f"{base}/events.parquet").schema["ts"].dataType
    # Glob, not the bare file: FileStreamSource requires its basePath
    # to be a directory, and the glob keeps it from picking up the
    # other tables in the sf dir. maxFilesPerTrigger splits the table
    # into real multi-batch micro-batches (files arrive mtime-ordered)
    # so tests can exercise cross-batch watermark eviction.
    nanos = isinstance(ts_type, LongType)
    reader = spark.readStream.schema(
        _EVENTS_STREAM_SCHEMA_NANOS if nanos else _EVENTS_STREAM_SCHEMA
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(f"{base}/events*.parquet")
    if nanos:
        return raw.withColumn(
            "ts",
            F.expr("timestamp_micros(cast(ts div 1000 as bigint))"),
        )
    return raw


def run_upsert_stream(
    result: DataFrame,
    keys: tuple[str, ...],
    output_mode: str = "update",
    timeout_s: int = 300,
    ckpt_dir: str | None = None,
    table_dir: str | None = None,
    batch_transform=None,
) -> DataFrame:
    """Drive a streaming aggregate to completion through the idempotent
    upsert sink; return the final table (minus sink bookkeeping).

    ``ckpt_dir`` is exposed so tests can inspect the offset log (e.g.
    to prove a run really split into multiple micro-batches);
    ``table_dir`` pins the sink table so a KILLED run can be restarted
    against the same checkpoint AND the same table — the
    kill-and-restart recovery path (tests/test_streaming_restart.py).

    ``batch_transform(batch_df, batch_id) -> DataFrame | None`` runs a
    batch computation INSIDE foreachBatch before the upsert (e.g. the
    ANN serve: score the batch's queries against a standing index);
    returning None skips the batch. One drive loop serves every
    foreachBatch-upsert query, so the commit/restart contract lives in
    exactly one place."""
    out_dir = table_dir or scratch_dir("stream_out_")
    ckpt_dir = ckpt_dir or scratch_dir("stream_ckpt_")
    table = os.path.join(out_dir, "t")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # Bucketed: each micro-batch rewrites only the key-hash buckets
        # it touches — O(batch), not O(table), as the sink grows.
        # NOTE: resolve the sink through the module so tests can inject
        # crashes at exact points in the commit protocol.
        import sparktrends_spark.plans.streaming_queries as _self

        if batch_transform is not None:
            batch_df = batch_transform(batch_df, batch_id)
            if batch_df is None:
                return
        _self.upsert_parquet_bucketed(batch_df, table, keys=keys, version=batch_id)

    # start_to_completion starts at core width: a default-conf session
    # (200) would otherwise open one state-store instance per shuffle
    # partition, mostly empty
    start_to_completion(
        result,
        lambda writer: writer.outputMode(output_mode)
        .foreachBatch(process)
        .option("checkpointLocation", ckpt_dir),
        timeout_s,
    )
    return read_upserted(result.sparkSession, table)


@query(
    "stream_ohlcv_bars",
    oracle=f"WITH {_TRADES_CTE.strip()}, {_BARS_CTE.strip()} SELECT * FROM bars",
)
def q_stream_ohlcv_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's streaming core (S2+P1-P4+T1+A2+K4+K5), graded:
    streamed trades -> watermark -> 1-minute tumbling OHLCV (state-store
    windowed agg, deterministic min_by/max_by open/close) -> update-mode
    micro-batches -> natural-key upsert. Oracle = the batch bars query:
    the streaming state machine must land on the identical table."""
    return build_stream_ohlcv_bars(spark, sf_dir)


def build_stream_ohlcv_bars(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    ckpt_dir: str | None = None,
    table_dir: str | None = None,
) -> DataFrame:
    trades = trades_projection(
        stream_events(spark, sf_dir, max_files_per_trigger)
    ).withWatermark("ts", "10 minutes")
    bars = ohlcv_bars(trades, ts_col="ts", tiebreak_col="event_id").withColumn(
        "timestamp", F.col("timestamp").cast("timestamp_ntz")
    )
    return run_upsert_stream(
        bars, keys=("symbol", "timestamp"), ckpt_dir=ckpt_dir, table_dir=table_dir
    )


@query(
    "stream_user_sessions",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT *, CAST(sum(is_new) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM seq
),
agg AS (
  SELECT user_id, min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end,
         count(*) AS n_events, sum(value) AS total_value
  FROM sess GROUP BY user_id, session_idx
),
wm AS (SELECT (epoch_ms(max(ts)) - 600000) * 1000 AS wm_us FROM events)
SELECT a.user_id, a.session_start, a.session_end, a.n_events, a.total_value
FROM agg a, wm WHERE epoch_us(a.session_end) < wm.wm_us
""",
)
def q_stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows on a live stream (``F.session_window`` — the
    state-store-merged operator the reference's TODO asks for, SURVEY
    §2.10 'declared intent'): 30-minute-gap sessions per user, APPEND
    mode (the only mode session aggregation supports), so a session
    only emits once the watermark passes its end — real late-data
    eviction semantics, graded.

    The oracle restates both halves relationally: gap sessionization
    (lag + running sum; Spark's session end is last event + gap), then
    the watermark filter — the final watermark is max(event time in
    whole ms) - 10 min, and only sessions with end < watermark are
    finalized. Sessions still open at end-of-stream (the last ~40 min
    of each user's activity) are withheld in BOTH engines.

    Note the contrast with the batch twin ``event_sessions``: same
    semantics, but sessions here are merged incrementally by the state
    store rather than by a sort-based window over the full table."""
    return build_stream_user_sessions(spark, sf_dir)


def build_stream_user_sessions(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    ckpt_dir: str | None = None,
    table_dir: str | None = None,
) -> DataFrame:
    ev = stream_events(spark, sf_dir, max_files_per_trigger).withWatermark(
        "ts", "10 minutes"
    )
    sessions = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return run_upsert_stream(
        sessions,
        keys=("user_id", "session_start"),
        output_mode="append",
        ckpt_dir=ckpt_dir,
        table_dir=table_dir,
    )


@query(
    "stream_purchase_attribution",
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       p.value AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
)
def q_stream_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, graded: clicks joined to purchases
    by the same user within 30 minutes, both sides watermarked.

    This is the Structured Streaming operator family the reference
    never reached (its one join is stream-to-static,
    stock_stream.py:99-110): BOTH sides are unbounded, so the join is
    stateful — each side buffers rows in the state store until the
    other side's watermark passes the interval bound, and the time
    condition is what lets Spark evict (without it, state grows
    forever). Inner-join matches emit as soon as both rows arrive;
    with availableNow over one file the emitted set equals the batch
    join, which the oracle restates relationally.

    At scale: state is keyed by user_id, bounded to 30 min + watermark
    delay per side; pair fan-out is per-user clicks x purchases inside
    the interval — the same cost the batch range join pays, paid
    incrementally."""
    return build_stream_purchase_attribution(spark, sf_dir)


@query(
    "stream_sliding_event_counts",
    oracle="""
WITH base AS (
  SELECT event_type, value,
         (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS b
  FROM events
)
SELECT event_type,
       make_timestamp((b - off) * 1000000) AS window_start,
       make_timestamp((b - off + 600) * 1000000) AS window_end,
       count(*) AS n_events,
       sum(value) AS total_value
FROM base, unnest([CAST(0 AS BIGINT), CAST(300 AS BIGINT)]) AS t(off)
GROUP BY 1, 2, 3
""",
)
def q_stream_sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows on a live stream (10-minute windows every 5 —
    each event updates TWO window groups in the state store), graded
    against the same arithmetic oracle as the batch twin
    ``sliding_event_counts``. Overlap is the point: the state store
    holds ~2x the groups of the tumbling case and update-mode re-emits
    both windows an event lands in; the keyed upsert dedups the
    re-emissions into final rows."""
    return build_stream_sliding_event_counts(spark, sf_dir)


def build_stream_sliding_event_counts(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    ckpt_dir: str | None = None,
) -> DataFrame:
    ev = stream_events(spark, sf_dir, max_files_per_trigger).withWatermark(
        "ts", "10 minutes"
    )
    agg = (
        ev.groupBy(
            "event_type", F.window("ts", "10 minutes", "5 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "event_type",
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "n_events",
            "total_value",
        )
    )
    return run_upsert_stream(
        agg, keys=("event_type", "window_start"), ckpt_dir=ckpt_dir
    )


@query(
    "stream_segment_activity",
    oracle="""
SELECT c.c_mktsegment AS segment,
       count(*) AS n_events,
       sum(e.value) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
""",
)
def q_stream_segment_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join, graded: the unbounded event stream joined to
    the static customer dimension, then aggregated per market segment.

    This is what the reference's foreachBatch re-read of Postgres
    history (T3, stock_stream.py:99-110) should be when the static
    side is a dimension: declare the join and Spark re-plans it per
    micro-batch — the dimension broadcasts, no state store involvement
    for the join itself, and the downstream agg holds one row per
    segment. The static side is re-resolved each batch, so a slowly-
    changing dimension picks up updates without restarting the query.

    One stateful aggregation only: chaining a second agg behind it
    trips Spark's global-watermark correctness check (late partial
    results would be dropped downstream) — per-segment-distinct-user
    style metrics belong in a batch query (segment_stats) or a
    two-query pipeline, not one streaming plan. Update mode + keyed
    upsert as usual."""
    return build_stream_segment_activity(spark, sf_dir)


def build_stream_segment_activity(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    ckpt_dir: str | None = None,
    dim_sf_dir: str | None = None,
) -> DataFrame:
    ev = stream_events(spark, sf_dir, max_files_per_trigger)
    cust = load_table(spark, dim_sf_dir or sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        ev.join(F.broadcast(cust), on="user_id")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
    )
    return run_upsert_stream(agg, keys=("segment",), ckpt_dir=ckpt_dir)


@query(
    "stream_purchase_attribution_outer",
    oracle="""
WITH wm AS (
  SELECT least(
    (SELECT max(ts) FROM events WHERE event_type = 'click'),
    (SELECT max(ts) FROM events WHERE event_type = 'purchase')
  ) - INTERVAL 10 MINUTE AS w
)
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts,
       p.value AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
UNION ALL
SELECT c.user_id,
       c.event_id AS click_id,
       CAST(NULL AS BIGINT) AS purchase_id,
       c.ts AS click_ts,
       CAST(NULL AS TIMESTAMP) AS purchase_ts,
       CAST(NULL AS DOUBLE) AS purchase_value
FROM events c, wm
WHERE c.event_type = 'click'
  AND NOT EXISTS (
    SELECT 1 FROM events p
    WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
  AND c.ts + INTERVAL 30 MINUTE < wm.w
""",
)
def q_stream_purchase_attribution_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER stream-stream join, graded — the semantics layer the
    inner variant doesn't touch: an unmatched left row may only emit
    its null-joined result once the watermark proves no future right
    row can match (state eviction), so "no match yet" and "no match
    ever" are distinguished by time, not by end-of-input.

    The oracle restates that machinery relationally: matched pairs are
    the plain interval join; null-joined rows are exactly the clicks
    with no purchase in-window whose join window closed before the
    global watermark — least(max click ts, max purchase ts) - 10 min,
    because Spark takes the min over both inputs' watermarks. Clicks
    still inside the watermark horizon at end-of-stream are withheld
    by BOTH engines (verified: 2 matched + 207 evicted + 1 withheld at
    sf0.001)."""
    return build_stream_purchase_attribution(spark, sf_dir, how="leftOuter")


def build_stream_purchase_attribution(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    ckpt_dir: str | None = None,
    how: str = "inner",
) -> DataFrame:
    ev = stream_events(spark, sf_dir, max_files_per_trigger)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        on=[
            F.col("c_user_id") == F.col("p_user_id"),
            F.col("purchase_ts") >= F.col("click_ts"),
            F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"),
        ],
        how=how,
    ).select(
        F.col("c_user_id").alias("user_id"),
        "click_id",
        "purchase_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "purchase_value",
    )
    return run_upsert_stream(
        joined,
        keys=("click_id", "purchase_id"),
        output_mode="append",
        ckpt_dir=ckpt_dir,
    )


@query(
    "stream_doc_dedup",
    oracle="""
SELECT content_hash, min(doc_id) AS keep_id, count(*) AS n_docs FROM (
  SELECT doc_id,
         md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS content_hash
  FROM documents
) GROUP BY content_hash
""",
)
def q_stream_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact dedup over the document corpus — the ingest-time
    shape of the training-data dedup north star: as documents arrive,
    keep one survivor (min doc_id) and a duplicate count per normalized
    content hash, maintained incrementally in the state store and
    upserted by hash key.

    Batch twin: ``doc_exact_dedup`` (same oracle). Documents carry no
    event time, so the state is keyed by content hash and bounded by
    the number of DISTINCT contents — exactly the bound an exact-dedup
    ingest pipeline must hold at 100 TB (the hash set IS the product).
    For time-bounded near-dup streams see the watermarked queries and
    tests/test_streaming_multibatch.py."""
    return build_stream_doc_dedup(spark, sf_dir)


def build_stream_doc_dedup(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    ckpt_dir: str | None = None,
    table_dir: str | None = None,
) -> DataFrame:
    from sparktrends_spark.text.dedup import exact_hash

    base = sf_dir.rstrip("/")
    reader = spark.readStream.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    docs = reader.parquet(f"{base}/documents*.parquet")
    agg = (
        docs.select("doc_id", exact_hash(F.col("text")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    return run_upsert_stream(
        agg, keys=("content_hash",), ckpt_dir=ckpt_dir, table_dir=table_dir
    )


@query(
    "stream_asset_features",
    oracle="""
SELECT doc_id AS asset_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
""",
)
def q_stream_asset_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING multimodal featurization: documents arrive as a
    stream, fan through the documents->assets projection and the
    Arrow-batched mapInPandas byte-featurizer (the asset_features
    dataflow), and land in the keyed upsert sink — the ingest shape of
    a media-curation pipeline (decode/feature on arrival, one feature
    row per asset, idempotent by asset_id).

    Stateless per-row transforms (projection + mapInPandas) need no
    state store or watermark: each micro-batch featurizes exactly its
    own files, append semantics. Batch twin: ``asset_features``
    (byte-level columns shared with its oracle)."""
    return build_stream_asset_features(spark, sf_dir)


def build_stream_asset_features(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    ckpt_dir: str | None = None,
    table_dir: str | None = None,
) -> DataFrame:
    from sparktrends_spark.multimodal.assets import documents_to_assets
    from sparktrends_spark.multimodal.featurize import extract_features

    base = sf_dir.rstrip("/")
    reader = spark.readStream.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    docs = reader.parquet(f"{base}/documents*.parquet")
    feats = extract_features(documents_to_assets(docs)).select(
        "asset_id", "modality", "n_bytes", "payload_md5"
    )
    return run_upsert_stream(
        feats,
        keys=("asset_id",),
        output_mode="append",
        ckpt_dir=ckpt_dir,
        table_dir=table_dir,
    )


@query(
    "stream_user_heavy_hitters",
    oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
ORDER BY n_events DESC, user_id
LIMIT 20
""",
)
def q_stream_user_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of user_heavy_hitters: a running per-user count
    maintained across micro-batches (update mode emits only keys whose
    count changed; the keyed upsert sink keeps each user's latest
    count), then exact top-20 read from the materialized state. Same
    oracle as the batch query — the stream must converge to the exact
    GROUP BY counts however the table is split into micro-batches.

    Scale shape: state is one row per distinct user (the canonical
    running-count aggregate); per batch only touched keys leave the
    state store, and the sink rewrite is O(touched buckets). The
    top-k is a batch TakeOrderedAndProject over the compacted state
    table, NOT a per-batch global sort."""
    return build_stream_user_heavy_hitters(spark, sf_dir)


def build_stream_user_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    ckpt_dir: str | None = None,
    table_dir: str | None = None,
) -> DataFrame:
    ev = stream_events(spark, sf_dir, max_files_per_trigger)
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    final = run_upsert_stream(
        counts, keys=("user_id",), ckpt_dir=ckpt_dir, table_dir=table_dir
    )
    return final.orderBy(F.desc("n_events"), F.asc("user_id")).limit(20)


@query(
    "stream_event_type_totals",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 6) AS total_value
FROM events
GROUP BY event_type
""",
)
def q_stream_event_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPLETE output mode, graded — the third of Spark's three
    streaming output modes (append and update are covered by the
    session/window and running-count queries): every micro-batch
    re-emits the ENTIRE aggregate state, which is only sane when the
    result is small (5 event types here). The keyed upsert sink
    absorbs the re-emissions idempotently; the converged table must
    equal the plain batch GROUP BY.

    Scale note: complete mode's per-batch output is O(result), so it
    is reserved for dashboard-sized aggregates — the dimension-bounded
    case the reference's console tracker represents; anything keyed by
    user/symbol belongs in update mode."""
    ev = stream_events(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    return run_upsert_stream(
        agg, keys=("event_type",), output_mode="complete"
    )


def _stream_pii_oracle() -> str:
    from sparktrends_spark.plans.text import _pii_redact_oracle

    return _pii_redact_oracle()


@query("stream_doc_pii_redact", oracle=_stream_pii_oracle())
def q_stream_doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing on the INGEST path: documents arrive as a stream,
    the injection + regexp scrub runs as a stateless append-mode
    projection inside each micro-batch (no state store — map-only),
    and the keyed upsert sink makes replays idempotent. Same oracle as
    the batch doc_pii_redact: however the corpus is micro-batched, the
    scrubbed fingerprints must be identical."""
    return build_stream_doc_pii_redact(spark, sf_dir)


def build_stream_doc_pii_redact(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    ckpt_dir: str | None = None,
    table_dir: str | None = None,
) -> DataFrame:
    from sparktrends_spark.text.pii import (
        inject_synthetic_pii,
        pii_count,
        redact,
    )

    base = sf_dir.rstrip("/")
    reader = spark.readStream.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    docs = reader.parquet(f"{base}/documents*.parquet")
    injected = docs.select(
        "doc_id",
        inject_synthetic_pii(F.col("text"), F.col("doc_id")).alias("text"),
    )
    t = F.col("text")
    scrubbed = injected.select(
        "doc_id",
        (
            pii_count(t, "email") + pii_count(t, "phone") + pii_count(t, "ip")
        ).alias("n_redactions"),
        F.md5(redact(t)).alias("redacted_fp"),
        F.length(redact(t)).cast("bigint").alias("redacted_len"),
    )
    return run_upsert_stream(
        scrubbed,
        keys=("doc_id",),
        output_mode="append",
        ckpt_dir=ckpt_dir,
        table_dir=table_dir,
    )


def _stream_incr_dedup_oracle() -> str:
    from sparktrends_spark.plans.text import _incremental_dedup_oracle

    return _incremental_dedup_oracle()


@query("stream_doc_incremental_dedup", oracle=_stream_incr_dedup_oracle())
def q_stream_doc_incremental_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Index-screened dedup on the INGEST path: the even-doc half of
    the corpus is summarized once into the persisted MinHash index
    (`text/dedup_index.py`), then the odd-doc half ARRIVES AS A
    STREAM and every micro-batch is screened against that fixed index
    inside foreachBatch (band-hash equi-joins; signatures only — no
    text leaves the batch). Same oracle as the batch
    doc_incremental_dedup: however the stream is micro-batched, the
    screening verdicts must be identical (the index is fixed, so
    batch boundaries cannot change any verdict). The growing-index
    variant (append=True) is unit-tested in
    test_incremental_dedup_append_flow."""
    return build_stream_doc_incremental_dedup(spark, sf_dir)


def build_stream_doc_incremental_dedup(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    ckpt_dir: str | None = None,
    table_dir: str | None = None,
) -> DataFrame:
    import os as _os

    from sparktrends_spark.text.dedup_index import (
        build_dedup_index,
        incremental_dedup,
    )

    base = sf_dir.rstrip("/")
    idx = scratch_path("stream_dedup_index", sf_dir)
    # Read the same glob the stream consumes — in the multibatch tests
    # the corpus is split across documents_*.parquet files and the
    # history index must cover all of them, not just the first.
    history = spark.read.parquet(f"{base}/documents*.parquet").filter(
        F.col("doc_id") % 2 == 0
    )
    build_dedup_index(history, idx)

    reader = spark.readStream.schema(
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    docs = reader.parquet(f"{base}/documents*.parquet").filter(
        F.col("doc_id") % 2 == 1
    )

    out_dir = table_dir or scratch_dir("stream_out_")
    ckpt_dir = ckpt_dir or scratch_dir("stream_ckpt_")
    table = _os.path.join(out_dir, "t")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        import sparktrends_spark.plans.streaming_queries as _self

        flags = incremental_dedup(batch_df, idx, threshold=0.7, append=False)
        _self.upsert_parquet_bucketed(
            flags, table, keys=("doc_id",), version=batch_id
        )

    start_to_completion(
        docs,
        lambda writer: writer.outputMode("append")
        .foreachBatch(process)
        .option("checkpointLocation", ckpt_dir),
        300,
    )
    return read_upserted(spark, table)


@query(
    "stream_order_cdc_apply",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 0)
""",
)
def q_stream_order_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changefeed apply on a LIVE stream: orders arrive as a
    Debezium-shaped feed (op = 'd' for finished orders with key ≡ 0
    mod 10, 'c' otherwise — one change per key, the changefeed
    contract) and every micro-batch runs the MERGE-with-DELETE
    (`apply_cdc_bucketed`, batch id as the version) against the
    bucketed table inside foreachBatch. The oracle states the
    surviving rows relationally; tombstoned keys must be PHYSICALLY
    absent from the sink whatever the micro-batching. Multi-batch and
    kill-and-restart behavior ride the same checkpoint/replay
    machinery as the other stream sinks (replaying a committed batch
    is a per-bucket no-op)."""
    return build_stream_order_cdc_apply(spark, sf_dir)


def build_stream_order_cdc_apply(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    ckpt_dir: str | None = None,
    table_dir: str | None = None,
) -> DataFrame:
    from sparktrends_spark.streaming.sinks import apply_cdc_bucketed

    _ensure_read_confs(spark)
    base = sf_dir.rstrip("/")
    schema = spark.read.parquet(f"{base}/orders.parquet").schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    changes = reader.parquet(f"{base}/orders*.parquet").select(
        "o_orderkey",
        "o_totalprice",
        F.when(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 10 == 0),
            F.lit("d"),
        )
        .otherwise(F.lit("c"))
        .alias("op"),
    )
    out_dir = table_dir or scratch_dir("stream_cdc_out_")
    ckpt = ckpt_dir or scratch_dir("stream_cdc_ckpt_")
    table = os.path.join(out_dir, "t")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        apply_cdc_bucketed(
            batch_df, table, keys=("o_orderkey",), n_buckets=16,
            version=batch_id,
        )

    start_to_completion(
        changes,
        lambda writer: writer.outputMode("append")
        .foreachBatch(process)
        .option("checkpointLocation", ckpt),
        300,
    )
    return read_upserted(spark, table)


@query(
    "stream_value_histogram_sketch",
    oracle="""
WITH b AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
         CASE WHEN value < 0.0 THEN 0
              WHEN value >= 500.0 THEN 101
              ELSE CAST(floor(value / 5.0) AS BIGINT) + 1 END AS bucket
  FROM events
)
SELECT day, bucket, CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY day, bucket
""",
)
def q_stream_value_histogram_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable histogram sketch MAINTAINED ON THE INGEST PATH:
    the per-(day, bucket) count table behind
    `value_quantile_sketch_rollup` built as a streaming state-store
    aggregate in update mode, landed through the idempotent
    natural-key upsert — so the quantile rollup's input stays current
    as events arrive, instead of being recomputed from raw history.
    Oracle = batch semantics of the same sketch table; any range's
    p50/p90/p99 is then the tiny bucket walk the batch query grades.
    Scale shape: state is O(days × 102) rows regardless of event
    volume; micro-batches rewrite only the (day, bucket) keys they
    touch."""
    return build_stream_value_histogram_sketch(spark, sf_dir)


def build_stream_value_histogram_sketch(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    ckpt_dir: str | None = None,
    table_dir: str | None = None,
) -> DataFrame:
    ev = stream_events(spark, sf_dir, max_files_per_trigger)
    nb, width, hi_dom = 100, 5.0, 500.0
    v = F.col("value")
    bucket = (
        F.when(v < 0.0, F.lit(0))
        .when(v >= hi_dom, F.lit(nb + 1))
        .otherwise(F.floor(v / width) + 1)
    ).cast("bigint")
    sketch = (
        ev.select(
            F.col("ts").cast("date").cast("string").alias("day"),
            bucket.alias("bucket"),
        )
        .groupBy("day", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return run_upsert_stream(
        sketch, keys=("day", "bucket"), ckpt_dir=ckpt_dir, table_dir=table_dir
    )


@query(
    "stream_user_cms_cells",
    oracle="""
SELECT t.i AS row,
       CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), t.i*8+1, 8))
            AS BIGINT) % 64 AS col,
       CAST(count(*) AS BIGINT) AS cnt
FROM events, (SELECT unnest([0, 1, 2, 3]) AS i) t
GROUP BY 1, 2
""",
)
def q_stream_user_cms_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min sketch MAINTAINED ON THE INGEST PATH: the
    (row, col, cnt) cell table behind `user_cms_frequency` built as a
    streaming update-mode aggregate landed through the idempotent
    (row, col)-keyed upsert — any key's frequency estimate is then a
    4-cell lookup against state that is O(depth x width) FOREVER,
    regardless of stream volume or key cardinality. Mergeability
    (cms cell-sum algebra) is exactly what makes the micro-batch
    update correct; oracle = batch semantics of the same cells."""
    return build_stream_user_cms_cells(spark, sf_dir)


def build_stream_user_cms_cells(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    ckpt_dir: str | None = None,
    table_dir: str | None = None,
) -> DataFrame:
    from sparktrends_spark.operators.cms import _cell_col

    depth, width = 4, 64
    ev = stream_events(spark, sf_dir, max_files_per_trigger)
    key = F.col("user_id")
    cells = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        _cell_col(key, i, width).alias("col"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("c")
    )
    sketch = (
        cells.select("c.row", "c.col")
        .groupBy("row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return run_upsert_stream(
        sketch, keys=("row", "col"), ckpt_dir=ckpt_dir, table_dir=table_dir
    )


@query(
    "stream_order_status_ivm",
    oracle="""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            AS DECIMAL(20,2)) AS VARCHAR) AS total_price
FROM orders
WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 10 = 0)
GROUP BY o_orderstatus
""",
)
def q_stream_order_status_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance on a LIVE changefeed: the same
    Debezium-shaped orders feed as stream_order_cdc_apply, but every
    micro-batch ALSO advances the per-status (count, exact sum)
    rollup via `streaming/ivm.maintain_agg_cdc` — counting algebra
    over bucket-pruned point reads, never a base rescan, agg delta
    committed before the base apply so checkpoint replay recovers a
    crash between the two. The graded output is the AGGREGATE table;
    the oracle recomputes it from the surviving rows, so the row
    proves delta accumulation equals recomputation whatever the
    micro-batching (deletes here target keys never inserted — the
    absent-key tombstone no-op path)."""
    return build_stream_order_status_ivm(spark, sf_dir)


def build_stream_order_status_ivm(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    ckpt_dir: str | None = None,
    table_dir: str | None = None,
) -> DataFrame:
    from sparktrends_spark.streaming.ivm import maintain_agg_cdc

    _ensure_read_confs(spark)
    base = sf_dir.rstrip("/")
    schema = spark.read.parquet(f"{base}/orders.parquet").schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    changes = reader.parquet(f"{base}/orders*.parquet").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 10 == 0),
            F.lit("d"),
        )
        .otherwise(F.lit("c"))
        .alias("op"),
    )
    out_dir = table_dir or scratch_dir("stream_ivm_out_")
    ckpt = ckpt_dir or scratch_dir("stream_ivm_ckpt_")
    base_t = os.path.join(out_dir, "orders")
    agg_t = os.path.join(out_dir, "status_agg")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        maintain_agg_cdc(
            batch_df,
            base_t,
            agg_t,
            keys=("o_orderkey",),
            group_col="o_orderstatus",
            value_col="o_totalprice",
            version=batch_id,
        )

    start_to_completion(
        changes,
        lambda writer: writer.outputMode("append")
        .foreachBatch(process)
        .option("checkpointLocation", ckpt),
        300,
    )
    return read_upserted(spark, agg_t).select(
        "o_orderstatus",
        F.col("n_rows").cast("bigint").alias("n_orders"),
        F.col("total").cast("string").alias("total_price"),
    )


@query(
    "stream_symbol_max_drawdown",
    oracle=f"""
WITH {_TRADES_CTE.strip()},
dd AS (
  SELECT symbol, ts, event_id, price,
         max(price) OVER (
           PARTITION BY symbol ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS peak
  FROM trades
),
dd2 AS (SELECT *, price / peak - 1.0 AS drawdown FROM dd),
m AS (
  SELECT *, min(drawdown) OVER (PARTITION BY symbol) AS mdd FROM dd2
),
trough AS (
  SELECT symbol, ts, price, peak, drawdown FROM (
    SELECT *, row_number() OVER (
      PARTITION BY symbol ORDER BY ts, event_id) AS rn
    FROM m WHERE drawdown = mdd) WHERE rn = 1
),
cnt AS (SELECT symbol, CAST(count(*) AS BIGINT) AS n_trades
        FROM trades GROUP BY symbol)
SELECT t.symbol, t.ts AS trough_ts, t.price AS trough_price,
       t.peak AS peak_price, round(t.drawdown, 6) AS max_drawdown,
       c.n_trades
FROM trough t JOIN cnt c ON c.symbol = t.symbol
""",
)
def q_stream_symbol_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max drawdown maintained STATEFULLY on the ingest path: six
    scalars per symbol in the state store (running peak + worst
    drawdown with its first trough row), updated per micro-batch by
    `streaming/stateful.py:running_symbol_drawdown` — no history
    re-scan, per-batch cost O(batch). The oracle restates the batch
    window form (running max -> ratio -> partition min, earliest
    trough); the fold performs the identical IEEE ops in the identical
    (ts, event_id) order, so the converged table matches bit-exactly
    however the feed is micro-batched."""
    from sparktrends_spark.plans.market import trades_projection
    from sparktrends_spark.streaming.stateful import (
        running_symbol_drawdown,
    )

    ev = stream_events(spark, sf_dir)
    # the fold needs (symbol, price, ts, event_id) only — dropping the
    # projection's per-row JSON volume parse before the stateful op
    # (column pruning does not reach through applyInPandasWithState)
    trades = trades_projection(ev).select("symbol", "price", "ts", "event_id")
    out = running_symbol_drawdown(trades)
    out = out.withColumn(
        "trough_ts", F.col("trough_ts").cast("timestamp_ntz")
    )
    return run_upsert_stream(out, keys=("symbol",), output_mode="update")


@query(
    "stream_corpus_shard_export",
    oracle="""
WITH assigned AS (
  SELECT n_chars,
         CAST(CAST(concat('0x', substr(md5(concat('shard:stream:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 4 AS INT) AS shard,
         md5(concat('order:stream:', CAST(doc_id AS VARCHAR))) AS order_key,
         CAST(concat('0x', substr(md5(concat('m:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) AS mh
  FROM documents
)
SELECT shard, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_weight,
       min(CAST(concat('0x', substr(order_key, 1, 8)) AS BIGINT)) AS min_order_u32,
       max(CAST(concat('0x', substr(order_key, 1, 8)) AS BIGINT)) AS max_order_u32,
       CAST(sum(mh) AS BIGINT) AS member_checksum
FROM assigned GROUP BY shard
""",
)
def q_stream_corpus_shard_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental shard export: the corpus arrives as a
    4-batch file stream (maxFilesPerTrigger=1 over a 4-file staging
    copy); every micro-batch APPENDS into the same
    ``partitionBy("shard")`` layout via ``write_training_shards`` —
    safe because the assignment is a pure projection of the id, so a
    batch lands where the monolithic export would have put it. The
    graded output is the manifest recomputed FROM THE WRITTEN FILES,
    value-hashed against the monolithic SQL oracle: streaming append
    == one-shot export, end to end. (The reference has no export
    surface; its stream sink is a JDBC append, stock_stream.py:122.)
    """
    from sparktrends_spark.text.shards import (
        read_training_shards,
        shard_manifest,
        write_training_shards,
    )

    base = sf_dir.rstrip("/")
    stage = scratch_dir("shard_stage_")
    out_root = scratch_dir("shard_out_")
    out = os.path.join(out_root, "shards")
    ckpt = scratch_dir("shard_ckpt_")
    # stage the corpus as 4 files so availableNow delivers 4 batches
    spark.read.parquet(f"{base}/documents*.parquet").repartition(4).write.mode(
        "overwrite"
    ).parquet(stage)

    docs = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, n_chars bigint"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # batch_id => exactly-once: a replayed batch REPLACES its own
        # ingest_batch partition instead of appending duplicates
        write_training_shards(
            batch_df, out, n_shards=4, salt="stream",
            mode="append", batch_id=batch_id,
        )

    start_to_completion(
        docs,
        lambda writer: writer.outputMode("append")
        .foreachBatch(process)
        .option("checkpointLocation", ckpt),
        300,
    )
    return shard_manifest(read_training_shards(spark, out), weight_col="n_chars")
