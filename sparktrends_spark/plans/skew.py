"""Skew-mitigation operators as graded, oracled queries (SURVEY §2
scale operators; VERDICT r4 item 3).

The sf* events table is roughly uniform per user, so both queries
derive a deliberately head-skewed key first (every 5th user collapses
into hot key 0 — ~20% of all rows on one key), then run the
skew-safe operator over it. The oracle states the PLAIN semantics
(ordinary GROUP BY / JOIN): the whole point of salting is that the
result is identical to the naive plan while no single reducer ever
holds the hot key's full row set.

At 100 TB these are the shapes that keep a head-skewed aggregation or
join alive: phase-1 spreads the hot key over ``salt_buckets`` tasks,
and phase-2's input is only |keys| x salt_buckets partial rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparktrends_spark.operators.skew import replicated_join, salted_agg
from sparktrends_spark.plans.registry import query
from sparktrends_spark.sources.tables import load_table

# ~20% of events collapse onto hot bucket 0; everyone else keeps their id.
_HOT_KEY_EXPR = "CASE WHEN user_id % 5 = 0 THEN 0 ELSE user_id END"


def _skewed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").withColumn(
        "user_bucket", F.expr(_HOT_KEY_EXPR)
    )


@query(
    "user_event_salted_agg",
    oracle=f"""
SELECT {_HOT_KEY_EXPR}  AS user_bucket,
       count(*)         AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       min(value)       AS min_value,
       max(value)       AS max_value,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value)
                        AS avg_value
FROM events
GROUP BY 1
""",
)
def user_event_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation over a head-skewed key
    (operators/skew.py:34): phase 1 aggregates (key, salt) partials so
    the hot key's rows spread over 16 reducers, phase 2 merges
    |keys| x 16 partial rows. Result is bit-for-bit the plain GROUP BY.

    Value discipline (plans/relational.py's decimal-sum pattern): the
    events fixture is 2-decimal, so ``sum(value)`` is carried as
    decimal(18,2) partials through BOTH phases — exact and
    aggregation-order-independent — and cast to double only after the
    exact merge. A raw-double two-phase sum drifts 1 ULP from the
    oracle's single-phase sum (the round-7 driver hash failure).
    ``avg`` is not algebraic over partials: merge exact sum + count,
    divide once at the end (identical double op on both sides)."""
    ev = _skewed_events(spark, sf_dir)
    out = salted_agg(
        ev,
        keys=["user_bucket"],
        aggs={
            "n_events": (F.count(F.lit(1)), F.sum("n_events")),
            "total_value": (
                F.sum(F.col("value").cast("decimal(18,2)")),
                F.sum("total_value"),
            ),
            "min_value": (F.min("value"), F.min("min_value")),
            "max_value": (F.max("value"), F.max("max_value")),
            # avg is NOT algebraic over partials — merge sum+count, then divide
            "_value_n": (F.count("value"), F.sum("_value_n")),
        },
        salt_buckets=16,
    )
    return (
        out.withColumn(
            "avg_value",
            F.col("total_value").cast("double") / F.col("_value_n"),
        )
        .withColumn("total_value", F.col("total_value").cast("double"))
        .drop("_value_n")
    )


@query(
    "event_type_replicated_join",
    oracle=f"""
WITH skewed AS (
  SELECT {_HOT_KEY_EXPR} AS user_bucket, event_type, value
  FROM events
),
dim AS (
  SELECT user_bucket, count(*) AS bucket_events
  FROM skewed GROUP BY user_bucket
)
SELECT s.event_type,
       count(*)                                   AS n,
       CAST(sum(CAST(s.value AS DECIMAL(18,2)) * d.bucket_events) AS DOUBLE)
                                                  AS weighted_value
FROM skewed s JOIN dim d USING (user_bucket)
GROUP BY s.event_type
""",
)
def event_type_replicated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-left / replicate-right equi-join (operators/skew.py:56)
    on the same head-skewed key: the left fact keeps ~20% of its rows
    on one key, the right dim (one row per bucket) is exploded
    ``salt_buckets`` ways so the hot key's matches land on 8 tasks
    instead of 1. Semantically identical to the plain equi-join, as
    the oracle states.

    Value discipline: value is 2-decimal, so value x bucket_events is
    carried exactly as decimal(18,2) x bigint and summed in decimal —
    order-independent — then cast to double once at the end (mirrored
    in the oracle). A raw-double sum here is partitioning-dependent."""
    ev = _skewed_events(spark, sf_dir).select("user_bucket", "event_type", "value")
    dim = ev.groupBy("user_bucket").agg(F.count(F.lit(1)).alias("bucket_events"))
    joined = replicated_join(ev, dim, on=["user_bucket"], salt_buckets=8)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)") * F.col("bucket_events"))
        .cast("double")
        .alias("weighted_value"),
    )


@query(
    "user_heavy_hitters",
    oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
ORDER BY n_events DESC, user_id
LIMIT 20
""",
)
def q_user_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 most active users via Misra-Gries candidate
    generation + exact recount (`operators/freq.py`). The oracle
    states the PLAIN semantics (full GROUP BY + ORDER BY + LIMIT);
    the graded plan must produce the identical rows while shuffling
    only per-partition sketch survivors and broadcast-filtered
    recount partials — the shape that stays alive when the key space
    is 10^9 URLs instead of 150 users. capacity=512 clears the
    N/(c+1) guarantee threshold by >25x at the graded SF (k-th
    count ~77 vs threshold ~19.5 at sf0.01)."""
    from sparktrends_spark.operators.freq import heavy_hitters

    events = load_table(spark, sf_dir, "events")
    return heavy_hitters(
        events, "user_id", k=20, capacity=512, count_col="n_events"
    )


@query(
    "user_cms_frequency",
    oracle="""
WITH cells AS (
  SELECT t.i AS row,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), t.i*8+1, 8))
              AS BIGINT) % 64 AS col,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events, (SELECT unnest([0, 1, 2, 3]) AS i) t
  GROUP BY 1, 2
),
probes AS (SELECT DISTINCT user_id FROM events WHERE user_id % 7 = 0),
est AS (
  SELECT p.user_id, min(c.cnt) AS est_count
  FROM probes p, (SELECT unnest([0, 1, 2, 3]) AS i) t
  JOIN cells c
    ON c.row = t.i
   AND c.col = CAST(concat('0x', substr(md5(CAST(p.user_id AS VARCHAR)),
                                        t.i*8+1, 8)) AS BIGINT) % 64
  GROUP BY 1
),
truth AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS true_count
  FROM events WHERE user_id % 7 = 0 GROUP BY 1
)
SELECT e.user_id, e.est_count, t.true_count,
       e.est_count - t.true_count AS overestimate
FROM est e JOIN truth t USING (user_id)
""",
)
def q_user_cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min point-frequency estimates (`operators/cms.py`) for
    every 7th user, judged against the exact per-user counts: emits
    (user_id, est_count, true_count, overestimate) with the CMS
    guarantee overestimate >= 0 visible in the output. width=64 is
    deliberately narrow so hash collisions actually occur at the
    graded SF and the estimator (min over 4 independent md5-slice
    rows) is exercised, not vacuous.

    Scale contract: the sketch build shuffles at most depth*width
    cells per task (map-side combine over a 256-cell domain) no
    matter the user cardinality, and the probe join broadcasts the
    <=256-row sketch — counting 10^9 keys costs the same shuffle as
    150. The oracle restates the identical all-integer md5-slice
    arithmetic, so values are bit-exact. true_count here is a plain
    GROUP BY for grading only; at scale one keeps ONLY the sketch."""
    from sparktrends_spark.operators.cms import cms_build, cms_estimate

    events = load_table(spark, sf_dir, "events")
    sketch = cms_build(events, "user_id", depth=4, width=64)
    probes = (
        events.select("user_id").where(F.col("user_id") % 7 == 0).distinct()
    )
    est = cms_estimate(sketch, probes, "user_id", depth=4, width=64)
    truth = (
        events.where(F.col("user_id") % 7 == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    return est.join(truth, "user_id").select(
        "user_id",
        "est_count",
        "true_count",
        (F.col("est_count") - F.col("true_count")).alias("overestimate"),
    )


@query(
    "user_cms_weekly_estimate",
    oracle="""
WITH win AS (
  SELECT e.* FROM events e
  WHERE CAST(e.ts AS DATE)
        < (SELECT min(CAST(ts AS DATE)) FROM events) + INTERVAL 7 DAY
),
cells AS (
  SELECT t.i AS row,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), t.i*8+1, 8))
              AS BIGINT) % 64 AS col,
         CAST(count(*) AS BIGINT) AS cnt
  FROM win, (SELECT unnest([0, 1, 2, 3]) AS i) t
  GROUP BY 1, 2
),
probes AS (SELECT DISTINCT user_id FROM events WHERE user_id % 11 = 0),
pc AS (
  SELECT p.user_id, t.i AS row,
         CAST(concat('0x', substr(md5(CAST(p.user_id AS VARCHAR)),
                                  t.i*8+1, 8)) AS BIGINT) % 64 AS col
  FROM probes p, (SELECT unnest([0, 1, 2, 3]) AS i) t
),
est AS (
  SELECT pc.user_id, min(coalesce(c.cnt, 0)) AS est_count
  FROM pc LEFT JOIN cells c ON c.row = pc.row AND c.col = pc.col
  GROUP BY 1
),
truth AS (
  SELECT p.user_id,
         CAST(count(w.user_id) AS BIGINT) AS true_count
  FROM probes p LEFT JOIN win w ON w.user_id = p.user_id
  GROUP BY 1
)
SELECT e.user_id, e.est_count, t.true_count,
       e.est_count - t.true_count AS overestimate
FROM est e JOIN truth t USING (user_id)
""",
)
def q_user_cms_weekly_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-ROLLUP answer path: Count-Min cells are kept
    PER DAY (the shape `stream_user_cms_cells` maintains on ingest),
    and a first-week range query is answered by cell-wise summing
    just those days' sketches — never re-touching raw events. This is
    why mergeability matters at 100 TB: a year of per-day sketches is
    365 x depth x width counters, and ANY date range's frequency
    estimate is a sum over <=365 tiny frames. Probes outside the
    range correctly estimate >= 0 against the merged counters (left
    join; absent cell -> 0). All-integer md5-slice arithmetic
    restated in the oracle: bit-exact."""
    from sparktrends_spark.operators.cms import cms_estimate, _cell_col

    depth, width = 4, 64
    events = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    lo = events.agg(F.min(day).alias("d0"))
    daily = (
        events.select(day.alias("day"), "user_id")
        .select(
            "day",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("row"),
                            _cell_col(F.col("user_id"), i, width).alias("col"),
                        )
                        for i in range(depth)
                    ]
                )
            ).alias("c"),
        )
        .groupBy("day", F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merged = (
        daily.crossJoin(lo)
        .where(F.col("day") < F.date_add(F.col("d0"), 7))
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    probes = (
        events.select("user_id").where(F.col("user_id") % 11 == 0).distinct()
    )
    est = cms_estimate(merged, probes, "user_id", depth=depth, width=width)
    win = events.crossJoin(lo).where(
        day < F.date_add(F.col("d0"), 7)
    )
    truth = (
        probes.join(
            win.select("user_id").withColumn("_one", F.lit(1)),
            "user_id",
            "left",
        )
        .groupBy("user_id")
        .agg(F.count("_one").alias("true_count"))
    )
    return est.join(truth, "user_id").select(
        "user_id",
        "est_count",
        "true_count",
        (F.col("est_count") - F.col("true_count")).alias("overestimate"),
    )


def _skew_profile_branch(col: str) -> str:
    return f"""
SELECT '{col}' AS key_col,
       count(*) AS n_keys,
       CAST(sum(cnt) AS BIGINT) AS total_rows,
       max(cnt) AS max_key_rows,
       CAST(max(cnt) AS DOUBLE) * count(*) / CAST(sum(cnt) AS DOUBLE)
         AS skew_factor,
       round(ln(CAST(sum(cnt) AS DOUBLE))
             - sum(cnt * ln(cnt)) / CAST(sum(cnt) AS DOUBLE), 6)
         AS entropy,
       CAST(least(greatest(ceil(
         CAST(max(cnt) AS DOUBLE) * count(*) / CAST(sum(cnt) AS DOUBLE)
       ), 1), 64) AS BIGINT) AS suggested_salt
FROM (SELECT {col}, count(*) AS cnt FROM events GROUP BY {col})
"""


@query(
    "event_key_skew_profile",
    oracle="\nUNION ALL\n".join(
        _skew_profile_branch(c) for c in ("user_id", "event_type")
    ),
)
def q_event_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew ADVISOR for the two mitigation helpers graded above:
    per candidate join/agg key of the events table, distinct-key
    count, the heaviest key's row count, the max/mean skew factor,
    key entropy, and the salt-bucket count ``salted_agg`` /
    ``replicated_join`` should use.

    One GROUPING SETS pass profiles every audited column in a single
    shuffle (the oracle's per-column GROUP BY branches restate it
    declaratively); the second-stage rollup reads one row per
    distinct key. See operators/skew.py:join_key_skew_profile.
    """
    from sparktrends_spark.operators.skew import join_key_skew_profile

    ev = load_table(spark, sf_dir, "events")
    return join_key_skew_profile(ev, ["user_id", "event_type"], max_salt=64)
