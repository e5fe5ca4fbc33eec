"""Join operators (SURVEY §2.4).

The reference has exactly one join (J1, greatest-n-per-group self-join,
stock_stream.py:90-97). Everything else here is the "absent but
implied" surface SURVEY lists: as-of (nearest-prior-timestamp) and
binned interval/range joins. Dimension enrichment and semi/anti joins
are plain ``DataFrame.join`` calls: Catalyst broadcasts a dimension
whose scan it sizes under ``spark.sql.autoBroadcastJoinThreshold``, so
a 100 TB fact table never shuffles to meet a kilobyte dimension.

Scale notes:
- ``as_of_join``: implemented as union + per-key window (one shuffle by
  key, sequential scan within key) instead of a nested-loop join. With
  a reasonable key cardinality this scales linearly; keyless as-of
  degenerates to a single partition and is only for small frames.
- ``interval_join``: time-binned equi-join — both sides are mapped to
  fixed-width buckets, intervals exploded to every bucket they touch,
  then an equi-join on (key, bucket) + exact predicate filter. Avoids
  the BroadcastNestedLoop plan Spark would otherwise pick for a pure
  range predicate.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    right_tiebreak: str | None = None,
    allow_exact: bool = True,
    prefix: str = "asof_",
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Nearest-prior-timestamp join (pandas ``merge_asof`` semantics,
    direction='backward').

    For every left row, attach ``value_cols`` from the latest right row
    with the same key whose ``right_ts`` <= ``left_ts`` (strictly <
    when ``allow_exact=False``). Right rows sharing (key, ts) should be
    pre-deduplicated or disambiguated via ``right_tiebreak`` (the row
    with the greatest tiebreak wins).

    ``tolerance_seconds`` bounds the lookback (pandas merge_asof's
    ``tolerance``): a match older than the bound is nulled out, so a
    quote from last week never decorates today's trade.

    Implementation: tag both sides, union by name, then one window per
    key ordered by (ts, side, tiebreak) carrying ``last(value,
    ignorenulls=True)`` forward (plus the matched right ts when a
    tolerance is set). One shuffle, no nested loop.
    """
    on = list(on)
    quote_rank = 0 if allow_exact else 2
    tb = F.col(right_tiebreak) if right_tiebreak else F.lit(0)

    l_tagged = left.withColumn("_ts", F.col(left_ts)).withColumn(
        "_side", F.lit(1)
    ).withColumn("_tb", F.lit(None).cast("long"))
    r_tagged = (
        right.select(
            *on,
            F.col(right_ts).alias("_ts"),
            *[F.col(c).alias(f"{prefix}{c}") for c in value_cols],
        )
        .withColumn("_side", F.lit(quote_rank))
        .withColumn("_tb", tb.cast("long"))
    )
    unioned = l_tagged.unionByName(r_tagged, allowMissingColumns=True)

    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc(), F.col("_tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = unioned
    if tolerance_seconds is not None:
        # Staleness is judged PER VALUE COLUMN: each column carries the
        # timestamp of the right row that actually supplied its value
        # (null-valued rows contribute no timestamp). A single shared
        # "latest right ts" would validate an old carried value against
        # a newer right row whose own value was NULL, reporting a
        # beyond-tolerance value as fresh.
        for c in value_cols:
            out = out.withColumn(
                f"_rts_{c}",
                F.when(
                    (F.col("_side") != 1)
                    & F.col(f"{prefix}{c}").isNotNull(),
                    F.col("_ts"),
                ),
            ).withColumn(
                f"_rts_{c}", F.last(f"_rts_{c}", ignorenulls=True).over(w)
            )
    for c in value_cols:
        out = out.withColumn(
            f"{prefix}{c}", F.last(f"{prefix}{c}", ignorenulls=True).over(w)
        )
    out = out.filter(F.col("_side") == 1)
    if tolerance_seconds is not None:
        for c in value_cols:
            stale = (
                F.col(f"_rts_{c}").isNull()
                | (
                    F.unix_timestamp(F.col("_ts").cast("timestamp"))
                    - F.unix_timestamp(F.col(f"_rts_{c}").cast("timestamp"))
                    > tolerance_seconds
                )
            )
            out = out.withColumn(
                f"{prefix}{c}",
                F.when(stale, F.lit(None)).otherwise(F.col(f"{prefix}{c}")),
            ).drop(f"_rts_{c}")
    return out.drop("_ts", "_side", "_tb")


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str,
    interval_lo: str,
    interval_hi: str,
    on: Sequence[str] = (),
    bucket_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Join points to the intervals containing them, via time binning.

    Both sides gain a ``_bucket`` column (epoch // bucket_seconds);
    intervals are exploded with ``sequence()`` to every bucket they
    overlap, the join is a plain equi-join on (keys, _bucket), and the
    exact containment predicate filters afterwards. Choose
    ``bucket_seconds`` near the typical interval length so explosion
    stays O(1) per interval.
    """
    on = list(on)
    p = points.withColumn(
        "_bucket",
        (F.unix_timestamp(F.col(point_ts).cast("timestamp")) / bucket_seconds).cast(
            "long"
        ),
    )
    i = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                (
                    F.unix_timestamp(F.col(interval_lo).cast("timestamp"))
                    / bucket_seconds
                ).cast("long"),
                (
                    F.unix_timestamp(F.col(interval_hi).cast("timestamp"))
                    / bucket_seconds
                ).cast("long"),
            )
        ),
    )
    joined = p.join(i, on=on + ["_bucket"], how=how)
    return joined.filter(
        (F.col(point_ts) >= F.col(interval_lo))
        & (F.col(point_ts) <= F.col(interval_hi))
    ).drop("_bucket")
