"""Loaders for the driver-generated parquet testdata (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings, one parquet file per table under an sf dir.

The `events` table stores ``ts`` as parquet **timestamp[us]**, which
Spark reads natively as ``timestamp_ntz`` — no conversion needed.
Defensively, if a regenerated file ever stores TIMESTAMP(NANOS)
(which Spark's vectorized reader rejects unless
``spark.sql.legacy.parquet.nanosAsLong`` surfaces it as a ns-long),
``load_table`` detects the LongType and converts with integer-µs
truncation — the same value DuckDB produces for the same file.

All timestamps stay timezone-naive (``timestamp_ntz``) end-to-end to
match the DuckDB oracle's TIMESTAMP type.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Timestamp columns to normalize: stored as timestamp[us] today (read
# natively); if ever regenerated as TIMESTAMP(NANOS) they surface as
# ns-longs under nanosAsLong and load_table converts them.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _ensure_read_confs(spark: SparkSession) -> None:
    # Defensive: the driver may hand us a session without our factory
    # defaults. Both confs are runtime-settable SQL confs. nanosAsLong
    # is a no-op for the current µs testdata; see module docstring.
    # Set once per session: every conf.set is a py4j round trip and
    # load_table runs on every query build (r14 driver-latency pass).
    if getattr(spark, "_sparktrends_read_confs", False):
        return
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark._sparktrends_read_confs = True


def _local_path(path: str) -> str | None:
    """Strip a file:// scheme; None for non-local (hdfs/s3/...) paths."""
    if path.startswith("file:"):
        path = path[len("file:") :]
        while path.startswith("//"):
            path = path[1:]
        return path
    if "://" in path or path.startswith("hdfs:"):
        return None
    return path


def _path_fingerprint(path: str) -> tuple[int, int] | None:
    """(mtime_ns, size) of a local file/dir, or None when unstattable.

    Guards the per-session plan memos below: a rewritten file (tests
    regenerate fixtures in place) gets a fresh scan, because a parquet
    DataFrame snapshots its file listing at creation time.
    """
    lp = _local_path(path)
    if lp is None:
        return None
    try:
        st = os.stat(lp)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing ns-timestamp columns.

    The returned DataFrame (an immutable plan — no data is cached) is
    memoized per session + file fingerprint: ``spark.read.parquet``
    costs ~0.2 s of footer read + listing + analysis per call on this
    box, and every query build pays it for each input table (guide §5:
    the driver should do almost no work). The memo dies with the
    session object and is invalidated by any rewrite of the file.
    """
    _ensure_read_confs(spark)
    path = f"{sf_dir.rstrip('/')}/{name}.parquet"
    key = (path, _path_fingerprint(path))
    memo = getattr(spark, "_sparktrends_table_memo", None)
    if memo is None:
        memo = spark._sparktrends_table_memo = {}
    if key[1] is not None and key in memo:
        return memo[key]
    df = spark.read.parquet(path)
    for col in _NANOS_TS_COLS.get(name, ()):
        field = df.schema[col] if col in df.columns else None
        if field is not None and isinstance(field.dataType, LongType):
            df = df.withColumn(
                col,
                F.expr(f"cast(timestamp_micros(cast({col} div 1000 as bigint)) as timestamp_ntz)"),
            )
    df._sparktrends_scan_path = path
    if key[1] is not None:
        memo[key] = df
    return df


def table_bytes(sf_dir: str, *names: str) -> int | None:
    """Total on-disk bytes of the named testdata tables, or None when
    any source is non-local/unstattable (the caller then makes no
    size claim and leaves strategy choice to AQE)."""
    total = 0
    for name in names:
        lp = _local_path(f"{sf_dir.rstrip('/')}/{name}.parquet")
        if lp is None:
            return None
        try:
            if os.path.isdir(lp):
                total += sum(
                    e.stat().st_size
                    for e in os.scandir(lp)
                    if e.is_file() and not e.name.startswith(("_", "."))
                )
            else:
                total += os.stat(lp).st_size
        except OSError:
            return None
    return total


def maybe_broadcast(df: DataFrame, nbytes: int | None) -> DataFrame:
    """Broadcast hint iff the frame's source bytes are known and under
    ``SPARK_GRAFT_BROADCAST_CAP`` (default 10m — Spark's own
    autoBroadcastJoinThreshold default).

    For a join side that is a *scale-growing* table (orders, customer,
    ...) an unconditional ``F.broadcast`` is tuned to the bench box: at
    100 TB it would demand a multi-TB broadcast (hard-capped by Spark
    at 8 GB) instead of letting AQE pick a sort-merge/shuffled-hash
    join from real sizes (guide §3.1). Under the cap the hint is
    byte-identical to the unconditional one, so local plans (and the
    driver's bench) are unchanged; above it the hint disappears and
    the planner decides. Provably-bounded frames (top-k results,
    scalar aggregates, enum dimensions) keep their unconditional
    hints — their size is scale-independent by construction."""
    cap = _parse_bytes(os.environ.get("SPARK_GRAFT_BROADCAST_CAP", "10m"))
    if nbytes is not None and nbytes < cap:
        return F.broadcast(df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (for spark.sql use)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def _parse_bytes(v: str | int) -> int:
    """Spark byte-conf string ('128m', '4194304b', '1g', plain int)."""
    if isinstance(v, int):
        return v
    s = str(v).strip().lower()
    mult = 1
    for suffix, m in (
        ("kb", 1024), ("mb", 1024**2), ("gb", 1024**3), ("tb", 1024**4),
        ("k", 1024), ("m", 1024**2), ("g", 1024**3), ("t", 1024**4),
        ("b", 1),
    ):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    return int(s) * mult


def _estimate_scan_partitions(spark: SparkSession, path: str) -> int | None:
    """Predicted partition count of a parquet scan over ``path``,
    computed from local file sizes with Spark's own split formula
    (FilePartition.maxSplitBytes + packing) — no physical planning.

    ``df.rdd.getNumPartitions()`` answers the same question but plans
    the scan to an RDD first (~70 ms warm, >1 s cold, per call);
    every query build paid it (r14 driver-latency pass). Returns None
    for non-local paths (caller falls back to the RDD probe).
    """
    lp = _local_path(path)
    if lp is None:
        return None
    try:
        if os.path.isdir(lp):
            sizes = [
                e.stat().st_size
                for e in os.scandir(lp)
                if e.is_file() and not e.name.startswith(("_", "."))
            ]
        else:
            sizes = [os.stat(lp).st_size]
    except OSError:
        return None
    if not sizes:
        return None
    # Three py4j round trips, constant per session — memoized.
    split_conf = getattr(spark, "_sparktrends_split_conf", None)
    if split_conf is None:
        split_conf = spark._sparktrends_split_conf = (
            _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")),
            _parse_bytes(spark.conf.get("spark.sql.files.openCostInBytes", "4m")),
            spark.sparkContext.defaultParallelism,
        )
    max_pb, open_cost, parallelism = split_conf
    # Spark's own math (FilePartition.maxSplitBytes + getFilePartitions):
    # per-file splits of maxSplitBytes, then greedy packing sorted desc.
    total = sum(s + open_cost for s in sizes)
    bytes_per_core = total // max(parallelism, 1)
    max_split = max(min(max_pb, max(open_cost, bytes_per_core)), 1)
    splits: list[int] = []
    for size in sizes:
        n_full, rem = divmod(size, max_split)
        splits.extend([max_split] * n_full)
        if rem or size == 0:
            splits.append(rem)
    splits.sort(reverse=True)
    partitions = 0
    current = 0
    for s in splits:
        if current + s > max_split and current > 0:
            partitions += 1
            current = 0
        current += s + open_cost
    if current > 0:
        partitions += 1
    return max(1, partitions)


def _source_bytes(path: str) -> int | None:
    """On-disk bytes of a local file/dir/glob source, or None when
    non-local/unstattable or when a directory has no top-level data
    files (empty, or a nested ``col=value/`` layout): a 0 there would
    clamp the byte-floored fan-out to one partition."""
    lp = _local_path(path)
    if lp is None:
        return None
    if any(ch in lp for ch in "*?["):
        import glob as _glob

        matches = _glob.glob(lp)
        if not matches:
            return None
        total = 0
        for m in matches:
            sub = _source_bytes(m)
            if sub is None:
                return None
            total += sub
        return total
    try:
        if os.path.isdir(lp):
            sizes = [
                e.stat().st_size
                for e in os.scandir(lp)
                if e.is_file() and not e.name.startswith(("_", "."))
            ]
            return sum(sizes) if sizes else None
        return os.stat(lp).st_size
    except OSError:
        return None


def _fanout_floor_scale() -> float:
    """``SPARK_GRAFT_FANOUT_FLOOR_SCALE`` (default 1), checked so a typo
    fails naming the knob instead of as a bare ``float()`` error."""
    raw = os.environ.get("SPARK_GRAFT_FANOUT_FLOOR_SCALE", "1")
    try:
        scale = float(raw)
    except ValueError:
        scale = math.nan
    if not (math.isfinite(scale) and scale >= 0):
        raise ValueError(
            f"SPARK_GRAFT_FANOUT_FLOOR_SCALE={raw!r}: expected a number >= 0"
            " (0 disables the fan-out floors)"
        )
    return scale


def scan_parallel(
    df: DataFrame,
    min_partitions: int | None = None,
    source_path: str | None = None,
    keys: tuple[str, ...] | None = None,
    min_partition_bytes: int | None = None,
) -> DataFrame:
    """Ensure a scan has enough partitions to use every core.

    Small single-file parquet inputs (and single row-group files, which
    ``spark.sql.files.maxPartitionBytes`` cannot split) arrive as one
    partition, serializing any CPU-heavy projection downstream. At real
    scale a table is thousands of splits and this is a no-op; it only
    repartitions when the scan is narrower than the target parallelism,
    so the round-robin shuffle costs only show up where they buy CPU.

    The partition count comes from Spark's split formula over local
    file sizes when the source path is known (``load_table`` stamps it;
    callers that projected first pass ``source_path=``), avoiding a
    physical-planning probe per build; unknown sources keep the exact
    ``df.rdd.getNumPartitions()`` probe.

    ``keys``: hash-partition the fan-out on these columns instead of
    round-robin. When a downstream groupBy/window clusters on (a
    superset of) the same columns, Catalyst recognises the partitioning
    and skips that operator's own exchange — the fan-out and the
    aggregation share ONE shuffle (guide §2.4). Callers must pick keys
    with enough distinct values to spread evenly (20-100x the partition
    count, guide §2.5); this fan-out only exists on narrow scans, where
    the exchange carries the same bytes either way.

    ``min_partition_bytes``: byte-aware cap on the fan-out (guide §2.2,
    §6's openCostInBytes rationale). When the source's on-disk bytes
    are known, the target is capped at ceil(bytes / floor) so a tiny
    input never fans out into partitions whose task-scheduling overhead
    exceeds their compute — the r14 driver's 8-vs-32-core scaling block
    showed exactly that on the CPU-light fan-outs. Callers size the
    floor to their downstream CPU cost per source byte (heavy tokenize/
    decode paths use a small floor or none; window/agg-only paths a
    larger one). At real scale bytes/floor >> cores, the cap never
    binds, and the plan is byte-identical to the uncapped one.
    ``SPARK_GRAFT_FANOUT_FLOOR_SCALE`` multiplies every caller's floor
    (0 disables the caps) for scaling experiments.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    path = source_path or getattr(df, "_sparktrends_scan_path", None)
    if min_partition_bytes and path:
        scale = _fanout_floor_scale()
        floor = int(min_partition_bytes * scale)
        if floor > 0:
            nbytes = _source_bytes(path)
            if nbytes is not None:
                target = min(target, max(1, -(-nbytes // floor)))
    nparts = _estimate_scan_partitions(spark, path) if path else None
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
    if nparts < target:
        if keys:
            return df.repartition(target, *[F.col(k) for k in keys])
        return df.repartition(target)
    return df
