"""Idempotent micro-batch sinks (SURVEY §2.2 K1-K5, §7.4 exactly-once).

The reference's ``foreachBatch`` does plain JDBC appends
(stock_stream.py:169-180 -> spark/utilities.py:36-44): at-least-once,
so a retried micro-batch double-writes. Two idempotence strategies:

- ``write_batch_partitioned``: batch-id-keyed dynamic-partition
  overwrite — replaying batch N rewrites only partition batch_id=N.
  Right for append-mode streams (rows of a batch are final).
- ``upsert_parquet``: natural-key upsert (last writer wins) — right
  for update-mode streams that re-emit a (symbol, window) row as it
  refines. Implemented read-merge-rewrite over parquet here; on a
  cluster this is a Delta/Iceberg MERGE INTO keyed on the same
  natural key — the call signature is the stable part.
- ``upsert_parquet_bucketed``: the scale-shaped variant. The table is
  laid out as ``_bucket=NN/`` partitions (hash of the natural key);
  a micro-batch merges and dynamically overwrites ONLY the buckets
  its keys land in, so per-batch write cost is O(batch ∪ touched
  buckets), not O(table) — the property that keeps a long-running
  update-mode stream viable as the sink table grows. This is the
  hash-bucketed poor-man's MERGE INTO; Delta/Iceberg replace the
  directory swap with a transactional log but the data movement is
  the same.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def write_batch_partitioned(df: DataFrame, batch_id: int, path: str) -> None:
    """Exactly-once-under-retry append of one micro-batch."""
    (
        df.withColumn("batch_id", F.lit(int(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )


def upsert_parquet(
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    version_col: str = "_batch_id",
    version: int = 0,
) -> None:
    """Merge ``df`` into the parquet table at ``path`` by natural key.

    Keeps, per key, the row with the highest ``version`` (micro-batch
    id), so replays and update-mode re-emissions are both idempotent.
    """
    spark = df.sparkSession
    incoming = df.withColumn(version_col, F.lit(int(version)))
    # Recover from a crash that happened between the two renames of a
    # previous call (final moved aside, staging not yet promoted): the
    # backup is then the only copy of the table, so restore it BEFORE
    # reading/merging — otherwise this call would treat the table as
    # absent and the backup cleanup below would delete the last copy.
    final = path.rstrip("/")
    backup = final + ".old"
    if not os.path.isdir(final) and os.path.isdir(backup):
        os.rename(backup, final)
    if os.path.isdir(path):
        existing = spark.read.parquet(path)
        # schema evolution (same contract as the bucketed sink — see
        # _evolved_schema): the flat strategy rewrites the whole table
        # per batch, so the evolved schema lands everywhere at once
        target = _evolved_schema(existing.schema, incoming.schema, keys)
        merged = _cast_to(existing, target).unionByName(
            _cast_to(incoming, target), allowMissingColumns=True
        )
    else:
        merged = incoming
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
    latest = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    # Parquet can't transactionally overwrite a path it is reading, so
    # stage the merged table then swap directories. The old table is
    # renamed aside before the staging rename so a crash mid-swap
    # leaves a recoverable copy (never an empty path). Cluster path:
    # this read-merge-rewrite is a single MERGE INTO on Delta/Iceberg.
    staging = final + ".staging"
    latest.write.mode("overwrite").parquet(staging)
    if os.path.isdir(backup):
        shutil.rmtree(backup)
    had_existing = os.path.isdir(final)
    if had_existing:
        os.rename(final, backup)
    os.rename(staging, final)
    if had_existing:
        shutil.rmtree(backup)


BUCKET_COL = "_bucket"
VERSION_DIR_COL = "_v"
MANIFEST_NAME = "_manifest.json"


def _manifest_path(final: str) -> str:
    return os.path.join(final, MANIFEST_NAME)


def read_manifest(final: str) -> dict | None:
    """The committed-state pointer of a bucketed upsert table, or None."""
    p = _manifest_path(final)
    if not os.path.isfile(p):
        return None
    with open(p) as fh:
        return json.load(fh)


import contextlib
import time


# test seam: called right before an upsert batch enters its manifest
# commit section (None in production). Lets a test interleave a
# concurrent maintenance commit at the exact racy point.
_pre_commit_hook = None


@contextlib.contextmanager
def _manifest_lock(final: str, timeout_s: float = 30.0):
    """Mutual exclusion for manifest read-modify-write sections
    (upsert commit vs OPTIMIZE commit). O_CREAT|O_EXCL lock file next
    to the manifest — the local-filesystem stand-in for the table
    format's log-commit conditional put. A crashed holder leaves a
    stale lock; callers time out with the path in the error rather
    than silently proceeding into a torn commit."""
    lock_path = os.path.join(final, MANIFEST_NAME + ".lock")
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"{lock_path}: manifest lock held for >{timeout_s}s — "
                    "a concurrent committer is stuck or crashed; remove the "
                    "lock file after verifying no maintenance job is running"
                ) from None
            time.sleep(0.05)
    try:
        yield
    finally:
        os.close(fd)
        with contextlib.suppress(FileNotFoundError):
            os.remove(lock_path)


def _write_manifest_atomic(final: str, manifest: dict) -> None:
    """Single atomic commit point: write-tmp + fsync + rename. A reader
    holding the old manifest (or re-reading it) sees either the entire
    previous table state or the entire new one, never a mix."""
    tmp = _manifest_path(final) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=0, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, _manifest_path(final))


def _struct_without(schema, names: set):
    from pyspark.sql.types import StructType

    return StructType([f for f in schema.fields if f.name not in names])


# numeric widening ladder for upsert schema evolution
_NUM_WIDTH = {"byte": 0, "short": 1, "integer": 2, "long": 3, "float": 4, "double": 5}


def _evolved_schema(stored, incoming_schema, keys: Sequence[str]):
    """Schema-evolution contract shared by the upsert sinks: given the
    table's recorded schema and an incoming batch's schema, return the
    evolved table schema, or raise on an illegal change.

    - KEY columns are pinned to their first-written type — the bucket
      hash and merge identity depend on it. A batch may send a
      narrower numeric type (ingest casts it up to the stored type);
      widening or retyping a key is rejected.
    - Non-key columns may be ADDED (existing rows read NULL), be
      ABSENT from a batch (its rows store NULL), or WIDEN along
      byte<short<int<long<float<double — or, for decimals, to any
      decimal whose integer AND fraction digit counts both cover the
      stored type's (decimal(10,2) -> decimal(18,2) or (20,4), never
      -> (18,0)). Narrowing never happens (the wider of the two types
      wins); incompatible retypes (string<->numeric, ...) are rejected
      with a clear error.
    """
    from pyspark.sql.types import DecimalType, StructField, StructType

    def dec_covers(a, b) -> bool:
        # a can hold every value of b: more (or equal) integer digits
        # AND more (or equal) fraction digits
        return (
            a.precision - a.scale >= b.precision - b.scale
            and a.scale >= b.scale
        )

    stored_names = {f.name for f in stored.fields}
    in_by = {f.name: f for f in incoming_schema.fields}
    out = []
    for f in stored.fields:
        g = in_by.get(f.name)
        if g is None or g.dataType == f.dataType:
            out.append(f)
            continue
        s, i = f.dataType.typeName(), g.dataType.typeName()
        both_num = s in _NUM_WIDTH and i in _NUM_WIDTH
        both_dec = isinstance(f.dataType, DecimalType) and isinstance(
            g.dataType, DecimalType
        )
        if f.name in keys:
            if both_num and _NUM_WIDTH[i] <= _NUM_WIDTH[s]:
                out.append(f)  # ingest casts the batch key up to stored
                continue
            if both_dec and dec_covers(f.dataType, g.dataType):
                out.append(f)
                continue
            raise ValueError(
                f"schema evolution: key column {f.name!r} is pinned to "
                f"{f.dataType.simpleString()} (first write); batch sent "
                f"{g.dataType.simpleString()} — rekeying requires a rebuild"
            )
        if both_num:
            wide = f if _NUM_WIDTH[s] >= _NUM_WIDTH[i] else g
            out.append(StructField(f.name, wide.dataType, True))
            continue
        if both_dec:
            if dec_covers(f.dataType, g.dataType):
                out.append(f)
                continue
            if dec_covers(g.dataType, f.dataType):
                out.append(StructField(f.name, g.dataType, True))
                continue
            raise ValueError(
                f"schema evolution: column {f.name!r} cannot change "
                f"{f.dataType.simpleString()} -> {g.dataType.simpleString()}"
                " — neither decimal covers the other (integer and fraction"
                " digits must both be non-decreasing)"
            )
        raise ValueError(
            f"schema evolution: column {f.name!r} cannot change "
            f"{f.dataType.simpleString()} -> {g.dataType.simpleString()} "
            "(only numeric widening byte<short<int<long<float<double "
            "and add/absent columns are supported)"
        )
    for g in incoming_schema.fields:
        if g.name not in stored_names:
            out.append(StructField(g.name, g.dataType, True))
    return StructType(out)


def _cast_to(df: DataFrame, target) -> DataFrame:
    """Cast df's columns to the target schema's types where they
    differ (by name; columns absent from df are left to
    unionByName(allowMissingColumns=True))."""
    types = {f.name: f.dataType for f in target.fields}
    casts = [
        F.col(c).cast(types[c]).alias(c)
        if c in types and dict(df.dtypes)[c] != types[c].simpleString()
        else F.col(c)
        for c in df.columns
    ]
    return df.select(*casts)


def _empty_from_manifest(spark, manifest: dict, version_col: str) -> DataFrame:
    from pyspark.sql.types import StructType

    st = StructType.fromJson(manifest["schema"])
    df = spark.createDataFrame([], st)
    return df.drop(
        *[c for c in (version_col, BUCKET_COL, VERSION_DIR_COL) if c in df.columns]
    )


def _committed_leaves(final: str, buckets: dict[str, int]) -> list[str]:
    return [
        f"{final}/{BUCKET_COL}={b}/{VERSION_DIR_COL}={v}"
        for b, v in sorted(buckets.items(), key=lambda kv: int(kv[0]))
    ]


def _snapshot_path(final: str, version: int) -> str:
    return os.path.join(final, f"_manifest_v{int(version)}.json")


def list_snapshots(final: str) -> list[int]:
    """Committed snapshot versions still readable as-of (ascending)."""
    out = []
    for entry in os.listdir(final):
        if entry.startswith("_manifest_v") and entry.endswith(".json"):
            out.append(int(entry[len("_manifest_v") : -len(".json")]))
    return sorted(out)


def upsert_parquet_bucketed(
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    n_buckets: int = 64,
    version_col: str = "_batch_id",
    version: int = 0,
    retain_history: int = 0,
    bucket_cols: Sequence[str] | None = None,
    tombstone_col: str | None = None,
) -> None:
    """Merge ``df`` into a hash-bucket-partitioned parquet table,
    rewriting only the buckets the incoming keys touch, with an
    **atomic manifest commit** so readers never observe a
    half-committed multi-bucket batch.

    Layout: ``path/_bucket=NN/_v=K/*.parquet`` with NN = pmod(
    hash(keys), n_buckets) and K the batch version that last rewrote
    the bucket; ``path/_manifest.json`` maps bucket -> committed K and
    is the single source of truth (``read_upserted`` reads only the
    leaves it names). A batch's work is: (1) collect its distinct
    bucket ids (≤ n_buckets ints — bounded, not data-sized), (2) read
    ONLY the committed leaves of those buckets, (3) last-writer-wins
    merge per key, (4) write the merged buckets to fresh ``_v=version``
    leaves (dynamic partition overwrite — untouched buckets are never
    read or written), (5) atomically swap the manifest, (6) GC
    superseded leaf dirs. This is the hash-bucketed poor-man's
    Delta/Iceberg snapshot commit: data files are immutable once
    committed and visibility flips on one metadata rename.

    Crash safety: a crash before (5) leaves orphan ``_v=version``
    leaves that no reader sees (all-old); replaying the batch (what
    checkpoint recovery does) rewrites them and commits (all-new).
    Replay of an already-committed batch id is a no-op per bucket.
    GC after commit means a long-running reader on a shared filesystem
    could lose a superseded leaf mid-scan — single-writer local
    semantics here; snapshot-isolated readers are what the real
    Delta/Iceberg log adds on a cluster.

    Time travel: with ``retain_history = R > 0`` each committing batch
    also writes an immutable ``_manifest_v{K}.json`` snapshot, GC
    keeps every leaf referenced by the last R snapshots (plus the
    current state), and ``read_upserted_as_of`` reads the table
    exactly as batch K committed it. R = 0 keeps today's
    latest-only behavior.

    ``tombstone_col`` names a boolean column marking CDC DELETES: a
    true-marked row wins the per-key last-writer-wins rank like any
    other write (so it supersedes every older stored version) and is
    then dropped from the rewritten bucket — the key physically
    disappears, at the same O(touched buckets) cost as an upsert, and
    a later re-insert at a higher version resurrects it normally. The
    column itself is never stored. This is the apply side of a CDC
    changefeed (see ``apply_cdc_bucketed``).

    ``bucket_cols`` (default: ``keys``) picks which key columns feed
    the bucket hash. Bucketing on a PREFIX of the natural key (e.g.
    symbol alone for a (symbol, timestamp) key) co-locates a whole
    entity's history in one bucket, so `read_upserted_keyed` can
    answer "all rows for these entities" reading only their bucket
    directories — the index property a per-entity lookup needs at
    100 TB. The choice is recorded in the manifest and must stay
    consistent across batches.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    spark = df.sparkSession
    bucket_cols = list(bucket_cols) if bucket_cols is not None else list(keys)
    if not set(bucket_cols) <= set(keys):
        raise ValueError(
            f"bucket_cols {bucket_cols} must be a subset of keys {list(keys)}"
        )
    missing_keys = [k for k in keys if k not in df.columns]
    if missing_keys:
        raise ValueError(
            f"{path}: batch is missing key column(s) {missing_keys} — "
            "an upsert needs every key"
        )
    final = path.rstrip("/")
    manifest = read_manifest(final) or {
        "n_buckets": int(n_buckets),
        "keys": list(keys),
        "bucket_cols": bucket_cols,
        "version_col": version_col,
        "buckets": {},
    }
    if int(manifest["n_buckets"]) != int(n_buckets):
        # rows hash with n_buckets but reads probe with the manifest's
        # count: a mismatch would split keys across buckets
        raise ValueError(
            f"{final}: table has {manifest['n_buckets']} buckets, this "
            f"batch asked for {n_buckets} — rebucketing requires a "
            "rebuild, not an append"
        )
    # ---- schema evolution (add-column / numeric widening; see
    # _evolved_schema for the contract). The evolved schema also
    # drives the EXISTING-leaf read: touched buckets may have been
    # written under different historical schemas, and an explicit read
    # schema both up-casts narrow files and nulls absent columns.
    target_schema = None
    if "schema" in manifest:
        stored = _struct_without(
            StructType.fromJson(manifest["schema"]), {tombstone_col or ""}
        )
        target_schema = _evolved_schema(
            stored,
            df.withColumn(version_col, F.lit(int(version))).schema,
            keys,
        )
        # key/bucket columns are pinned: cast the batch's (possibly
        # narrower) keys to the stored types BEFORE hashing, or the
        # same logical key would route to a different bucket
        df = _cast_to(df, target_schema)
    incoming = df.withColumn(version_col, F.lit(int(version))).withColumn(
        BUCKET_COL, F.pmod(F.hash(*bucket_cols), F.lit(n_buckets))
    )
    # Bounded driver collect: ≤ n_buckets small ints per batch. Zero
    # distinct buckets == zero rows, so this doubles as the empty-batch
    # check (append-mode streams emit empty micro-batches routinely
    # while the watermark catches up — they must not write or commit);
    # the old separate isEmpty() probe cost one extra Spark job per
    # batch for the same answer.
    affected = sorted(
        r[BUCKET_COL] for r in incoming.select(BUCKET_COL).distinct().collect()
    )
    if not affected:
        return
    if manifest.get("bucket_cols", manifest["keys"]) != bucket_cols:
        raise ValueError(
            f"{final}: table was bucketed on "
            f"{manifest.get('bucket_cols', manifest['keys'])}, "
            f"this batch asked for {bucket_cols} — rebucketing requires "
            "a rebuild, not an append"
        )
    committed: dict[str, int] = manifest["buckets"]
    # Exact replay of an already-committed batch: those buckets are
    # done (same batch content at the same version merges to the same
    # result) — skipping them also guarantees the input leaves we read
    # are never the leaves we overwrite.
    todo = [b for b in affected if committed.get(str(b)) != int(version)]
    if not todo:
        return
    incoming = incoming.filter(F.col(BUCKET_COL).isin([int(b) for b in todo]))
    existing_leaves = _committed_leaves(
        final, {str(b): committed[str(b)] for b in todo if str(b) in committed}
    )
    if existing_leaves:
        reader = spark.read.option("basePath", final)
        if target_schema is not None:
            # evolved read: up-casts leaves written under a narrower
            # historical schema, nulls columns added since
            reader = reader.schema(
                StructType(
                    [
                        f
                        for f in target_schema.fields
                        if f.name != (tombstone_col or "")
                    ]
                    + [StructField(BUCKET_COL, IntegerType(), True)]
                )
            )
        existing = reader.parquet(*existing_leaves).drop(VERSION_DIR_COL)
        if tombstone_col is not None:
            # stored rows never carry the tombstone column
            existing = existing.withColumn(tombstone_col, F.lit(False))
        merged = existing.unionByName(incoming, allowMissingColumns=True)
    else:
        merged = incoming
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc())
    latest = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if tombstone_col is not None:
        # a winning delete removes its key from the rewritten bucket
        latest = latest.filter(
            ~F.coalesce(F.col(tombstone_col), F.lit(False))
        ).drop(tombstone_col)
    # Cluster the rewrite on the bucket id before the partitioned
    # write: the merge window upstream shuffles by KEY, so every
    # shuffle partition holds a slice of every touched bucket and the
    # write emits (partitions × buckets) splinter files — AQE's
    # parallelismFirst keeps tiny shuffles at defaultParallelism, so
    # small batches fragmented worst (measured: the small-batch IVM row
    # paid ~2.9k tasks at sf0.1, dominated by per-file open cost on
    # later point reads). Hashing on the bucket id writes each leaf
    # from one task — one file per leaf, the same per-bucket unit the
    # read path already uses; n_buckets (a parameter) remains the knob
    # that sizes that unit at scale.
    (
        latest.withColumn(VERSION_DIR_COL, F.lit(int(version)))
        .repartition(F.col(BUCKET_COL))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BUCKET_COL, VERSION_DIR_COL)
        .parquet(final)
    )
    # ---- the commit point ----
    if _pre_commit_hook is not None:
        _pre_commit_hook()
    with _manifest_lock(final):
        # MERGE-commit under the lock: re-read the manifest and apply
        # only THIS batch's touched buckets onto it. A concurrent
        # OPTIMIZE (optimize.optimize_upsert_table) may have re-pointed
        # untouched buckets at compacted leaves since we read the
        # manifest at batch start — overwriting with our stale view
        # would dangle those pointers after its GC.
        fresh = read_manifest(final)
        if fresh is not None:
            manifest["buckets"] = fresh["buckets"]
        committed = manifest["buckets"]
        for b in todo:
            committed[str(b)] = int(version)
        # record the row schema so a fully-emptied table (CDC deletes
        # can legitimately remove every key) still reads back as an
        # EMPTY frame with the right columns instead of failing on
        # zero leaves. MUST be the EVOLVED schema, not this batch's: a
        # batch touching only fresh buckets never unions with existing
        # leaves, and recording its (possibly narrower/column-missing)
        # shape would silently drop previously-evolved columns.
        committed_schema = (
            target_schema if target_schema is not None else latest.schema
        )
        manifest["schema"] = json.loads(
            _struct_without(
                committed_schema, {BUCKET_COL, tombstone_col or ""}
            ).json()
        )
        if tombstone_col is not None:
            # a bucket whose every key was deleted wrote ZERO rows — no
            # _v=version leaf exists. Drop it from the manifest (an
            # absent bucket IS the empty state) instead of committing a
            # pointer to a directory that was never created.
            for b in todo:
                leaf = os.path.join(
                    final,
                    f"{BUCKET_COL}={b}",
                    f"{VERSION_DIR_COL}={int(version)}",
                )
                if not os.path.isdir(leaf):
                    committed.pop(str(b), None)
        _write_manifest_atomic(final, manifest)
        if retain_history > 0:
            # immutable per-batch snapshot (tmp+rename like the manifest)
            tmp = _snapshot_path(final, version) + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(
                    {**manifest, "version": int(version)},
                    fh, indent=0, sort_keys=True,
                )
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, _snapshot_path(final, version))
    # ---- GC superseded leaves (post-commit; crash here is harmless —
    # orphans are re-collected by any later batch's GC) ----
    keep_per_bucket: dict[str, set[int]] = {
        b: {v} for b, v in committed.items()
    }
    if retain_history > 0:
        snaps = list_snapshots(final)
        expired, retained = snaps[:-retain_history], snaps[-retain_history:]
        for s in expired:
            os.remove(_snapshot_path(final, s))
        for s in retained:
            with open(_snapshot_path(final, s)) as fh:
                for b, v in json.load(fh)["buckets"].items():
                    # v may be an int batch id or an OPTIMIZE leaf tag
                    keep_per_bucket.setdefault(b, set()).add(v)
        # retained snapshots may reference buckets outside this batch's
        # touched set; GC every bucket dir so expired leaves anywhere go
        todo_gc = [
            e.split("=", 1)[1]
            for e in os.listdir(final)
            if e.startswith(f"{BUCKET_COL}=")
        ]
    else:
        # retain_history demoted to 0: drop any snapshots a previous
        # configuration left behind. GC below deletes leaves those
        # snapshots reference, so keeping the files would leave
        # read_upserted_as_of a pointer that fails MID-SCAN on missing
        # leaf dirs instead of the intended clear FileNotFoundError.
        for s in list_snapshots(final):
            os.remove(_snapshot_path(final, s))
        todo_gc = [str(b) for b in todo]
    for b in todo_gc:
        bucket_dir = os.path.join(final, f"{BUCKET_COL}={b}")
        if not os.path.isdir(bucket_dir):
            continue
        keep = {
            f"{VERSION_DIR_COL}={v}" for v in keep_per_bucket.get(str(b), ())
        }
        for entry in os.listdir(bucket_dir):
            if entry.startswith(f"{VERSION_DIR_COL}=") and entry not in keep:
                if "_c" in entry.split("=", 1)[1]:
                    # an OPTIMIZE compaction twin: possibly IN-FLIGHT
                    # (written but not yet CAS'd into the manifest —
                    # deleting it here would dangle the pointer the
                    # CAS is about to commit). Whether in-flight,
                    # orphaned by a crashed optimize, or superseded
                    # later, ``_c`` leaves are reclaimed exclusively
                    # by optimize_upsert_table's startup sweep under
                    # the manifest lock — never by this batch GC.
                    continue
                shutil.rmtree(os.path.join(bucket_dir, entry), ignore_errors=True)


def _leaf_reader(spark, final: str, manifest: dict | None):
    """Reader for committed leaves. When the manifest records a schema
    (it does since schema evolution landed), read through it EXPLICITLY:
    buckets rewritten after an evolution carry wider/extra columns than
    untouched ones, and an explicit schema both up-casts narrow files
    and nulls absent columns — a bare parquet read would pick one
    file's schema and mis-read the rest."""
    reader = spark.read.option("basePath", final)
    if manifest and "schema" in manifest:
        from pyspark.sql.types import IntegerType, StructField, StructType

        st = StructType.fromJson(manifest["schema"])
        reader = reader.schema(
            StructType(
                list(st.fields) + [StructField(BUCKET_COL, IntegerType(), True)]
            )
        )
    return reader


def read_upserted_as_of(
    spark, path: str, version: int, version_col: str = "_batch_id"
) -> DataFrame:
    """Read a bucketed upsert table EXACTLY as batch ``version``
    committed it (requires the sink ran with ``retain_history`` large
    enough that the snapshot and its leaves still exist). Snapshot
    files are immutable and leaves are never rewritten in place, so
    this is a consistent point-in-time view — the poor-man's
    Delta/Iceberg time travel."""
    final = path.rstrip("/")
    snap_path = _snapshot_path(final, version)
    if not os.path.isfile(snap_path):
        have = list_snapshots(final)
        raise FileNotFoundError(
            f"{final}: no snapshot for version {version} "
            f"(retained: {have}) — increase retain_history"
        )
    with open(snap_path) as fh:
        snapshot = json.load(fh)
    leaves = _committed_leaves(final, snapshot["buckets"])
    # the snapshot embeds the schema AS OF that version — time travel
    # across an evolution shows the old shape, as a table format would
    df = _leaf_reader(spark, final, snapshot).parquet(*leaves)
    drop = [
        c for c in (version_col, BUCKET_COL, VERSION_DIR_COL) if c in df.columns
    ]
    return df.drop(*drop)


def read_upserted_keyed(
    spark,
    path: str,
    keys_df: DataFrame,
    version_col: str = "_batch_id",
) -> DataFrame:
    """Read ONLY the committed buckets that can contain rows whose
    bucket columns match a row of ``keys_df`` — the per-entity lookup
    path a symbol-bucketed bars table serves in O(entities' buckets)
    instead of O(table).

    ``keys_df`` must carry the table's ``bucket_cols`` (from the
    manifest); its distinct bucket ids are collected (bounded by
    n_buckets, the same bounded-collect contract as the writer). The
    scan still returns every column; rows of OTHER entities sharing a
    probed bucket are included (callers filter/semi-join, exactly as
    they already do) — the guarantee is no false negatives, pruned IO.
    Falls back to the full committed read for flat tables.
    """
    final = path.rstrip("/")
    manifest = read_manifest(final)
    if manifest is None:
        return read_upserted(spark, final, version_col=version_col)
    bucket_cols = manifest.get("bucket_cols", manifest["keys"])
    n_buckets = int(manifest["n_buckets"])
    # F.hash is type-sensitive (hash(1) != hash(1L) != hash(1.0)): a
    # caller whose keys_df carries int where the table wrote bigint
    # would silently probe the WRONG buckets and get zero rows. Cast
    # every bucket column to the type the manifest recorded at write
    # time, so the probe hashes exactly as the writer did.
    from pyspark.sql.types import StructType

    probe = keys_df
    if "schema" in manifest:
        written = {
            f.name: f.dataType
            for f in StructType.fromJson(manifest["schema"]).fields
        }
        probe = keys_df.select(
            *[
                F.col(c).cast(written[c]).alias(c) if c in written else F.col(c)
                for c in bucket_cols
            ]
        )
    wanted = {
        r["_b"]
        for r in probe.select(
            F.pmod(F.hash(*bucket_cols), F.lit(n_buckets)).alias("_b")
        )
        .distinct()
        .collect()
    }
    hit = {
        b: v for b, v in manifest["buckets"].items() if int(b) in wanted
    }
    if not hit:
        if "schema" in manifest:
            return _empty_from_manifest(spark, manifest, version_col)
        base = read_upserted(spark, final, version_col=version_col)
        return base.limit(0)
    leaves = _committed_leaves(final, hit)
    df = _leaf_reader(spark, final, manifest).parquet(*leaves)
    drop = [
        c for c in (version_col, BUCKET_COL, VERSION_DIR_COL) if c in df.columns
    ]
    return df.drop(*drop)


def read_upserted(spark, path: str, version_col: str = "_batch_id") -> DataFrame:
    """Read a (bucketed or flat) upsert table minus sink bookkeeping.

    Bucketed tables are read through ``_manifest.json`` — ONLY the
    committed leaf of each bucket is scanned, so a concurrent batch's
    staged-but-uncommitted leaves are invisible (all-old-or-all-new).
    """
    final = path.rstrip("/")
    manifest = read_manifest(final)
    if manifest is not None:
        leaves = _committed_leaves(final, manifest["buckets"])
        if not leaves:
            # every key deleted: empty state, schema from the manifest
            return _empty_from_manifest(spark, manifest, version_col)
        df = _leaf_reader(spark, final, manifest).parquet(*leaves)
    else:
        if any(
            e.startswith(f"{BUCKET_COL}=") for e in os.listdir(final)
        ):
            raise FileNotFoundError(
                f"{final}: bucketed upsert table has no committed "
                f"{MANIFEST_NAME} (crashed before first commit?) — "
                "replay the stream from its checkpoint to commit it"
            )
        df = spark.read.parquet(final)
    drop = [
        c for c in (version_col, BUCKET_COL, VERSION_DIR_COL) if c in df.columns
    ]
    return df.drop(*drop)


def apply_cdc_bucketed(
    changes: DataFrame,
    path: str,
    keys: Sequence[str],
    op_col: str = "op",
    n_buckets: int = 64,
    version: int = 0,
    bucket_cols: Sequence[str] | None = None,
) -> None:
    """Apply one CDC changefeed batch (Debezium-shaped ``op`` column:
    c/r/u = upsert, d = delete) to a bucketed upsert table — the
    MERGE-with-DELETE a warehouse sink runs per micro-batch. Upserts
    and deletes resolve together under last-writer-wins at the batch
    version; a delete physically removes its key from the rewritten
    bucket (cost stays O(touched buckets)); replaying the batch is a
    no-op per committed bucket. Unknown op codes raise rather than
    silently dropping changes."""
    ops = F.upper(F.col(op_col))
    checked = changes.withColumn(
        "_is_delete",
        F.when(ops.isin("D", "DELETE"), F.lit(True))
        .when(ops.isin("C", "R", "U", "I", "INSERT", "UPDATE", "READ"), F.lit(False))
        .otherwise(
            F.raise_error(
                F.concat(F.lit("apply_cdc_bucketed: unknown op "), ops)
            )
        ),
    ).drop(op_col)
    upsert_parquet_bucketed(
        checked,
        path,
        keys=keys,
        n_buckets=n_buckets,
        version=version,
        bucket_cols=bucket_cols,
        tombstone_col="_is_delete",
    )
