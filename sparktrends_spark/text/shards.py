"""Deterministic training-shard export.

The write side of an LLM training-data pipeline: after curation /
dedup / packing, the corpus must land on disk as N roughly
size-balanced shards, globally "shuffled" (so a trainer streaming
shard files sees an i.i.d.-ish document order) yet FULLY REPRODUCIBLE
— the same corpus + salt must yield byte-identical shard membership
and order on any cluster size, any partitioning, any engine.
``rand()`` breaks that contract; content-free hashing of the document
id is the standard answer (same discipline as the repo's
``doc_train_test_split``).

Two deterministic keys per document, both md5-derived so a SQL oracle
(DuckDB ``md5``) reproduces them bit-for-bit:

- ``shard``      — first 8 hex chars of ``md5('shard:<salt>:<id>')``
                   as an integer, mod ``n_shards``. Uniform, so shard
                   sizes concentrate at n/N with O(sqrt) imbalance —
                   at 100 TB / 1024 shards the relative spread is
                   negligible, with NO global coordination (greedy
                   bin-packing would serialize on the driver).
- ``order_key``  — ``md5('order:<salt>:<id>')``, the within-shard
                   shuffle. Sorting a shard by ``order_key`` is the
                   canonical reading order; a new ``salt`` is a fresh
                   epoch-level reshuffle of both membership and order.

Physical layout (``write_training_shards``): ONE hash shuffle on
(shard, file-split) into ``n_shards * files_per_shard`` partitions —
one task per target file, no coalesce funnel (the same parallelism
contract as the index compactors) — each partition sorted by
``order_key`` (task-local sort, no extra shuffle), written
``partitionBy("shard")`` so a reader of one shard prunes all other
directories at the scan (Spark partition pruning). ``order_key`` is
stored in the data: with ``files_per_shard > 1`` the canonical order
spans files, and a reader recovers it with a cheap per-shard sort (or
k-way merge — each file is already sorted).

Reference scope: the reference (Giorgio-Abboud/SparkTrends) has no
export/sharding surface (its sinks are Kafka producers and JDBC,
see reference README.md:1); this module is part of the LLM-pipeline
extension the build brief mandates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

__all__ = [
    "export_root",
    "read_training_shards",
    "shard_assignments",
    "shard_manifest",
    "write_training_shards",
]


def export_root(path: str) -> str:
    """Directory holding the CURRENT export's ``shard=K/`` dirs,
    ``path/g<N>`` — the same one-line pinning contract as the ANN/dedup
    indexes (``generations.resolve_root``). A trainer resolves ONCE at run
    start and reads that root for the whole run; retention (keep 2)
    guarantees the pinned root survives one subsequent overwrite."""
    from sparktrends_spark.similarity.generations import resolve_root

    return resolve_root(path)


def read_training_shards(spark, path: str) -> DataFrame:
    """Read the CURRENT export (see ``export_root``). Shard-pruned
    reads keep working: filter on ``shard`` prunes partition dirs
    within the resolved generation."""
    return spark.read.parquet(export_root(path))


def _hex8_to_long(hex_col: Column) -> Column:
    # first 8 hex chars -> [0, 2^32): always non-negative, so `% n`
    # agrees between Spark and ANSI SQL (no negative-mod divergence)
    return F.conv(F.substring(hex_col, 1, 8), 16, 10).cast("long")


def shard_assignments(
    df: DataFrame,
    *,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Add deterministic ``shard`` and ``order_key`` columns.

    Pure projection — no shuffle, no state, no randomness; safe to
    recompute on any subset of the corpus (incremental export lands in
    the same shards as a monolithic one). A NULL id propagates to NULL
    shard/order_key (md5(NULL) is NULL in both engines); the physical
    writer rejects those rather than silently dropping rows into a
    ``shard=__HIVE_DEFAULT_PARTITION__`` directory.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards={n_shards}: must be >= 1")
    clobber = [c for c in ("shard", "order_key") if c in df.columns]
    if clobber:
        # loud, not silent: re-assigning data read back from a prior
        # export would otherwise overwrite its stored assignment —
        # and a caller comparing old vs new epochs would compare the
        # new values against themselves
        raise ValueError(
            f"input already has column(s) {clobber}; drop or rename "
            "them before re-assigning (e.g. a read-back export "
            "carries its stored shard/order_key)"
        )
    sid = F.col(id_col).cast("string")
    shard_hex = F.md5(F.concat(F.lit(f"shard:{salt}:"), sid))
    order_hex = F.md5(F.concat(F.lit(f"order:{salt}:"), sid))
    return df.withColumn(
        "shard", (_hex8_to_long(shard_hex) % n_shards).cast("int")
    ).withColumn("order_key", order_hex)


def shard_manifest(
    assigned: DataFrame,
    *,
    id_col: str = "doc_id",
    weight_col: str | None = None,
) -> DataFrame:
    """Per-shard manifest: doc count, optional weight sum (e.g. chars
    or tokens, the balance a trainer actually cares about), the
    order-key span, and an order-free membership checksum (sum of a
    per-id hash) so two exports can be compared shard-by-shard without
    reading payloads. One hash-agg shuffle on ``shard``. The span is
    min/max of the key's u32 prefix, NOT of the hex string: a string
    min/max buffer forces the whole agg into SortAggregate (full sort
    of the input per partition), while bigint buffers keep it a
    HashAggregate — and the prefix metric is computed identically in
    any ANSI engine, so exports stay comparable.
    """
    order_u32 = _hex8_to_long(F.col("order_key"))
    checksum = F.sum(
        _hex8_to_long(F.md5(F.concat(F.lit("m:"), F.col(id_col).cast("string"))))
    ).alias("member_checksum")
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.min(order_u32).alias("min_order_u32"),
        F.max(order_u32).alias("max_order_u32"),
        checksum,
    ]
    if weight_col is not None:
        aggs.insert(1, F.sum(weight_col).cast("long").alias("total_weight"))
    return assigned.groupBy("shard").agg(*aggs)


def _existing_layout(path: str) -> str | None:
    """Partition depth of the export already on disk: ``"plain"``
    (shard=K/*.parquet), ``"batched"`` (shard=K/ingest_batch=J/...),
    or None when there is no decisive evidence yet (no export, or only
    empty shard dirs). Scans directory names only — no file reads."""
    import glob
    import os

    for sd in glob.glob(os.path.join(path, "shard=*")):
        if glob.glob(os.path.join(sd, "ingest_batch=*")):
            return "batched"
        if any(f.endswith(".parquet") for f in os.listdir(sd)):
            return "plain"
    return None


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "",
    files_per_shard: int = 1,
    mode: str = "overwrite",
    batch_id: int | None = None,
    keep_generations: int = 2,
) -> dict:
    """Export ``df`` as ``path/shard=K/`` parquet directories.

    One shuffle: repartition on (shard, file-split) into exactly
    ``n_shards * files_per_shard`` partitions (one write task per
    target file; a hash collision between two splits of the same shard
    merely merges two files — file count per shard stays in
    [1, files_per_shard]). Each task sorts its rows by ``order_key``
    before writing, so every file is internally in canonical order.
    Raises if any id is NULL — a NULL would land in Hive's default
    partition and silently vanish from shard-pruned reads.

    ``mode="append"`` is the incremental export: because the
    assignment is a pure projection of the id, a later batch lands in
    the SAME shards a monolithic export would have chosen, and the
    shard-level invariants (membership, order_key) stay comparable via
    ``shard_manifest``. Appends add up to ``files_per_shard`` files
    per shard per batch; the export is DERIVED data (rebuildable from
    the corpus), so the fragmentation remedy is a fresh overwrite
    export, not a stateful compactor.

    ``batch_id`` makes the incremental path EXACTLY-ONCE under
    replays (foreachBatch redelivers a batch after a crash between
    the sink write and the checkpoint commit): the batch lands in its
    own ``ingest_batch=<id>`` sub-partition via dynamic partition
    overwrite, so a retried batch REPLACES its own files instead of
    appending duplicates — the same discipline as the repo's
    versioned upsert sinks (``streaming/sinks.py``). ``shard=`` stays
    the outermost directory level, so shard-pruned reads are
    unaffected. ``batch_id`` requires ``mode="append"`` — it IS an
    append, just an idempotent one; pairing it with "overwrite" is a
    contradiction this raises on rather than silently resolving.
    Without ``batch_id``, plain ``mode="append"`` is at-least-once;
    route re-deliverable feeds through ``batch_id`` (or the
    incremental dedup index).

    ``mode="overwrite"`` is crash-safe AND object-store-ready: the new
    export lands in a fresh GENERATION directory
    (``path/g<N+1>/shard=K/...``) and is promoted with one atomic
    ``CURRENT`` pointer rename — the same discipline as the ANN/dedup
    indexes (``generations.promote_generation``). A mid-write failure
    (including the NULL-id guard firing) rmtree's the partial
    generation and leaves the previous export intact and still
    CURRENT; the export path is NEVER briefly absent, and a trainer
    that pinned ``export_root(path)`` at run start keeps reading its
    generation until retention (``keep_generations``, default 2:
    current + previous) releases it. Readers go through
    ``read_training_shards`` / ``export_root``. The first append to a
    fresh path promotes an empty ``g000001`` and appends into it, so
    ``path`` only ever holds ``CURRENT`` and generation directories.

    OVERWRITE exports serialize on the same ``maintenance_lock`` as
    the index maintainers: two unserialized promotions could otherwise
    interleave generation numbering and GC. An append holds the lock
    only for that first promotion, never across its Spark job: a crash
    mid-batch would otherwise leave a stale lock file that blocks the
    checkpoint REPLAY ``batch_id`` exists for (the restarted query is
    the same single writer, not a concurrent one — Structured
    Streaming already serializes one writer per checkpointed sink).
    Two genuinely concurrent append JOBS to one path remain the
    caller's contract violation (they can collide in Spark's shared
    ``_temporary`` staging dir).

    Returns ``{"n_docs", "n_shards", "files_per_shard"}``; per-shard
    detail comes from ``shard_manifest`` on the same assignment.
    """
    if files_per_shard < 1:
        raise ValueError(f"files_per_shard={files_per_shard}: must be >= 1")
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode={mode!r}: must be 'overwrite' or 'append'")
    if batch_id is not None and mode != "append":
        raise ValueError(
            "batch_id is the idempotent incremental append; pass "
            "mode='append' with it (mode='overwrite' would contradict "
            "the replace-own-partition semantics)"
        )
    from pyspark.sql import Observation

    # Single pass over the input: the NULL-id guard is a row-level
    # raise_error riding the same scan as the write (a separate
    # validation aggregate would be a second full scan of the corpus),
    # and n_docs comes from an Observation on that scan. The guard
    # lives HERE and not in shard_assignments, which stays a pure
    # NULL-propagating projection (oracle-mirrorable).
    checked = df.withColumn(
        id_col,
        F.when(F.col(id_col).isNotNull(), F.col(id_col)).otherwise(
            F.raise_error(
                f"NULL {id_col} in shard export: a NULL would land in "
                "Hive's default partition and vanish from shard-pruned "
                "reads; assign surrogate ids upstream"
            )
        ),
    )
    assigned = shard_assignments(
        checked, n_shards=n_shards, id_col=id_col, salt=salt
    )
    obs = Observation()
    split = F.pmod(F.hash("order_key"), files_per_shard)
    n_parts = max(1, n_shards * files_per_shard)
    staged = (
        assigned.observe(obs, F.count(F.lit(1)).alias("n_docs"))
        .withColumn("_fsplit", split)
        .repartition(n_parts, "shard", "_fsplit")
        .drop("_fsplit")
        # shard FIRST: FileFormatWriter requires task rows ordered by
        # the partition columns and inserts its own (non-stable) sort
        # if they aren't — which would scramble order_key. Sorting
        # (shard, order_key) satisfies that requirement, so ONE
        # task-local sort yields files in canonical order.
        .sortWithinPartitions("shard", "order_key")
    )
    from sparktrends_spark.similarity.generations import (
        maintenance_lock,
        promote_generation,
        read_current,
    )

    spark = df.sparkSession
    if mode == "overwrite":
        # crash-safe overwrite = generation promotion: a job failure
        # (including the NULL-id guard firing, which a static overwrite
        # onto the live path would discover only AFTER deleting the old
        # export) removes the partial generation and the previous
        # export stays CURRENT
        with maintenance_lock(path, operation="shard-export-overwrite"):
            promote_generation(
                spark,
                path,
                lambda root: staged.write.mode("overwrite")
                .partitionBy("shard")
                .parquet(root),
                keep_generations,
            )
    else:
        if read_current(path) is None:
            # the first write to a fresh path promotes an empty
            # generation; re-checked under the lock, which covers only
            # this pointer write
            with maintenance_lock(path, operation="shard-export-append"):
                if read_current(path) is None:
                    promote_generation(
                        spark, path, lambda root: None, keep_generations
                    )
        # appends land in the CURRENT generation (the root a reader of
        # this export resolves); resolved once per call — the
        # streaming writer is the single writer per sink, so a
        # promotion cannot race it (overwrites hold the writer lock
        # against EACH OTHER; mixing one streaming append feed with
        # concurrent overwrites of the same path is the caller's
        # contract violation, as with any two writers on one sink)
        root = export_root(path)
        # an append whose partition depth disagrees with the existing
        # export (plain shard=K/*.parquet next to
        # shard=K/ingest_batch=J/) makes every later read fail with
        # Spark's conflicting-directory-structures error — refuse the
        # write instead of poisoning the export
        existing = _existing_layout(root)
        wanted = "batched" if batch_id is not None else "plain"
        if existing is not None and existing != wanted:
            raise ValueError(
                f"export at {root} has {existing!r} layout but this "
                f"write would add {wanted!r} files (batch_id "
                f"{'set' if batch_id is not None else 'absent'}): "
                "mixed partition depths under shard= break every "
                "subsequent read — use one layout per export path"
            )
        if batch_id is not None:
            # replace-my-own-partition idempotence: dynamic overwrite
            # touches ONLY the (shard, ingest_batch) partitions this
            # batch produces — other batches' files are never read or
            # rewritten, and the replacement happens at COMMIT time (no
            # upfront delete), so a mid-job crash leaves prior batches
            # untouched
            (
                staged.withColumn("ingest_batch", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("shard", "ingest_batch")
                .parquet(root)
            )
        else:
            # additive: task files stage under _temporary and commit
            staged.write.mode("append").partitionBy("shard").parquet(root)
    return {
        "n_docs": int(obs.get["n_docs"]),
        "n_shards": n_shards,
        "files_per_shard": files_per_shard,
    }
