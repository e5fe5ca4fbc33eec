"""Generation-pointer layout for the persisted indexes — the
manifest-CAS discipline (sources/optimize.py) applied to index
maintenance, shared by every maintained layout: the IVF
(similarity/cosine.py), IVF-PQ (similarity/ivfpq_index.py), BM25
(text/bm25_index.py) and MinHash dedup (text/dedup_index.py) indexes
and the training-shard export (text/shards.py).

An index lives at ``path`` and holds only the ``CURRENT`` pointer
file and generation directories ``path/g<NNNNNN>/``. Every writer that
produces a whole index (build, retrain, compact, the shard export's
overwrite) writes it complete into a fresh generation and promotes it
through ``promote_generation``: ONE atomic rename of the ``CURRENT``
pointer file — readers resolve the pointer once per operation, pinning
a consistent generation for the whole serve even if a promotion lands
concurrently; they can never observe a half-written index or mix
quantizer generations. Retention keeps the newest N roots (default 2:
current + previous, so in-flight readers pinned pre-promotion finish
safely); older roots are reclaimed — a reader pinned to a reclaimed
root fails loudly on scan, never reads stale data silently.

Writers (build / append / retrain / the retrain policy) serialize on
``maintenance_lock``; concurrent readers are always safe and never
take it. Local-filesystem rename is the deployment seam — on an
object store the pointer becomes a conditional-put manifest object.

Each index family declares its artifact layout once (``IndexLayout``)
and hands it to the maintenance lifecycle written here once: the
tombstone delete (``delete_ids``), the staleness probe
(``probe_cells``, ``live_tombstones``), the one-call policy
(``run_policy``) and the cell compactor (``compact_cells``).
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import re
import shutil
import socket
import threading
import time

_GEN_RE = re.compile(r"^g(\d{6})$")


@dataclasses.dataclass(frozen=True)
class IndexLayout:
    """One index family's artifact layout, declared once and passed to
    every lifecycle step (handle, delete, probe, policy, compact):
    enumerating artifact names at call sites silently drops one from a
    compacted generation, then GC reclaims the only copy.

    ``small``: tiny artifacts a compaction copies verbatim. ``cells``:
    corpus-sized artifacts partitioned on ``cell``, each led by the
    stored id; the first is the counted one, and its presence is what
    "an index exists here" means. ``ids``: the artifact with one row
    per indexed item — it types the tombstones and is the denominator
    of the tombstone ratio. ``n_cells_src``: the small artifact whose
    row count is the cell count. Tombstones are not small: compaction
    drops them (it removes the rows they name); they live in their
    generation root, so GC reclaims them with it.
    ``missing`` is the error text for a path with no index; ``name``
    labels the lock holder."""

    name: str
    small: tuple[str, ...]
    cells: tuple[str, ...]
    ids: str
    n_cells_src: str | None = None
    tombstones: str = "tombstones"
    missing: str = (
        "no index at {root} ({root}/{artifact} missing) — nothing to"
        " {action}"
    )

    def root(self, path: str, action: str) -> str:
        """``path``'s CURRENT root, or a ValueError if no index is
        there. Checked BEFORE a writer takes ``maintenance_lock``, whose
        ``makedirs`` would otherwise leave a directory behind at a
        mistyped path, and again under the lock."""
        root = resolve_root(path)
        if not os.path.isdir(os.path.join(root, self.cells[0])):
            raise ValueError(
                self.missing.format(
                    root=root, path=path, artifact=self.cells[0],
                    action=action,
                )
            )
        return root


@contextlib.contextmanager
def maintenance_lock(path: str, timeout_s: float = 600.0, operation: str = ""):
    """Mutual exclusion for index WRITERS (append vs retrain — the
    manifest-lock discipline from streaming/sinks.py applied to the
    index): an append that resolves the root and then races a retrain
    promotion would land its batch in the SUPERSEDED generation —
    correct at write time but silently lost once that root is GC'd.
    Serializing the two writers closes that window; READERS never take
    the lock (generation pinning already makes them safe).

    O_CREAT|O_EXCL lock file under ``path`` — the local-filesystem
    stand-in for a log-commit conditional put. The holder's identity
    ({pid, host, acquired_unix, operation}) is written INTO the lock
    file so a timed-out waiter can report WHO holds it — without that,
    "verify no maintenance job is running" gives the operator nothing
    to verify with, and a crashed holder is indistinguishable from a
    slow one. A crashed holder leaves a stale lock; callers time out
    with the holder info in the error rather than silently proceeding
    into a lost-batch interleaving. The default timeout is
    retrain-sized (quantizer training takes minutes at scale)."""
    # Every maintained layout (ANN/dedup indexes, the shard exporter)
    # promotes generations IN PLACE — nothing ever renames ``path``
    # away — so creating it here cannot race a writer's rename (the
    # retired dir-swap overwrite was the one hazard; see round 13).
    os.makedirs(path, exist_ok=True)
    lock_path = os.path.join(path, ".maintenance.lock")
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            if time.monotonic() >= deadline:
                holder = "<unreadable>"
                with contextlib.suppress(OSError, ValueError):
                    with open(lock_path) as fh:
                        holder = fh.read() or "<empty (pre-metadata lock)>"
                raise TimeoutError(
                    f"{lock_path}: index maintenance lock held for"
                    f" >{timeout_s}s by {holder} — a concurrent"
                    " append/retrain is stuck or crashed; check that"
                    " holder (pid/host above) and remove the lock file"
                    " only after verifying it is no longer running"
                ) from None
            time.sleep(0.05)
    try:
        os.write(
            fd,
            json.dumps(
                {
                    "pid": os.getpid(),
                    "host": socket.gethostname(),
                    "acquired_unix": time.time(),
                    "operation": operation,
                }
            ).encode(),
        )
        yield
    finally:
        # Remove the lock file only if it is still OUR file (same
        # inode as the held fd) — cheap insurance against any future
        # op that relocates the directory: blindly unlinking
        # lock_path would then delete a NEWER writer's
        # freshly-acquired lock and re-open the race the lock exists
        # to close.
        try:
            held = os.fstat(fd)
            cur = os.stat(lock_path)
            if (cur.st_dev, cur.st_ino) == (held.st_dev, held.st_ino):
                os.remove(lock_path)
        except FileNotFoundError:
            pass
        finally:
            os.close(fd)


def generations(path: str) -> list[str]:
    """Existing generation directory names under ``path``, oldest
    first (names are zero-padded so lexicographic == numeric)."""
    if not os.path.isdir(path):
        return []
    return sorted(d for d in os.listdir(path) if _GEN_RE.match(d))


def _read_current_doc(path: str) -> dict | None:
    f = os.path.join(path, "CURRENT")
    if not os.path.isfile(f):
        return None
    with open(f) as fh:
        return json.load(fh)


def read_current(path: str) -> str | None:
    doc = _read_current_doc(path)
    return doc["generation"] if doc else None


def promoted_roots(path: str) -> list[str]:
    """Promotion history, oldest first, ENDING with the current
    generation; empty where nothing was promoted yet. Directories NOT
    in this list are unpromoted leftovers of a crashed writer — junk,
    never a root a reader was ever pointed at."""
    doc = _read_current_doc(path)
    return doc["history"] + [doc["generation"]] if doc else []


def _write_current_doc(path: str, doc: dict) -> None:
    """Atomic (tmp + rename) write of the CURRENT pointer document —
    the single place the document hits disk, so a format change (a new
    field) lands once instead of silently diverging between promotion
    and GC's history-prune rewrite."""
    tmp = os.path.join(path, ".CURRENT.tmp")
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.replace(tmp, os.path.join(path, "CURRENT"))


def promote_generation(spark, path: str, write, keep: int) -> dict:
    """The one way a whole index reaches ``path``: ``write(gen_root)``
    fills a fresh ``path/g<N+1>/`` (created empty here), then ONE atomic
    CURRENT rename promotes it and GC keeps the newest ``keep`` roots.
    A failure before promotion removes the partial generation (never
    orphan junk) and leaves the previous root CURRENT, so a reader
    pinned to it — or to any retained root — keeps serving. Runs under
    the caller's maintenance lock. Returns ``{generation,
    gc_removed}``."""
    new_gen = next_generation(path)
    gen_root = os.path.join(path, new_gen)
    os.makedirs(gen_root)
    try:
        write(gen_root)
    except BaseException:
        shutil.rmtree(gen_root, ignore_errors=True)
        raise
    write_current(path, new_gen)
    removed = gc_generations(path, keep)
    spark.catalog.refreshByPath(gen_root)
    return {"generation": new_gen, "gc_removed": removed}


def compact_cells(
    spark,
    path: str,
    layout: IndexLayout,
    files_per_cell: int = 1,
    keep_generations: int = 2,
    lock_timeout_s: float = 600.0,
) -> dict:
    """Shared segment-merge + takedown-reclaim compactor for the
    cell-partitioned persisted indexes (IVF, IVF-PQ and BM25 pass their
    ``layout`` — ONE implementation, so a fix to the parallelism
    contract lands once): copy the small artifacts (coalesce 1),
    rewrite each cell artifact into at most ``files_per_cell`` files
    per cell minus tombstoned rows — shuffled on (cell, id-hash split)
    into n_cells * files_per_cell partitions, one task per target file,
    never a coalesce funnel — into a generation promoted by
    ``promote_generation``. Returns ``{generation, previous_root,
    files_before, files_after, rows_before, rows_after, gc_removed}``
    for the counted (first) cell artifact."""
    layout.root(path, "compact")
    with maintenance_lock(
        path, lock_timeout_s, operation=f"{layout.name}-compact"
    ):
        return compact_cells_locked(
            spark, path, layout, files_per_cell, keep_generations
        )


def compact_cells_locked(
    spark,
    path: str,
    layout: IndexLayout,
    files_per_cell: int = 1,
    keep_generations: int = 2,
) -> dict:
    """The body of ``compact_cells`` for callers ALREADY holding the
    maintenance lock (the one-call policies, which probe and decide
    under a single lock hold — the lock is not reentrant)."""
    from pyspark.sql import functions as F

    if files_per_cell < 1:
        raise ValueError(f"files_per_cell={files_per_cell}: must be >= 1")

    def _nfiles(d: str) -> int:
        return sum(
            1 for r, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
        )

    counted = layout.cells[0]
    root = layout.root(path, "compact")
    n_cells = spark.read.parquet(f"{root}/{layout.n_cells_src}").count()
    files_before = _nfiles(f"{root}/{counted}")
    rows_before = spark.read.parquet(f"{root}/{counted}").count()

    def write(gen_root: str) -> None:
        for small in layout.small:
            if os.path.isdir(f"{root}/{small}"):
                spark.read.parquet(
                    f"{root}/{small}"
                ).coalesce(1).write.mode("overwrite").parquet(
                    f"{gen_root}/{small}"
                )
        n_parts = max(1, int(n_cells) * files_per_cell)
        for big in layout.cells:
            if os.path.isdir(f"{root}/{big}"):
                df = spark.read.parquet(f"{root}/{big}")
                id_c = df.columns[0]  # id column leads the layouts
                tomb = read_tombstones(spark, root, id_c, layout.tombstones)
                if tomb is not None:
                    # physical reclaim: tombstoned rows never reach
                    # the new generation, whose tombstone set starts
                    # clean (the artifact is deliberately not
                    # copied — it is not a small artifact)
                    df = df.join(tomb, id_c, "left_anti")
                split = F.pmod(F.hash(F.col(id_c)), files_per_cell)
                df.withColumn("_fsplit", split).repartition(
                    n_parts, "cell", "_fsplit"
                ).drop("_fsplit").write.mode("overwrite").partitionBy(
                    "cell"
                ).parquet(f"{gen_root}/{big}")

    promoted = promote_generation(spark, path, write, keep_generations)
    gen_root = os.path.join(path, promoted["generation"])
    return {
        **promoted,
        "previous_root": root,
        "files_before": files_before,
        "files_after": _nfiles(f"{gen_root}/{counted}"),
        "rows_before": int(rows_before),
        "rows_after": int(
            spark.read.parquet(f"{gen_root}/{counted}").count()
        ),
    }


def write_current(path: str, generation: str) -> None:
    """Atomic pointer promotion: the new generation is fully written
    BEFORE this single rename, so a reader resolving CURRENT sees
    either the old complete index or the new complete one. The pointer
    document also carries the PROMOTION HISTORY (prior roots, oldest
    first) — retention decisions key off what was actually promoted,
    never off directory listings, so a crashed writer's partial
    generation dir can neither count toward retention nor displace the
    root in-flight readers were promised."""
    _write_current_doc(
        path, {"generation": generation, "history": promoted_roots(path)}
    )


def resolve_root(path: str) -> str:
    """Directory holding the index artifacts for the CURRENT
    generation: ``path/<generation>``. A directory without a pointer is
    its own root — that is what a reader pinned to ``path/g<N>`` holds
    (and what a writer's existence check reports as missing)."""
    gen = read_current(path)
    return os.path.join(path, gen) if gen else path


def next_generation(path: str) -> str:
    gens = generations(path)
    return f"g{(int(gens[-1][1:]) if gens else 0) + 1:06d}"


def write_driver_rows(spark, path: str, rows, arrow_schema) -> None:
    """Persist a tiny DRIVER-LOCAL table (coarse centroids, codebooks —
    k×dim doubles, already in driver memory) as one parquet file under
    ``path`` without a Spark job.

    ``createDataFrame(rows).coalesce(1).write.parquet`` moves <1 KB
    through a full createDataFrame conversion, a scheduled job and the
    output-commit protocol — measured 1.5-3 s per artifact on the
    bench box, ×2-3 per index build (guide §5: the driver should do
    almost no data work, and THIS data is already on the driver).
    pyarrow writes the identical bytes in milliseconds; readers
    (``spark.read.parquet`` on the directory) see the same schema —
    pinned here by the explicit arrow schema, int32/float64 exactly as
    the old DDL strings declared. Overwrite semantics; the path is
    refreshed so a session that read a previous build's artifact at
    the same path cannot serve a stale file listing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path)
    cols = list(zip(*rows)) if rows else [[] for _ in arrow_schema]
    table = pa.Table.from_arrays(
        [
            pa.array(list(col), type=field.type)
            for col, field in zip(cols, arrow_schema)
        ],
        schema=pa.schema(arrow_schema),
    )
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    spark.catalog.refreshByPath(path)


#: Hard bound on rows write_small_frame will collect to the driver.
#: Callers pass provably-bounded frames (k centroids, per-cell stats);
#: the cap makes that contract mechanical — an unbounded frame fails
#: fast instead of OOMing the driver (guide §5).
SMALL_FRAME_ROW_CAP = 100_000


def write_small_frame(
    spark, df, path: str, row_cap: int = SMALL_FRAME_ROW_CAP
) -> None:
    """Materialize a SMALL DataFrame (bounded rows — centroid tables,
    per-cell stats) to ``path`` as one parquet file via collect +
    ``write_driver_rows``, skipping the write job's commit protocol
    (~1 s/artifact on the bench box). The arrow schema is derived
    from the frame's Spark schema so readers see identical types; an
    unmapped type falls back to the plain Spark write. The collect is
    bounded by ``row_cap`` (limit(cap+1) probe — below the cap the
    returned rows and their partition-major order are identical to a
    plain collect); an over-cap frame raises instead of collecting."""
    from pyspark.sql import types as T

    import pyarrow as pa

    def _arrow(dt):
        if isinstance(dt, T.IntegerType):
            return pa.int32()
        if isinstance(dt, T.LongType):
            return pa.int64()
        if isinstance(dt, T.DoubleType):
            return pa.float64()
        if isinstance(dt, T.FloatType):
            return pa.float32()
        if isinstance(dt, T.StringType):
            return pa.string()
        if isinstance(dt, T.ArrayType):
            inner = _arrow(dt.elementType)
            return pa.list_(inner) if inner is not None else None
        return None

    fields = [(f.name, _arrow(f.dataType)) for f in df.schema.fields]
    if any(t is None for _, t in fields):
        df.coalesce(1).write.mode("overwrite").parquet(path)
        spark.catalog.refreshByPath(path)
        return
    rows = [tuple(r) for r in df.limit(row_cap + 1).collect()]
    if len(rows) > row_cap:
        raise ValueError(
            f"write_small_frame: frame exceeds {row_cap} rows —"
            " not a bounded artifact; use a distributed Spark write"
        )
    write_driver_rows(
        spark, path, rows, [pa.field(n, t) for n, t in fields]
    )


def gc_generations(path: str, keep: int) -> list[str]:
    """Reclaim PROMOTED roots older than the newest ``keep``, plus any
    never-promoted generation directory — the debris of a writer that
    crashed between building ``path/g<N>`` and promoting the pointer.
    Retention candidates come from the promotion history in CURRENT,
    never from directory listings: counting an orphan toward retention
    would GC the root in-flight readers are actually pinned to while
    "retaining" unreadable junk. Runs only inside
    ``promote_generation``, under the maintenance lock, so an
    unpromoted dir can never be a concurrent write in progress.
    Returns what was removed (``"gNNNNNN (unpromoted)"`` for orphans).
    ``keep`` must be >= 1: keep=0 would delete the just-promoted
    CURRENT generation itself, leaving a dangling pointer — never a
    valid request."""
    if keep < 1:
        raise ValueError(
            f"keep={keep}: retention must keep at least the CURRENT"
            " generation"
        )
    promoted = promoted_roots(path)
    removed: list[str] = []
    for g in generations(path):
        if g not in promoted:
            shutil.rmtree(os.path.join(path, g))
            removed.append(f"{g} (unpromoted)")
    live = [r for r in promoted if os.path.isdir(os.path.join(path, r))]
    for r in live[:-keep]:
        shutil.rmtree(os.path.join(path, r))
        removed.append(r)
    # prune the promotion record to roots that still exist: history
    # otherwise grows by one entry per promotion FOREVER (a per-hour
    # compaction cadence accretes thousands of dead names that every
    # writer re-reads and this function re-stats). GC runs under the
    # writer lock, so rewriting the doc here is safe; the pointer
    # itself is untouched.
    if removed:
        doc = _read_current_doc(path)
        _write_current_doc(
            path,
            {
                "generation": doc["generation"],
                "history": [
                    r for r in doc["history"]
                    if os.path.isdir(os.path.join(path, r))
                ],
            },
        )
    return removed


def read_tombstones(
    spark, root: str, id_col: str, artifact: str = "tombstones", id_type=None
):
    """Distinct tombstoned ids recorded on a generation root, or None
    if the root has none — the shared read half of the takedown
    discipline (every index family uses it, so a semantics fix lands
    once). Tombstone volume is bounded by takedown
    traffic, orders of magnitude below corpus size. ``id_type`` (the
    stored id's Spark type, which ``write_tombstones`` casts to) pins
    the read schema, so the scan starts no schema-inference job."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    d = os.path.join(root, artifact)
    if not os.path.isdir(d):
        return None
    reader = spark.read
    if id_type is not None:
        reader = reader.schema(T.StructType([T.StructField(id_col, id_type)]))
    return reader.parquet(d).select(F.col(id_col)).distinct()


@dataclasses.dataclass(frozen=True)
class IndexHandle:
    """What one generation of a persisted index never changes, resolved
    once and shared by every request against it (``index_handle``):
    the stored schemas each artifact is scanned with, and ``extra``, the
    family's small state (the IVF centroid literal, the IVF-PQ coarse
    centroids and codebooks, BM25's bucket count). Tombstones and file listings are NOT held: appends and
    deletes change them within a generation, so every scan lists and
    every tombstone read runs fresh."""

    root: str
    identity: tuple
    schemas: dict
    extra: dict

    def scan(self, spark, artifact: str):
        """The artifact read with its pinned schema: no inference job,
        and the file listing is taken fresh."""
        return spark.read.schema(self.schemas[artifact]).parquet(
            os.path.join(self.root, artifact)
        )

    def tombstones(self, spark, id_col: str, schema_src: str,
                   artifact: str = "tombstones"):
        return read_tombstones(
            spark, self.root, id_col, artifact,
            id_type=self.schemas[schema_src][id_col].dataType,
        )


_HANDLES: dict[str, IndexHandle] = {}
_HANDLES_LOCK = threading.Lock()


def _generation_identity(spark, root: str, small_artifacts) -> tuple:
    """The live session plus the root and its small artifacts' part
    files (name, mtime): a promotion to a new root, or any rewrite of
    those files, changes it. The session is part of it
    because a handle holds JVM-side literals that die with their
    SparkContext."""

    def parts(d: str):
        try:
            return tuple(
                sorted(
                    (e.name, e.stat().st_mtime_ns)
                    for e in os.scandir(d)
                    if e.name.endswith(".parquet")
                )
            )
        except FileNotFoundError:  # absent, or rewritten while listed
            return None

    return (
        spark.sparkContext.applicationId,
        root,
        tuple(parts(os.path.join(root, a)) for a in small_artifacts),
    )


def index_handle(spark, path: str, small_artifacts, load) -> IndexHandle:
    """The handle of ``path``'s CURRENT generation. Resolves the pointer
    (one file read) and compares the generation identity with the one
    cached entry for ``path``; only on a miss does ``load(spark, root)``
    -> (schemas, extra) read anything. Builds, compactions and retrains
    call this right after they write, so the first request after them
    hits. One entry per index path: a new generation replaces the old
    one's entry. Loads run outside the lock (a rare duplicate load is
    harmless: both produce the same handle)."""
    root = resolve_root(path)
    identity = _generation_identity(spark, root, small_artifacts)
    key = os.path.abspath(path)
    with _HANDLES_LOCK:
        handle = _HANDLES.get(key)
    if handle is not None and handle.identity == identity:
        return handle
    schemas, extra = load(spark, root)
    handle = IndexHandle(root, identity, schemas, extra)
    with _HANDLES_LOCK:
        _HANDLES[key] = handle
    return handle


def local_relation(spark, df):
    """``df`` executed once and held on the driver as a local relation
    (an Arrow collect, then ``createDataFrame`` of the Arrow table).
    A caller's ``createDataFrame`` batch is a Python-RDD scan Catalyst
    can neither size nor fold, and every plan branch that reads it runs
    it again; over a local relation, projections fold at optimization
    (a collect of one runs no job) and joins are sized from the rows.
    For request-sized frames only: the rows travel to the driver."""
    return spark.createDataFrame(df.toArrow())


def local_rows(spark, rows, schema):
    """Driver-side ``rows`` (tuples in ``schema``'s column order) as a
    local relation, through Arrow — not the Python-RDD scan a list
    ``createDataFrame`` makes."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
    table = pa.table(
        {f.name: list(c) for f, c in zip(schema.fields, cols)}
    )
    return spark.createDataFrame(table, schema)


def write_tombstones(
    spark,
    root: str,
    ids,
    id_col: str,
    schema_src: str,
    artifact: str = "tombstones",
) -> int:
    """Append ``ids`` (a DataFrame carrying ``id_col`` or a plain
    iterable) to the root's tombstone set, cast to the stored id type
    read from the ``schema_src`` artifact (hash/type-sensitivity: the
    recorded type is what downstream joins and hashes must see).
    Returns the distinct size of the tombstone SET after the write
    (ids never present in the index still count here — intersection
    against live rows is the staleness probe's job). Called only by
    ``delete_ids``, under the maintenance lock."""
    from pyspark.sql import DataFrame as _DF
    from pyspark.sql import functions as F

    id_type = spark.read.parquet(os.path.join(root, schema_src)).schema[
        id_col
    ].dataType.simpleString()
    if isinstance(ids, _DF):
        tdf = ids.select(F.col(id_col).cast(id_type))
    else:
        tdf = spark.createDataFrame(
            [(x,) for x in ids], f"`{id_col}` {id_type}"
        )
    d = os.path.join(root, artifact)
    tdf.distinct().coalesce(1).write.mode("append").parquet(d)
    spark.catalog.refreshByPath(d)
    return int(read_tombstones(spark, root, id_col, artifact).count())


def delete_ids(
    spark,
    path: str,
    ids,
    id_col: str,
    layout: IndexLayout,
    lock_timeout_s: float = 600.0,
) -> dict:
    """The one tombstone delete every index family runs: record ``ids``
    as tombstones of the CURRENT root (O(|ids|) — the stored index is
    read only for its id type). The index must exist BEFORE the lock is
    taken; under the lock the root is re-resolved, so a promotion
    between the check and the lock cannot land the tombstones on a
    superseded root that its GC would then reclaim. Returns ``{root,
    n_tombstones}`` (the distinct size of the tombstone SET)."""
    layout.root(path, "delete from")
    with maintenance_lock(
        path, lock_timeout_s, operation=f"{layout.name}-delete"
    ):
        root = layout.root(path, "delete from")
        n = write_tombstones(
            spark, root, ids, id_col, layout.ids, layout.tombstones
        )
    return {"root": root, "n_tombstones": n}


def check_payload_names(
    payload_cols, reserved: set[str], index_kind: str
) -> None:
    """Shared build-time guard for FILTERED-search payload columns
    (IVF and IVF-PQ both store caller metadata alongside the index
    rows): a payload whose name collides with the index's own
    layout/serve columns would pass the build and then make the index
    unservable (or silently shadow a serve-side column) — fail at
    build instead. ``reserved`` is the full set of names the index
    family attaches to payload-carrying frames at ANY lifecycle point
    (build, sidecar, serve, retrain)."""
    if isinstance(payload_cols, str):
        # payload_cols="src" would iterate as characters and surface
        # later as a baffling per-letter column-not-found — fail here
        raise TypeError(
            f"payload_cols must be a sequence of column names, got the"
            f" string {payload_cols!r} — pass ({payload_cols!r},)"
        )
    bad = [c for c in payload_cols if c in reserved]
    if bad:
        raise ValueError(
            f"payload column(s) {bad} collide with the {index_kind}"
            " index's reserved layout/serve names — rename them"
            " upstream (serves with a custom query id column must also"
            " avoid naming it after a payload column)"
        )


def stored_payload_cols(schema, layout: set[str]) -> tuple[str, ...]:
    """Payload columns of a stored index table: everything beyond the
    family's own ``layout`` columns of its stored ``schema`` — so
    appends and retrains are SELF-DESCRIBING (no caller-supplied
    repeat of the build's ``payload_cols``, and no way to drift from
    it). Shared by the IVF, IVF-PQ and BM25 filtered-search
    lifecycles."""
    return tuple(f.name for f in schema.fields if f.name not in layout)


def apply_where(df, where, root: str, payloads: tuple[str, ...]):
    """Apply a filtered-search ``where=`` predicate to a stored index
    scan, failing LOUDLY when it doesn't resolve — the serve-side twin
    of the build/append guards (``check_payload_names`` /
    ``require_payloads``): a predicate naming a column the index never
    stored (typically an index built WITHOUT ``payload_cols``) would
    otherwise surface as an opaque unresolved-column AnalysisException
    deep in the serve. Shared by the IVF and IVF-PQ serves so the
    error contract cannot drift between families. A string predicate
    with a SQL syntax error still raises at ``F.expr`` parse time —
    before this guard — with the parser's own message, and analysis
    failures that are NOT missing columns (type mismatches, unknown
    functions) re-raise untouched: rebranding those as a payload-cols
    problem would send the operator to rebuild an index that already
    stores the column."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    cond = F.expr(where) if isinstance(where, str) else where
    try:
        # DataFrame analysis is eager: an unresolved column in the
        # predicate raises HERE, not at the action
        return df.filter(cond)
    except AnalysisException as e:
        cls = ""
        getter = getattr(e, "getErrorClass", None)
        if callable(getter):
            cls = getter() or ""
        if (
            "UNRESOLVED_COLUMN" not in cls
            and "UNRESOLVED_COLUMN" not in str(e)
        ):
            raise
        stored = (
            ", ".join(repr(c) for c in payloads)
            if payloads
            else "(none — the index was built without payload_cols)"
        )
        raise ValueError(
            f"where= predicate {where!r} does not resolve against the"
            f" stored index at {root} — stored payload column(s):"
            f" {stored}. Filtered search requires the index to be"
            " built with payload_cols naming every column the"
            " predicate references."
        ) from e


def escalate_probes(order, counts, query_id: str, nprobe: int,
                    min_candidates: int):
    """Selectivity-aware probe escalation, shared by the IVF and
    IVF-PQ filtered serves: given each query's FULL probe order
    (``order``: query_id, _rnk, cell[, extra cols], rank 1 = nearest
    cell) and the per-cell LIVE candidate counts under the serve's
    predicate (``counts``: cell, _n — tombstones already excluded),
    keep each query's shortest probe prefix whose cumulative candidate
    pool reaches ``min_candidates``, floored at ``nprobe`` (adaptive
    is never narrower than the fixed default) and capped at the full
    cell list (a predicate sharper than the whole corpus can satisfy
    degrades to probing everything — the correct answer set, loudly
    visible in serve stats rather than silently empty).

    Rank r is kept iff r <= nprobe OR the pool BEFORE r (cum - n) has
    not yet reached the target — exactly "smallest prefix reaching the
    target", with no second window pass. The cumulative sum is one
    window over <= n_cells rows per query; ``counts`` is n_cells rows
    and broadcast. Deterministic and SQL-expressible, so the DuckDB
    oracles replay it exactly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if min_candidates < 1:
        raise ValueError(
            f"min_candidates={min_candidates}: must be >= 1"
        )
    w = Window.partitionBy(query_id).orderBy("_rnk")
    cum = (
        order.join(F.broadcast(counts), "cell", "left")
        .withColumn("_n", F.coalesce("_n", F.lit(0)))
        .withColumn("_cum", F.sum("_n").over(w))
    )
    return cum.filter(
        (F.col("_rnk") <= nprobe)
        | ((F.col("_cum") - F.col("_n")) < min_candidates)
    ).drop("_n", "_cum", "_rnk")


def require_payloads(batch_cols, payloads, root: str, table: str) -> None:
    """Append-time guard: a batch missing a stored payload column
    would land NULL payloads that silently drop out of every filtered
    serve — raise instead (shared by both index families)."""
    missing = [c for c in payloads if c not in batch_cols]
    if missing:
        raise ValueError(
            f"append batch is missing payload column(s) {missing}"
            f" stored in {root}/{table} — every batch must carry the"
            " payloads the index was built with"
        )


def staleness_counts(
    meta: dict[int, tuple[int, float]], now: dict[int, int]
) -> dict:
    """Counts arithmetic of the staleness probe (``probe_cells``):
    per-cell growth vs the build-time baseline ``meta`` (cell ->
    (n_at_train, stat)) and current sizes ``now`` (cell -> n)."""
    n_train = sum(n for n, _ in meta.values())
    n_now = sum(now.values())
    growth = {
        c: now.get(c, 0) / max(meta.get(c, (1, 0.0))[0], 1) for c in now
    }
    return {
        "n_train": n_train,
        "n_now": n_now,
        "size_ratio": n_now / max(n_train, 1),
        "max_cell_growth": max(growth.values(), default=1.0),
        "cell_skew": max(now.values(), default=0)
        / max(n_now / max(len(now), 1), 1e-12),
    }


def weighted_baseline(meta: dict[int, tuple[int, float]]) -> float:
    """Row-weighted mean of the per-cell baseline statistic (the
    build-time quantization error / centroid similarity)."""
    n_train = sum(n for n, _ in meta.values())
    return sum(n * s for n, s in meta.values()) / max(n_train, 1)


def live_tombstones(
    spark, root: str, layout: IndexLayout, id_col: str
) -> tuple[int, int]:
    """(rows of the ``layout.ids`` artifact, tombstoned ids among them)
    — the live-tombstone half of every staleness probe. Only
    tombstones that HIT a stored ``id_col`` value count (a semi-join):
    an org-wide purge list must not inflate this index's ratio into
    pointless reclaims."""
    ids = spark.read.parquet(os.path.join(root, layout.ids))
    tomb = read_tombstones(spark, root, id_col, layout.tombstones)
    n_tomb = (
        int(tomb.join(ids.select(id_col), id_col, "left_semi").count())
        if tomb is not None
        else 0
    )
    return int(ids.count()), n_tomb


@dataclasses.dataclass(frozen=True)
class CellProbe:
    """What ``probe_cells`` read: the shared report, plus the root, the
    ``meta`` baseline (cell -> (n, stat)), the current per-cell counts
    and the id row count a family needs for its own signal."""

    report: dict
    root: str
    meta: dict
    now: dict
    n_ids: int


def probe_cells(
    spark, path: str, layout: IndexLayout, stat: str | None
) -> CellProbe:
    """The staleness probe of the cell-partitioned families (IVF,
    IVF-PQ, BM25): reads the build-time ``meta`` baseline (per-cell row
    count and the family's ``stat`` column), counts rows per cell of
    the counted artifact and the live tombstones, and reports
    ``{generation, n_train, n_now, size_ratio, max_cell_growth,
    cell_skew, n_tombstones, tombstone_ratio}``. Each family adds its
    own signal on top. Read-only; never locks."""
    from pyspark.sql import functions as F

    root = layout.root(path, "probe")
    meta_dir = os.path.join(root, "meta")
    if not os.path.isdir(meta_dir):
        raise ValueError(
            f"no staleness baseline at {meta_dir} — rebuild or retrain"
            " to create one"
        )
    meta = {
        int(r["cell"]): (int(r["n"]), float(r[stat]) if stat else 0.0)
        for r in spark.read.parquet(meta_dir).collect()  # n_cells rows
    }
    now = {
        int(r["cell"]): int(r["n"])
        for r in spark.read.parquet(os.path.join(root, layout.cells[0]))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # n_cells rows
    }
    # the id column leads every stored layout
    id_col = spark.read.parquet(os.path.join(root, layout.ids)).columns[0]
    n_ids, n_tomb = live_tombstones(spark, root, layout, id_col)
    report = {
        "generation": read_current(path) or "",
        **staleness_counts(meta, now),
        "n_tombstones": n_tomb,
        "tombstone_ratio": n_tomb / max(n_ids, 1),
    }
    return CellProbe(report, root, meta, now, n_ids)


def run_policy(
    path: str,
    layout: IndexLayout,
    probe,
    limits,
    act,
    action: str,
    lock_timeout_s: float,
) -> dict:
    """The one-call maintenance policy every family runs: probe ->
    limits -> reasons -> act, all under ONE lock hold, so two
    concurrent runs cannot both trip and promote back-to-back
    generations out from under pinned readers (the second re-probes
    the fresh generation and no-ops). The index must exist before the
    lock is taken.

    ``probe()`` returns the report; ``limits`` is a sequence of
    ``(metric, limit, fmt)`` — a metric above its limit adds the reason
    ``"<metric> <value:fmt> > <limit>"`` (a None metric never trips);
    ``act()`` is the family's locked action, run only when a reason
    was found. Returns the report plus ``{"<action>ed": bool,
    "reasons": [...], "<action>": <act() result or None>}``."""
    layout.root(path, "probe")
    with maintenance_lock(
        path, lock_timeout_s, operation=f"{layout.name}-policy"
    ):
        out = dict(probe())
        reasons = [
            f"{metric} {out[metric]:{fmt}} > {limit}"
            for metric, limit, fmt in limits
            if out[metric] is not None and out[metric] > limit
        ]
        out[f"{action}ed"] = bool(reasons)
        out["reasons"] = reasons
        out[action] = act() if reasons else None
    return out
