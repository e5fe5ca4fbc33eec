"""Persisted IVF-PQ index — train once, serve many, with residual
encoding (the FAISS IndexIVFPQ shape; Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — public paper).

The in-query `embedding_ivfpq_topk` retrains the coarse quantizer and
codebooks on every run and scans the whole code table; this module is
the production serve shape, mirroring the plain-IVF persisted index
(`similarity/cosine.py` build/append/ivf_index_topk):

- ``build_ivfpq_index``: train the coarse k-means (cells), encode each
  vector's RESIDUAL (v - cell centroid) with per-sub-space k-means
  codebooks trained on the residuals, and write three artifacts into
  a fresh generation: ``coarse`` (n_cells tiny rows), ``books`` (m*k
  tiny rows), ``codes`` partitioned BY CELL — vec_id + m code ids, no
  floats.
- ``append_ivfpq_index``: encode a new batch with the EXISTING coarse
  centroids and codebooks (the standard IVF maintenance trade: fast
  appends, slow-cadence retrains) and append to the cell partitions.
  O(new batch); the stored index is never read back.
- ``ivfpq_index_topk``: probe each query's nprobe nearest cells, read
  ONLY those cell directories (static partition filter —
  PartitionFilters in the plan, asserted in tests), score candidates
  by Asymmetric Distance Computation against per-(query, cell)
  residual lookup tables, top-k per query.
- ``ivfpq_index_staleness`` / ``retrain_ivfpq_index``: the index
  maintenance twins of the table OPTIMIZE discipline. Appends encode
  with FROZEN quantizers — correct and O(batch), but as appended data
  drifts off the training distribution, recall silently decays. The
  staleness probe reports per-cell size growth/skew vs the persisted
  build-time ``meta`` and (with the vectors sidecar) quantization-
  error growth; retrain re-trains coarse + codebooks on the CURRENT
  corpus and re-encodes into a NEW GENERATION directory, promoted by
  an atomic ``CURRENT`` pointer rename (readers pin a generation at
  serve start and never observe a half-written index; the previous
  generation is retained for in-flight readers, older ones GC'd).
  ``maybe_retrain_ivfpq_index`` is the one-call policy (probe ->
  thresholds -> retrain, all under the writer lock), and
  ``compact_ivfpq_index`` is the segment-merge half: appends fragment
  cell directories into many small files; compaction rewrites them
  (same quantizers, no k-means) into a new generation.

Residual encoding is the classical recall refinement: within a probed
cell the residuals are centered near zero, so the same codebook budget
quantizes them with far less error than raw vectors — measured as a
graded recall@10 delta (ivfpq vs ivfpq_res) in
``plans/similarity.q_embedding_ann_recall``.

Scale shape: everything collected is bounded (n_cells coarse rows,
m*k codebook rows, <= |queries|*nprobe probed cell ids — the
documented bounded-collect contract); the corpus-sized artifact is the
code table, scanned only at probed cells and carrying bytes, not
floats. ADC scoring is ONE broadcast equi-join on the cell key
against per-(query, cell) m x k LUT rows, scored via fixed-order
element_at lookups (round 10: fused from m per-sub-space joins).

Float discipline: distances quantize round-6 BEFORE every argmin (the
kmeans rule) and the ADC score is a fixed-order sum of m rounded
terms, so the oracle (unrolled coarse + residual sub-space chains in
plans/similarity.py) matches exactly.

Reference scope note: SparkTrends has no ANN surface; engine extension
(SURVEY §2 absent inventory, LLM-pipeline similarity operators).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparktrends_spark.operators.kmeans import (
    assign_clusters,
    dist2_col,
    dist_struct_array,
    kmeans_fit,
    vec_array_literal,
)
from sparktrends_spark.operators.pq import (
    Codebooks,
    _sub,
    adc_lut_array,
    adc_score,
    pq_train,
)
from sparktrends_spark.caching import persist_tracked
from sparktrends_spark.similarity.generations import (
    IndexLayout,
    apply_where,
    index_handle,
    local_relation,
    local_rows,
    maintenance_lock,
    promote_generation,
    resolve_root as resolve_index_root,  # noqa: F401 (public name)
    write_driver_rows,
)

_IVFPQ = IndexLayout(
    name="ivfpq",
    small=("coarse", "books", "meta"),
    cells=("codes", "vectors"),
    ids="codes",
    n_cells_src="coarse",
)


def _cent_array(cents: dict[int, list[float]]) -> F.Column:
    """Literal array-of-arrays indexed by (cell + 1) — the map-side
    centroid lookup (no join touches the corpus). One numpy ``F.lit``
    per cell and content-memoized (``kmeans.vec_array_literal``): the
    per-ELEMENT construction cost at production cell counts was the
    round-12 serve-latency finding."""
    from sparktrends_spark.operators.kmeans import vec_array_literal

    return vec_array_literal(cents)


def _residual(vec_col: str, cell_col: str, cents: dict[int, list[float]]) -> F.Column:
    return F.zip_with(
        F.col(vec_col),
        F.element_at(_cent_array(cents), F.col(cell_col) + 1),
        lambda a, b: a - b,
    )


def _quant_err(books: Codebooks, dim: int, resid_col: str = "_r") -> F.Column:
    """Per-row quantization error: sum over sub-spaces of the round-6
    distance to the NEAREST codebook entry (identical to the ADC
    self-distance of the row's own codes, since encoding is the same
    argmin) — the statistic the staleness probe tracks."""
    m = len(books)
    sub_len = dim // m

    # one transform lambda per sub-space over the constant-folded
    # codebook array (the adc_lut_array shape), not k_codes
    # expression-tree copies. Unary lambda + closure factory on
    # purpose: a two-parameter lambda is pyspark's (element, index)
    # form and would bind the sub-space to the array index column.
    def _sub_min(s: int) -> F.Column:
        return F.array_min(
            F.transform(
                vec_array_literal(books[s]),
                lambda cv: dist2_col(_sub(resid_col, s, sub_len), cv),
            )
        )

    total = None
    for s in range(m):
        d = _sub_min(s)
        total = d if total is None else total + d
    return total


def build_ivfpq_index(
    vectors: DataFrame,
    path: str,
    dim: int,
    n_cells: int = 4,
    m: int = 2,
    k_codes: int = 4,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    store_vectors: bool = False,
    coarse: dict[int, list[float]] | None = None,
    lock_timeout_s: float = 600.0,
    payload_cols: tuple[str, ...] = (),
) -> None:
    """Train and persist the index (see module docstring). Vector
    element type canonicalizes to double on disk-adjacent frames (the
    IVF index lesson); the code table itself carries no vectors.

    ``payload_cols``: metadata columns of ``vectors`` (language,
    source, license class, ...) stored alongside the codes — the
    substrate for FILTERED search (``ivfpq_index_topk(where=...)``):
    a predicate over payloads narrows candidates at the probed-cell
    scan (parquet filter pushdown), before any scoring. Payloads ride
    the vectors sidecar too when ``store_vectors`` is set, so retrain
    re-encodes them into the next generation; appends must carry the
    same columns (checked loudly against the stored schema). Keep
    payloads small (scalars, not text) — the code table's
    bytes-at-rest economy is the index's scale story.

    ``store_vectors``: additionally persist a ``vectors`` sidecar
    (raw vectors, cell-partitioned like the codes) enabling two-stage
    search (``refine_k`` in ``ivfpq_index_topk``) — ADC shortlists on
    bytes, the shortlist re-ranks on exact distances read from ONLY
    the probed cells. The classical IVFPQ+refine storage trade.

    ``coarse``: pre-trained coarse centroids (skips the coarse k-means
    — kmeans_fit is deterministic, so a caller that already trained on
    the same frame passes them instead of paying the training twice;
    the recall audit does).

    Writes a fresh generation and promotes it
    (``generations.promote_generation``), under the index maintenance
    lock like every writer: an overwrite-build is safe for concurrent
    readers — one pinned to the previous generation keeps serving it
    until retention (keep 2) releases it."""
    _check_payload_names(payload_cols, id_col, m)
    spark = vectors.sparkSession
    with maintenance_lock(path, lock_timeout_s, operation="ivfpq-build"):
        promote_generation(
            spark,
            path,
            lambda root: _build_ivfpq_locked(
                vectors, root, dim, n_cells, m, k_codes, iterations,
                id_col, vec_col, store_vectors, coarse, payload_cols,
            ),
            keep=2,
        )
        _ivfpq_handle(spark, path)  # warm: first serve hits


def _check_payload_names(payload_cols, id_col, m) -> None:
    # the full set of names this MODULE attaches to frames that carry
    # payloads at any lifecycle point — build/encode (_v/_r/_s), the
    # sidecar (_cv), serve (the default query id, the LUT and
    # query-vector columns that join the code table, the shortlist
    # rank), and retrain (which re-aliases the sidecar vector to
    # "embedding"). A payload passing build but colliding at serve or
    # retrain would make the index unservable AFTER it was built —
    # the shared guard (generations.check_payload_names, also used by
    # the plain IVF index) exists precisely to fail first.
    from sparktrends_spark.similarity.generations import (
        check_payload_names,
    )

    reserved = {
        id_col, "cell", "_v", "_r", "_s", "_cv",
        "query_id", "_qv", "_rq", "_lut", "_rn",
        "approx_d2", "d2", "rnk", "embedding",
    } | {f"code_{s}" for s in range(m)}
    check_payload_names(payload_cols, reserved, "IVF-PQ")


def _build_ivfpq_locked(
    vectors, path, dim, n_cells, m, k_codes, iterations,
    id_col, vec_col, store_vectors, coarse, payload_cols=(),
) -> None:
    spark = vectors.sparkSession
    emb = vectors.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        *payload_cols,
    )
    cents = coarse
    if cents is None:
        cents, _ = kmeans_fit(
            vectors, k=n_cells, iterations=iterations,
            id_col=id_col, vec_col=vec_col,
        )
    # centroids/codebooks are driver-local (k x dim doubles): write
    # them without a Spark job (see generations.write_driver_rows)
    import pyarrow as pa

    write_driver_rows(
        spark, f"{path}/coarse",
        [(int(c), cents[c]) for c in sorted(cents)],
        [pa.field("cell", pa.int32()),
         pa.field("cvec", pa.list_(pa.float64()))],
    )

    asg = assign_clusters(emb, cents, vec_col="_v", out_col="cell")
    # the residual frame feeds every remaining build phase (two
    # subspace trainers, the code encoding, the quant-err baseline,
    # and the vectors sidecar via asg) — pin it once or each phase
    # re-runs the coarse assignment over the corpus
    resid = persist_tracked(
        asg.withColumn("_r", _residual("_v", "cell", cents))
    )
    books = pq_train(
        resid.select(id_col, F.col("_r").alias("embedding")),
        dim=dim, m=m, k=k_codes, iterations=iterations, id_col=id_col,
    )
    write_driver_rows(
        spark, f"{path}/books",
        [(int(s), int(c), books[s][c])
         for s in sorted(books) for c in sorted(books[s])],
        [pa.field("s", pa.int32()), pa.field("code", pa.int32()),
         pa.field("cvec", pa.list_(pa.float64()))],
    )

    # cluster the (tiny, integer) code rows on the cell id before the
    # partitioned write — one file per cell dir instead of
    # (scan partitions × cells) splinters (guide §6; the upsert-sink
    # lesson); probed-cell serves pay per-file open cost otherwise
    _encode(resid, books, dim, id_col, payload_cols).repartition(
        F.col("cell")
    ).write.mode("overwrite").partitionBy("cell").parquet(f"{path}/codes")
    # build-time staleness baseline: per-cell row count and mean
    # quantization error (n_cells tiny rows — one extra corpus pass,
    # marginal next to the kmeans training scans). Appends encode with
    # frozen quantizers and deliberately do NOT touch this: the
    # staleness probe measures drift AGAINST it.
    resid.select(
        "cell", _quant_err(books, dim).alias("_e")
    ).groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("_e").alias("mean_err"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    if store_vectors:
        # derived from the pinned residual frame (same columns as asg)
        # so the sidecar write reuses the cache instead of re-running
        # the coarse assignment
        resid.select(
            id_col, "cell", F.col("_v").alias("_cv"), *payload_cols
        ).repartition(F.col("cell")).write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(f"{path}/vectors")


def _encode(
    resid: DataFrame,
    books: Codebooks,
    dim: int,
    id_col: str,
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, cell, code_0..code_{m-1}[, payloads]) from a frame
    carrying residuals in ``_r`` and the cell id — map-side
    nearest-code argmin per sub-space (round-6 distances, ties by
    code: the kmeans rule)."""
    m = len(books)
    sub_len = dim // m
    out = resid
    for s in range(m):
        out = assign_clusters(
            out.withColumn("_s", _sub("_r", s, sub_len)),
            books[s],
            vec_col="_s",
            out_col=f"code_{s}",
        ).drop("_s")
    return out.select(
        id_col, "cell", *[f"code_{s}" for s in range(m)], *payload_cols
    )


def _quantizers(root: str):
    """A generation's coarse centroids and PQ codebooks, read on the
    driver by pyarrow (no Spark job) — the float64 values a Spark read
    returns."""
    import pyarrow.parquet as pq

    coarse = pq.read_table(f"{root}/coarse").to_pydict()
    cents = {int(c): v for c, v in zip(coarse["cell"], coarse["cvec"])}
    books: Codebooks = {}
    t = pq.read_table(f"{root}/books").to_pydict()
    for s, c, v in zip(t["s"], t["code"], t["cvec"]):
        books.setdefault(int(s), {})[int(c)] = v
    return cents, books


def _load_ivfpq(spark, root: str):
    """What an IVF-PQ generation never changes: the stored codes (and
    vectors sidecar) schemas — one inference job each, paid here
    instead of per request — and the quantizers."""
    _IVFPQ.root(root, "serve")
    schemas = {
        a: spark.read.parquet(f"{root}/{a}").schema
        for a in _IVFPQ.cells
        if os.path.isdir(f"{root}/{a}")
    }
    cents, books = _quantizers(root)
    return schemas, {"cents": cents, "books": books}


def _ivfpq_handle(spark, path: str):
    return index_handle(spark, path, _IVFPQ.small, _load_ivfpq)


def _ivfpq_payloads(h, id_col: str) -> tuple[str, ...]:
    """Payload columns of the stored code table: everything beyond the
    layout's own (id, cell, code_*) — schema-derived, so appends and
    retrains need no caller-supplied repeat of the build's
    ``payload_cols`` (and cannot drift from it)."""
    from sparktrends_spark.similarity.generations import (
        stored_payload_cols,
    )

    m = len(h.extra["books"])
    layout = {id_col, "cell"} | {f"code_{s}" for s in range(m)}
    return stored_payload_cols(h.schemas["codes"], layout)


def delete_from_ivfpq_index(
    spark,
    path: str,
    ids,
    id_col: str = "vec_id",
    lock_timeout_s: float = 600.0,
) -> dict:
    """Takedown/PII-purge for the persisted index: record ``ids`` as
    TOMBSTONES of the current generation. Serving anti-joins them out
    immediately (a deleted document can never again be returned as a
    neighbor); ``compact_ivfpq_index`` / ``retrain_ivfpq_index``
    physically drop the rows (codes + vectors sidecar) and clear the
    tombstones in the new generation — the same logical-delete-then-
    physical-reclaim split every table format uses, on the same
    generations substrate.

    ``ids``: a DataFrame carrying ``id_col``, or a plain iterable of
    id values. Ids are cast to the index's stored id type (the F.hash
    type-sensitivity lesson applies to any downstream hashing) and
    deduplicated per call; deleting an id absent from the index is a
    no-op by construction. O(|ids|): the stored index is never read.

    Re-inserting a tombstoned id later requires reclaiming it first
    (compact or retrain) — ``append_ivfpq_index`` refuses batches that
    intersect the tombstone set rather than landing rows the serve
    anti-join would silently hide.

    Returns ``{root, n_tombstones}`` — the distinct SIZE OF THE
    TOMBSTONE SET after the write (ids absent from the index still
    count here; the staleness probe reports the live-row intersection
    separately)."""
    from sparktrends_spark.similarity.generations import delete_ids

    return delete_ids(spark, path, ids, id_col, _IVFPQ, lock_timeout_s)


def append_ivfpq_index(
    new_vectors: DataFrame,
    path: str,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lock_timeout_s: float = 600.0,
) -> None:
    """Encode a batch with the index's EXISTING quantizers and append
    to the cell partitions of the CURRENT generation. Batches must be
    id-disjoint from the index (the caller's ingest contract, same as
    the IVF index append). The build-time ``meta`` baseline is
    deliberately untouched — ``ivfpq_index_staleness`` measures how
    far appended data has drifted from it.

    Holds the index maintenance lock for the whole append: an append
    racing a retrain promotion would land its batch in the superseded
    generation and silently lose it at GC (see
    ``generations.maintenance_lock``).

    Payload columns are SELF-DESCRIBING: whatever extra columns the
    stored code table carries (``payload_cols`` at build) must be
    present on the batch — a batch missing them would land NULL
    payloads that silently drop out of every filtered serve, so the
    mismatch raises instead."""
    from sparktrends_spark.similarity.generations import require_payloads

    _IVFPQ.root(path, "append to")
    spark = new_vectors.sparkSession
    with maintenance_lock(path, lock_timeout_s, operation="ivfpq-append"):
        h = _ivfpq_handle(spark, path)
        root, cents, books = h.root, h.extra["cents"], h.extra["books"]
        payloads = _ivfpq_payloads(h, id_col)
        require_payloads(new_vectors.columns, payloads, root, "codes")
        emb = new_vectors.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("_v"),
            *payloads,
        )
        tomb = h.tombstones(spark, id_col, "codes")
        if tomb is not None:
            # a batch re-inserting a tombstoned id would land rows the
            # serve anti-join silently hides forever — refuse loudly;
            # the caller must reclaim (compact/retrain) first. Cost:
            # one batch-vs-tombstones hash join per append, tombstone
            # side bounded by takedown traffic.
            n_bad = emb.join(tomb, id_col).count()
            if n_bad:
                raise ValueError(
                    f"append batch re-inserts {n_bad} tombstoned id(s)"
                    f" of {root} — run compact_ivfpq_index or"
                    " retrain_ivfpq_index to reclaim the deletes, then"
                    " append"
                )
        asg = assign_clusters(emb, cents, vec_col="_v", out_col="cell")
        resid = asg.withColumn("_r", _residual("_v", "cell", cents))
        _encode(resid, books, dim, id_col, payloads).write.mode(
            "append"
        ).partitionBy("cell").parquet(f"{root}/codes")
        spark.catalog.refreshByPath(f"{root}/codes")
        if "vectors" in h.schemas:
            # built with the refinement sidecar: keep it complete
            asg.select(
                id_col, "cell", F.col("_v").alias("_cv"), *payloads
            ).write.mode("append").partitionBy("cell").parquet(
                f"{root}/vectors"
            )
            spark.catalog.refreshByPath(f"{root}/vectors")


def ivfpq_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    dim: int,
    k_neighbors: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    refine_k: int | None = None,
    where: str | Column | None = None,
    min_candidates: int | None = None,
) -> DataFrame:
    """Serve top-k from the persisted index. The probed cell set
    (<= |queries| * nprobe small ints — bounded collect) is applied as
    a STATIC partition filter so the scan opens only probed cell
    directories; candidates are scored by residual-ADC: per
    (query, cell) lookup tables of round-6 sub-space distances between
    the query's residual and each codebook entry, summed in fixed
    order over the m code columns. ``exclude_self`` as in
    ``pq_topk`` (requires a shared id space).

    ``refine_k`` (requires an index built with ``store_vectors=True``):
    two-stage search — ADC shortlists the best ``refine_k`` candidates
    per query on code columns alone, then ONLY those ids re-rank by
    exact round-6 squared L2 against raw vectors read from the probed
    cells of the ``vectors`` sidecar. Output column is the exact
    ``d2`` instead of ``approx_d2``; recall approaches the probed-cell
    ceiling at a per-query vector-read cost of refine_k rows.

    ``where`` (requires an index built with ``payload_cols``):
    FILTERED search — a predicate over the stored payload columns
    (SQL string or Column, e.g. ``"lang = 'en' AND license < 3"``)
    narrows candidates at the probed-cell scan, BEFORE tombstone
    exclusion, ADC scoring, and any refine shortlist. Simple
    comparisons push into the parquet reader (PushedFilters — asserted
    in tests), so a selective filter reduces bytes read, not just rows
    scored. Semantics are the standard IVF filtered-search contract:
    top-k among candidates that satisfy the predicate WITHIN the
    probed cells.

    ``min_candidates``: SELECTIVITY-AWARE probe escalation, the same
    contract as the plain IVF serve (``cosine.ivf_index_topk``): each
    query's probe set expands along its own probe order until the
    LIVE candidate pool under ``where`` (tombstones excluded) reaches
    the target — callers pass a multiple of k — floored at ``nprobe``
    and capped at all cells. The counting pass projects only (cell,
    id, predicate payloads) of the code table — already bytes, not
    floats; the serve then reads only the escalated probe cells. The
    default (None) path is byte-identical to the fixed-nprobe
    serve."""
    from pyspark.sql import Window

    # pin ONE generation for the whole serve: a retrain promoting a
    # new CURRENT mid-query cannot mix quantizer generations (the old
    # generation's directories are retained until GC). The handle
    # holds its quantizers and schemas, filled at build.
    h = _ivfpq_handle(spark, path)
    cents, books = h.extra["cents"], h.extra["books"]
    m = len(books)
    if refine_k is not None and "vectors" not in h.schemas:
        raise ValueError(
            f"refine_k requires the vectors sidecar ({h.root}/vectors"
            " missing) — build with store_vectors=True"
        )

    # the caller's batch is read ONCE, into a local relation: the probe
    # pick, the LUT branch and the refine join all read that
    q = local_relation(
        spark,
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).cast("array<double>").alias("_qv"),
        ),
    )
    # one transform lambda over the constant-folded centroid array, not
    # a per-cell expression tree — at production cell counts the latter
    # made every serve pay seconds of plan analysis (see
    # kmeans.cent_struct_array)
    probe_structs = dist_struct_array(F.col("_qv"), cents)
    tomb = h.tombstones(spark, id_col, "codes")
    if min_candidates is None:
        nearest = F.slice(F.array_sort(probe_structs), 1, nprobe)
        probes = q.select(
            query_id_col, "_qv", F.explode(nearest).alias("_p")
        ).select(query_id_col, "_qv", F.col("_p.c").alias("cell"))
        # a projection Catalyst folds over the local relation: picking
        # the probed cells (<= |queries| * nprobe) runs no job
        cells = {
            c for r in q.select(nearest["c"].alias("_c")).collect()
            for c in r["_c"]
        }
    else:
        from sparktrends_spark.similarity.generations import escalate_probes

        cand = h.scan(spark, "codes")
        if where is not None:
            cand = apply_where(
                cand, where, h.root, _ivfpq_payloads(h, id_col)
            )
        if tomb is not None:
            cand = cand.join(tomb, id_col, "left_anti")
        counts = cand.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
        order = q.select(
            query_id_col,
            F.posexplode(F.array_sort(probe_structs)).alias("_r0", "_p"),
        ).select(
            query_id_col,
            (F.col("_r0") + 1).alias("_rnk"),
            F.col("_p.c").alias("cell"),
        )
        kept = escalate_probes(
            order, counts, query_id_col, nprobe, min_candidates
        )
        # materialize the escalation ONCE (bounded (query_id, cell)
        # rows — vectors deliberately kept out of the collect), then
        # reattach the query vectors for the LUT build: reusing the
        # lazy frame would re-execute the corpus-wide counting scan
        rows = kept.collect()
        probes = local_rows(spark, rows, kept.schema).join(q, query_id_col)
        cells = {r["cell"] for r in rows}  # <= |queries| * n_cells

    cells = sorted(int(c) for c in cells)
    codes = h.scan(spark, "codes").filter(F.col("cell").isin(cells))
    if where is not None:
        # loud serve-side guard: an unresolvable predicate names the
        # stored payloads instead of an opaque AnalysisException
        codes = apply_where(codes, where, h.root, _ivfpq_payloads(h, id_col))
    if tomb is not None:
        # logical deletes: tombstoned ids leave the candidate set
        # BEFORE scoring (and before the refine shortlist), so a
        # deleted document is never served as a neighbor between the
        # delete and its physical reclaim at compact/retrain. Hash
        # anti-join on the id; the tombstone side is takedown-sized,
        # so AQE broadcasts it.
        codes = codes.join(tomb, id_col, "left_anti")

    pr = probes.withColumn("_rq", _residual("_qv", "cell", cents))
    # ONE broadcast LUT row per (query, probed cell): the fused m x k
    # residual sub-distance array (operators/pq.adc_lut_array — the
    # contract-validated helper all three ADC call sites share). A
    # single broadcast equi-join on the cell key replaces the former m
    # per-sub-space joins (m BroadcastExchanges -> 1, plan-asserted);
    # the score is the SAME fixed-order sum of the SAME round-6 terms,
    # now element_at lookups — byte-identical output.
    lut = pr.select(
        query_id_col,
        "cell",
        adc_lut_array(books, dim, "_rq").alias("_lut"),
    )
    scored = codes.join(F.broadcast(lut), "cell")
    if exclude_self:
        scored = scored.where(F.col(id_col) != F.col(query_id_col))
    scored = scored.select(
        query_id_col, id_col, adc_score(m).alias("approx_d2")
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.asc("approx_d2"), F.asc(id_col)
    )
    if refine_k is None:
        return scored.withColumn("rnk", F.row_number().over(w)).where(
            F.col("rnk") <= k_neighbors
        )
    cand = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= refine_k)
        .select(query_id_col, id_col)
    )
    vecs = h.scan(spark, "vectors").filter(
        F.col("cell").isin(cells)
    ).select(id_col, "_cv")
    # exact round-6 L2, identical fold shape to the brute-force ground
    # truth (zip_with(candidate, query) left-to-right)
    d2 = F.round(
        F.aggregate(
            F.zip_with(F.col("_cv"), F.col("_qv"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    rr = (
        cand.join(vecs, id_col)
        .join(q, query_id_col)
        .select(query_id_col, id_col, d2.alias("d2"))
    )
    w2 = Window.partitionBy(query_id_col).orderBy(F.asc("d2"), F.asc(id_col))
    return rr.withColumn("rnk", F.row_number().over(w2)).where(
        F.col("rnk") <= k_neighbors
    )


def ivfpq_index_staleness(
    spark, path: str, check_error: bool = True, strict: bool = False
) -> dict:
    """Cheap maintenance probe: how far has the index drifted from its
    quantizers' training distribution? Appends encode with FROZEN
    coarse centroids and codebooks (correct, O(batch)), so recall
    decays silently as appended data drifts — this is the signal a
    maintainer watches to schedule ``retrain_ivfpq_index``, the same
    role the stats manifest plays for table OPTIMIZE.

    Reads the build-time ``meta`` baseline (per-cell count + mean
    quantization error) and compares:

    - ``size_ratio``: total rows now / at train (growth since train);
    - ``max_cell_growth``: worst per-cell growth factor — appended
      mass concentrating in few cells means the coarse partitioning
      no longer balances the corpus;
    - ``cell_skew``: max/mean of current cell sizes (serve-cost skew:
      probing a hot cell reads disproportionate candidates);
    - ``err_growth`` (``check_error=True``, requires the vectors
      sidecar): mean quantization error of the CURRENT corpus under
      the FROZEN quantizers / mean at train — the direct recall-decay
      proxy. Costs one pass over the sidecar (no joins, no shuffle
      beyond the n_cells-row agg); counts-only probing is
      metadata-cheap. When ``check_error=True`` but the sidecar is
      absent (index built without ``store_vectors``), the err_* fields
      degrade to None: with ``strict=True`` that raises; otherwise it
      emits a ``UserWarning`` so a policy relying on err_growth learns
      it is running size/skew-only protection instead of silently
      losing its most direct signal;
    - ``n_tombstones`` / ``tombstone_ratio``: logical deletes awaiting
      physical reclaim, counted as tombstoned ids PRESENT in the index
      (a takedown feed wider than this shard — ids never indexed here
      — must not inflate the ratio into pointless retrains);
      counts/size_ratio above are PHYSICAL (probe cost scans
      tombstoned rows until compact/retrain drops them), so a growing
      tombstone_ratio is itself a reclaim trigger
      (``max_tombstone_ratio`` in ``maybe_retrain_ivfpq_index``).

    Returns ``{generation, n_train, n_now, size_ratio,
    max_cell_growth, cell_skew, err_train, err_now, err_growth,
    n_tombstones, tombstone_ratio, cells}`` (err_* None when not
    checked)."""
    from sparktrends_spark.similarity.generations import (
        probe_cells,
        weighted_baseline,
    )

    p = probe_cells(spark, path, _IVFPQ, stat="mean_err")
    root, meta, now = p.root, p.meta, p.now
    out = {
        **p.report,
        "err_train": None,
        "err_now": None,
        "err_growth": None,
        "cells": {
            c: {
                "n_train": meta.get(c, (0, None))[0],
                "n_now": now.get(c, 0),
                "err_train": meta.get(c, (0, None))[1],
            }
            for c in sorted(set(meta) | set(now))
        },
    }
    if check_error and not os.path.isdir(f"{root}/vectors"):
        msg = (
            f"ivfpq_index_staleness(check_error=True): {root}/vectors"
            " is absent (index built without store_vectors=True), so"
            " err_train/err_now/err_growth degrade to None — this"
            " probe is providing size/skew-only protection, not the"
            " direct recall-decay signal"
        )
        if strict:
            raise ValueError(msg)
        import warnings

        warnings.warn(msg, UserWarning, stacklevel=2)
    if check_error and os.path.isdir(f"{root}/vectors"):
        cents, books = _quantizers(root)
        dim = len(next(iter(cents.values())))
        resid = (
            spark.read.parquet(f"{root}/vectors")
            .withColumn("_r", _residual("_cv", "cell", cents))
        )
        err_now = resid.agg(
            F.avg(_quant_err(books, dim)).alias("e")
        ).collect()[0]["e"]
        err_train = weighted_baseline(meta)
        out["err_train"] = err_train
        out["err_now"] = float(err_now)
        out["err_growth"] = float(err_now) / max(err_train, 1e-12)
    return out


def retrain_ivfpq_index(
    spark,
    path: str,
    dim: int,
    iterations: int = 3,
    n_cells: int | None = None,
    m: int | None = None,
    k_codes: int | None = None,
    keep_generations: int = 2,
    id_col: str = "vec_id",
    lock_timeout_s: float = 600.0,
) -> dict:
    """Re-train the coarse quantizer and codebooks on the CURRENT
    corpus (read from the vectors sidecar — requires an index built
    with ``store_vectors=True``), re-encode every vector, and promote
    the result as a NEW GENERATION — the index twin of table OPTIMIZE:

    1. train + encode + write into ``path/g<N+1>/`` (an ordinary
       ``build_ivfpq_index`` with the sidecar as corpus — kmeans_fit
       is deterministic and order-independent, so the result is
       bit-identical to a fresh build over the same vectors);
    2. atomically promote via a single ``CURRENT`` pointer rename
       (``generations.promote_generation``): concurrent readers
       resolve either the old complete generation or the new complete
       one, never a mix and never a half-written index;
    3. GC generations older than the newest ``keep_generations``
       (default 2: current + previous, so in-flight readers pinned to
       the pre-promotion generation finish safely — the same retention
       contract as OPTIMIZE's ``_c`` twins).

    Hyper-parameters default to the existing index's (cells / m / k
    read from the artifacts). Holds the index maintenance lock for the
    whole retrain — serializing against concurrent appends, whose
    batches would otherwise land in the superseded generation and be
    silently lost at GC; concurrent READERS are always safe and never
    take the lock. Tombstoned ids (``delete_from_ivfpq_index``) are
    excluded from the retrain corpus — the new generation physically
    contains no trace of them and carries no tombstones artifact.
    Returns ``{generation, previous_root, n_vectors, n_cells, m,
    k_codes, gc_removed}``."""
    _IVFPQ.root(path, "retrain")
    with maintenance_lock(path, lock_timeout_s, operation="ivfpq-retrain"):
        return _retrain_ivfpq_locked(
            spark, path, dim, iterations, n_cells, m, k_codes,
            keep_generations, id_col,
        )


def _retrain_ivfpq_locked(
    spark, path, dim, iterations, n_cells, m, k_codes,
    keep_generations, id_col,
) -> dict:
    from sparktrends_spark.similarity.generations import (
        stored_payload_cols,
    )

    h = _ivfpq_handle(spark, path)
    root = h.root
    if "vectors" not in h.schemas:
        raise ValueError(
            "retrain_ivfpq_index requires the vectors sidecar "
            f"({root}/vectors missing) — build with store_vectors=True"
        )
    old_books = h.extra["books"]
    n_cells = n_cells or len(h.extra["cents"])
    m = m or len(old_books)
    k_codes = k_codes or len(old_books[0])

    # payloads ride the sidecar (build writes them there exactly so a
    # retrain can re-encode them into the next generation)
    payloads = stored_payload_cols(
        h.schemas["vectors"], {id_col, "cell", "_cv"}
    )
    corpus = h.scan(spark, "vectors").select(
        F.col(id_col), F.col("_cv").alias("embedding"), *payloads
    )
    tomb = h.tombstones(spark, id_col, "codes")
    if tomb is not None:
        # physical reclaim of logical deletes: the retrain corpus is
        # the live rows only, so the new generation contains no trace
        # of tombstoned ids and starts with a clean tombstone set
        corpus = corpus.join(tomb, id_col, "left_anti")
    n_vectors = corpus.count()
    promoted = promote_generation(
        spark,
        path,
        lambda gen_root: _build_ivfpq_locked(
            corpus, gen_root, dim, n_cells, m, k_codes, iterations,
            id_col, "embedding", True, None, payloads,
        ),
        keep_generations,
    )
    _ivfpq_handle(spark, path)  # warm: first serve hits
    return {
        **promoted,
        "previous_root": root,
        "n_vectors": int(n_vectors),
        "n_cells": n_cells,
        "m": m,
        "k_codes": k_codes,
    }


def maybe_retrain_ivfpq_index(
    spark,
    path: str,
    dim: int,
    max_err_growth: float = 1.5,
    max_size_ratio: float = 2.0,
    max_cell_skew: float = 4.0,
    max_tombstone_ratio: float = 0.25,
    *,
    lock_timeout_s: float = 600.0,
    iterations: int = 3,
    n_cells: int | None = None,
    m: int | None = None,
    k_codes: int | None = None,
    keep_generations: int = 2,
    id_col: str = "vec_id",
) -> dict:
    """The maintenance POLICY in one call — probe, compare against
    thresholds, retrain only if stale (the cron-job body a deployment
    schedules, mirroring auto-OPTIMIZE policies on table formats; the
    shared ``generations.run_policy``):

    - ``max_err_growth``: quantization error under the frozen
      quantizers vs the build-time baseline (the direct recall-decay
      proxy; requires the vectors sidecar);
    - ``max_size_ratio``: corpus growth since train — even
      same-distribution appends eventually warrant re-balancing cells;
    - ``max_cell_skew``: max/mean cell size — a hot cell makes every
      probe of it disproportionately expensive;
    - ``max_tombstone_ratio``: logically deleted rows / physical rows
      — tombstoned rows still cost probe scan time until a retrain (or
      compact) physically reclaims them.

    The retrain options are keyword-only, so a misspelled one raises
    ``TypeError`` up front, whether or not a threshold trips. Returns
    the staleness report plus ``{"retrained": bool, "reasons": [...],
    "retrain": <retrain result or None>}``. The whole
    probe-decide-retrain sequence runs under ONE lock hold."""
    from sparktrends_spark.similarity.generations import run_policy

    return run_policy(
        path,
        _IVFPQ,
        probe=lambda: ivfpq_index_staleness(spark, path),
        limits=(
            ("err_growth", max_err_growth, ".2f"),
            ("size_ratio", max_size_ratio, ".2f"),
            ("cell_skew", max_cell_skew, ".2f"),
            ("tombstone_ratio", max_tombstone_ratio, ".2f"),
        ),
        act=lambda: _retrain_ivfpq_locked(
            spark, path, dim, iterations, n_cells, m, k_codes,
            keep_generations, id_col,
        ),
        action="retrain",
        lock_timeout_s=lock_timeout_s,
    )


def compact_ivfpq_index(
    spark,
    path: str,
    files_per_cell: int = 1,
    keep_generations: int = 2,
    lock_timeout_s: float = 600.0,
) -> dict:
    """Small-files maintenance for the persisted index — the segment-
    merge half of the lifecycle (retrain is the re-quantize half):
    every append lands at least one new parquet file per touched cell,
    so a streaming ingest fragments cell directories until probe-read
    cost is dominated by file opens. Compaction rewrites the
    cell-partitioned artifacts (codes + the vectors sidecar when
    present) into AT MOST ``files_per_cell`` files per cell WITH THE
    SAME quantizers — no k-means, one parallel read+write — into a NEW
    GENERATION, promoted by the same atomic CURRENT rename as retrain:
    readers pinned to the old generation finish safely, LIVE values
    are untouched (serve results are identical by construction).
    Tombstoned ids (``delete_from_ivfpq_index``) are physically
    dropped during the rewrite and the new generation carries no
    tombstones artifact — compaction is the cheap reclaim path for
    takedowns (no re-quantization), retrain the expensive one. Holds
    the maintenance lock like every writer.

    Parallelism: the rewrite shuffles on (cell, id-hash split) into
    n_cells * files_per_cell partitions, so the write runs one task
    per target file — never a single-task funnel. A task may receive
    two splits of the same cell (hash collision), which merely merges
    them into one file; the per-cell file count is in
    [1, files_per_cell].

    Returns ``{generation, previous_root, files_before, files_after,
    rows_before, rows_after, gc_removed}`` (file/row counts for the
    codes table; rows_before - rows_after = tombstoned rows
    reclaimed). Implementation: the shared ``generations.
    compact_cells`` given this index's layout."""
    from sparktrends_spark.similarity.generations import compact_cells

    out = compact_cells(
        spark, path, _IVFPQ, files_per_cell, keep_generations,
        lock_timeout_s,
    )
    _ivfpq_handle(spark, path)  # warm: first serve hits
    return out
