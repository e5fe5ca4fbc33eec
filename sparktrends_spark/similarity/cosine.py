"""Embedding similarity search (north-star surface).

Brute-force cosine top-k as the exact baseline, and a deterministic
random-hyperplane LSH bucketing as the scale path (IVF-style: restrict
candidate comparison to same-bucket vectors).

All arithmetic uses built-in higher-order functions
(``zip_with``/``aggregate``) — JVM-side, no Python in the inner loop.
At 100 TB the brute-force path is a broadcast of the (small) query set
against a partitioned candidate scan: no shuffle of the big side at
all; the LSH path additionally prunes the candidate scan by bucket.

Determinism: hyperplanes are ±1 vectors derived from md5 parity (see
``hyperplanes``) so any engine with md5 — including the DuckDB oracle —
builds the identical planes; cosines are rounded before ranking so
top-k boundaries can't flip between engines on 1e-12 noise.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparktrends_spark.caching import persist_tracked
from sparktrends_spark.similarity.generations import IndexLayout


def dot(a: Column | str, b: Column | str) -> Column:
    # String args (column names) build the identical tree through one
    # SQL parse — each HOF lambda otherwise costs ~15 ms of py4j round
    # trips, and similarity builders call dot/norm dozens of times.
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(f"`{a}`", f"`{b}`"))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pair_cosine_by_id(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    right: tuple[DataFrame, str] | None = None,
):
    """Build an Arrow-vectorized ``cosine(id_a, id_b)`` that looks vectors
    up in a closure-held numpy matrix instead of shipping them per pair.

    The dominant cost of a verify stage is NOT the flops — it is moving
    2 x dim doubles per candidate pair through the exchange and the
    Arrow boundary (~1 KB/pair at dim=64; measured 264 MB for 258k
    pairs). Holding the corpus once per python worker and transferring
    only (id_a, id_b) cuts that to 16 bytes/pair.

    Same memory contract as ``F.broadcast(vectors)`` in the join-based
    verify: the vector table must fit on one node. Past that, callers
    use the join path (``neardup_pairs(verify="join")``) — still never
    all-pairs. Accumulation is sequential over dims, so results are
    bit-identical to the HOF fold and DuckDB's ``list_dot_product``.

    ``right=(df, id)`` gives the b-side its own matrix (e.g. queries vs
    candidates); by default both sides look up the same corpus.

    Returns the UNROUNDED cosine (dot and norms in numpy, division in
    IEEE order) — callers round JVM-side with ``F.round`` so the
    BigDecimal HALF_UP semantics both engines share are preserved
    (a floating ``floor(x*1e6+0.5)`` re-implementation would diverge
    from BigDecimal on values like 0.1234565 whose binary form sits
    just below the decimal tie).
    """
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    def load(df: DataFrame, ident: str):
        rows = df.select(ident, vec_col).collect()
        mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
        # Per-row norm, sequential over dims — same accumulation order
        # as the HOF fold / DuckDB.
        sq = np.zeros(mat.shape[0], dtype=np.float64)
        for d in range(mat.shape[1]):
            sq += mat[:, d] * mat[:, d]
        return mat, np.sqrt(sq), {r[0]: j for j, r in enumerate(rows)}

    mat_a, norm_a, idx_a = load(vectors, id_col)
    mat_b, norm_b, idx_b = (
        (mat_a, norm_a, idx_a) if right is None else load(*right)
    )

    @pandas_udf("double")
    def _cos_by_id(a, b):
        import pandas as pd

        if len(a) == 0:
            return pd.Series(np.zeros(0, dtype=np.float64))
        ia = [idx_a[x] for x in a]
        ib = [idx_b[x] for x in b]
        A = mat_a[ia]
        B = mat_b[ib]
        acc = np.zeros(A.shape[0], dtype=np.float64)
        for d in range(A.shape[1]):
            acc += A[:, d] * B[:, d]
        return pd.Series(acc / (norm_a[ia] * norm_b[ib]))

    return _cos_by_id


def norm(a: Column | str) -> Column:
    if isinstance(a, str):
        return F.expr(
            f"sqrt(aggregate(`{a}`, 0.0D, (acc, v) -> acc"
            f" + cast(v as double) * cast(v as double)))"
        )
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def hyperplanes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 parity.

    plane[p][d] = +1 if the first hex digit of md5(f"{p},{d}") is even
    else -1. Reproducible in SQL: md5 is md5 everywhere.
    """
    planes: list[list[float]] = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            digit = hashlib.md5(f"{p},{d}".encode()).hexdigest()[0]
            row.append(1.0 if digit in "02468ace" else -1.0)
        planes.append(row)
    return planes


def _dot_sql(a: str, b: str) -> str:
    """SQL text of ``dot(a, b)`` — the identical expression tree built
    through one ``F.expr`` parse instead of hundreds of py4j calls
    (measured ~0.7 s of driver latency per 8-plane bucketing build)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double)"
        f" * cast(y as double)), 0.0D, (acc, v) -> acc + v)"
    )


def lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket string, one bit per hyperplane ('1' = dot >= 0).

    Pass the column NAME (not a Column) to build the whole expression
    through a single SQL parse — same Catalyst tree, ~100x fewer py4j
    round trips for plane counts x dims in the hundreds.
    """
    if isinstance(vec, str):
        bits_sql = [
            "CASE WHEN "
            + _dot_sql(
                f"`{vec}`",
                "array(" + ",".join(f"{x:.1f}D" for x in plane) + ")",
            )
            + " >= 0 THEN '1' ELSE '0' END"
            for plane in planes
        ]
        return F.expr("concat(" + ", ".join(bits_sql) + ")")
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(x) for x in plane])) >= 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    exclude_label_col: str | None = None,
) -> DataFrame:
    """Exact top-k by cosine: broadcast queries x scan candidates.

    Ties on the rounded cosine break by candidate id ascending.
    ``exclude_label_col``: when set, both frames must carry that
    column and pairs sharing its value are dropped BEFORE ranking —
    hard-negative mining (nearest neighbors from a *different* class,
    the contrastive-training counterexample harvest).

    Filtered search needs no serve-side ``where=`` here (unlike the
    persisted IVF/IVF-PQ indexes): the candidate side is a caller
    DataFrame, so pre-filtering it (``candidates.filter(...)``) IS
    the filtered-search contract — the rank runs after the filter and
    still returns k rows. The in-plan ``lsh_topk`` works the same
    way. The persisted indexes need the explicit parameter only
    because their candidate set comes off disk inside the serve."""
    from pyspark.sql import Window

    # Norms are per-vector (O(n+q)) — precomputed once instead of twice
    # per pair; the dot stays a JVM HOF: at brute-force pair counts the
    # closure UDF's fixed costs (corpus collect + per-task closure
    # shipping) exceed the interpreted-fold savings (measured).
    q = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("_qvec"),
        norm(vec_col).alias("_nq"),
        *(
            [F.col(exclude_label_col).alias("_qlabel")]
            if exclude_label_col
            else []
        ),
    )
    c = candidates.select(
        F.col(cand_id),
        F.col(vec_col).alias("_cvec"),
        norm(vec_col).alias("_nc"),
        *(
            [F.col(exclude_label_col).alias("_clabel")]
            if exclude_label_col
            else []
        ),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col(cand_id) != F.col(query_id)
    )
    if exclude_label_col:
        pairs = pairs.filter(F.col("_qlabel") != F.col("_clabel"))
    scored = (
        pairs.withColumn(
            "cosine",
            F.round(
                dot("_qvec", "_cvec")
                / (F.col("_nq") * F.col("_nc")),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(cand_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, cand_id, "cosine", "rnk")
    )


def neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.35,
    num_planes: int = 4,
    num_tables: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    verify: str = "join",
    closure_source: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine >= threshold).

    Candidate generation is LSH-bucketed (OR over ``num_tables`` sign-bit
    tables), then candidates are verified with the exact cosine — the
    embedding analogue of MinHash-LSH text dedup (text/dedup.py). Recall
    is 1-(1-p^planes)^tables for per-plane collision p = 1 - theta/pi;
    the oracle builds identical buckets so results match exactly.

    Scale: the self-join is keyed on (table, bucket) — a shuffle on
    bucket id instead of an O(n^2) cross join; skewed buckets are split
    by AQE. Verification cost is proportional to candidate pairs only.

    OR-amplification dedup uses first-collision-wins instead of a
    global DISTINCT: table t emits a pair iff the two ids collide in t
    and in NO earlier table (equi-join on bucket_t with
    earlier-buckets-differ post-filters, unioned over tables). The
    emitted pair set is identical to DISTINCT-over-all-tables, but
    dedup happens inside each bucket-keyed join — no exchange of the
    candidate-pair set, which at 100 TB is the largest frame in the
    query. It also lets the join carry vectors+norms directly (hash-
    table lookup), skipping the two attach-by-id joins the DISTINCT
    path needs because payloads must never shuffle through a distinct.

    ``verify="join"`` (default) scores that joined frame with the JVM
    HOF dot — measured fastest at sf0.1 (the plan is overhead-bound,
    not flops-bound). ``verify="closure"`` scores ids-only candidates
    with ``pair_cosine_by_id`` — Arrow transfer of 16 bytes/pair,
    corpus held once per python worker; it wins when candidate pairs >>
    corpus size (millions of pairs per bucket at 100 TB). Both produce
    bit-identical cosines.
    """
    from sparktrends_spark.operators.pairs import (
        KEY_PREFIX,
        first_collision_pairs,
    )

    all_planes = hyperplanes(num_tables * num_planes, dim)
    tables = [
        all_planes[t * num_planes : (t + 1) * num_planes]
        for t in range(num_tables)
    ]
    carry_vectors = verify != "closure"
    base_cols = [
        F.col(id_col),
        *[
            lsh_bucket(vec_col, planes).alias(f"{KEY_PREFIX}{t}")
            for t, planes in enumerate(tables)
        ],
    ]
    if carry_vectors:
        # Norms precomputed once per vector (O(corpus)) instead of
        # twice per pair; evaluation order of dot/norm/divide is
        # unchanged, so cosines stay bitwise-identical.
        base_cols += [
            F.col(vec_col).alias("_v"),
            norm(vec_col).alias("_n"),
        ]
    # Persist the bucketed corpus: every per-table self-join references
    # it twice, and without pinning the hyperplane bucketing scan would
    # re-execute per branch (no common-subplan reuse across self-join
    # branches outside identical exchanges). One row per vector — never
    # exploded per table.
    base = persist_tracked(vectors.select(*base_cols))
    carry = (
        [("_v", "_va", "_vb"), ("_n", "_na", "_nb")] if carry_vectors else []
    )
    cands = first_collision_pairs(
        base, num_tables, id_col=id_col, out_ids=("id_a", "id_b"), carry=carry
    )
    if verify == "closure":
        cos_by_id = pair_cosine_by_id(
            closure_source if closure_source is not None else vectors,
            id_col,
            vec_col,
        )
        cos = cos_by_id(F.col("id_a"), F.col("id_b"))
    else:
        cos = dot("_va", "_vb") / (
            F.col("_na") * F.col("_nb")
        )
    return (
        cands.withColumn("cosine", F.round(cos, round_digits))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def neardup_topk(
    vectors: DataFrame,
    k: int = 3,
    threshold: float = 0.35,
    num_planes: int = 4,
    num_tables: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Per-document top-k near-duplicate neighbors above ``threshold``
    — the OUTPUT-BOUNDED sibling of ``neardup_pairs``.

    At a fixed cosine threshold the full pair set is inherently O(n²)
    in the worst case (a tight cluster emits every internal pair);
    capping at k neighbors per document makes the result O(n·k)
    regardless of cluster geometry — the form a 100 TB dedup report
    should ship. Candidate generation and verification are identical
    to ``neardup_pairs`` (LSH-bucketed, never all-pairs); the cap is
    one per-document window over the verified pairs, symmetrized so
    both members of a pair see each other as neighbors. Ties break by
    neighbor id ascending (deterministic across engines).
    """
    from pyspark.sql import Window

    pairs = neardup_pairs(
        vectors,
        threshold=threshold,
        num_planes=num_planes,
        num_tables=num_tables,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        round_digits=round_digits,
    )
    # symmetrize with ONE explode, not a unionAll of two selects: Spark
    # has no common-subplan reuse across union branches, so the union
    # form executes the whole candidate-generation + verification
    # subplan twice (measured 2x wall-clock at the 10x replica scale).
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("vid"),
                    F.col("id_b").alias("nid"),
                    F.col("cosine").alias("cosine"),
                ),
                F.struct(
                    F.col("id_b").alias("vid"),
                    F.col("id_a").alias("nid"),
                    F.col("cosine").alias("cosine"),
                ),
            )
        ).alias("z")
    ).select(
        F.col("z.vid").alias(id_col),
        F.col("z.nid").alias("neighbor_id"),
        F.col("z.cosine").alias("cosine"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "neighbor_id", "cosine", "rnk")
    )


def label_centroids(
    vectors: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Coarse-quantizer centroids: per-label mean vector, as an array.

    With ``dim`` known (every index build knows it), the mean is ONE
    partial+final HashAggregate of ``array(avg(v[0]), .., avg(v[d-1]))``
    — a fixed-width (2·dim doubles) buffer per cell. The legacy
    ``dim=None`` path transposes long-form (posexplode -> per-dim avg
    -> re-assemble), which multiplies the corpus rows x dim through the
    explode, shuffles (cell, pos) pairs twice, and re-assembles through
    an ObjectHashAggregate collect_list; per-dimension values are
    identical (same elements, same per-partition accumulation order —
    avg skips the nulls that posexplode would not emit).
    """
    if dim is not None:
        avgs = ", ".join(
            f"avg(cast(`{vec_col}`[{i}] as double))" for i in range(dim)
        )
        return vectors.groupBy(F.col(label_col).alias("cell")).agg(
            F.expr(f"array({avgs})").alias("cvec")
        )
    return (
        vectors.select(
            F.col(label_col).alias("cell"),
            F.posexplode(F.col(vec_col)).alias("pos", "v"),
        )
        .groupBy("cell", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cvec")
        )
    )


def _with_cell_sims(
    df: DataFrame,
    id_alias: str,
    cents: DataFrame | Column,
    vec_col: str,
    round_digits: int,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id[, extras], _v, _nv, _sims) — rounded cosine to every
    centroid, without any fan-out or shuffle. ``cents`` is either the
    broadcast one-row centroid table (``_cents``) or the persisted
    index's centroid literal (``_cent_literal``); over a literal the
    whole frame is a projection, which Catalyst folds when ``df`` is a
    local relation. ``extra_cols`` carries payload columns through
    (the filtered-search build/append path)."""
    # Single-parse expr — identical tree to the F.transform/F.struct
    # chain (measured ~0.7 s of py4j latency per call at dim 64).
    sims_sql = (
        "transform(_cents, c -> struct(round("
        + _dot_sql("_v", "c.cvec")
        + f" / (_nv * c.cn), {int(round_digits)}) AS sim, c.cell AS cell))"
    )
    base = df.select(
        F.col(id_alias),
        *[F.col(c) for c in extra_cols],
        F.col(vec_col).alias("_v"),
        norm(vec_col).alias("_nv"),
    )
    if isinstance(cents, Column):
        base = base.withColumn("_cents", cents)
    else:
        base = base.crossJoin(cents)
    return base.withColumn("_sims", F.expr(sims_sql))


def _cent_literal(path: str) -> Column:
    """A persisted ``centroids`` artifact (cell, cvec, cn) as ONE
    literal array of structs, read on the driver by pyarrow — no Spark
    job, and exactly the float64 values a Spark read returns, so cells
    score identically. The cell keeps its stored integer type."""
    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    table = pq.read_table(path)
    cell_type = from_arrow_type(table.schema.field("cell").type)
    return F.array(
        *[
            F.struct(
                F.lit(int(c)).alias("cell"),
                F.lit(np.asarray(v, dtype=np.float64)).alias("cvec"),
                F.lit(float(n)).alias("cn"),
            )
            for c, v, n in zip(*(table.column(x).to_pylist()
                                 for x in ("cell", "cvec", "cn")))
        ]
    ).cast(
        f"array<struct<cell:{cell_type.simpleString()},"
        "cvec:array<double>,cn:double>>"
    )


def _best_cell():
    """argmax by (sim desc, cell asc): max of (sim, -cell) structs.
    Built lazily — higher-order lambdas need a live SparkContext."""
    return F.expr(
        "array_max(transform(_sims, s -> struct("
        "s.sim AS sim, (- s.cell) AS negcell, s.cell AS cell)))"
    )


def _probe_order():
    """top-nprobe cells: sort by (-sim, cell) asc, slice, explode."""
    return F.expr(
        "array_sort(transform(_sims, s -> struct("
        "(- s.sim) AS negsim, s.cell AS cell)))"
    )


def _probe_cells(nprobe: int) -> Column:
    """Each query's ``nprobe`` nearest cells, as an array."""
    return F.slice(_probe_order(), 1, nprobe)["cell"]


def _rank_probed(
    assigned: DataFrame,
    queries: DataFrame,
    probes: DataFrame,
    k: int,
    query_id: str,
    cand_id: str,
    vec_col: str,
    round_digits: int,
) -> DataFrame:
    """Shared IVF query tail: exact-score candidates in each query's
    probed cells only, per-query top-k. ``assigned`` carries
    (cand_id, _cv, _nc, cell); ``probes`` is the (query_id, cell)
    probe set."""
    from pyspark.sql import Window

    qv = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("_qv"),
        norm(vec_col).alias("_nq"),
    )
    scored = (
        assigned.join(F.broadcast(probes), on="cell")
        .filter(F.col(cand_id) != F.col(query_id))
        .join(qv, on=query_id)
        .withColumn(
            "cosine",
            F.round(
                dot("_cv", "_qv") / (F.col("_nc") * F.col("_nq")),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(cand_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, cand_id, "cosine", "rnk")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    label_col: str = "label",
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k via an IVF (inverted-file) index — the cell-probing
    scale path, complementing the hyperplane-LSH variant (``lsh_topk``).

    Coarse quantizer = per-label centroids (``label_centroids``); every
    vector is (re)assigned to its nearest centroid by rounded cosine
    (ties break by cell ascending), each query probes its ``nprobe``
    nearest cells, and only vectors in probed cells are scored exactly.

    Scale: the centroid table collapses to ONE broadcast row (array of
    k cells), so assignment is a genuinely map-side argmax over that
    array — the corpus never shuffles until the final per-query top-k
    ranking (which only sees scored candidates). The probe list
    (queries x nprobe) is tiny -> broadcast too. Expected scored
    fraction is ~nprobe/n_cells of the corpus per query. Recall < 1 by
    construction (measured against ``brute_force_topk`` in tests).
    """
    from pyspark.sql import Window

    cent = label_centroids(
        vectors, label_col=label_col, vec_col=vec_col, dim=dim
    )
    # One row: [{cell, cvec, cn}, ...] — centroid norms precomputed so
    # the per-vector argmax does k dots, not 2k. Persisted: both the
    # corpus-assignment branch and the query-probe branch broadcast it,
    # and without pinning, the full centroid aggregation (a dim-wide
    # posexplode over the whole corpus) would execute once per branch.
    cent_row = persist_tracked(
        cent.select("cell", "cvec", norm("cvec").alias("cn"))
        .agg(F.collect_list(F.struct("cell", "cvec", "cn")).alias("_cents"))
    )
    assigned = _with_cell_sims(
        vectors, cand_id, cent_row, vec_col, round_digits
    ).select(
        cand_id,
        F.col("_v").alias("_cv"),
        F.col("_nv").alias("_nc"),
        _best_cell()["cell"].alias("cell"),
    )
    probes = _with_cell_sims(
        queries, query_id, cent_row, vec_col, round_digits
    ).select(query_id, F.explode(_probe_cells(nprobe)).alias("cell"))
    return _rank_probed(
        assigned, queries, probes, k, query_id, cand_id, vec_col,
        round_digits,
    )


def _check_ivf_payload_names(payload_cols, cand_id) -> None:
    # the full set of names THIS index family attaches to frames that
    # carry payloads at any lifecycle point: build/append scoring
    # (_v/_nv/_sims/_sim via _with_cell_sims), the stored layout
    # (_cv/_nc/cell), serve (the default query id, the query-vector
    # and probe columns, the output cosine/rnk), and the staleness
    # probe's re-aliases. Shared guard with the IVF-PQ family — a
    # payload passing build but colliding at serve must fail FIRST.
    from sparktrends_spark.similarity.generations import (
        check_payload_names,
    )

    reserved = {
        cand_id, "cell", "_v", "_nv", "_sims", "_cents", "_sim",
        "_cv", "_nc", "query_id", "_qv", "_nq", "_p",
        "cosine", "rnk", "embedding", "_acell",
    }
    check_payload_names(payload_cols, reserved, "IVF")


def build_ivf_index(
    vectors: DataFrame,
    path: str,
    label_col: str = "label",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    payload_cols: tuple[str, ...] = (),
    dim: int | None = None,
) -> None:
    """Persist an IVF index: a generation's ``centroids`` (one tiny
    parquet of cell, cvec, cn) and ``vectors`` partitioned BY CELL — so a
    query that probes nprobe of n_cells reads only those partition
    directories from disk, the 100 TB property an in-plan index can't
    give you (ivf_topk re-scans and re-assigns the corpus per run).
    Assignment is byte-identical to ivf_topk's (same argmax, same
    tie-break).

    ``payload_cols``: metadata columns of ``vectors`` (language,
    source, license class, ...) stored alongside the full vectors —
    the substrate for FILTERED search (``ivf_index_topk(where=...)``),
    the same contract as the IVF-PQ family's: a predicate over
    payloads narrows candidates at the probed-cell scan (parquet
    filter pushdown) before tombstone exclusion and exact scoring.
    Appends must carry the same columns (checked loudly against the
    stored schema — payloads are self-describing); retrain re-stores
    them into the next generation. Keep payloads small (scalars, not
    text) — this family already pays full vectors at rest, but the
    probed-scan byte economy still matters.

    On-disk vector element type is canonicalized to ``array<double>``
    (exact widening — ``dot`` already folds in double, so scores are
    unchanged): without the cast, an ``append_ivf_index`` batch whose
    vectors carry a different element type (e.g. float built, double
    appended) would land mixed-typed parquet files in the same cell
    directories, and whether a later read survives depends on which
    file schema-inference picks — a silently poisoned index.

    Also persists ``meta`` — per-cell row count and mean round-6
    cosine to the assigned centroid at BUILD time, the staleness
    baseline ``ivf_index_staleness`` compares against (appends through
    the frozen centroids deliberately do not touch it).

    Writes a fresh generation and promotes it
    (``generations.promote_generation``), under the index maintenance
    lock like every writer: an overwrite-build is safe for concurrent
    readers — one pinned to the previous generation keeps serving it
    until retention (keep 2) releases it."""
    from sparktrends_spark.similarity.generations import (
        maintenance_lock,
        promote_generation,
    )

    _check_ivf_payload_names(payload_cols, cand_id)
    spark = vectors.sparkSession
    with maintenance_lock(path, operation="build"):
        promote_generation(
            spark,
            path,
            lambda root: _build_ivf_locked(
                vectors, root, label_col, cand_id, vec_col, round_digits,
                payload_cols, dim=dim,
            ),
            keep=2,
        )
        _ivf_handle(spark, path)  # warm: first serve hits


def _build_ivf_locked(
    vectors, path, label_col, cand_id, vec_col, round_digits,
    payload_cols=(), dim=None,
) -> None:
    from sparktrends_spark.similarity.generations import write_small_frame

    cent = label_centroids(
        vectors, label_col=label_col, vec_col=vec_col, dim=dim
    )
    cent_n = cent.select(
        "cell",
        F.col("cvec").cast("array<double>").alias("cvec"),
        norm("cvec").alias("cn"),
    )
    spark = vectors.sparkSession
    # k bounded rows: collect + driver-side parquet write instead of a
    # coalesce(1) write job (generations.write_small_frame)
    write_small_frame(spark, cent_n, f"{path}/centroids")
    assigned = _with_cell_sims(
        vectors, cand_id, _cent_literal(f"{path}/centroids"), vec_col,
        round_digits,
        extra_cols=payload_cols,
    ).select(
        cand_id,
        F.col("_v").cast("array<double>").alias("_cv"),
        F.col("_nv").alias("_nc"),
        *payload_cols,
        _best_cell()["cell"].alias("cell"),
        _best_cell()["sim"].alias("_sim"),
    )
    # Cluster on the cell id before the partitioned write: one file
    # per cell directory instead of (scan partitions × cells)
    # splinter files (guide §6; the r14 upsert-sink lesson — probed-
    # cell reads pay per-file open cost), and the meta aggregate
    # below reuses this exchange's clustering instead of adding its
    # own. The CPU-heavy cell scoring stays below the exchange.
    assigned = assigned.repartition(F.col("cell"))
    # two actions share the corpus-sized scoring subplan (vectors
    # write + meta agg): pin it once, locally scoped (no cross-branch
    # subplan reuse in Spark — the union-re-execution lesson)
    assigned = assigned.persist()
    try:
        assigned.drop("_sim").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(f"{path}/vectors")
        assigned.groupBy("cell").agg(
            F.count(F.lit(1)).alias("n"), F.avg("_sim").alias("mean_sim")
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    finally:
        assigned.unpersist()


_IVF = IndexLayout(
    name="ivf",
    small=("centroids", "meta"),
    cells=("vectors",),
    ids="vectors",
    n_cells_src="centroids",
)


def _load_ivf(spark, root: str):
    """What an IVF generation never changes: the stored vectors schema
    (one inference job, paid here instead of per request) and the
    centroid literal (read on the driver)."""
    import os

    if not os.path.isdir(f"{root}/vectors"):
        raise ValueError(
            f"no index at {root} ({root}/vectors missing) — build_ivf_index"
            " creates one"
        )
    return (
        {"vectors": spark.read.parquet(f"{root}/vectors").schema},
        {"cents": _cent_literal(f"{root}/centroids")},
    )


def _ivf_handle(spark, path: str):
    from sparktrends_spark.similarity.generations import index_handle

    return index_handle(spark, path, _IVF.small, _load_ivf)


def _ivf_payloads(handle, cand_id: str) -> tuple[str, ...]:
    """Payload columns of the stored vectors table (everything beyond
    the family's own id/_cv/_nc/cell) — schema-derived via the shared
    helper, so appends/retrains cannot drift from the build."""
    from sparktrends_spark.similarity.generations import (
        stored_payload_cols,
    )

    return stored_payload_cols(
        handle.schemas["vectors"], {cand_id, "_cv", "_nc", "cell"}
    )


def delete_from_ivf_index(
    spark, path: str, ids, cand_id: str = "vec_id"
) -> dict:
    """Takedown/PII-purge for the persisted IVF index — the same
    tombstone discipline as ``delete_from_ivfpq_index``: record ids as
    tombstones of the current generation (O(|ids|), index never read
    beyond its schema), serve anti-joins them immediately, and the
    physical reclaim is ``compact_ivf_index`` (layout-only, no labeled
    corpus needed) or ``retrain_ivf_index`` (live rows only; new
    generation starts with a clean set either way).
    ``ids``: a DataFrame carrying ``cand_id`` or a plain iterable.
    Re-inserting a tombstoned id requires the reclaim first —
    ``append_ivf_index`` refuses intersecting batches."""
    from sparktrends_spark.similarity.generations import delete_ids

    return delete_ids(spark, path, ids, cand_id, _IVF)


def append_ivf_index(
    new_vectors: DataFrame,
    path: str,
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> None:
    """Add a batch of vectors to a persisted IVF index WITHOUT
    recomputing centroids: assignments use the index's existing coarse
    quantizer (the standard IVF maintenance trade — cells drift as the
    distribution shifts, so deployments rebuild centroids on a slow
    cadence while appending on a fast one). Append cost is
    O(new batch); the existing index is never read. Batches must be
    id-disjoint from the index (the caller's ingest contract — an
    id-dedup here would force a full index scan per append).

    The stored vector is cast to the element type the index ALREADY
    uses on disk (``array<double>`` for indexes built by
    ``build_ivf_index``; whatever a legacy index carries otherwise),
    so a batch with a different element type — e.g. an index receiving
    vectors promoted to double by an upstream transform — can never
    land mixed-typed files in a cell directory.

    Payload columns are SELF-DESCRIBING: whatever extra columns the
    stored vectors table carries (``payload_cols`` at build) must be
    present on the batch — a batch missing them would land NULL
    payloads that silently drop out of every filtered serve, so the
    mismatch raises instead (the shared IVF/IVF-PQ contract).

    Holds the index maintenance lock for the whole append (an append
    racing a retrain promotion would land in the superseded generation
    and be lost at GC — see ``generations.maintenance_lock``)."""
    from sparktrends_spark.similarity.generations import maintenance_lock

    _IVF.root(path, "append to")
    spark = new_vectors.sparkSession
    with maintenance_lock(path, operation="append"):
        _append_ivf_locked(
            spark, new_vectors, _ivf_handle(spark, path), cand_id, vec_col,
            round_digits,
        )


def _append_ivf_locked(
    spark, new_vectors, handle, cand_id, vec_col, round_digits
) -> None:
    from sparktrends_spark.similarity.generations import require_payloads

    root = handle.root
    payloads = _ivf_payloads(handle, cand_id)
    require_payloads(new_vectors.columns, payloads, root, "vectors")
    tomb = handle.tombstones(spark, cand_id, "vectors")
    if tomb is not None:
        # a batch re-inserting a tombstoned id would be hidden forever
        # by the serve anti-join — refuse; retrain reclaims first
        n_bad = new_vectors.select(cand_id).join(tomb, cand_id).count()
        if n_bad:
            raise ValueError(
                f"append batch re-inserts {n_bad} tombstoned id(s) of"
                f" {root} — run compact_ivf_index or retrain_ivf_index"
                " to reclaim deletes,"
                " then append"
            )
    cv_type = handle.schemas["vectors"]["_cv"].dataType
    assigned = _with_cell_sims(
        new_vectors, cand_id, handle.extra["cents"], vec_col, round_digits,
        extra_cols=payloads,
    ).select(
        cand_id,
        F.col("_v").cast(cv_type).alias("_cv"),
        F.col("_nv").alias("_nc"),
        *payloads,
        _best_cell()["cell"].alias("cell"),
    )
    assigned.write.mode("append").partitionBy("cell").parquet(
        f"{root}/vectors"
    )
    spark.catalog.refreshByPath(f"{root}/vectors")


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    where: str | Column | None = None,
    min_candidates: int | None = None,
) -> DataFrame:
    """Query a persisted IVF index (``build_ivf_index``). The probed
    cell set (<= |queries| * nprobe small ints — the documented
    bounded-collect pattern, same as the sink's bucket ids) is applied
    as a STATIC partition filter, so the scan provably touches only
    probed cell directories (PartitionFilters in the plan, asserted in
    tests); the per-query probe join then restricts scoring within
    them. Results are identical to ivf_topk over the same corpus.
    Resolves the generation pointer ONCE, pinning a consistent
    generation for the whole serve (see similarity/generations.py).

    ``where`` (requires an index built with ``payload_cols``):
    FILTERED search — a predicate over the stored payload columns
    (SQL string or Column, e.g. ``"lang = 'en'"``) narrows candidates
    at the probed-cell scan, BEFORE tombstone exclusion and exact
    scoring. Simple comparisons push into the parquet reader
    (PushedFilters — asserted in tests), so a selective filter reduces
    bytes read, not just rows scored. Semantics are the standard IVF
    filtered-search contract shared with ``ivfpq_index_topk``: top-k
    among candidates satisfying the predicate WITHIN the probed cells.

    ``min_candidates``: SELECTIVITY-AWARE probe escalation — the fix
    for "a sharp filter quietly empties the probed cells" (the
    round-13 recall audit measured 0.27 recall@10 at the fixed
    default under a 1/3-selective filter). Each query's probe set
    expands along its own probe order (nearest cell first) until the
    LIVE candidate pool under the predicate (tombstones excluded)
    reaches ``min_candidates`` — callers pass a multiple of k (3-5x
    absorbs the self-match and near-boundary losses) — floored at
    ``nprobe`` and capped at all cells. Cost: ONE column-pruned,
    predicate-pushed pass over (cell, payload columns) of the stored
    table for the per-cell counts (the vectors themselves are never
    read — at rest the counted columns are a small fraction of index
    bytes), then the serve reads only the escalated probe cells. The
    default (None) path is byte-identical to the fixed-nprobe serve.
    Top-k semantics within the (escalated) probed cells are unchanged
    and SQL-expressible, so the oracle replays the escalation
    exactly.

    Per request: ``CURRENT`` resolves to the generation's cached handle
    (``generations.index_handle``: centroid literal and pinned schemas,
    filled at build), the query batch is read once into a local
    relation, and probe cells are picked over it by a projection
    Catalyst folds, so picking them runs no job."""
    from pyspark.sql import types as T

    from sparktrends_spark.similarity.generations import (
        apply_where,
        local_relation,
        local_rows,
    )

    h = _ivf_handle(spark, path)
    q = local_relation(spark, queries.select(query_id, vec_col))
    sims = _with_cell_sims(q, query_id, h.extra["cents"], vec_col, round_digits)
    tomb = h.tombstones(spark, cand_id, "vectors")

    def live(cand: DataFrame) -> DataFrame:
        if where is not None:
            # loud serve-side guard: an unresolvable predicate names
            # the stored payloads instead of an opaque AnalysisException
            cand = apply_where(cand, where, h.root, _ivf_payloads(h, cand_id))
        if tomb is not None:
            # logical deletes (delete_from_ivf_index): tombstoned ids
            # leave the candidate set before scoring — takedown-sized
            # side, AQE broadcasts the hash anti-join; physically
            # reclaimed at compact/retrain
            cand = cand.join(tomb, cand_id, "left_anti")
        return cand

    if min_candidates is None:
        rows = [
            (r[0], c)
            for r in sims.select(query_id, _probe_cells(nprobe)).collect()
            for c in r[1]
        ]
    else:
        # the escalation runs its counting scan once: its (query_id,
        # cell) rows are bounded (<= |queries| * n_cells) and collected
        rows = [
            tuple(r)
            for r in _adaptive_ivf_probes(
                live(h.scan(spark, "vectors")), sims, nprobe,
                min_candidates, query_id,
            ).collect()
        ]
    cell = sims.schema["_sims"].dataType.elementType["cell"]
    probes = local_rows(
        spark, rows, T.StructType([q.schema[query_id], cell])
    )
    assigned = live(
        h.scan(spark, "vectors").filter(
            F.col("cell").isin(sorted({c for _, c in rows}))
        )
    )
    return _rank_probed(
        assigned, q, probes, k, query_id, cand_id, vec_col, round_digits,
    )


def _adaptive_ivf_probes(
    cand, sims, nprobe, min_candidates, query_id
) -> DataFrame:
    """Per-query escalated probe set (query_id, cell) for the plain
    IVF serve — the counting half of ``min_candidates`` (see
    ``ivf_index_topk``). The count scan over the live candidates
    ``cand`` deliberately carries NO partition filter (every cell's
    live count feeds the prefix decision) but projects only (cell, id,
    payloads-in-predicate): column pruning keeps the stored vectors out
    of it entirely."""
    from sparktrends_spark.similarity.generations import escalate_probes

    counts = cand.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
    order = sims.select(
        query_id, F.posexplode(_probe_order()).alias("_r0", "_p")
    ).select(
        query_id,
        (F.col("_r0") + 1).alias("_rnk"),
        F.col("_p.cell").alias("cell"),
    )
    return escalate_probes(
        order, counts, query_id, nprobe, min_candidates
    ).select(query_id, "cell")


def ivf_index_staleness(spark, path: str, check_sim: bool = True) -> dict:
    """Staleness probe for the persisted IVF index — the counts-and-
    similarity twin of ``ivfpq_index_staleness``: per-cell size growth
    and skew vs the build-time ``meta`` baseline, plus (``check_sim``)
    the drop in mean cosine-to-assigned-centroid — appended vectors
    assigned through FROZEN centroids sit farther from them as the
    distribution drifts, which is exactly when probing nprobe cells
    starts missing true neighbors. ``sim_drop`` is an absolute
    difference (cosine means can sit near zero, where ratios
    mislead). Counts are metadata-cheap; the sim check is one pass
    over the stored vectors (no joins)."""
    from sparktrends_spark.similarity.generations import (
        probe_cells,
        weighted_baseline,
    )

    p = probe_cells(spark, path, _IVF, stat="mean_sim")
    root = p.root
    out = {**p.report, "sim_train": None, "sim_now": None, "sim_drop": None}
    if check_sim:
        cent_row = spark.read.parquet(f"{root}/centroids").agg(
            F.collect_list(F.struct("cell", "cvec", "cn")).alias("_cents")
        )
        stored = spark.read.parquet(f"{root}/vectors").select(
            F.col("cell").alias("_acell"), F.col("_cv").alias("embedding")
        )
        sims = _with_cell_sims(stored, "_acell", cent_row, "embedding", 6)
        sim_now = sims.select(
            F.avg(
                F.filter(
                    "_sims", lambda s: s["cell"] == F.col("_acell")
                )[0]["sim"]
            ).alias("s")
        ).collect()[0]["s"]
        sim_train = weighted_baseline(p.meta)
        out["sim_train"] = sim_train
        out["sim_now"] = float(sim_now)
        out["sim_drop"] = sim_train - float(sim_now)
    return out


def retrain_ivf_index(
    vectors: DataFrame,
    path: str,
    label_col: str = "label",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    keep_generations: int = 2,
) -> dict:
    """Rebuild the persisted IVF index on the CURRENT corpus without
    disrupting readers — the generation-pointer discipline shared with
    ``retrain_ivfpq_index`` (similarity/generations.py): build a
    complete new index under ``path/g<N+1>/``, promote it with one
    atomic CURRENT rename, retain the previous root for in-flight
    readers, GC older ones.

    Unlike the IVF-PQ retrain, the corpus comes from the CALLER: this
    index's coarse quantizer is label-supervised (``label_centroids``)
    and the stored sidecar carries assignments, not labels — so the
    maintainer hands in the labeled source of truth, exactly as at
    build time. Payload columns stored at build are INHERITED: the
    caller's corpus must carry them (checked loudly), and the new
    generation re-stores them — a retrain can never silently strip
    the filtered-search substrate. Deterministic: serving the
    retrained index over an unchanged corpus is bit-identical to
    serving a fresh build. Holds the index maintenance lock
    (serializes against concurrent appends, which would otherwise
    land in the superseded generation and be lost at GC); readers
    never take it."""
    from sparktrends_spark.similarity.generations import maintenance_lock

    _IVF.root(path, "retrain")
    with maintenance_lock(path, operation="ivf-retrain"):
        return _retrain_ivf_locked(
            vectors, path, label_col, cand_id, vec_col, round_digits,
            keep_generations,
        )


def _retrain_ivf_locked(
    vectors, path, label_col, cand_id, vec_col, round_digits,
    keep_generations,
) -> dict:
    from sparktrends_spark.similarity.generations import (
        promote_generation,
        require_payloads,
    )

    spark = vectors.sparkSession
    # a never-built index raises here, naming the root (retraining
    # one is always a caller mistake)
    h = _ivf_handle(spark, path)
    previous = h.root
    payloads = _ivf_payloads(h, cand_id)
    require_payloads(vectors.columns, payloads, previous, "vectors")
    corpus = vectors
    tomb = h.tombstones(spark, cand_id, "vectors")
    if tomb is not None:
        # physical reclaim of logical deletes: even if the caller's
        # corpus still carries a taken-down document, the retrained
        # generation must not — tombstones outrank the corpus until
        # this reclaim clears them
        corpus = corpus.join(tomb, cand_id, "left_anti")
    promoted = promote_generation(
        spark,
        path,
        lambda root: _build_ivf_locked(
            corpus, root, label_col, cand_id, vec_col, round_digits,
            payloads,
        ),
        keep_generations,
    )
    _ivf_handle(spark, path)  # warm: first serve hits
    return {**promoted, "previous_root": previous}


def maybe_retrain_ivf_index(
    vectors: DataFrame,
    path: str,
    max_sim_drop: float = 0.05,
    max_size_ratio: float = 2.0,
    max_cell_skew: float = 4.0,
    max_tombstone_ratio: float = 0.25,
    *,
    lock_timeout_s: float = 600.0,
    label_col: str = "label",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
    keep_generations: int = 2,
) -> dict:
    """The maintenance POLICY in one call for the plain IVF index —
    probe, compare against thresholds, retrain only if stale: the
    label-supervised twin of ``maybe_retrain_ivfpq_index`` (same
    cron-job shape, the shared ``generations.run_policy``). The one
    signature difference is inherent to the family: the caller
    supplies the LABELED corpus (``vectors``), exactly as
    ``retrain_ivf_index`` requires, because the stored sidecar carries
    assignments, not labels — when no threshold trips, the frame is
    never executed.

    - ``max_sim_drop``: ABSOLUTE drop in mean round-6 cosine to the
      assigned (frozen) centroid vs the build-time baseline — the
      direct recall-decay proxy for a cosine-metric index (cosine
      means can sit near zero, where a ratio threshold misleads);
    - ``max_size_ratio`` / ``max_cell_skew`` / ``max_tombstone_ratio``:
      as in the IVF-PQ policy (growth since train, hot-cell probe
      cost, logical deletes awaiting physical reclaim).

    The retrain options are keyword-only, so a misspelled one raises
    ``TypeError`` up front, whether or not a threshold trips. Returns
    the staleness report plus ``{"retrained": bool, "reasons": [...],
    "retrain": <retrain result or None>}``."""
    from sparktrends_spark.similarity.generations import run_policy

    return run_policy(
        path,
        _IVF,
        probe=lambda: ivf_index_staleness(vectors.sparkSession, path),
        limits=(
            ("sim_drop", max_sim_drop, ".4f"),
            ("size_ratio", max_size_ratio, ".2f"),
            ("cell_skew", max_cell_skew, ".2f"),
            ("tombstone_ratio", max_tombstone_ratio, ".2f"),
        ),
        act=lambda: _retrain_ivf_locked(
            vectors, path, label_col, cand_id, vec_col, round_digits,
            keep_generations,
        ),
        action="retrain",
        lock_timeout_s=lock_timeout_s,
    )


def compact_ivf_index(
    spark,
    path: str,
    files_per_cell: int = 1,
    keep_generations: int = 2,
    lock_timeout_s: float = 600.0,
) -> dict:
    """Segment-merge + takedown-reclaim maintenance for the persisted
    IVF index — the twin of ``compact_ivfpq_index``: every append
    lands at least one parquet file per touched cell, fragmenting cell
    directories until probe-read cost is dominated by file opens, and
    tombstoned ids keep costing scan time until physically dropped.
    Compaction rewrites the cell-partitioned vectors into AT MOST
    ``files_per_cell`` files per cell, minus tombstoned rows, WITH THE
    SAME centroids — no retraining and, unlike ``retrain_ivf_index``,
    NO labeled corpus needed (the rewrite is layout-only), which makes
    it the takedown-reclaim path when the labeled source of truth
    isn't at hand. New generation + atomic CURRENT promotion + orphan-
    aware retention GC, all under the writer lock; live serve values
    are identical by construction. Returns ``{generation,
    previous_root, files_before, files_after, rows_before, rows_after,
    gc_removed}`` (counts for the vectors table). Implementation: the
    shared ``generations.compact_cells`` given this index's layout."""
    from sparktrends_spark.similarity.generations import compact_cells

    out = compact_cells(
        spark, path, _IVF, files_per_cell, keep_generations, lock_timeout_s
    )
    _ivf_handle(spark, path)  # warm: first serve hits
    return out


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    num_planes: int = 8,
    dim: int = 64,
    k: int = 3,
    num_tables: int = 1,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """ANN top-k: compare only candidates sharing an LSH bucket with
    the query in at least one of ``num_tables`` hash tables.

    OR-amplification: per-table collision probability p becomes
    1-(1-p)^L overall recall. Recall < 1 by construction; tests measure
    it against brute force. At scale the candidate side is pre-bucketed
    (partitioned by (table, bucket)) so a query touches
    ~L/2^planes of the corpus.
    """
    from pyspark.sql import Window

    all_planes = hyperplanes(num_tables * num_planes, dim)
    tables = [
        all_planes[t * num_planes : (t + 1) * num_planes]
        for t in range(num_tables)
    ]

    def bucketed(df: DataFrame, id_alias: str) -> DataFrame:
        buckets = F.array(
            *[lsh_bucket(vec_col, planes) for planes in tables]
        )
        return df.select(
            F.col(id_alias),
            F.posexplode(buckets).alias("table", "bucket"),
        )

    # Candidate generation carries ids only — the distinct never
    # shuffles vector payloads; scoring looks vectors up by id.
    q = bucketed(queries, query_id)
    c = bucketed(candidates, cand_id)
    cand_pairs = (
        c.join(F.broadcast(q), on=["table", "bucket"])
        .filter(F.col(cand_id) != F.col(query_id))
        .select(query_id, cand_id)
        .distinct()
    )
    qv = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("_qvec"),
        norm(vec_col).alias("_nq"),
    )
    cv = candidates.select(
        F.col(cand_id),
        F.col(vec_col).alias("_cvec"),
        norm(vec_col).alias("_nc"),
    )
    # caller-supplied frames: an RDD-backed batch has no size estimate
    scored = (
        cand_pairs.join(F.broadcast(cv), on=cand_id)
        .join(F.broadcast(qv), on=query_id)
        .withColumn(
            "cosine",
            F.round(
                dot("_qvec", "_cvec")
                / (F.col("_nq") * F.col("_nc")),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc(cand_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, cand_id, "cosine", "rnk")
    )
