"""Similarity-search tests: exactness of brute force, recall of LSH."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from sparktrends_spark.similarity.cosine import (
    brute_force_topk,
    hyperplanes,
    ivf_topk,
    label_centroids,
    lsh_topk,
)
from sparktrends_spark.similarity.generations import resolve_root
from sparktrends_spark.sources.tables import load_table


def test_brute_force_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    pdf = emb.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype="float64")
    ids = pdf["vec_id"].to_numpy()
    q = 0
    qv = mat[ids.tolist().index(q)]
    cos = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = [
        int(ids[i])
        for i in np.lexsort((ids, -np.round(cos, 6)))
        if ids[i] != q
    ][:5]

    queries = emb.filter(F.col("vec_id") == q).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = [
        r.vec_id
        for r in brute_force_topk(queries, emb, k=5)
        .orderBy("rnk")
        .collect()
    ]
    assert got == order


def test_hyperplanes_deterministic():
    a = hyperplanes(4, 16)
    b = hyperplanes(4, 16)
    assert a == b
    assert all(x in (1.0, -1.0) for row in a for x in row)
    # not degenerate: both signs appear
    flat = [x for row in a for x in row]
    assert -1.0 in flat and 1.0 in flat


def test_lsh_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(queries, emb, k=1).collect()
    approx = lsh_topk(
        queries, emb, num_planes=4, dim=64, k=1, num_tables=4
    ).collect()
    exact_best = {r.query_id: r.vec_id for r in exact}
    approx_best = {r.query_id: r.vec_id for r in approx}
    hits = sum(
        1 for q, v in exact_best.items() if approx_best.get(q) == v
    )
    recall = hits / len(exact_best)
    # 4 planes -> 16 buckets over 500 vecs; nearest neighbor shares the
    # bucket reasonably often. This guards against broken bucketing
    # (recall ~1/16 if buckets were random).
    assert recall >= 0.4, f"LSH@1 recall {recall}"


def test_label_centroids_match_numpy(spark, sf_dir):
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    pdf = emb.toPandas()
    got = {
        r["cell"]: r["cvec"]
        for r in label_centroids(emb).collect()
    }
    for label, grp in pdf.groupby("label"):
        want = np.array(grp["embedding"].tolist(), dtype="float64").mean(axis=0)
        assert np.allclose(got[label], want, rtol=1e-9), f"label {label}"


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(queries, emb, k=1).collect()
    exact_best = {r.query_id: r.vec_id for r in exact}
    n_cells = emb.select("label").distinct().count()

    # Probing every cell degenerates to brute force: results must be
    # identical, not just close.
    full = ivf_topk(emb, queries, k=1, nprobe=n_cells).collect()
    assert {r.query_id: r.vec_id for r in full} == exact_best

    # At nprobe=2 recall is bounded by how tight the label clusters
    # are; the guard is only that cell probing beats picking 2 random
    # cells (= nprobe/n_cells).
    approx = ivf_topk(emb, queries, k=1, nprobe=2).collect()
    approx_best = {r.query_id: r.vec_id for r in approx}
    hits = sum(1 for q, v in exact_best.items() if approx_best.get(q) == v)
    recall = hits / len(exact_best)
    assert recall > 2.0 / n_cells, f"IVF@1 recall {recall}"


def test_neardup_verify_strategies_identical(spark, sf_dir):
    """The join (HOF dot) and closure (numpy-by-id) verify paths must
    produce bit-identical pairs — same candidate set, same sequential
    accumulation order, only the execution vehicle differs."""
    from sparktrends_spark.caching import release_persisted
    from sparktrends_spark.similarity.cosine import neardup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    join_rows = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in neardup_pairs(emb, verify="join").collect()
    )
    release_persisted()
    closure_rows = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in neardup_pairs(emb, verify="closure").collect()
    )
    release_persisted()
    assert join_rows == closure_rows
    assert len(join_rows) > 0


def test_quantized_topk_recall_vs_float(spark, sf_dir):
    """int8 quantization is a gentle perturbation at dim=64: the
    quantized top-5 must recover most of the float top-5."""
    from sparktrends_spark.plans import QUERIES

    fl = QUERIES["embedding_topk"](spark, sf_dir).toPandas()
    qz = QUERIES["embedding_quantized_topk"](spark, sf_dir).toPandas()
    recall_num = recall_den = 0
    for qid in fl["query_id"].unique():
        truth = set(fl[fl["query_id"] == qid]["vec_id"])
        got = set(qz[qz["query_id"] == qid]["vec_id"])
        recall_num += len(truth & got)
        recall_den += len(truth)
    assert recall_den > 0
    assert recall_num / recall_den >= 0.8, recall_num / recall_den


def test_ivf_index_matches_inplan_and_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted index must return byte-identical rankings to the
    in-plan IVF AND read only probed cell directories (static
    partition filter on the cell partition column)."""
    import re

    from pyspark.sql import functions as F

    from sparktrends_spark.similarity.cosine import (
        build_ivf_index,
        ivf_index_topk,
        ivf_topk,
    )
    from sparktrends_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx)

    via_index = ivf_index_topk(spark, idx, queries, k=3, nprobe=1)
    inplan = ivf_topk(emb, queries, k=3, nprobe=1)
    assert sorted(map(tuple, via_index.collect())) == sorted(
        map(tuple, inplan.collect())
    )

    plan = via_index._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[cell[^\]]*IN \(([^)]*)\)", plan)
    assert pf, plan
    # nprobe=1 over 3 queries: at most 3 of the cells are opened
    assert len(pf[0].split(",")) <= 3
    from sparktrends_spark.caching import release_persisted

    release_persisted()


def test_ivf_index_append_flow(spark, sf_dir, tmp_path):
    """Appending a batch reuses the EXISTING centroids (no rebuild):
    the grown index holds every id exactly once and queries reach the
    appended vectors — an appended near-duplicate of a query must
    surface as its top neighbor."""
    from pyspark.sql import functions as F

    from sparktrends_spark.similarity.cosine import (
        append_ivf_index,
        build_ivf_index,
        ivf_index_topk,
    )
    from sparktrends_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb.filter("vec_id % 2 = 0"), idx)

    # odd batch + one planted near-dup of vector 0 (id 900000)
    planted = emb.filter("vec_id = 0").select(
        F.lit(900000).cast("long").alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.0001).alias("embedding"),
        F.col("label"),
    )
    append_ivf_index(
        emb.filter("vec_id % 2 = 1").unionByName(planted), idx
    )

    ids = spark.read.parquet(f"{resolve_root(idx)}/vectors").select("vec_id")
    assert ids.count() == emb.count() + 1
    assert ids.distinct().count() == ids.count()

    q0 = emb.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = ivf_index_topk(spark, idx, q0, k=1, nprobe=1).head()
    assert top["vec_id"] == 900000 and top["cosine"] >= 0.999999
    from sparktrends_spark.caching import release_persisted

    release_persisted()


def test_ivf_filtered_search_lifecycle(spark, sf_dir, tmp_path):
    """Filtered ANN on the PLAIN persisted IVF index — the same
    ``payload_cols``/``where=`` contract as the IVF-PQ family: the
    predicate (a) pushes into the probed-cell parquet scan
    (PushedFilters), (b) is satisfied by every returned neighbor, and
    (c) survives the whole lifecycle — appends must carry the payloads
    (missing -> loud), appended rows are filterable, retrain re-stores
    payloads into the promoted generation, and reserved-name
    collisions fail at build. The payload is deliberately NOT the
    cell key (src = vec_id % 3, orthogonal to the label-supervised
    cells) so the filter exercises row pruning inside probed cells,
    not cell selection."""
    import pytest
    from pyspark.sql import functions as F

    from sparktrends_spark.caching import release_persisted
    from sparktrends_spark.similarity.cosine import (
        append_ivf_index,
        build_ivf_index,
        ivf_index_topk,
        retrain_ivf_index,
    )
    from sparktrends_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "src", (F.col("vec_id") % 3).cast("int")
    )
    idx = str(tmp_path / "ivf_f")
    build_ivf_index(emb.filter("vec_id % 2 = 0"), idx, payload_cols=("src",))
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def serve():
        return ivf_index_topk(
            spark, idx, queries, k=3, nprobe=2, where="src = 1"
        )

    top = serve()
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(src,1)" in plan, plan  # pushed to the scan
    rows = top.collect()
    assert rows and all(r["vec_id"] % 3 == 1 for r in rows)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, serve().collect()))

    # append without the stored payload column -> refused loudly
    batch = emb.filter("vec_id % 2 = 1")
    with pytest.raises(ValueError, match="payload"):
        append_ivf_index(batch.select("vec_id", "embedding"), idx)
    # with it -> appended rows join the filterable candidate set
    append_ivf_index(batch, idx)
    stored = spark.read.parquet(f"{resolve_root(idx)}/vectors")
    assert stored.count() == emb.count() and "src" in stored.columns

    # retrain inherits payloads: a corpus missing them is refused, a
    # complete one re-stores them into the promoted generation
    with pytest.raises(ValueError, match="payload"):
        retrain_ivf_index(emb.drop("src"), idx)
    retrain_ivf_index(emb, idx)
    gen = spark.read.parquet(f"{resolve_root(idx)}/vectors")
    assert "src" in gen.columns and gen.count() == emb.count()
    post = serve().collect()
    assert post and all(r["vec_id"] % 3 == 1 for r in post)

    # where= over a column the index never stored -> loud ValueError
    # NAMING the stored payloads, not an opaque AnalysisException
    with pytest.raises(ValueError, match="stored payload column.*'src'"):
        ivf_index_topk(spark, idx, queries, k=3, nprobe=2, where="lang = 'en'")
    # ...and against an index built WITHOUT payloads, the error says so
    bare = str(tmp_path / "ivf_bare")
    build_ivf_index(emb.select("vec_id", "embedding", "label"), bare)
    with pytest.raises(ValueError, match="without payload_cols"):
        ivf_index_topk(spark, bare, queries, k=3, nprobe=2, where="src = 1")
    # a predicate over a STORED payload that fails analysis for some
    # OTHER reason (here: type mismatch) keeps Spark's own error —
    # rebranding it would send the operator to rebuild an index that
    # already stores the column
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        ivf_index_topk(
            spark, idx, queries, k=3, nprobe=2, where="src = array('x')"
        )

    # a bare string (instead of a 1-tuple) is a loud TypeError, not a
    # baffling per-character column-not-found later
    with pytest.raises(TypeError, match="sequence of column names"):
        build_ivf_index(emb, str(tmp_path / "i_str"), payload_cols="src")
    # reserved layout/serve names are refused at build
    for bad in ("query_id", "_cv", "cosine", "cell"):
        with pytest.raises(ValueError, match="reserved"):
            build_ivf_index(
                emb.withColumn(bad, F.lit(1))
                if bad not in emb.columns
                else emb,
                str(tmp_path / f"i_{bad}"),
                payload_cols=(bad,),
            )
    release_persisted()


def test_ivf_adaptive_probe_escalation(spark, sf_dir, tmp_path):
    """``min_candidates`` (selectivity-aware probe escalation) on the
    plain IVF serve: (a) a generous target with a weak filter is a
    no-op — byte-identical rows to the fixed-nprobe serve (the floor
    contract); (b) under a filter so sharp the fixed probe set cannot
    fill k, the adaptive serve escalates along the probe order and
    returns the full k per query — 'filtered ANN safe by default';
    (c) tombstoned rows never count toward the candidate pool;
    (d) min_candidates < 1 is refused."""
    import pytest

    from sparktrends_spark.similarity.cosine import (
        build_ivf_index,
        delete_from_ivf_index,
        ivf_index_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "src", (F.col("vec_id") % 3).cast("int")
    )
    n = emb.count()
    idx = str(tmp_path / "ivf_adapt")
    build_ivf_index(emb, idx, payload_cols=("src",))
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    # (a) weak filter + tiny target -> the nprobe floor makes adaptive
    # identical to the fixed serve
    fixed = ivf_index_topk(
        spark, idx, queries, k=5, nprobe=2, where="src = 1"
    ).collect()
    noop = ivf_index_topk(
        spark, idx, queries, k=5, nprobe=2, where="src = 1",
        min_candidates=1,
    ).collect()
    assert sorted(map(tuple, fixed)) == sorted(map(tuple, noop))

    # (b) sharp filter: ~n/25 candidates spread over all cells — the
    # fixed 2-cell probe cannot fill k=10, the escalated serve can
    sharp = f"src = 1 AND vec_id < {max(60, n // 8)}"
    k = 10
    starved = ivf_index_topk(
        spark, idx, queries, k=k, nprobe=2, where=sharp
    )
    full = ivf_index_topk(
        spark, idx, queries, k=k, nprobe=2, where=sharp,
        min_candidates=3 * k,
    )
    n_starved = starved.groupBy("query_id").count().agg(
        F.min("count")
    ).collect()[0][0]
    per_q = {
        r["query_id"]: r["count"]
        for r in full.groupBy("query_id").count().collect()
    }
    assert n_starved < k, "fixture not sharp enough to starve the probe"
    assert len(per_q) == 3 and all(c == k for c in per_q.values())
    # escalated rows still satisfy the predicate
    assert all(
        r["vec_id"] % 3 == 1 and r["vec_id"] < max(60, n // 8)
        for r in full.collect()
    )

    # (c) tombstones leave the pool: delete every candidate the sharp
    # filter admits except a handful — the pool collapses and the
    # serve (escalated to ALL cells) returns exactly the survivors
    lim = max(60, n // 8)
    doomed = [
        v for v in range(lim) if v % 3 == 1 and v >= 12 and v not in (0, 1, 2)
    ]
    delete_from_ivf_index(spark, idx, doomed)
    after = ivf_index_topk(
        spark, idx, queries, k=k, nprobe=2, where=sharp,
        min_candidates=3 * k,
    ).collect()
    survivors = {v for v in range(min(12, lim)) if v % 3 == 1}
    assert after and all(r["vec_id"] in survivors for r in after)

    # (d) loud validation
    with pytest.raises(ValueError, match="min_candidates"):
        ivf_index_topk(
            spark, idx, queries, k=3, nprobe=2, where="src = 1",
            min_candidates=0,
        )


def test_ivf_index_append_canonicalizes_element_type(spark, sf_dir, tmp_path):
    """Regression (round-6 red test): a float-built index receiving an
    ``array<double>`` batch must NOT land mixed-typed parquet files in
    its cell directories. Every vector file on disk is canonicalized to
    array<double>, so reading EVERY cell back (full scan + per-cell
    collect) succeeds regardless of which file footer schema-inference
    would have picked."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType

    from sparktrends_spark.similarity.cosine import (
        append_ivf_index,
        build_ivf_index,
    )
    from sparktrends_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assert emb.schema["embedding"].dataType.elementType.typeName() == "float"
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb.filter("vec_id % 2 = 0"), idx)

    # double-typed batch: float * double-literal promotes the array
    doubled = emb.filter("vec_id % 2 = 1").select(
        "vec_id",
        F.transform("embedding", lambda x: x * 1.0001).alias("embedding"),
        "label",
    )
    assert isinstance(
        doubled.schema["embedding"].dataType.elementType, DoubleType
    )
    append_ivf_index(doubled, idx)

    root = resolve_root(idx)
    vecs = spark.read.parquet(f"{root}/vectors")
    assert isinstance(vecs.schema["_cv"].dataType, ArrayType)
    assert isinstance(vecs.schema["_cv"].dataType.elementType, DoubleType)
    # touch every row of every cell — this is what blew up with
    # SchemaColumnConvertNotSupportedException on mixed-typed files
    n = vecs.select("vec_id", "_cv").filter(F.size("_cv") > 0).count()
    assert n == emb.count()
    for cell_row in vecs.select("cell").distinct().collect():
        spark.read.parquet(f"{root}/vectors").filter(
            F.col("cell") == cell_row["cell"]
        ).select("_cv").collect()
    from sparktrends_spark.caching import release_persisted

    release_persisted()


def test_ivf_append_matches_legacy_float_index(spark, sf_dir, tmp_path):
    """A LEGACY index whose vectors are float-typed on disk (built
    before type canonicalization) must keep receiving float-typed
    appends: append casts to the index's on-disk element type, not
    unconditionally to double."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import FloatType

    from sparktrends_spark.similarity.cosine import append_ivf_index
    from sparktrends_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivf")
    # hand-build a legacy float index layout: centroids + float vectors
    from sparktrends_spark.similarity.cosine import (
        _best_cell,
        _with_cell_sims,
        label_centroids,
        norm,
    )

    cent = label_centroids(emb, label_col="label", vec_col="embedding")
    cent.select("cell", "cvec", norm(F.col("cvec")).alias("cn")).coalesce(
        1
    ).write.parquet(f"{idx}/centroids")
    cent_row = spark.read.parquet(f"{idx}/centroids").agg(
        F.collect_list(F.struct("cell", "cvec", "cn")).alias("_cents")
    )
    _with_cell_sims(
        emb.filter("vec_id % 2 = 0"), "vec_id", cent_row, "embedding", 6
    ).select(
        "vec_id",
        F.col("_v").alias("_cv"),  # float, legacy layout
        F.col("_nv").alias("_nc"),
        _best_cell()["cell"].alias("cell"),
    ).write.partitionBy("cell").parquet(f"{idx}/vectors")
    assert isinstance(
        spark.read.parquet(f"{idx}/vectors")
        .schema["_cv"].dataType.elementType,
        FloatType,
    )

    # append a double-promoted batch: must land as FLOAT
    doubled = emb.filter("vec_id % 2 = 1").select(
        "vec_id",
        F.transform("embedding", lambda x: x * 1.0).alias("embedding"),
        "label",
    )
    append_ivf_index(doubled, idx)
    vecs = spark.read.parquet(f"{idx}/vectors")
    assert isinstance(vecs.schema["_cv"].dataType.elementType, FloatType)
    assert vecs.select("_cv").count() == emb.count()
    from sparktrends_spark.caching import release_persisted

    release_persisted()


def test_kmeans_separates_tight_clusters(spark):
    """Three well-separated blobs: every blob lands in one cluster and
    each final centroid equals its blob's (rounded) mean."""
    import itertools

    from pyspark.sql import functions as F

    from sparktrends_spark.operators.kmeans import kmeans_fit

    corners = [[10.0, 0.0, 0.0], [0.0, 10.0, 0.0], [0.0, 0.0, 10.0]]
    # ids g + 3*j: the 3 smallest ids (0, 1, 2) are one seed per blob
    rows = []
    for g, corner in enumerate(corners):
        for j in range(20):
            rows.append(
                (g + 3 * j, [c + 0.01 * ((j % 5) - 2) for c in corner])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, assigned = kmeans_fit(df, k=3, iterations=3)
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    # blob of a vec: original index i = vec_id % 1000, blob = i % 3...
    # reconstruct blob from the vector instead: dominant axis
    vecs = {vid: v for vid, v in rows}
    by_blob = {}
    for vid, cl in got.items():
        blob = max(range(3), key=lambda a: vecs[vid][a])
        by_blob.setdefault(blob, set()).add(cl)
    assert all(len(cls) == 1 for cls in by_blob.values()), by_blob
    assert len({next(iter(c)) for c in by_blob.values()}) == 3
    for blob, cls in by_blob.items():
        cl = next(iter(cls))
        members = [vecs[vid] for vid in vecs
                   if max(range(3), key=lambda a: vecs[vid][a]) == blob]
        mean = [round(sum(m[i] for m in members) / len(members), 9)
                for i in range(3)]
        assert cents[cl] == mean


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    """Identical seed vectors: every point ties to cluster 0, cluster 1
    never receives members and must keep its seed centroid."""
    from sparktrends_spark.operators.kmeans import kmeans_fit

    df = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    cents, assigned = kmeans_fit(df, k=2, iterations=2)
    assert {r["cluster"] for r in assigned.collect()} == {0}
    assert cents[1] == [1.0, 2.0]


def test_pq_encode_is_deterministic_and_bounded(spark):
    from sparktrends_spark.operators.pq import pq_encode, pq_train

    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train(df, dim=8, m=2, k=4, iterations=2)
    assert set(books) == {0, 1}
    assert all(len(cb) == 4 for cb in books.values())
    assert all(len(v) == 4 for cb in books.values() for v in cb.values())
    codes = pq_encode(df, books, dim=8).collect()
    assert len(codes) == 20
    for r in codes:
        assert 0 <= r.code_0 < 4 and 0 <= r.code_1 < 4
    # re-encoding yields identical codes (round-6 argmin determinism)
    again = pq_encode(df, books, dim=8).collect()
    assert sorted(map(tuple, codes)) == sorted(map(tuple, again))


def test_pq_train_joint_matches_independent_kmeans(spark):
    """The joint tagged-union trainer must reproduce m independent
    kmeans_fit runs BIT-identically (seed rule, round-6 assignment,
    exact-decimal update, round-9 mean — the union only batches the
    jobs, never the algebra). Covers an uneven m (3-way CASE routing)
    and ties via the shared tie-break."""
    from pyspark.sql import functions as F

    from sparktrends_spark.caching import release_persisted
    from sparktrends_spark.operators.kmeans import kmeans_fit
    from sparktrends_spark.operators.pq import _sub, pq_train

    rows = [
        (i, [float((i * 13 + j * 5) % 17) / 3.0 for j in range(12)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for m, k, iters in ((2, 4, 3), (3, 5, 2)):
        joint = pq_train(df, dim=12, m=m, k=k, iterations=iters)
        release_persisted()
        sub_len = 12 // m
        for s in range(m):
            sub = df.select(
                F.col("vec_id"), _sub("embedding", s, sub_len).alias("embedding")
            )
            indep, _ = kmeans_fit(sub, k=k, iterations=iters)
            release_persisted()
            assert joint[s] == indep, (m, k, iters, s)


def test_literal_memo_is_session_scoped_and_locked(spark):
    """The centroid-literal memo (the round-12 serve plan-time fix)
    keys every entry by the LIVE gateway's applicationId and guards
    its bookkeeping with a lock: a process that recycles its
    SparkContext must miss the cache (dead py4j handles), and
    concurrent serve threads must not interleave the byte-accounting
    eviction."""
    import threading

    from sparktrends_spark.operators import kmeans as km

    vecs = {0: [1.0, 2.0], 1: [3.0, 4.0]}
    col1 = km.vec_array_literal(vecs)
    col2 = km.vec_array_literal(vecs)
    assert col1 is col2  # content hit within one session
    app_id = spark.sparkContext.applicationId
    keys = [k for k in km._CENT_MEMO if k[0] == app_id]
    assert keys, "memo keys must lead with the live applicationId"
    # a different session token can never hit this entry: simulate a
    # recycled gateway by asking for the same content under a fake
    # token — the key differs, so the lookup misses and rebuilds
    fake_key = ("app-after-jvm-restart",) + keys[0][1:]
    assert fake_key not in km._CENT_MEMO
    # concurrent construction through the lock neither corrupts the
    # byte accounting nor deadlocks (8 threads x same content)
    results = []

    def grab() -> None:
        results.append(km.vec_array_literal({9: [5.0, 6.0]}))

    threads = [threading.Thread(target=grab) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(results) == 8
    sized = sum(n for _, n in km._CENT_MEMO.values())
    assert 0 < sized <= km._CENT_MEMO_MAX_BYTES


def test_round9_mean_is_exact_half_away():
    """Property: the integer-division mean quantizer equals exact
    Decimal ROUND_HALF_UP arithmetic for every (sum, count) — the tie
    rule both engines restate (means of 6-decimal-quantized values
    land EXACTLY on 1e-9-grid halves, where double-based round()
    primitives disagree across engines)."""
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from sparktrends_spark.operators.kmeans import _round9_mean

    @settings(max_examples=300, deadline=None)
    @given(
        su=st.integers(min_value=-10**12, max_value=10**12),
        n=st.integers(min_value=1, max_value=10**6),
    )
    def check(su: int, n: int) -> None:
        s = Decimal(su).scaleb(-6)  # a scale-6 decimal sum
        got = _round9_mean(s, n)
        want = float(
            (s / n).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
        )
        assert got == want, (su, n, got, want)

    check()
    # the motivating tie: n=2000, odd scaled sum -> mean exactly on a
    # 1e-9-grid half (su/2 in 1e-9 units); half-away resolves it
    assert _round9_mean(Decimal("-0.053021"), 2000) == -2.6511e-05
    assert _round9_mean(Decimal("0.053021"), 2000) == 2.6511e-05


def test_pq_topk_plan_is_broadcast_equijoins(spark, sf_dir):
    from sparktrends_spark.plans import QUERIES
    from sparktrends_spark.caching import release_persisted

    plan = (
        QUERIES["embedding_pq_topk"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    release_persisted()
    # ADC must be TWO equi-joins independent of m (round 10): a tiny
    # (query, code_0) key fan-out join plus ONE m x k LUT payload row
    # per query (duplicating the payload onto the key rows would blow
    # the broadcast up k-fold) — never a nested-loop scoring join,
    # never a shuffle join, never one exchange per sub-space
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_ivfpq_plan_prunes_and_stays_equijoin(spark, sf_dir):
    from sparktrends_spark.plans import QUERIES
    from sparktrends_spark.caching import release_persisted

    plan = (
        QUERIES["embedding_ivfpq_topk"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    release_persisted()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    # ONE fused cell-prune + LUT broadcast equi-join (round 10): the
    # per-(query, cell) LUT row carries the m x k distance array, so
    # the cell join IS the scoring join. The only other join is the
    # encode ⋈ cell-assignment assembly on vec_id.
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_power_iteration_finds_dominant_axis(spark):
    from sparktrends_spark.caching import release_persisted
    from sparktrends_spark.operators.pca import power_iteration

    # anisotropic cloud: variance 100x larger along axis 0
    rows = [
        (i, [10.0 * (1 if i % 2 else -1) * (1 + i % 5), 0.1 * (i % 3), 0.05 * (i % 7), 0.0])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    direction, lam = power_iteration(df, iterations=5)
    release_persisted()
    assert abs(abs(direction[0]) - 1.0) < 1e-2
    assert all(abs(c) < 0.1 for c in direction[1:])
    assert lam > 100.0  # dominant eigenvalue of X'X/n along axis 0
    # unit norm (round-9 components)
    assert abs(sum(c * c for c in direction) - 1.0) < 1e-6


def test_write_small_frame_bounds_the_collect(spark, tmp_path):
    # §5 bounded-collect contract is mechanical: under the cap the
    # artifact round-trips identically; over it the collect refuses
    # instead of pulling an unbounded frame onto the driver.
    import pytest

    from sparktrends_spark.similarity.generations import write_small_frame

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id int, v double"
    )
    dest = str(tmp_path / "small_ok")
    write_small_frame(spark, df, dest)
    back = spark.read.parquet(dest)
    assert sorted((r.id, r.v) for r in back.collect()) == [
        (i, float(i)) for i in range(10)
    ]
    assert back.schema == df.schema

    with pytest.raises(ValueError, match="exceeds 4 rows"):
        write_small_frame(spark, df, str(tmp_path / "small_over"), row_cap=4)
