"""The per-generation index handle (similarity/generations.index_handle)
behind the persisted IVF, IVF-PQ and BM25 serves and appends: a warm
request's Spark job count and artifact reads, and that no cached
artifact outlives the generation it was read from."""

from __future__ import annotations

import os
import threading
import uuid

import pytest
from pyspark.sql import functions as F

from sparktrends_spark.similarity import cosine, generations, ivfpq_index
from sparktrends_spark.similarity.cosine import (
    append_ivf_index,
    build_ivf_index,
    compact_ivf_index,
    delete_from_ivf_index,
    ivf_index_topk,
    retrain_ivf_index,
)
from sparktrends_spark.similarity.ivfpq_index import (
    append_ivfpq_index,
    build_ivfpq_index,
    compact_ivfpq_index,
    delete_from_ivfpq_index,
    ivfpq_index_topk,
    retrain_ivfpq_index,
)
from sparktrends_spark.sources.tables import load_table
from sparktrends_spark.text import bm25_index
from sparktrends_spark.text.bm25_index import (
    append_bm25_index,
    bm25_index_topk,
    build_bm25_index,
    compact_bm25_index,
    delete_from_bm25_index,
)

QID0 = 10**9  # query ids disjoint from corpus ids
_DIM = 64  # embedding width of the fixture corpus


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").filter("vec_id < 200")


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").filter(
        "doc_id < 200"
    ).select("doc_id", "text")


def _ivf_queries(spark, emb, n=4):
    """A caller-built batch, as a serving client sends one: a list
    ``createDataFrame`` (a Python-RDD scan)."""
    rows = emb.orderBy("vec_id").limit(n).collect()
    return spark.createDataFrame(
        [(QID0 + i, list(r["embedding"])) for i, r in enumerate(rows)],
        "query_id long, embedding array<float>",
    )


def _bm25_queries(spark, docs, n=4):
    rows = docs.orderBy("doc_id").limit(n).collect()
    return spark.createDataFrame(
        [(QID0 + i, r["text"]) for i, r in enumerate(rows)],
        "query_id long, text string",
    )


def _jobs(spark, fn):
    """Spark jobs ``fn`` runs on this thread, counted through a job
    group and the status tracker."""
    sc = spark.sparkContext
    group = f"index-handle-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "index handle job count")
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _no_reload(monkeypatch, module, loader):
    """Make any handle reload fail: a request that still hits the
    cache never calls the loader."""

    def boom(spark, root):
        raise AssertionError(f"{loader} re-read the artifacts of {root}")

    monkeypatch.setattr(module, loader, boom)


def test_warm_requests_run_a_bounded_number_of_jobs(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The build fills the handle, so the first request after it reads
    no centroids/meta/schema; a warm IVF request runs <= 5 Spark jobs
    and a BM25 request <= 12 (12 and 20 before the handle)."""
    emb, docs = _emb(spark, sf_dir), _docs(spark, sf_dir)
    ivf, bm = str(tmp_path / "ivf"), str(tmp_path / "bm25")
    build_ivf_index(emb, ivf)
    build_bm25_index(docs, bm)
    _no_reload(monkeypatch, cosine, "_load_ivf")
    _no_reload(monkeypatch, bm25_index, "_load_bm25")

    ivf_q, bm_q = _ivf_queries(spark, emb), _bm25_queries(spark, docs)
    first = _rows(ivf_index_topk(spark, ivf, ivf_q, k=5))
    assert len(first) == 20
    assert _rows(bm25_index_topk(spark, bm, bm_q, k=5))

    got = {}
    n_ivf = _jobs(spark, lambda: got.update(
        ivf=_rows(ivf_index_topk(spark, ivf, ivf_q, k=5))
    ))
    n_bm = _jobs(spark, lambda: got.update(
        bm=_rows(bm25_index_topk(spark, bm, bm_q, k=5))
    ))
    assert got["ivf"] == first
    assert n_ivf <= 5, n_ivf
    assert n_bm <= 12, n_bm


def test_warm_ivfpq_request_reads_no_quantizer(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The IVF-PQ build fills the handle: a warm request reads neither
    ``coarse`` nor ``books`` (through Spark or pyarrow) and re-infers
    no schema."""
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameReader

    emb = _emb(spark, sf_dir)
    idx = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, idx, dim=_DIM)
    _no_reload(monkeypatch, ivfpq_index, "_load_ivfpq")
    read = []
    spark_parquet, arrow_table = DataFrameReader.parquet, pq.read_table

    def spark_read(self, *paths, **kw):
        read.extend(paths)
        return spark_parquet(self, *paths, **kw)

    def arrow_read(source, *a, **kw):
        read.append(source)
        return arrow_table(source, *a, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spark_read)
    monkeypatch.setattr(pq, "read_table", arrow_read)
    q = _ivf_queries(spark, emb)
    rows = _rows(ivfpq_index_topk(spark, idx, q, dim=_DIM, k_neighbors=5))
    assert len(rows) == 20
    assert not [
        p for p in read if os.path.basename(str(p)) in ("coarse", "books")
    ], read


def test_overwrite_build_elsewhere_invalidates_the_handle(
    spark, sf_dir, tmp_path
):
    """A handle cached before an overwrite-build in place (here: put
    back as if another process had rebuilt) is never served: the new
    build rewrote the small artifacts, so the generation identity
    differs and the request reads the new corpus."""
    emb, docs = _emb(spark, sf_dir), _docs(spark, sf_dir)
    ivf, bm = str(tmp_path / "ivf"), str(tmp_path / "bm25")
    ivf_q, bm_q = _ivf_queries(spark, emb), _bm25_queries(spark, docs)
    build_ivf_index(emb.filter("vec_id % 2 = 0"), ivf)
    build_bm25_index(docs.filter("doc_id % 2 = 0"), bm)
    assert ivf_index_topk(spark, ivf, ivf_q, k=5).count()
    assert bm25_index_topk(spark, bm, bm_q, k=5).count()
    stale = {
        p: generations._HANDLES[os.path.abspath(p)] for p in (ivf, bm)
    }

    build_ivf_index(emb.filter("vec_id % 2 = 1"), ivf)
    build_bm25_index(docs.filter("doc_id % 2 = 1"), bm)
    generations._HANDLES.update(
        {os.path.abspath(p): h for p, h in stale.items()}
    )
    ivf_ids = {r["vec_id"] for r in ivf_index_topk(spark, ivf, ivf_q, k=5).collect()}
    bm_ids = {r["doc_id"] for r in bm25_index_topk(spark, bm, bm_q, k=5).collect()}
    assert ivf_ids and all(i % 2 == 1 for i in ivf_ids)
    assert bm_ids and all(i % 2 == 1 for i in bm_ids)
    fresh = str(tmp_path / "fresh")
    build_ivf_index(emb.filter("vec_id % 2 = 1"), fresh)
    assert _rows(ivf_index_topk(spark, ivf, ivf_q, k=5)) == _rows(
        ivf_index_topk(spark, fresh, ivf_q, k=5)
    )


def test_delete_and_append_are_seen_by_the_next_request(
    spark, sf_dir, tmp_path
):
    """Tombstones and file listings are read fresh per request: a
    warm handle hides ids deleted after it was filled and serves rows
    appended after it was filled."""
    emb, docs = _emb(spark, sf_dir), _docs(spark, sf_dir)
    ivf, bm = str(tmp_path / "ivf"), str(tmp_path / "bm25")
    pq = str(tmp_path / "ivfpq")
    ivf_q, bm_q = _ivf_queries(spark, emb), _bm25_queries(spark, docs)
    build_ivf_index(emb.filter("vec_id >= 4"), ivf)
    build_bm25_index(docs.filter("doc_id >= 4"), bm)
    build_ivfpq_index(emb.filter("vec_id >= 4"), pq, dim=_DIM)

    def pq_ids():
        return {
            r["vec_id"]
            for r in ivfpq_index_topk(
                spark, pq, ivf_q, dim=_DIM, k_neighbors=5
            ).collect()
        }

    ivf_hits = {r["vec_id"] for r in ivf_index_topk(spark, ivf, ivf_q, k=5).collect()}
    bm_hits = {r["doc_id"] for r in bm25_index_topk(spark, bm, bm_q, k=5).collect()}
    pq_hits = pq_ids()
    delete_from_ivf_index(spark, ivf, sorted(ivf_hits))
    delete_from_bm25_index(spark, bm, sorted(bm_hits))
    delete_from_ivfpq_index(spark, pq, sorted(pq_hits))
    assert not {
        r["vec_id"] for r in ivf_index_topk(spark, ivf, ivf_q, k=5).collect()
    } & ivf_hits
    assert not {
        r["doc_id"] for r in bm25_index_topk(spark, bm, bm_q, k=5).collect()
    } & bm_hits
    assert not pq_ids() & pq_hits

    # the queries' own rows (ids 0-3) enter by append; each query's
    # vector now has an exact match in the index
    append_ivf_index(emb.filter("vec_id < 4"), ivf)
    append_bm25_index(docs.filter("doc_id < 4"), bm)
    append_ivfpq_index(emb.filter("vec_id < 4"), pq, dim=_DIM)
    top = {
        r["query_id"]: r["vec_id"]
        for r in ivf_index_topk(spark, ivf, ivf_q, k=1).collect()
    }
    assert top == {QID0 + i: i for i in range(4)}
    assert {r["doc_id"] for r in bm25_index_topk(spark, bm, bm_q, k=5).collect()} & {
        0, 1, 2, 3
    }
    assert pq_ids() & {0, 1, 2, 3}


def test_compact_and_retrain_serve_the_promoted_root(spark, sf_dir, tmp_path):
    """Compaction and retraining promote a new root and refill the
    handle with it: the next request reads the promoted generation,
    whose rows equal a fresh build over the live corpus."""
    emb, docs = _emb(spark, sf_dir), _docs(spark, sf_dir)
    ivf, bm = str(tmp_path / "ivf"), str(tmp_path / "bm25")
    pq = str(tmp_path / "ivfpq")
    ivf_q, bm_q = _ivf_queries(spark, emb), _bm25_queries(spark, docs)
    build_ivf_index(emb, ivf)
    build_bm25_index(docs, bm)
    build_ivfpq_index(emb, pq, dim=_DIM, store_vectors=True)

    def pq_rows(path):
        return _rows(
            ivfpq_index_topk(spark, path, ivf_q, dim=_DIM, k_neighbors=5)
        )

    ivf_index_topk(spark, ivf, ivf_q, k=5).collect()
    bm25_index_topk(spark, bm, bm_q, k=5).collect()
    pq_rows(pq)
    delete_from_ivf_index(spark, ivf, [10, 11])
    delete_from_bm25_index(spark, bm, [10, 11])
    delete_from_ivfpq_index(spark, pq, [10, 11])
    pq_deleted = pq_rows(pq)

    for path, out in (
        (ivf, compact_ivf_index(spark, ivf)),
        (bm, compact_bm25_index(spark, bm)),
        (pq, compact_ivfpq_index(spark, pq)),
    ):
        root = generations.resolve_root(path)
        assert root.endswith(out["generation"])
        assert generations._HANDLES[os.path.abspath(path)].root == root
    live_emb = emb.filter(~F.col("vec_id").isin(10, 11))
    live_docs = docs.filter(~F.col("doc_id").isin(10, 11))
    fresh_bm = str(tmp_path / "fresh_bm")
    build_bm25_index(live_docs, fresh_bm)
    assert _rows(bm25_index_topk(spark, bm, bm_q, k=5)) == _rows(
        bm25_index_topk(spark, fresh_bm, bm_q, k=5)
    )
    # compaction keeps the quantizers: the tombstone serve, unchanged
    assert pq_rows(pq) == pq_deleted

    compacted = generations.resolve_root(ivf)
    retrain_ivf_index(live_emb, ivf)
    assert generations.resolve_root(ivf) != compacted
    fresh_ivf = str(tmp_path / "fresh_ivf")
    build_ivf_index(live_emb, fresh_ivf)
    assert _rows(ivf_index_topk(spark, ivf, ivf_q, k=5)) == _rows(
        ivf_index_topk(spark, fresh_ivf, ivf_q, k=5)
    )

    compacted = generations.resolve_root(pq)
    retrain_ivfpq_index(spark, pq, dim=_DIM)
    assert generations.resolve_root(pq) != compacted
    assert generations._HANDLES[os.path.abspath(pq)].root == (
        generations.resolve_root(pq)
    )
    fresh_pq = str(tmp_path / "fresh_pq")
    build_ivfpq_index(live_emb, fresh_pq, dim=_DIM, store_vectors=True)
    assert pq_rows(pq) == pq_rows(fresh_pq)


def test_indexes_built_from_two_threads_then_served(spark, sf_dir, tmp_path):
    """The set-up shape of a serving process: IVF and BM25 built side
    by side from two threads, each build filling its own handle; both
    then serve exactly what sequential builds serve."""
    emb, docs = _emb(spark, sf_dir), _docs(spark, sf_dir)
    ivf, bm = str(tmp_path / "ivf"), str(tmp_path / "bm25")
    errors = []

    def run(fn, *args):
        try:
            fn(*args)
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [
        threading.Thread(target=run, args=(build_ivf_index, emb, ivf)),
        threading.Thread(target=run, args=(build_bm25_index, docs, bm)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()
    assert not errors, errors
    for p in (ivf, bm):
        assert generations._HANDLES[os.path.abspath(p)].root == (
            generations.resolve_root(p)
        )

    ivf_q, bm_q = _ivf_queries(spark, emb), _bm25_queries(spark, docs)
    seq_ivf, seq_bm = str(tmp_path / "seq_ivf"), str(tmp_path / "seq_bm")
    build_ivf_index(emb, seq_ivf)
    build_bm25_index(docs, seq_bm)
    assert _rows(ivf_index_topk(spark, ivf, ivf_q, k=5)) == _rows(
        ivf_index_topk(spark, seq_ivf, ivf_q, k=5)
    )
    assert _rows(bm25_index_topk(spark, bm, bm_q, k=5)) == _rows(
        bm25_index_topk(spark, seq_bm, bm_q, k=5)
    )


def test_append_without_vectors_names_the_root(spark, sf_dir, tmp_path):
    """The append takes the stored element type from the handle's
    pinned schema; a root with no ``vectors`` (never built, or only
    its small artifacts copied) raises a ValueError naming it instead
    of guessing ``double``. The check runs before the maintenance
    lock, so a never-built path is not created."""
    import shutil

    emb = _emb(spark, sf_dir)
    built = str(tmp_path / "ivf")
    build_ivf_index(emb.filter("vec_id >= 100"), built)
    partial = str(tmp_path / "partial")
    for a in ("centroids", "meta"):
        shutil.copytree(
            os.path.join(generations.resolve_root(built), a),
            os.path.join(partial, a),
        )
    for idx in (partial, str(tmp_path / "never_built")):
        with pytest.raises(ValueError, match=f"no index at {idx}"):
            append_ivf_index(emb.filter("vec_id < 100"), idx)
        assert not os.path.isdir(os.path.join(idx, "vectors"))
    assert not os.path.isdir(tmp_path / "never_built")


def test_handle_cache_under_concurrent_requests(tmp_path):
    """Many threads resolving handles of a few index paths while one
    path's small artifact is rewritten: no request fails or gets
    another path's handle, and once the writer stops the cache holds
    one entry per path, describing the artifact on disk."""
    import sys
    import types

    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(applicationId="app")
    )
    paths = [str(tmp_path / f"idx{i}") for i in range(4)]

    def write_meta(path, n):
        d = os.path.join(path, "meta")
        os.makedirs(d, exist_ok=True)
        new = f"part-{n:05d}.parquet"
        open(os.path.join(d, new), "w").close()
        for f in os.listdir(d):
            if f != new:
                os.remove(os.path.join(d, f))

    def load(spark, root):
        return {}, {"parts": tuple(sorted(os.listdir(f"{root}/meta")))}

    for p in paths:
        write_meta(p, 0)
    errors = []

    def serve(i):
        try:
            for _ in range(200):
                p = paths[i % len(paths)]
                h = generations.index_handle(spark, p, ("meta",), load)
                assert h.root == p
                # the handle describes a generation this path really had
                assert h.extra["parts"][0].startswith("part-")
        except Exception as e:  # surfaced below
            errors.append(e)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=serve, args=(i,))
            for i in range(2 * len(os.sched_getaffinity(0)) + 1)
        ]
        for t in threads:
            t.start()
        for n in range(1, 20):
            write_meta(paths[0], n)
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(prev)
    assert not errors, errors
    for p in paths:
        h = generations.index_handle(spark, p, ("meta",), load)
        assert h.extra["parts"] == tuple(sorted(os.listdir(f"{p}/meta")))
        assert generations._HANDLES[os.path.abspath(p)] is h
