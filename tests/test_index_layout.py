"""One on-disk layout for every persisted index and the training-shard
export (similarity/generations.py): ``path`` holds only the ``CURRENT``
pointer and ``g<N>/`` generation directories after every writer, and a
build promotes a generation like any other writer, so a reader pinned
to the previous one keeps serving across an overwrite-build."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from sparktrends_spark.caching import release_persisted
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
    retrain_ivfpq_index,
)
from sparktrends_spark.sources.tables import load_table
from sparktrends_spark.text.bm25_index import (
    append_bm25_index,
    build_bm25_index,
    compact_bm25_index,
    delete_from_bm25_index,
)
from sparktrends_spark.text.dedup_index import (
    build_dedup_index,
    compact_dedup_index,
    delete_from_dedup_index,
    incremental_dedup,
)
from sparktrends_spark.text.shards import write_training_shards

_DIM = 64  # embedding width of the fixture corpus


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").filter("vec_id < 120")


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").filter(
        "doc_id < 120"
    ).select("doc_id", "text")


def _ivf(spark, sf_dir, p):
    emb = _emb(spark, sf_dir)
    yield "build", lambda: build_ivf_index(emb.filter("vec_id >= 20"), p)
    yield "append", lambda: append_ivf_index(emb.filter("vec_id < 20"), p)
    yield "delete", lambda: delete_from_ivf_index(spark, p, [3, 4])
    yield "compact", lambda: compact_ivf_index(spark, p)
    yield "retrain", lambda: retrain_ivf_index(emb, p)
    yield "overwrite-build", lambda: build_ivf_index(emb, p)


def _ivfpq(spark, sf_dir, p):
    emb = _emb(spark, sf_dir)
    yield "build", lambda: build_ivfpq_index(
        emb.filter("vec_id >= 20"), p, dim=_DIM, store_vectors=True
    )
    yield "append", lambda: append_ivfpq_index(
        emb.filter("vec_id < 20"), p, dim=_DIM
    )
    yield "delete", lambda: delete_from_ivfpq_index(spark, p, [3, 4])
    yield "compact", lambda: compact_ivfpq_index(spark, p)
    yield "retrain", lambda: retrain_ivfpq_index(spark, p, dim=_DIM)


def _bm25(spark, sf_dir, p):
    docs = _docs(spark, sf_dir)
    yield "build", lambda: build_bm25_index(docs.filter("doc_id >= 20"), p)
    yield "append", lambda: append_bm25_index(docs.filter("doc_id < 20"), p)
    yield "delete", lambda: delete_from_bm25_index(spark, p, [3, 4])
    yield "compact", lambda: compact_bm25_index(spark, p)
    yield "overwrite-build", lambda: build_bm25_index(docs, p)


def _dedup(spark, sf_dir, p):
    docs = _docs(spark, sf_dir)
    yield "build", lambda: build_dedup_index(docs.filter("doc_id >= 20"), p)
    yield "append", lambda: incremental_dedup(
        docs.filter("doc_id < 20"), p, append=True
    ).collect()
    yield "delete", lambda: delete_from_dedup_index(spark, p, [3, 4])
    yield "compact", lambda: compact_dedup_index(spark, p)


def _shards(spark, sf_dir, p):
    docs = _docs(spark, sf_dir)
    kw = dict(n_shards=2, salt="layout")
    yield "first append", lambda: write_training_shards(
        docs.filter("doc_id >= 20"), p, mode="append", **kw
    )
    yield "append", lambda: write_training_shards(
        docs.filter("doc_id < 20"), p, mode="append", **kw
    )
    yield "overwrite", lambda: write_training_shards(docs, p, **kw)


_FAMILIES = {
    "ivf": _ivf,
    "ivfpq": _ivfpq,
    "bm25": _bm25,
    "dedup": _dedup,
    "shards": _shards,
}


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_path_holds_only_current_and_generations(
    spark, sf_dir, tmp_path, family
):
    """After each write of the family's lifecycle, nothing but the
    pointer and generation directories sits directly under the path."""
    p = str(tmp_path / family)
    for step, write in _FAMILIES[family](spark, sf_dir, p):
        write()
        names = sorted(os.listdir(p))
        gens = [n for n in names if n != "CURRENT"]
        assert "CURRENT" in names and gens, (step, names)
        assert all(
            re.fullmatch(r"g\d{6}", n) and os.path.isdir(os.path.join(p, n))
            for n in gens
        ), (step, names)
    release_persisted()


def test_overwrite_build_is_safe_for_a_pinned_reader(spark, sf_dir, tmp_path):
    """A serve frame built before an overwrite-build and executed after
    it reads the generation it resolved: the first corpus's rows."""
    emb = _emb(spark, sf_dir)
    q = emb.filter("vec_id < 4").select(
        (F.col("vec_id") + 10**9).alias("query_id"), "embedding"
    )
    idx, fresh = str(tmp_path / "ivf"), str(tmp_path / "fresh")
    build_ivf_index(emb.filter("vec_id % 2 = 0"), idx)
    pinned = ivf_index_topk(spark, idx, q, k=5)
    build_ivf_index(emb.filter("vec_id % 2 = 1"), idx)

    got = sorted(map(tuple, pinned.collect()))
    build_ivf_index(emb.filter("vec_id % 2 = 0"), fresh)
    assert got == sorted(
        map(tuple, ivf_index_topk(spark, fresh, q, k=5).collect())
    )
    assert got and all(r[1] % 2 == 0 for r in got)
    release_persisted()
