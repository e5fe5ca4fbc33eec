"""Persisted BM25 postings-index lifecycle (text/bm25_index.py).

The serve's value semantics vs the from-scratch chain are pinned by
the swept ``doc_bm25_index_topk`` oracle; these tests pin the
LIFECYCLE invariants: append == monolithic rebuild (nothing frozen),
delete == rebuild-on-live-corpus (derived stats shrink with the
tombstones), compact preserves values while merging segments and
reclaiming deletes, the serve prunes to the query terms' buckets, and
the loud-failure surfaces (missing index, tombstoned re-ingest, bad
bucket counts)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sparktrends_spark.sources.tables import load_table
from sparktrends_spark.text.bm25_index import (
    append_bm25_index,
    bm25_index_stats,
    bm25_index_topk,
    build_bm25_index,
    compact_bm25_index,
    delete_from_bm25_index,
)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _queries(docs):
    return docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "text"
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_append_equals_monolithic_build(spark, sf_dir, tmp_path):
    """df / n_docs / avgdl are DERIVED at serve, so build(half) +
    append(half) must serve BIT-IDENTICALLY to build(all) — the
    exactness property the frozen-quantizer ANN appends can't have."""
    d = _docs(spark, sf_dir)
    q = _queries(d)
    mono = str(tmp_path / "mono")
    build_bm25_index(d, mono)
    inc = str(tmp_path / "inc")
    build_bm25_index(d.filter("doc_id % 2 = 0"), inc)
    append_bm25_index(d.filter("doc_id % 2 = 1"), inc)
    assert _rows(bm25_index_topk(spark, mono, q)) == _rows(
        bm25_index_topk(spark, inc, q)
    )


def test_delete_equals_rebuild_on_live_corpus(spark, sf_dir, tmp_path):
    """Tombstoned docs leave the candidate set AND the derived corpus
    statistics in the same serve: post-delete results equal a fresh
    index built on the corpus minus the deleted docs — exactly."""
    d = _docs(spark, sf_dir)
    q = _queries(d)
    idx = str(tmp_path / "del")
    build_bm25_index(d, idx)
    doomed = [r["doc_id"] for r in d.filter(
        "doc_id >= 20 AND doc_id < 40"
    ).select("doc_id").collect()]
    info = delete_from_bm25_index(spark, idx, doomed)
    assert info["n_tombstones"] == len(doomed)
    after = bm25_index_topk(spark, idx, q)
    assert not {r["doc_id"] for r in after.collect()} & set(doomed)
    fresh = str(tmp_path / "fresh")
    build_bm25_index(d.filter(~F.col("doc_id").isin(doomed)), fresh)
    assert _rows(after) == _rows(bm25_index_topk(spark, fresh, q))

    # compact physically reclaims; serve values unchanged; the
    # reclaimed ids may then re-ingest, restoring the full corpus
    before_rows = _rows(after)
    out = compact_bm25_index(spark, idx)
    assert out["rows_after"] < out["rows_before"]
    assert _rows(bm25_index_topk(spark, idx, q)) == before_rows
    append_bm25_index(d.filter(F.col("doc_id").isin(doomed)), idx)
    mono2 = str(tmp_path / "mono2")
    build_bm25_index(d, mono2)
    assert _rows(bm25_index_topk(spark, idx, q)) == _rows(
        bm25_index_topk(spark, mono2, q)
    )


def test_append_refuses_tombstoned_docs(spark, sf_dir, tmp_path):
    d = _docs(spark, sf_dir)
    idx = str(tmp_path / "ref")
    build_bm25_index(d.filter("doc_id >= 10"), idx)
    delete_from_bm25_index(spark, idx, [11, 12])
    with pytest.raises(ValueError, match="tombstoned"):
        append_bm25_index(d.filter("doc_id < 13"), idx)


def test_serve_prunes_to_query_term_buckets(spark, sf_dir, tmp_path):
    """The postings scan must carry a static cell partition filter —
    the probed-cells analogue. With a single short query the bucket
    union stays a strict subset of the 16 buckets."""
    d = _docs(spark, sf_dir)
    idx = str(tmp_path / "prune")
    build_bm25_index(d, idx)
    one_word = d.limit(1).select(
        F.col("doc_id").alias("query_id"),
        F.lit("marketplace").alias("text"),
    )
    df = bm25_index_topk(spark, idx, one_word, k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    # a one-element isin renders as equality, larger sets as IN/INSET
    # (past inSetConversionThreshold the parens disappear) — match all
    m = re.search(
        r"PartitionFilters: \[[^\]]*?cell[^\]]*?(?:= (\d+)"
        r"|IN \(([0-9, ]+)\)|INSET ([0-9, ]+))",
        plan,
    )
    assert m, plan
    got = m.group(1) or m.group(2) or m.group(3)
    cells = [c for c in got.split(",") if c.strip()]
    assert len(cells) == 1  # one term -> one bucket


def test_filtered_serve_candidates_only_stats_corpus_wide(
    spark, sf_dir, tmp_path
):
    """where= narrows CANDIDATES, never the corpus statistics: every
    returned doc satisfies the predicate, and its score equals the
    UNFILTERED serve's score for the same (query, doc) — df/n_docs/
    avgdl unchanged by the filter (the canonical filtered-BM25 and
    the hybrid oracle's lexical contract). Payload lifecycle guards
    mirror the ANN families'."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    q = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    idx = str(tmp_path / "bmf")
    build_bm25_index(docs, idx, payload_cols=("lang",))
    n = docs.count()
    langs = {r["doc_id"]: r["lang"] for r in docs.select(
        "doc_id", "lang"
    ).collect()}
    filt = bm25_index_topk(spark, idx, q, k=10, where="lang = 'en'")
    rows = filt.collect()
    assert rows and all(langs[r["doc_id"]] == "en" for r in rows)
    # rank everything unfiltered: filtered scores must be identical
    # for the same (query, doc) pairs
    allk = bm25_index_topk(spark, idx, q, k=n)
    uns = {(r["query_id"], r["doc_id"]): r["score"] for r in allk.collect()}
    assert all(uns[(r["query_id"], r["doc_id"])] == r["score"] for r in rows)

    # loud guards: unresolvable predicate names stored payloads;
    # append without the payload refused; append with it works
    with pytest.raises(ValueError, match="stored payload column.*'lang'"):
        bm25_index_topk(spark, idx, q, k=3, where="src = 1")
    bare = str(tmp_path / "bmbare")
    build_bm25_index(docs.select("doc_id", "text"), bare)
    with pytest.raises(ValueError, match="without payload_cols"):
        bm25_index_topk(spark, bare, q, k=3, where="lang = 'en'")
    half = str(tmp_path / "bmhalf")
    build_bm25_index(
        docs.filter("doc_id % 2 = 0"), half, payload_cols=("lang",)
    )
    with pytest.raises(ValueError, match="payload"):
        append_bm25_index(
            docs.filter("doc_id % 2 = 1").select("doc_id", "text"), half
        )
    append_bm25_index(docs.filter("doc_id % 2 = 1"), half)
    assert _rows(
        bm25_index_topk(spark, half, q, k=10, where="lang = 'en'")
    ) == _rows(filt)
    with pytest.raises(TypeError, match="sequence of column names"):
        build_bm25_index(docs, str(tmp_path / "bmstr"), payload_cols="lang")


def test_stats_probe_and_loud_failures(spark, sf_dir, tmp_path):
    d = _docs(spark, sf_dir)
    idx = str(tmp_path / "stats")
    build_bm25_index(d.filter("doc_id % 2 = 0"), idx)
    append_bm25_index(d.filter("doc_id % 2 = 1"), idx)
    delete_from_bm25_index(spark, idx, [2])
    st = bm25_index_stats(spark, idx)
    assert st["size_ratio"] > 1.5  # appended roughly half the corpus
    assert st["n_tombstones"] == 1 and st["tombstone_ratio"] > 0
    assert st["n_docs"] == d.count()

    with pytest.raises(ValueError, match="no BM25 index"):
        bm25_index_topk(spark, str(tmp_path / "nope"), _queries(d))
    with pytest.raises(ValueError, match="n_buckets"):
        build_bm25_index(d, str(tmp_path / "bad"), n_buckets=0)


def test_append_canonicalizes_types_and_guards_id_name(
    spark, sf_dir, tmp_path
):
    """The IVF element-type lesson applied to the lexical index: a
    batch whose id (or payload) type diverges from the stored schema
    is CAST to it before the write — an int batch appended to a
    bigint index must not land mixed-typed files in the cell dirs.
    A differently-NAMED id column is refused loudly."""
    d = _docs(spark, sf_dir).filter("doc_id < 30")
    idx = str(tmp_path / "types")
    build_bm25_index(d.filter("doc_id < 20"), idx)  # doc_id: bigint
    batch = spark.createDataFrame(
        [(25, "a fresh appended document about marketplaces")],
        "doc_id int, text string",  # deliberately narrower id type
    )
    append_bm25_index(batch, idx)
    # every file in every bucket reads back under one schema
    from sparktrends_spark.similarity.generations import resolve_root

    root = resolve_root(idx)
    post = spark.read.parquet(f"{root}/postings")
    assert post.schema["doc_id"].dataType.simpleString() == "bigint"
    assert post.filter("doc_id = 25").count() > 0
    dl = spark.read.parquet(f"{root}/doclens")
    assert dl.schema["doc_id"].dataType.simpleString() == "bigint"
    assert dl.count() == 21

    with pytest.raises(ValueError, match="stores id column"):
        append_bm25_index(
            batch.withColumnRenamed("doc_id", "docid"), idx, doc_id="docid"
        )


def test_maybe_compact_policy(spark, sf_dir, tmp_path):
    """One-call maintenance policy: a fresh index no-ops; a tombstone
    past the ratio threshold triggers the shared locked compactor,
    whose promoted generation re-probes clean (and serves the live
    corpus exactly)."""
    from sparktrends_spark.text.bm25_index import maybe_compact_bm25_index

    d = _docs(spark, sf_dir).filter("doc_id < 40")
    q = _queries(d)
    idx = str(tmp_path / "policy")
    build_bm25_index(d, idx)
    out = maybe_compact_bm25_index(spark, idx)
    assert not out["compacted"] and out["compact"] is None

    doomed = list(range(10, 25))
    delete_from_bm25_index(spark, idx, doomed)
    out = maybe_compact_bm25_index(spark, idx)
    assert out["compacted"] and "tombstone_ratio" in out["reasons"][0]
    assert out["compact"]["rows_after"] < out["compact"]["rows_before"]
    out2 = maybe_compact_bm25_index(spark, idx)
    assert not out2["compacted"] and out2["n_tombstones"] == 0
    fresh = str(tmp_path / "policy_fresh")
    build_bm25_index(d.filter(~F.col("doc_id").isin(doomed)), fresh)
    assert _rows(bm25_index_topk(spark, idx, q)) == _rows(
        bm25_index_topk(spark, fresh, q)
    )
