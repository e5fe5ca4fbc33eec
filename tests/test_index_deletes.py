"""Takedown/PII-purge lifecycle for the persisted ANN index
(`similarity/ivfpq_index.delete_from_ivfpq_index`) — the last missing
lifecycle side (r10 VERDICT #1): a document deleted from the corpus
must stop being served as a neighbor IMMEDIATELY (tombstone anti-join
at serve) and be PHYSICALLY reclaimed at compact/retrain, with the
correctness claim value-graded as serve-after-delete ==
fresh-build-on-remaining-corpus (deterministic k-means makes that an
equality, the same discipline as the retrain row).

Also covers the round-11 maintenance-hygiene fixes: promotion-history
retention (a crashed writer's never-promoted generation dir can
neither count toward retention nor displace the serving root),
lock-holder metadata in the timeout message, maybe_retrain rejecting
unknown kwargs, and staleness's strict/warn behavior without the
vectors sidecar.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sparktrends_spark.caching import release_persisted
from sparktrends_spark.similarity.ivfpq_index import (
    append_ivfpq_index,
    build_ivfpq_index,
    compact_ivfpq_index,
    delete_from_ivfpq_index,
    ivfpq_index_staleness,
    ivfpq_index_topk,
    maybe_retrain_ivfpq_index,
    resolve_index_root,
    retrain_ivfpq_index,
)
from sparktrends_spark.sources.tables import load_table

_DIM = 64


@pytest.fixture(autouse=True)
def _release():
    yield
    release_persisted()


def _serve(spark, idx, emb, **kw):
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rows = sorted(
        map(
            tuple,
            ivfpq_index_topk(
                spark, idx, q, dim=_DIM, k_neighbors=3, nprobe=2, **kw
            ).collect(),
        )
    )
    release_persisted()
    return rows


def test_delete_serve_excludes_and_compact_reclaims(spark, sf_dir, tmp_path):
    """Tombstoned ids vanish from serve results immediately; compaction
    physically drops their rows (codes + vectors sidecar), clears the
    tombstone artifact, and post-compact serve is byte-identical to the
    tombstone-anti-join serve."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "del")
    build_ivfpq_index(emb, idx, dim=_DIM, store_vectors=True)

    doomed = emb.filter("vec_id % 7 = 3").select("vec_id")
    n_doomed = doomed.count()
    info = delete_from_ivfpq_index(spark, idx, doomed)
    assert info["n_tombstones"] == n_doomed, info

    st = ivfpq_index_staleness(spark, idx)
    assert st["n_tombstones"] == n_doomed, st
    assert st["tombstone_ratio"] == pytest.approx(n_doomed / emb.count())

    pre = _serve(spark, idx, emb)
    assert pre, "serve returned nothing"
    assert all(r[1] % 7 != 3 for r in pre), (
        "tombstoned id served as a neighbor"
    )

    cinfo = compact_ivfpq_index(spark, idx)
    assert cinfo["rows_before"] - cinfo["rows_after"] == n_doomed, cinfo
    root = resolve_index_root(idx)
    assert root.endswith(cinfo["generation"])
    # physical reclaim: no tombstones artifact, no tombstoned rows in
    # either cell-partitioned artifact of the new generation
    assert not os.path.isdir(os.path.join(root, "tombstones"))
    assert (
        spark.read.parquet(f"{root}/codes").filter("vec_id % 7 = 3").count()
        == 0
    )
    assert (
        spark.read.parquet(f"{root}/vectors").filter("vec_id % 7 = 3").count()
        == 0
    )
    st2 = ivfpq_index_staleness(spark, idx)
    assert st2["n_tombstones"] == 0 and st2["tombstone_ratio"] == 0.0, st2

    post = _serve(spark, idx, emb)
    assert post == pre


def test_tombstone_antijoin_plan_shape(spark, sf_dir, tmp_path):
    """The logical-delete filter must compile to a broadcast HASH
    anti-join (tombstone side is takedown-sized) — never a sort-merge
    (corpus shuffle) or nested-loop — and must not disturb the probed
    static partition pruning."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "pl")
    build_ivfpq_index(emb, idx, dim=_DIM)
    delete_from_ivfpq_index(
        spark, idx, emb.filter("vec_id % 7 = 3").select("vec_id")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    df = ivfpq_index_topk(spark, idx, q, dim=_DIM, k_neighbors=3, nprobe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftAnti") == 1, plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PartitionFilters: [cell" in plan


def test_append_refuses_tombstoned_reinsert(spark, sf_dir, tmp_path):
    """Re-inserting a tombstoned id must fail loudly (the serve
    anti-join would otherwise hide the new rows forever); after the
    reclaim (compact) the same append succeeds."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "re")
    build_ivfpq_index(emb.filter("vec_id >= 10"), idx, dim=_DIM)
    delete_from_ivfpq_index(spark, idx, [11, 12])
    with pytest.raises(ValueError, match="tombstoned"):
        append_ivfpq_index(emb.filter("vec_id = 11"), idx, dim=_DIM)
    # disjoint batches still append fine past the guard
    append_ivfpq_index(emb.filter("vec_id = 3"), idx, dim=_DIM)
    compact_ivfpq_index(spark, idx)
    append_ivfpq_index(emb.filter("vec_id = 11"), idx, dim=_DIM)
    root = resolve_index_root(idx)
    assert (
        spark.read.parquet(f"{root}/codes").filter("vec_id = 11").count() == 1
    )


def test_retrain_reclaims_tombstones_equals_fresh_build(
    spark, sf_dir, tmp_path
):
    """Retrain-after-delete trains on the LIVE rows only, so its serve
    is bit-identical to a fresh build over the remaining corpus — the
    value-oracle equality the graded row (embedding_ivfpq_delete_topk's
    sibling claim) rests on."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "rt")
    build_ivfpq_index(emb, idx, dim=_DIM, store_vectors=True)
    delete_from_ivfpq_index(
        spark, idx, emb.filter("vec_id % 5 = 4").select("vec_id")
    )
    info = retrain_ivfpq_index(spark, idx, dim=_DIM)
    n_remaining = emb.filter("vec_id % 5 != 4").count()
    assert info["n_vectors"] == n_remaining, info
    root = resolve_index_root(idx)
    assert not os.path.isdir(os.path.join(root, "tombstones"))
    assert spark.read.parquet(f"{root}/codes").count() == n_remaining

    fresh = str(tmp_path / "fresh")
    build_ivfpq_index(
        emb.filter("vec_id % 5 != 4"), fresh, dim=_DIM, store_vectors=True
    )
    assert _serve(spark, idx, emb) == _serve(spark, fresh, emb)


def test_maybe_retrain_tombstone_threshold(spark, sf_dir, tmp_path):
    """Accumulated logical deletes are themselves a reclaim trigger:
    tombstone_ratio crossing max_tombstone_ratio retrains (physically
    reclaiming), and the follow-up probe is clean."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "tr")
    build_ivfpq_index(emb, idx, dim=_DIM, store_vectors=True)
    delete_from_ivfpq_index(
        spark, idx, emb.filter("vec_id % 3 = 0").select("vec_id")
    )
    out = maybe_retrain_ivfpq_index(spark, idx, dim=_DIM)
    assert out["retrained"], out
    assert any("tombstone_ratio" in r for r in out["reasons"]), out
    after = maybe_retrain_ivfpq_index(spark, idx, dim=_DIM)
    assert not after["retrained"], after
    assert after["n_tombstones"] == 0


def test_maybe_retrain_unknown_kwargs_raise(spark, sf_dir, tmp_path):
    """A misspelled retrain option in a maintenance cron must raise —
    even when no threshold trips (the silent-no-op window the r10
    verdict flagged)."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "kw")
    build_ivfpq_index(emb, idx, dim=_DIM, store_vectors=True)
    with pytest.raises(TypeError, match="keep_generation"):
        maybe_retrain_ivfpq_index(
            spark, idx, dim=_DIM, keep_generation=3  # typo: missing 's'
        )


def test_staleness_strict_without_sidecar(spark, sf_dir, tmp_path):
    """check_error=True without the vectors sidecar degrades VISIBLY:
    a UserWarning by default, a raise under strict=True — a policy
    relying on err_growth must know it is running size/skew-only."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ns")
    build_ivfpq_index(emb, idx, dim=_DIM, store_vectors=False)
    with pytest.warns(UserWarning, match="size/skew-only"):
        st = ivfpq_index_staleness(spark, idx)
    assert st["err_growth"] is None
    with pytest.raises(ValueError, match="size/skew-only"):
        ivfpq_index_staleness(spark, idx, strict=True)


def test_gc_retention_ignores_unpromoted_orphans(spark, sf_dir, tmp_path):
    """The r10 ADVICE medium: a retrain that crashed between creating
    path/g<N> and promoting the pointer leaves an orphan dir. The next
    successful retrain must (a) NOT count the orphan toward retention
    — the root that was serving until that very promotion stays
    retained for its pinned readers — and (b) clean the orphan up."""
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "orph")
    build_ivfpq_index(emb, idx, dim=_DIM, store_vectors=True)
    built = resolve_index_root(idx)

    # simulate the crashed retrain: a partial generation dir that was
    # never promoted (no CURRENT write happened)
    orphan = os.path.join(idx, "g000002")
    os.makedirs(os.path.join(orphan, "codes"))
    with open(os.path.join(orphan, "codes", "part-junk.parquet"), "wb") as fh:
        fh.write(b"not a real parquet file")

    # a reader pinned to the built root before the next retrain
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pinned = ivfpq_index_topk(spark, idx, q, dim=_DIM, k_neighbors=3)

    info = retrain_ivfpq_index(spark, idx, dim=_DIM)
    assert info["generation"] == "g000003"  # orphan still numbered past
    assert "g000002 (unpromoted)" in info["gc_removed"], info
    assert not os.path.isdir(orphan)
    # the built root (the actually-serving predecessor) is retained
    assert os.path.isdir(os.path.join(built, "codes"))
    # and the pinned reader's FIRST execution — after the promotion —
    # still reads its retained complete generation
    assert len(pinned.collect()) == 9
    release_persisted()


def test_delete_lands_mid_streaming_ingest(spark, sf_dir, tmp_path):
    """A takedown arriving WHILE a stream is appending: the delete
    writer serializes with the foreachBatch append writer on the
    maintenance lock, later appends still work (they don't intersect
    the tombstones), and the post-stream serve excludes the deleted
    ids — the realistic ops interleaving (ingest never pauses for
    takedowns)."""
    import tempfile

    emb = load_table(spark, sf_dir, "embeddings")
    n_total = emb.count()
    idx = str(tmp_path / "strdel")
    build_ivfpq_index(emb.filter("vec_id % 4 = 0"), idx, dim=_DIM)

    src = str(tmp_path / "src")
    for b in range(1, 4):
        emb.filter(f"vec_id % 4 = {b}").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    fired = []

    def process(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        append_ivfpq_index(batch_df, idx, dim=_DIM)
        if not fired:
            # the takedown lands between micro-batches: ids already in
            # the index (the build half), disjoint from later batches
            delete_from_ivfpq_index(
                spark, idx,
                emb.filter("vec_id % 4 = 0 AND vec_id % 3 = 0")
                .select("vec_id"),
            )
            fired.append(True)

    ckpt = tempfile.mkdtemp(prefix="strdel_ckpt_")
    (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    root = resolve_index_root(idx)
    # every streamed row landed (the delete never blocked or lost an
    # append) and the tombstones rode along
    assert spark.read.parquet(f"{root}/codes").count() == n_total
    served = _serve(spark, idx, emb)
    assert served and all(
        not (r[1] % 4 == 0 and r[1] % 3 == 0) for r in served
    ), served


def test_lock_timeout_reports_holder(tmp_path):
    """The lock file carries {pid, host, operation}; a timed-out waiter
    sees WHO holds it instead of an evidence-free 'verify no job is
    running'."""
    from sparktrends_spark.similarity.generations import maintenance_lock

    p = str(tmp_path / "lk")
    with maintenance_lock(p, operation="unit-test-op"):
        with pytest.raises(TimeoutError) as ei:
            with maintenance_lock(p, timeout_s=0.2):
                pass
        msg = str(ei.value)
        assert "unit-test-op" in msg
        assert str(os.getpid()) in msg


def _needs_an_index():
    """Every append, delete and maintenance policy, called on a path
    with no index."""
    from sparktrends_spark.similarity.cosine import (
        append_ivf_index,
        delete_from_ivf_index,
        maybe_retrain_ivf_index,
    )
    from sparktrends_spark.text.bm25_index import (
        append_bm25_index,
        delete_from_bm25_index,
        maybe_compact_bm25_index,
    )
    from sparktrends_spark.text.dedup_index import (
        delete_from_dedup_index,
        maybe_compact_dedup_index,
    )

    def labeled(spark):  # never executed: the index check comes first
        return spark.createDataFrame(
            [], "vec_id long, embedding array<double>, label int"
        )

    def docs(spark):
        return spark.createDataFrame(
            [(1, "an appended document")], "doc_id long, text string"
        )

    return {
        "append_ivf_index": lambda spark, p: append_ivf_index(
            labeled(spark), p
        ),
        "append_ivfpq_index": lambda spark, p: append_ivfpq_index(
            labeled(spark), p, dim=_DIM
        ),
        "append_bm25_index": lambda spark, p: append_bm25_index(
            docs(spark), p
        ),
        "delete_from_ivf_index": lambda spark, p: delete_from_ivf_index(
            spark, p, [1, 2]
        ),
        "delete_from_ivfpq_index": lambda spark, p: delete_from_ivfpq_index(
            spark, p, [1, 2]
        ),
        "delete_from_bm25_index": lambda spark, p: delete_from_bm25_index(
            spark, p, [1, 2]
        ),
        "delete_from_dedup_index": lambda spark, p: delete_from_dedup_index(
            spark, p, [1, 2]
        ),
        "maybe_retrain_ivf_index": lambda spark, p: maybe_retrain_ivf_index(
            labeled(spark), p
        ),
        "maybe_retrain_ivfpq_index": (
            lambda spark, p: maybe_retrain_ivfpq_index(spark, p, dim=_DIM)
        ),
        "maybe_compact_bm25_index": lambda spark, p: maybe_compact_bm25_index(
            spark, p
        ),
        "maybe_compact_dedup_index": (
            lambda spark, p: maybe_compact_dedup_index(spark, p)
        ),
    }


@pytest.mark.parametrize("op", sorted(_needs_an_index()))
def test_delete_requires_an_index(spark, tmp_path, op):
    """A missing or mistyped path raises BEFORE the maintenance lock is
    taken: the lock creates its directory, so a check made under it
    would leave an empty directory behind."""
    missing = tmp_path / "missing"
    with pytest.raises(ValueError, match="index at"):
        _needs_an_index()[op](spark, str(missing))
    assert not missing.exists()


def test_ivf_index_delete_and_retrain_reclaim(spark, sf_dir, tmp_path):
    """The plain persisted IVF index gets the same takedown story
    (shared tombstone discipline): serve excludes tombstoned ids
    immediately; append refuses re-inserts; retrain physically
    reclaims — bit-identical to a fresh build on the live corpus."""
    from sparktrends_spark.similarity.cosine import (
        append_ivf_index,
        build_ivf_index,
        delete_from_ivf_index,
        ivf_index_staleness,
        ivf_index_topk,
        retrain_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = str(tmp_path / "ivfdel")
    build_ivf_index(emb, idx)
    info = delete_from_ivf_index(
        spark, idx, emb.filter("vec_id % 7 = 3").select("vec_id")
    )
    assert info["n_tombstones"] == emb.filter("vec_id % 7 = 3").count()
    st = ivf_index_staleness(spark, idx)
    assert st["n_tombstones"] == info["n_tombstones"], st

    served = ivf_index_topk(spark, idx, q, k=3, nprobe=2).collect()
    release_persisted()
    assert served and all(r["vec_id"] % 7 != 3 for r in served)

    with pytest.raises(ValueError, match="tombstoned"):
        append_ivf_index(emb.filter("vec_id = 3"), idx)

    rinfo = retrain_ivf_index(emb, idx)
    root = os.path.join(idx, rinfo["generation"])
    assert not os.path.isdir(os.path.join(root, "tombstones"))
    live = emb.filter("vec_id % 7 != 3")
    assert spark.read.parquet(f"{root}/vectors").count() == live.count()
    fresh = str(tmp_path / "ivffresh")
    build_ivf_index(live, fresh)
    a = sorted(map(tuple, ivf_index_topk(spark, idx, q, k=3, nprobe=2).collect()))
    release_persisted()
    b = sorted(map(tuple, ivf_index_topk(spark, fresh, q, k=3, nprobe=2).collect()))
    release_persisted()
    assert a == b
    st2 = ivf_index_staleness(spark, idx)
    assert st2["n_tombstones"] == 0


def test_maybe_retrain_ivf_policy(spark, sf_dir, tmp_path):
    """One-call probe->thresholds->retrain for the plain IVF index
    (round-13 lifecycle symmetry with maybe_retrain_ivfpq_index): a
    fresh index no-ops under default thresholds; a takedown pushing
    tombstone_ratio over the knob retrains (physically reclaiming the
    deletes) under ONE lock hold; unknown retrain options raise up
    front."""
    from sparktrends_spark.similarity.cosine import (
        build_ivf_index,
        delete_from_ivf_index,
        maybe_retrain_ivf_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivfpolicy")
    build_ivf_index(emb, idx)

    out = maybe_retrain_ivf_index(emb, idx)
    release_persisted()
    assert not out["retrained"] and out["retrain"] is None
    assert out["sim_drop"] is not None and abs(out["sim_drop"]) < 1e-9

    # tombstone a third of the corpus: ratio > 0.25 default -> retrain
    delete_from_ivf_index(
        spark, idx, emb.filter("vec_id % 3 = 0").select("vec_id")
    )
    out2 = maybe_retrain_ivf_index(emb, idx)
    release_persisted()
    assert out2["retrained"] and any(
        r.startswith("tombstone_ratio") for r in out2["reasons"]
    )
    gen = out2["retrain"]["generation"]
    live = emb.filter("vec_id % 3 != 0")
    assert (
        spark.read.parquet(os.path.join(idx, gen, "vectors")).count()
        == live.count()
    )
    # the freshly retrained index no-ops again
    out3 = maybe_retrain_ivf_index(emb.filter("vec_id % 3 != 0"), idx)
    release_persisted()
    assert not out3["retrained"] and out3["n_tombstones"] == 0

    with pytest.raises(TypeError, match="nprobe"):
        maybe_retrain_ivf_index(emb, idx, nprobe=2)


def test_ivf_index_compact_merges_and_reclaims(spark, sf_dir, tmp_path):
    """compact_ivf_index closes the IVF index's two maintenance gaps
    in one op: appends fragment cell dirs (file merge) and takedown
    reclaim previously required the LABELED corpus (retrain) — compact
    is layout-only with the same centroids. Values identical to the
    tombstone-anti-join serve before it; staleness accounting carried;
    tombstone set cleared."""
    from sparktrends_spark.similarity.cosine import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
        ivf_index_staleness,
        ivf_index_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = str(tmp_path / "ivfcp")
    build_ivf_index(emb.filter("vec_id % 4 = 0"), idx)
    for b in range(1, 4):
        append_ivf_index(emb.filter(f"vec_id % 4 = {b}"), idx)
    n_del = emb.filter("vec_id % 9 = 5").count()
    delete_from_ivf_index(
        spark, idx, emb.filter("vec_id % 9 = 5").select("vec_id")
    )
    before = sorted(
        map(tuple, ivf_index_topk(spark, idx, q, k=3, nprobe=2).collect())
    )
    release_persisted()
    assert before and all(r[1] % 9 != 5 for r in before)

    info = compact_ivf_index(spark, idx, files_per_cell=1)
    assert info["generation"] == "g000002"
    assert info["files_after"] < info["files_before"], info
    assert info["rows_before"] - info["rows_after"] == n_del, info
    root = os.path.join(idx, "g000002")
    assert not os.path.isdir(os.path.join(root, "tombstones"))
    # one file per cell dir in the compacted vectors table
    vdir = os.path.join(root, "vectors")
    for cell_dir in os.listdir(vdir):
        d = os.path.join(vdir, cell_dir)
        if os.path.isdir(d):
            n = sum(1 for f in os.listdir(d) if f.endswith(".parquet"))
            assert n == 1, (cell_dir, n)
    after = sorted(
        map(tuple, ivf_index_topk(spark, idx, q, k=3, nprobe=2).collect())
    )
    release_persisted()
    assert after == before
    st = ivf_index_staleness(spark, idx)
    assert st["n_tombstones"] == 0, st
    # refusal guard: compacting a non-index bails before promoting
    with pytest.raises(ValueError, match="nothing to compact"):
        compact_ivf_index(spark, str(tmp_path / "nope"))


# --- dedup signature index (text/dedup_index.py) ---------------------

_BASE = (
    "the quick brown fox jumps over the lazy dog near the river bank "
    "while the sun sets slowly behind the tall mountains and the birds "
    "fly home to their nests in the old oak trees by the quiet meadow"
)


def test_dedup_index_delete_stops_suppressing_and_compact_reclaims(
    spark, tmp_path
):
    """A takedown must stop suppressing near-duplicates: before the
    delete, a near-dup of indexed doc 1 is flagged duplicate; after
    tombstoning doc 1 the same incoming doc comes back UNIQUE (and is
    appended as the new canonical copy). Compaction physically drops
    the tombstoned signature rows and clears the tombstone set, after
    which the id may legally be re-ingested."""
    from sparktrends_spark.text.dedup_index import (
        build_dedup_index,
        compact_dedup_index,
        delete_from_dedup_index,
        incremental_dedup,
        read_dedup_index,
    )
    from sparktrends_spark.similarity.generations import resolve_root

    idx = str(tmp_path / "didx")
    corpus = spark.createDataFrame(
        [(1, _BASE), (2, "unrelated corpus text about query engines")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, idx)

    near = spark.createDataFrame(
        [(11, _BASE.replace("river bank", "river bend"))],
        "doc_id long, text string",
    )
    hit = incremental_dedup(near, idx, append=False).collect()[0]
    assert hit["is_dup"] and hit["matched_doc"] == 1

    info = delete_from_dedup_index(spark, idx, [1])
    assert info["n_tombstones"] == 1
    freed = incremental_dedup(near, idx, append=True).collect()[0]
    assert not freed["is_dup"] and freed["matched_doc"] is None

    cinfo = compact_dedup_index(spark, idx)
    assert cinfo["n_reclaimed"] == 1, cinfo
    # compaction promoted a generation (the pointer layout, not a dir
    # swap) and the promoted root's tombstone set starts clean
    assert cinfo["generation"] == "g000002", cinfo
    assert resolve_root(idx) == os.path.join(idx, "g000002")
    assert (
        read_dedup_index(spark, idx).filter(F.col("doc_id") == 1).count()
        == 0
    )
    assert not os.path.isdir(os.path.join(resolve_root(idx), "tombstones"))
    # doc 11 (appended post-delete) is now the canonical near-dup match
    rehit = incremental_dedup(near, idx, append=False).collect()[0]
    assert rehit["is_dup"] and rehit["matched_doc"] == 11

    # a second compact with no tombstones and few files is a counted
    # no-op; with target_files=1 it acts as the pure segment merge
    again = compact_dedup_index(spark, idx, target_files=1)
    assert again["n_reclaimed"] == 0
    assert again["files_after"] == 1, again
    # and the merged index still matches
    rehit2 = incremental_dedup(near, idx, append=False).collect()[0]
    assert rehit2["is_dup"] and rehit2["matched_doc"] == 11


def test_dedup_index_append_refuses_tombstoned_reinsert(spark, tmp_path):
    """Re-ingesting a tombstoned doc id before the reclaim would land
    rows the match-time anti-join silently hides — refuse loudly; after
    compact (tombstones cleared) the same ingest succeeds."""
    from sparktrends_spark.text.dedup_index import (
        build_dedup_index,
        compact_dedup_index,
        delete_from_dedup_index,
        incremental_dedup,
        read_dedup_index,
    )

    idx = str(tmp_path / "didx2")
    build_dedup_index(
        spark.createDataFrame(
            [(1, _BASE), (2, "unrelated corpus text about query engines")],
            "doc_id long, text string",
        ),
        idx,
    )
    delete_from_dedup_index(spark, idx, [2])
    reinsert = spark.createDataFrame(
        [(2, "a brand new unrelated document body replacing the old one")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="tombstoned"):
        incremental_dedup(reinsert, idx, append=True)
    compact_dedup_index(spark, idx)
    out = incremental_dedup(reinsert, idx, append=True).collect()[0]
    assert not out["is_dup"]
    assert (
        read_dedup_index(spark, idx).filter(F.col("doc_id") == 2).count()
        == 1
    )


def test_maybe_compact_dedup_index_policy(spark, tmp_path):
    """One-call maintenance policy (round-14 symmetry with the ANN
    families' maybe_retrain): probe -> thresholds -> compact under ONE
    lock hold. A fresh index trips nothing (no-op, no new generation);
    a tombstone past the ratio threshold triggers the compact, whose
    result reclaims the rows and clears the tombstone set; unknown
    knobs/invalid targets fail loudly."""
    import pytest

    from sparktrends_spark.text.dedup_index import (
        build_dedup_index,
        delete_from_dedup_index,
        dedup_index_stats,
        maybe_compact_dedup_index,
    )

    idx = str(tmp_path / "didx_policy")
    build_dedup_index(
        spark.createDataFrame(
            [
                (1, _BASE),
                (2, "unrelated corpus text about query engines"),
                (3, "a third unrelated document about parquet readers"),
            ],
            "doc_id long, text string",
        ),
        idx,
    )
    st = dedup_index_stats(spark, idx)
    assert st["n_rows"] == 3 and st["n_tombstones"] == 0

    out = maybe_compact_dedup_index(spark, idx)
    assert not out["compacted"] and out["compact"] is None

    delete_from_dedup_index(spark, idx, [1])
    out = maybe_compact_dedup_index(spark, idx)
    # 1/3 tombstoned > default 0.25 -> compacted, rows reclaimed
    assert out["compacted"] and "tombstone_ratio" in out["reasons"][0]
    assert out["compact"]["n_reclaimed"] == 1
    # the fresh generation probes clean: a second run no-ops
    out2 = maybe_compact_dedup_index(spark, idx)
    assert not out2["compacted"] and out2["n_tombstones"] == 0

    with pytest.raises(ValueError, match="target_files"):
        maybe_compact_dedup_index(spark, idx, target_files=0)


def test_dedup_index_generation_lifecycle(spark, tmp_path):
    """The dedup index follows the ANN indexes' generation-pointer
    discipline (the round-12 port off swap_dirs): compaction promotes
    g<N> via CURRENT, a reader pinned to the pre-compact root keeps
    serving after the promotion (retention keeps the previous root),
    appends land in the CURRENT generation, an unpromoted orphan dir
    is GC'd without counting toward retention, and the built root is
    reclaimed once it falls out of the keep-2 window."""
    from sparktrends_spark.similarity.generations import (
        promoted_roots,
        resolve_root,
    )
    from sparktrends_spark.text.dedup_index import (
        build_dedup_index,
        compact_dedup_index,
        delete_from_dedup_index,
        incremental_dedup,
        read_dedup_index,
    )

    idx = str(tmp_path / "didx3")
    build_dedup_index(
        spark.createDataFrame(
            [(1, _BASE), (2, "unrelated corpus text about query engines")],
            "doc_id long, text string",
        ),
        idx,
    )
    assert resolve_root(idx) == os.path.join(idx, "g000001")
    assert os.path.isdir(os.path.join(idx, "g000001", "signatures"))

    # a crashed writer's never-promoted generation dir must be junk
    # to the next locked writer's GC, not a retention candidate
    os.makedirs(os.path.join(idx, "g000002", "signatures"))

    pinned = read_dedup_index(spark, idx)  # pre-compact reader
    delete_from_dedup_index(spark, idx, [2])
    c1 = compact_dedup_index(spark, idx, target_files=1)
    assert c1["generation"] == "g000003", c1
    assert "g000002 (unpromoted)" in c1["gc_removed"], c1
    assert resolve_root(idx) == os.path.join(idx, "g000003")
    # the built root survives the first promotion (keep 2: current +
    # prev), so the pinned pre-compact reader still serves its full view
    assert pinned.count() == 2
    assert read_dedup_index(spark, idx).count() == 1

    # append after promotion lands in the CURRENT generation
    fresh = spark.createDataFrame(
        [(7, "a brand new unrelated document body for the index")],
        "doc_id long, text string",
    )
    incremental_dedup(fresh, idx, append=True)
    assert (
        spark.read.parquet(
            os.path.join(idx, "g000003", "signatures")
        ).count()
        == 2
    )

    # second promotion pushes the built root out of the keep-2 window
    c2 = compact_dedup_index(spark, idx, target_files=1)
    assert c2["generation"] == "g000004", c2
    assert "g000001" in c2["gc_removed"], c2
    assert not os.path.isdir(os.path.join(idx, "g000001"))
    assert promoted_roots(idx) == ["g000003", "g000004"]
    assert read_dedup_index(spark, idx).count() == 2
