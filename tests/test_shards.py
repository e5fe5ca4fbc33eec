"""Deterministic training-shard export (text/shards.py).

Covers the three contracts: (1) assignment is a pure deterministic
projection — identical under any input partitioning and only a salt
change reshuffles it; (2) the physical layout — one shard directory
per shard, file count per shard bounded by files_per_shard, every
file internally sorted by order_key, shard-pruned reads prune at the
scan; (3) failure shapes — NULL ids are rejected, bad params raise.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sparktrends_spark.sources.tables import load_table
from sparktrends_spark.text.shards import (
    export_root,
    read_training_shards,
    shard_assignments,
    shard_manifest,
    write_training_shards,
)


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )


def test_assignment_independent_of_partitioning(spark, sf_dir):
    d = _docs(spark, sf_dir)
    a = shard_assignments(d.repartition(7), n_shards=8, salt="s").collect()
    b = shard_assignments(d.coalesce(1), n_shards=8, salt="s").collect()
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(a, key=key) == sorted(b, key=key)


def test_assignment_covers_all_docs_and_salt_reshuffles(spark, sf_dir):
    d = _docs(spark, sf_dir)
    n = d.count()
    a = shard_assignments(d, n_shards=8, salt="epoch0")
    assert a.count() == n
    assert a.filter((F.col("shard") < 0) | (F.col("shard") >= 8)).count() == 0
    # balance on this fixture: deterministic, so this is a fixed number
    sizes = [r["n_docs"] for r in a.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs")).collect()]
    assert len(sizes) == 8 and max(sizes) <= 2.5 * min(sizes)
    b = shard_assignments(d, n_shards=8, salt="epoch1")
    moved = (
        a.select("doc_id", "shard")
        .join(b.select("doc_id", F.col("shard").alias("s2")), "doc_id")
        .filter("shard != s2")
        .count()
    )
    assert moved > n * 0.5  # a new salt is a real reshuffle


def test_manifest_checksum_detects_membership_drift(spark, sf_dir):
    d = _docs(spark, sf_dir)
    m1 = shard_manifest(shard_assignments(d, n_shards=4, salt="x"))
    m2 = shard_manifest(
        shard_assignments(d.filter("doc_id != 1"), n_shards=4, salt="x")
    )
    j = m1.select("shard", "member_checksum").join(
        m2.select("shard", F.col("member_checksum").alias("c2")), "shard"
    )
    assert j.filter("member_checksum != c2").count() == 1  # only doc 1's shard


def test_write_layout_and_roundtrip(spark, sf_dir, tmp_path):
    d = _docs(spark, sf_dir)
    out = str(tmp_path / "shards")
    res = write_training_shards(
        d, out, n_shards=4, files_per_shard=2, salt="w"
    )
    assert res["n_docs"] == d.count()
    # an overwrite export promotes a generation; shard dirs live
    # under the resolved root (the pinning contract trainers use)
    root = export_root(out)
    assert root == os.path.join(out, "g000001")
    dirs = sorted(p for p in os.listdir(root) if p.startswith("shard="))
    assert dirs == [f"shard={k}" for k in range(4)]
    for p in dirs:
        files = [f for f in os.listdir(os.path.join(root, p))
                 if f.endswith(".parquet")]
        assert 1 <= len(files) <= 2
    back = read_training_shards(spark, out)
    assert back.count() == res["n_docs"]
    assert (
        back.select("doc_id").exceptAll(d.select("doc_id")).count() == 0
        and d.select("doc_id").exceptAll(back.select("doc_id")).count() == 0
    )
    # every file internally sorted by order_key
    import pyarrow.parquet as pq

    for p in dirs:
        for f in os.listdir(os.path.join(root, p)):
            if not f.endswith(".parquet"):
                continue
            keys = pq.read_table(
                os.path.join(root, p, f), columns=["order_key"]
            )["order_key"].to_pylist()
            assert keys == sorted(keys)


def test_shard_pruned_read(spark, sf_dir, tmp_path):
    out = str(tmp_path / "pruned")
    write_training_shards(_docs(spark, sf_dir), out, n_shards=4, salt="p")
    one = read_training_shards(spark, out).filter("shard = 2")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(shard" in plan
    # the pruned read returns exactly the assignment's shard-2 rows
    expect = (
        shard_assignments(_docs(spark, sf_dir), n_shards=4, salt="p")
        .filter("shard = 2")
        .count()
    )
    assert one.count() == expect


def test_incremental_append_matches_monolithic_export(spark, sf_dir, tmp_path):
    """Two append batches land in the same shards (same membership
    checksums) as one monolithic export — the pure-projection
    assignment is what makes incremental export safe."""
    d = _docs(spark, sf_dir)
    mono, inc = str(tmp_path / "mono"), str(tmp_path / "inc")
    write_training_shards(d, mono, n_shards=4, salt="i")
    write_training_shards(d.filter("doc_id % 2 = 0"), inc, n_shards=4, salt="i")
    write_training_shards(
        d.filter("doc_id % 2 = 1"), inc, n_shards=4, salt="i", mode="append"
    )
    cols = ["doc_id", "shard", "order_key"]
    a, b = (read_training_shards(spark, p).select(*cols) for p in (mono, inc))
    assert a.count() == d.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_batch_id_replay_is_exactly_once(spark, sf_dir, tmp_path):
    """foreachBatch redelivers a batch after a crash between sink
    write and checkpoint commit; with batch_id the retry replaces its
    own ingest_batch partition — content equals the no-crash run."""
    d = _docs(spark, sf_dir)
    out = str(tmp_path / "eo")
    b0, b1 = d.filter("doc_id % 2 = 0"), d.filter("doc_id % 2 = 1")
    kw = dict(n_shards=4, salt="e", mode="append")
    write_training_shards(b0, out, batch_id=0, **kw)
    # simulate a partial batch-1 write followed by a full replay
    write_training_shards(b1.limit(5), out, batch_id=1, **kw)
    write_training_shards(b1, out, batch_id=1, **kw)
    back = read_training_shards(spark, out)
    assert back.count() == d.count()
    assert back.select("doc_id").distinct().count() == d.count()
    # shard stays the outermost partition dir; pruning still applies
    assert sorted(
        p for p in os.listdir(export_root(out)) if p.startswith("shard=")
    ) == [f"shard={k}" for k in range(4)]


def test_null_ids_and_bad_params_raise(spark, sf_dir, tmp_path):
    d = _docs(spark, sf_dir).withColumn(
        "doc_id", F.when(F.col("doc_id") == 1, None).otherwise(F.col("doc_id"))
    )
    # the guard is a row-level raise_error riding the write's own scan
    # (single pass — no separate validation aggregate), so it surfaces
    # as a Spark job failure, not a driver-side ValueError
    with pytest.raises(Exception, match="NULL doc_id"):
        write_training_shards(d, str(tmp_path / "x"), n_shards=2)
    with pytest.raises(ValueError, match="n_shards"):
        shard_assignments(d, n_shards=0)
    with pytest.raises(ValueError, match="files_per_shard"):
        write_training_shards(
            _docs(spark, sf_dir), str(tmp_path / "y"),
            n_shards=2, files_per_shard=0,
        )
    # batch_id contradicts a full overwrite — loud, not silent
    with pytest.raises(ValueError, match="batch_id"):
        write_training_shards(
            _docs(spark, sf_dir), str(tmp_path / "z"),
            n_shards=2, mode="overwrite", batch_id=0,
        )
    # re-assigning a read-back export must not silently clobber its
    # stored shard/order_key columns
    with pytest.raises(ValueError, match="already has column"):
        shard_assignments(
            shard_assignments(_docs(spark, sf_dir), n_shards=2),
            n_shards=2, salt="other",
        )


def test_failed_overwrite_preserves_previous_export(spark, sf_dir, tmp_path):
    """A re-export (the documented fragmentation remedy) that fails —
    here via the NULL-id guard — must leave the previous export intact
    AND still CURRENT: the new export builds in a fresh generation dir
    and is promoted only on success; the failed generation is removed
    (never orphan junk). A static overwrite would have deleted the old
    files at job start, before validation could run."""
    from sparktrends_spark.similarity.generations import promoted_roots

    d = _docs(spark, sf_dir)
    out = str(tmp_path / "safe")
    res = write_training_shards(d, out, n_shards=4, salt="v")
    assert export_root(out) == os.path.join(out, "g000001")
    bad = d.withColumn(
        "doc_id", F.when(F.col("doc_id") == 1, None).otherwise(F.col("doc_id"))
    )
    with pytest.raises(Exception, match="NULL doc_id"):
        write_training_shards(bad, out, n_shards=4, salt="v")
    # still the promoted g000001, partial g000002 cleaned up
    assert export_root(out) == os.path.join(out, "g000001")
    assert not os.path.isdir(os.path.join(out, "g000002"))
    assert read_training_shards(spark, out).count() == res["n_docs"]
    # a SUCCESSFUL re-export promotes the next generation; the
    # previous root is RETAINED (keep-2) for pinned readers — the
    # export path itself is never briefly absent
    pinned = export_root(out)
    write_training_shards(d, out, n_shards=4, salt="v2")
    # the failed build's number is reclaimed with its directory
    assert export_root(out) == os.path.join(out, "g000002")
    assert read_training_shards(spark, out).count() == res["n_docs"]
    assert spark.read.parquet(pinned).count() == res["n_docs"]  # pinned
    # one more export releases the oldest root
    write_training_shards(d, out, n_shards=4, salt="v3")
    assert not os.path.isdir(pinned)
    assert promoted_roots(out) == ["g000002", "g000003"]


# ---------------------------------------------------------------------------
# Property-based: the assignment contract for ARBITRARY ids (unicode
# strings, any integers), driven through the same Spark expressions as
# production and cross-checked against a pure-python md5 model.

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

id_st = st.one_of(
    st.integers(min_value=-(2**62), max_value=2**62),
    st.text(
        # printable unicode without surrogates; excludes nothing Spark
        # or the hash care about — md5 runs over utf-8 bytes
        alphabet=st.characters(blacklist_categories=("Cs",)),
        min_size=0,
        max_size=40,
    ),
)


def _model(sid: str, salt: str, n_shards: int) -> tuple[int, str]:
    shard_hex = hashlib.md5(f"shard:{salt}:{sid}".encode()).hexdigest()
    order_hex = hashlib.md5(f"order:{salt}:{sid}".encode()).hexdigest()
    return int(shard_hex[:8], 16) % n_shards, order_hex


@settings(
    max_examples=6,
    deadline=None,
    # the spark fixture is session-scoped — examples can't mutate it
    suppress_health_check=[HealthCheck.too_slow],
)
@given(ids=st.lists(id_st, min_size=1, max_size=30), n_shards=st.integers(1, 16))
def test_assignment_matches_md5_model(spark, ids, n_shards):
    df = spark.createDataFrame([(str(i),) for i in ids], "doc_id string")
    got = {
        r["doc_id"]: (r["shard"], r["order_key"])
        for r in shard_assignments(df, n_shards=n_shards, salt="h").collect()
    }
    for i in ids:
        assert got[str(i)] == _model(str(i), "h", n_shards)


def test_mixed_layout_append_refused(spark, sf_dir, tmp_path):
    """A plain append onto a batched export (or a batch_id append onto
    a plain one) would nest shard=K/*.parquet next to
    shard=K/ingest_batch=J/ — Spark then refuses every later read with
    its conflicting-directory-structures error. The writer must refuse
    the WRITE instead of poisoning the export."""
    d = _docs(spark, sf_dir).limit(50)

    plain = str(tmp_path / "plain")
    write_training_shards(d, plain, n_shards=2)
    with pytest.raises(ValueError, match="layout"):
        write_training_shards(
            d, plain, n_shards=2, mode="append", batch_id=0
        )

    batched = str(tmp_path / "batched")
    write_training_shards(
        d, batched, n_shards=2, mode="append", batch_id=0
    )
    with pytest.raises(ValueError, match="layout"):
        write_training_shards(d, batched, n_shards=2, mode="append")
    # same-layout continuations still work
    write_training_shards(
        d, batched, n_shards=2, mode="append", batch_id=1
    )
