"""Scale-dependent configuration seams (optimization rounds).

The bench box runs local[32] over MB-scale inputs; production is a
cluster over 100 TB. These tests pin the seams that keep the two
honest: size-aware broadcast hints (guide §3.1) and env-overridable
shuffle partitioning (guide §2.2) — local defaults must be unchanged,
production values must actually take effect.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparktrends_spark.session import (
    DEFAULT_SHUFFLE_PARTITIONS,
    default_shuffle_partitions,
)
from sparktrends_spark.sources.tables import (
    load_table,
    maybe_broadcast,
    table_bytes,
)

SF_DIR = "/root/testdata/sf0.001"


def test_table_bytes_sums_local_files():
    one = table_bytes(SF_DIR, "orders")
    both = table_bytes(SF_DIR, "orders", "customer")
    assert one is not None and one > 0
    assert both == one + table_bytes(SF_DIR, "customer")


def test_table_bytes_none_for_remote_and_missing():
    assert table_bytes("s3://bucket/prefix", "orders") is None
    assert table_bytes("/nonexistent-dir", "orders") is None


def _join_plan(spark, hinted):
    left = load_table(spark, SF_DIR, "lineitem")
    joined = left.join(hinted, F.col("l_orderkey") == F.col("o_orderkey"))
    return joined._jdf.queryExecution().executedPlan().toString()


def test_maybe_broadcast_hints_under_cap(spark):
    orders = load_table(spark, SF_DIR, "orders")
    plan = _join_plan(
        spark, maybe_broadcast(orders, table_bytes(SF_DIR, "orders"))
    )
    assert "BroadcastHashJoin" in plan


def test_maybe_broadcast_no_hint_above_cap(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_CAP", "1b")
    orders = load_table(spark, SF_DIR, "orders")
    hinted = maybe_broadcast(orders, table_bytes(SF_DIR, "orders"))
    # the returned frame is the input unchanged — no hint node at all;
    # whatever join strategy appears is the planner's own choice
    assert hinted is orders


def test_maybe_broadcast_no_hint_when_size_unknown(spark):
    orders = load_table(spark, SF_DIR, "orders")
    assert maybe_broadcast(orders, None) is orders


def test_default_shuffle_partitions_env_override(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    assert default_shuffle_partitions() == DEFAULT_SHUFFLE_PARTITIONS
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "4096")
    assert default_shuffle_partitions() == 4096


def test_scan_parallel_byte_floor_caps_fanout(spark, monkeypatch):
    # Byte-aware fan-out (guide §2.2): with a floor, the fan-out width
    # is ceil(source_bytes / floor) when that is below the core count;
    # with a floor far below the source size the cap must not bind.
    from sparktrends_spark.sources.tables import scan_parallel

    monkeypatch.delenv("SPARK_GRAFT_FANOUT_FLOOR_SCALE", raising=False)
    docs = load_table(spark, SF_DIR, "documents")
    nbytes = table_bytes(SF_DIR, "documents")
    cores = spark.sparkContext.defaultParallelism

    capped = scan_parallel(docs, min_partition_bytes=nbytes // 2 + 1)
    assert capped.rdd.getNumPartitions() == 2

    uncapped = scan_parallel(docs, min_partition_bytes=1)
    assert uncapped.rdd.getNumPartitions() == cores

    # floor-scale 0 disables every cap (scaling experiments)
    monkeypatch.setenv("SPARK_GRAFT_FANOUT_FLOOR_SCALE", "0")
    disabled = scan_parallel(docs, min_partition_bytes=nbytes * 10)
    assert disabled.rdd.getNumPartitions() == cores


def test_malformed_fanout_floor_scale_names_the_knob(spark, monkeypatch):
    import pytest

    from sparktrends_spark.sources.tables import scan_parallel

    docs = load_table(spark, SF_DIR, "documents")
    for bad in ("1,5", "", "nan", "-1"):
        monkeypatch.setenv("SPARK_GRAFT_FANOUT_FLOOR_SCALE", bad)
        with pytest.raises(
            ValueError, match=f"SPARK_GRAFT_FANOUT_FLOOR_SCALE={bad!r}"
        ):
            scan_parallel(docs, min_partition_bytes=1024)
    monkeypatch.setenv("SPARK_GRAFT_FANOUT_FLOOR_SCALE", "0.5")
    scan_parallel(docs, min_partition_bytes=1024)  # a valid value plans


def test_source_bytes_handles_globs(tmp_path):
    from sparktrends_spark.sources.tables import _source_bytes

    (tmp_path / "part-a.parquet").write_bytes(b"x" * 100)
    (tmp_path / "part-b.parquet").write_bytes(b"y" * 50)
    assert _source_bytes(str(tmp_path / "part-*.parquet")) == 150
    assert _source_bytes(str(tmp_path)) == 150
    assert _source_bytes(str(tmp_path / "missing-*.parquet")) is None
    assert _source_bytes("s3://bucket/x.parquet") is None
    # no top-level data files: unknown size, not 0 (0 would clamp the
    # byte-floored fan-out to one partition)
    hive = tmp_path / "hive"
    (hive / "cell=0").mkdir(parents=True)
    (hive / "cell=0" / "part-0.parquet").write_bytes(b"z" * 70)
    (hive / "_SUCCESS").write_bytes(b"")
    assert _source_bytes(str(hive)) is None
    (tmp_path / "empty").mkdir()
    assert _source_bytes(str(tmp_path / "empty")) is None
