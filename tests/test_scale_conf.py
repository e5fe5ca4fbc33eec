"""Scale-dependent configuration seams.

Local runs use a few cores over MB-scale inputs; production is a
cluster over 100 TB. These tests pin the seams that keep the two
honest: size-aware broadcast hints (guide §3.1), env-overridable
shuffle partitioning (guide §2.2) and the narrow-scan fan-out — local
defaults must be unchanged, production values must actually take
effect.
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


def test_table_bytes_none_for_remote_and_missing(tmp_path):
    assert table_bytes("s3://bucket/prefix", "orders") is None
    assert table_bytes("/nonexistent-dir", "orders") is None
    # a directory whose top level holds no data files does not show
    # its size: a hive-partitioned table and an empty one are unknown,
    # not 0 bytes (a 0 would claim "small enough to broadcast")
    part = tmp_path / "orders.parquet" / "o_orderstatus=F"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"x" * 64)
    assert table_bytes(str(tmp_path), "orders") is None
    (tmp_path / "customer.parquet").mkdir()
    assert table_bytes(str(tmp_path), "customer") is None


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


def test_maybe_broadcast_no_hint_above_cap(spark):
    # the cap is the session's own broadcast threshold, so one setting
    # governs the hint and Catalyst's size-based broadcast alike
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    orders = load_table(spark, SF_DIR, "orders")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
        hinted = maybe_broadcast(orders, table_bytes(SF_DIR, "orders"))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert maybe_broadcast(orders, 0) is orders
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
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


def test_scan_parallel_fans_out_to_core_count(spark):
    # A narrow scan fans out to defaultParallelism, however small the
    # source: no byte floor narrows it, and text._docs (the tokenize/
    # shingle scan behind the dedup rows) gets the same width.
    from sparktrends_spark.plans.text import _docs
    from sparktrends_spark.sources.tables import scan_parallel

    cores = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF_DIR, "documents")
    assert docs.rdd.getNumPartitions() < cores
    assert scan_parallel(docs).rdd.getNumPartitions() == cores
    assert _docs(spark, SF_DIR).rdd.getNumPartitions() == cores
