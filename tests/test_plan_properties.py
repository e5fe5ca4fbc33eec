"""Plan-shape regression tests: lock in the physical-plan properties
the 100 TB design depends on. A refactor that silently turns a
broadcast join into a shuffle, or widens a pruned scan back to
SELECT *, fails here — not in a profiler three rounds later.
"""

from __future__ import annotations

import re

import pytest

from sparktrends_spark.plans import QUERIES


def _plan(spark, name: str, sf_dir: str) -> str:
    return (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def test_q5_broadcasts_dims_and_prunes_lineitem(spark, sf_dir):
    plan = _plan(spark, "q5_region_revenue", sf_dir)
    # every dimension joins via broadcast; the fact table never shuffles
    # before aggregation
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    # column pruning reaches the fact scan: only the 4 needed columns
    m = re.search(r"lineitem\.parquet.*?ReadSchema: struct<([^>]*)>", plan, re.S)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"}
    # constant filter pushed into the region scan
    assert "EqualTo(r_name,ASIA)" in plan


def test_top_customers_plans_take_ordered(spark, sf_dir):
    plan = _plan(spark, "top_customers", sf_dir)
    # global top-k must be TakeOrderedAndProject (per-partition heap +
    # merge), never a full sort
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_enrich_orders_broadcasts_dimension(spark, sf_dir):
    plan = _plan(spark, "enrich_orders", sf_dir)
    assert "BroadcastHashJoin" in plan


def test_doc_queries_are_pure_projections(spark, sf_dir):
    # fingerprint/BPE/quality are scan -> project: any Exchange beyond
    # the scan-fan-out repartition means someone added a shuffle
    for name in ("doc_rolling_fingerprint", "doc_bpe_tokens"):
        plan = _plan(spark, name, sf_dir)
        assert plan.count("Exchange") <= 1, f"{name}: {plan}"
        assert "REPARTITION_BY_NUM" in plan  # the deliberate fan-out


def test_vwap_single_symbol_shuffle(spark, sf_dir):
    # bars agg + window metrics must reuse one partitioning lineage:
    # scan fan-out + one agg exchange + one window exchange, no more
    plan = _plan(spark, "vwap_metrics", sf_dir)
    assert plan.count("Exchange") <= 3, plan


def test_minhash_join_is_bucket_keyed(spark, sf_dir):
    plan = _plan(spark, "doc_minhash_pairs", sf_dir)
    # candidate generation must join on band buckets, never cross join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_topk_never_sort_merge_joins(spark, sf_dir):
    plan = _plan(spark, "embedding_ivf_topk", sf_dir)
    # centroids and probe lists broadcast; cell-restricted candidates
    # join hash-side. A SortMergeJoin here means the corpus shuffled.
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    # assignment is a map-side argmax over the broadcast centroid row:
    # no row_number window over the corpus
    assert plan.count("RunningWindowFunction") <= 1


def test_range_join_broadcasts_window_side(spark, sf_dir):
    plan = _plan(spark, "event_window_range_join", sf_dir)
    # the 30-row window table must be the broadcast side of the
    # non-equi join; the events scan must not shuffle before it
    assert "BroadcastNestedLoopJoin" in plan


def test_event_funnel_single_user_shuffle(spark, sf_dir):
    # three stage-dependent windows over the same partitioning must
    # share ONE exchange — a second hashpartitioning means a window
    # got keyed differently
    plan = _plan(spark, "event_funnel", sf_dir)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert plan.count("Window") >= 3


def test_pack_sequences_single_shuffle(spark, sf_dir):
    plan = _plan(spark, "doc_pack_sequences", sf_dir)
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_q20_broadcasts_all_dims_no_second_fact_scan(spark, sf_dir):
    plan = _plan(spark, "q20_dominant_supplier", sf_dir)
    # part/supplier/nation all broadcast; the per-part total is a
    # window over the aggregate, never a lineitem self-join
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert plan.count("lineitem.parquet") == 1


def test_q11_single_fact_agg_broadcast_threshold(spark, sf_dir):
    plan = _plan(spark, "q11_important_stock", sf_dir)
    # supplier-nation dim broadcasts into the scan; the global total
    # re-joins as a broadcast one-row frame (threshold filter map-side)
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan or plan.count("BroadcastHashJoin") >= 2
    # the per-part aggregate is persisted and BOTH branches (threshold
    # filter + global total) read the cache — the fact scans once.
    # plan.toString() reprints the cached child plan at each use site,
    # so count InMemoryTableScan, not file-scan strings.
    assert plan.count("InMemoryTableScan") == 2, plan


def test_ohlcv_bars_hash_aggregates_no_sorts(spark, sf_dir):
    # min_by/max_by with a struct ordering buffer silently degrades the
    # whole agg to SortAggregate (full sort of every trade on both
    # sides of the shuffle). The packed-bigint ordering keeps every
    # buffer field primitive: partial+final HashAggregate, zero sorts.
    plan = _plan(spark, "ohlcv_bars", sf_dir)
    assert plan.count("HashAggregate") == 2, plan
    assert "SortAggregate" not in plan
    assert "Sort " not in plan


def test_ohlcv_bars_struct_fallback_matches_packed(spark, sf_dir):
    # Exotic durations fall back to the struct ordering; both paths
    # must select identical open/close rows.
    from pyspark.sql import functions as F

    from sparktrends_spark.operators.bars import ohlcv_bars
    from sparktrends_spark.plans.market import trades_view

    t = trades_view(spark, sf_dir)
    fast = ohlcv_bars(t, ts_col="ts", tiebreak_col="event_id")
    slow = ohlcv_bars(
        t, window_duration="60 seconds", ts_col="ts", tiebreak_col="event_id"
    )
    # "60 seconds" parses too (still fast path); force the struct path
    # with a duration the packer rejects but window() accepts
    slower = ohlcv_bars(
        t,
        window_duration="1 minute 0 seconds",
        ts_col="ts",
        tiebreak_col="event_id",
    )
    assert "SortAggregate" in (
        slower._jdf.queryExecution().executedPlan().toString()
    )
    for other in (slow, slower):
        assert fast.exceptAll(other).count() == 0
        assert other.exceptAll(fast).count() == 0


def test_salted_agg_two_phase_shape(spark, sf_dir):
    """salted_agg must plan as TWO logical aggregations (each its own
    partial+final HashAggregate pair) with the first exchange keyed on
    (key, salt) — the hot key spread over salt_buckets reducers — and
    the second on the key alone over partial rows only."""
    plan = _plan(spark, "user_event_salted_agg", sf_dir)
    assert plan.count("HashAggregate") == 4, plan
    assert re.search(r"Exchange hashpartitioning\(user_bucket#\d+L?, _salt", plan), plan
    assert re.search(
        r"Exchange hashpartitioning\(user_bucket#\d+L?, \d+\)", plan
    ), plan
    assert "SortAggregate" not in plan


def test_replicated_join_salts_the_join_key(spark, sf_dir):
    """replicated_join must join on (key, _salt) so the hot key's rows
    never converge on one task, and must not plan a cartesian."""
    plan = _plan(spark, "event_type_replicated_join", sf_dir)
    assert "_salt" in plan, plan
    assert "CartesianProduct" not in plan
    # the replicated dim rides an explode of the salt sequence
    assert "Generate explode" in plan, plan


@pytest.mark.parametrize(
    "name, corp_hinted",
    [
        pytest.param("doc_bm25_terms", True, id="doc_bm25_terms"),
        pytest.param("doc_tfidf_terms", False, id="doc_tfidf_terms"),
    ],
)
def test_bm25_never_broadcasts_the_vocabulary(spark, sf_dir, name, corp_hinted):
    """doc_bm25_terms and doc_tfidf_terms join tf with the per-term df
    frame. That frame is vocabulary-sized (one row per distinct term —
    10^8-10^9 at corpus scale), so it must NOT ride a
    BroadcastExchange: a hint there overrides Catalyst's size check and
    OOMs the build side at scale. The term join stays a shuffle join
    (AQE may demote it at runtime if the actual vocab is tiny — that's
    fine; a static hint is not). Tested by disabling the auto-broadcast
    threshold: a size-driven broadcast disappears, a hint would
    survive. doc_bm25_terms' one-row corpus-constants frame is
    explicitly hinted and must STILL broadcast with the threshold off
    (doc_tfidf_terms leaves its one-row frame to Catalyst)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, name, sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert not re.search(r"BroadcastHashJoin \[term#", plan), plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[term#", plan), plan
    if corp_hinted:
        # the hinted one-row corp frame still broadcasts
        assert "BroadcastNestedLoopJoin" in plan, plan


def test_codec_queries_fuse_mapinpandas_without_shuffle(spark, sf_dir):
    """The encode->decode codec dataflows must stay ONE fused pipeline:
    two chained MapInPandas stages and exactly the single scan_parallel
    repartition — any extra Exchange means payload bytes started riding
    a shuffle."""
    for name in ("asset_jpeg_stats", "asset_mp4_frames",
                 "asset_mp4_pixel_frames", "asset_decode_health",
                 "asset_exif_scrubbed"):
        plan = _plan(spark, name, sf_dir)
        assert plan.count("MapInPandas") == 2, (name, plan)
        if name == "asset_exif_scrubbed":
            # its global agg adds one SinglePartition exchange carrying
            # 3-column partials, never payload bytes
            assert plan.count("Exchange") <= 2, (name, plan)
            assert "Exchange SinglePartition" in plan, (name, plan)
        else:
            assert plan.count("Exchange") <= 1, (name, plan)


def test_stochastic_all_hash_aggregates(spark, sf_dir):
    """Daily-bar indicators ride the hierarchical minute->day
    composition: every aggregate must be a HashAggregate (the direct
    1-day bars would SortAggregate — two full sorts of every trade),
    and the two stochastic window passes share (symbol, day) so the %D
    pass adds no exchange beyond minute-agg, day-rollup, window."""
    plan = _plan(spark, "stochastic_daily", sf_dir)
    assert plan.count("Window") >= 2
    assert "SortAggregate" not in plan, plan
    assert plan.count("Exchange hashpartitioning(symbol") <= 3, plan


def test_chunk_dup_payload_never_rides_join(spark, sf_dir):
    """doc_chunk_dup_stats joins on the chunk hash carrying only
    (doc_id, hash) — the chunk text must be projected away before the
    exchange."""
    plan = _plan(spark, "doc_chunk_dup_stats", sf_dir)
    assert "CartesianProduct" not in plan
    # the join inputs are hash+id only: no `chunk` column survives
    # past the md5 projection into any exchange
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "chunk#" not in m.group(1), m.group(0)


def test_session_trigram_paths_single_window_exchange(spark):
    """The trigram leads must ride the sessionizer's own
    (user_id | ts, event_id) window: exactly one hashpartitioning
    exchange feeds all Window stages (the second exchange in the plan
    is the trigram-key aggregation, which moves only |event_type|^3
    partials), and the final top-10 is a TakeOrderedAndProject."""
    import re

    from sparktrends_spark.plans import QUERIES

    plan = (
        QUERIES["session_trigram_paths"](spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    exchanges = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert sum(1 for e in exchanges if "user_id" in e) == 1, exchanges
    assert sum(1 for e in exchanges if "step1" in e) == 1, exchanges
    assert len(exchanges) == 2, exchanges
    assert "TakeOrderedAndProject" in plan


def test_available_now_drive_loop_lives_in_pipeline_only():
    """One drive loop: every run-to-completion stream goes through
    ``streaming/pipeline.start_to_completion`` (core-width start, loud
    timeout, stop in ``finally``). A hand-written
    ``trigger(availableNow=True)`` elsewhere would bypass all three."""
    from pathlib import Path

    import sparktrends_spark

    root = Path(sparktrends_spark.__file__).parent
    hits = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "availableNow=True" in p.read_text()
    )
    assert hits == ["streaming/pipeline.py"], hits


def test_tombstones_are_written_in_generations_only():
    """One delete: every index family records tombstones through
    ``generations.delete_ids`` (existence check before the lock, root
    re-resolved under it). A ``write_tombstones(`` call elsewhere would
    be a second delete path that can skip either."""
    from pathlib import Path

    import sparktrends_spark

    root = Path(sparktrends_spark.__file__).parent
    hits = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if "write_tombstones(" in p.read_text()
    )
    assert hits == ["similarity/generations.py"], hits


def test_no_fixed_tmp_paths_in_package():
    """Query scratch tables live under ``plans.registry.scratch_root()``
    (per-process, removed at exit). A fixed ``/tmp/...`` root is shared
    by every process on the host: two concurrent registry builds
    overwrite each other's tables, and nothing removes them."""
    from pathlib import Path

    import sparktrends_spark

    root = Path(sparktrends_spark.__file__).parent
    hits = sorted(
        f"{p.relative_to(root)}:{i}"
        for p in root.rglob("*.py")
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if '"/tmp' in line or "'/tmp" in line
    )
    assert not hits, hits
