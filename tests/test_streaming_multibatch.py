"""Cross-batch watermark eviction for the graded streaming queries.

The graded ``stream_ohlcv_bars`` / ``stream_user_sessions`` parity runs
deliver the whole table as one micro-batch (deterministic oracle). The
reference's real deployment is a continuous Kafka feed
(stock_stream.py:118-119's watermark TODO), where state must survive
*across* micro-batches: watermarks advance batch-by-batch, sessions
merge incrementally in the state store, finalized groups are evicted,
and the upsert sink must still converge to the batch answer.

These tests feed the same events table as several time-ordered files
with ``maxFilesPerTrigger=1`` — real multi-batch execution — and
assert the sink still lands exactly on the single-batch DuckDB oracle.
"""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pandas as pd
import pytest

from sparktrends_spark.plans import ORACLES
from sparktrends_spark.plans.streaming_queries import (
    build_stream_ohlcv_bars,
    build_stream_user_sessions,
)
from tests.oracle_utils import _normalize, duckdb_connection

N_SPLITS = 3


@pytest.fixture(scope="module")
def split_dir(sf_dir, tmp_path_factory) -> str:
    """events.parquet split into N time-ordered files, mtime-ascending
    so FileStreamSource picks them up oldest-first (no late drops —
    what a healthy Kafka feed looks like; late-data drops are covered
    by test_streaming.test_dedup_within_watermark)."""
    out = tmp_path_factory.mktemp("events_split")
    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("ts", "ascending")]))
    n = len(tbl)
    step = (n + N_SPLITS - 1) // N_SPLITS
    base_mtime = 1_700_000_000
    for i in range(N_SPLITS):
        name = "events.parquet" if i == 0 else f"events_{i}.parquet"
        path = str(out / name)
        pq.write_table(tbl.slice(i * step, step), path)
        os.utime(path, (base_mtime + i, base_mtime + i))
    return str(out)


def _oracle(sf_dir: str, name: str) -> pd.DataFrame:
    con = duckdb_connection(sf_dir)
    try:
        return con.execute(ORACLES[name]).fetchdf()
    finally:
        con.close()


def _n_batches(ckpt_dir: str) -> int:
    return len(
        [f for f in os.listdir(os.path.join(ckpt_dir, "offsets")) if f.isdigit()]
    )


def _assert_frames_equal(result_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame):
    assert sorted(result_pdf.columns) == sorted(oracle_pdf.columns)
    assert len(result_pdf) == len(oracle_pdf)
    s, d = _normalize(result_pdf), _normalize(oracle_pdf)
    for col in s.columns:
        sv, dv = s[col], d[col]
        if pd.api.types.is_float_dtype(sv):
            pd.testing.assert_series_equal(sv, dv.astype(sv.dtype), rtol=1e-6)
        else:
            assert sv.tolist() == dv.tolist(), f"mismatch in {col}"


def test_multibatch_ohlcv_upsert_lands_on_oracle(spark, sf_dir, split_dir, tmp_path):
    ckpt = str(tmp_path / "ckpt_bars")
    result = build_stream_ohlcv_bars(
        spark, split_dir, max_files_per_trigger=1, ckpt_dir=ckpt
    ).toPandas()
    # the run really was multi-batch (>= one batch per file)
    assert _n_batches(ckpt) >= N_SPLITS
    # update-mode re-emissions across batches + keyed upsert converge
    # to the exact batch answer on the ORIGINAL single-file table
    _assert_frames_equal(result, _oracle(sf_dir, "stream_ohlcv_bars"))


def test_multibatch_sessions_evict_across_batches(spark, sf_dir, split_dir, tmp_path):
    ckpt = str(tmp_path / "ckpt_sessions")
    result = build_stream_user_sessions(
        spark, split_dir, max_files_per_trigger=1, ckpt_dir=ckpt
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    # append mode: sessions merged incrementally in the state store,
    # emitted only once the advancing watermark passes their end —
    # identical final set to the single-batch run
    _assert_frames_equal(result, _oracle(sf_dir, "stream_user_sessions"))


def test_multibatch_sliding_windows_land_on_oracle(spark, sf_dir, split_dir, tmp_path):
    from sparktrends_spark.plans.streaming_queries import (
        build_stream_sliding_event_counts,
    )

    ckpt = str(tmp_path / "ckpt_sliding")
    result = build_stream_sliding_event_counts(
        spark, split_dir, max_files_per_trigger=1, ckpt_dir=ckpt
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    _assert_frames_equal(result, _oracle(sf_dir, "stream_sliding_event_counts"))


def test_multibatch_streamstream_joins_land_on_oracle(spark, sf_dir, split_dir, tmp_path):
    # Inner: matches emit as both sides arrive across batches. Outer:
    # null rows additionally emit as the advancing watermark evicts;
    # with time-ordered input both converge to the single-batch oracle.
    from sparktrends_spark.plans.streaming_queries import (
        build_stream_purchase_attribution,
    )

    for how, name in (("inner", "stream_purchase_attribution"),
                      ("leftOuter", "stream_purchase_attribution_outer")):
        ckpt = str(tmp_path / f"ckpt_join_{how}")
        result = build_stream_purchase_attribution(
            spark, split_dir, max_files_per_trigger=1, ckpt_dir=ckpt, how=how
        ).toPandas()
        assert _n_batches(ckpt) >= N_SPLITS
        _assert_frames_equal(result, _oracle(sf_dir, name))


def test_multibatch_stream_static_join_lands_on_oracle(spark, sf_dir, split_dir, tmp_path):
    # stream-static: the dimension is re-resolved every micro-batch;
    # the running per-segment aggregate refines across batches and the
    # keyed upsert keeps only the final refinement.
    from sparktrends_spark.plans.streaming_queries import (
        build_stream_segment_activity,
    )

    ckpt = str(tmp_path / "ckpt_segment")
    result = build_stream_segment_activity(
        spark,
        split_dir,
        max_files_per_trigger=1,
        ckpt_dir=ckpt,
        dim_sf_dir=sf_dir,  # split dir holds only events
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    _assert_frames_equal(result, _oracle(sf_dir, "stream_segment_activity"))


def _round_robin_split(sf_dir, tmp_path_factory, table: str) -> str:
    """Split ``<table>.parquet`` round-robin by position into N_SPLITS
    files (interleaved slices, so related rows straddle micro-batch
    boundaries), mtime-ascending so FileStreamSource picks them up in
    order; the first file keeps the table's own name so the single-file
    readers of the same glob still resolve."""
    out = tmp_path_factory.mktemp(f"{table}_split")
    tbl = pq.read_table(f"{sf_dir}/{table}.parquet")
    base_mtime = 1_700_000_000
    for i in range(N_SPLITS):
        idx = list(range(i, len(tbl), N_SPLITS))
        name = f"{table}.parquet" if i == 0 else f"{table}_{i}.parquet"
        path = str(out / name)
        pq.write_table(tbl.take(idx), path)
        os.utime(path, (base_mtime + i, base_mtime + i))
    return str(out)


@pytest.fixture(scope="module")
def docs_split_dir(sf_dir, tmp_path_factory) -> str:
    """documents.parquet split into N files with duplicates straddling
    the split boundary (doc_id-interleaved slices), so cross-batch
    state merging in stream_doc_dedup is actually exercised."""
    return _round_robin_split(sf_dir, tmp_path_factory, "documents")


def test_multibatch_doc_dedup_lands_on_oracle(spark, sf_dir, docs_split_dir, tmp_path):
    from sparktrends_spark.plans.streaming_queries import build_stream_doc_dedup

    ckpt = str(tmp_path / "ckpt_dedup")
    got = build_stream_doc_dedup(
        spark, docs_split_dir, max_files_per_trigger=1, ckpt_dir=ckpt
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS  # really ran multi-batch
    _assert_frames_equal(got, _oracle(sf_dir, "stream_doc_dedup"))


def test_multibatch_asset_features_lands_on_oracle(
    spark, sf_dir, docs_split_dir, tmp_path
):
    from sparktrends_spark.plans.streaming_queries import (
        build_stream_asset_features,
    )

    ckpt = str(tmp_path / "ckpt_saf")
    got = build_stream_asset_features(
        spark, docs_split_dir, max_files_per_trigger=1, ckpt_dir=ckpt
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    _assert_frames_equal(got, _oracle(sf_dir, "stream_asset_features"))


def test_multibatch_heavy_hitters_land_on_oracle(spark, sf_dir, split_dir, tmp_path):
    from sparktrends_spark.plans.streaming_queries import (
        build_stream_user_heavy_hitters,
    )

    ckpt = str(tmp_path / "ckpt_hh")
    result = build_stream_user_heavy_hitters(
        spark, split_dir, max_files_per_trigger=1, ckpt_dir=ckpt
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    # running counts re-emitted per batch; the keyed upsert keeps the
    # latest, so the final state equals the exact GROUP BY and the
    # top-20 cut matches the batch oracle row-for-row
    _assert_frames_equal(result, _oracle(sf_dir, "stream_user_heavy_hitters"))


def test_multibatch_complete_mode_totals_land_on_oracle(
    spark, sf_dir, split_dir
):
    from sparktrends_spark.plans.registry import scratch_root
    from sparktrends_spark.plans.streaming_queries import (
        run_upsert_stream,
        stream_events,
    )
    from pyspark.sql import functions as F

    ev = stream_events(spark, split_dir, max_files_per_trigger=1)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    # no ckpt_dir/table_dir: both defaults are made under the process's
    # scratch root, which is removed at exit
    root = scratch_root()
    before = set(os.listdir(root))
    result = run_upsert_stream(
        agg, keys=("event_type",), output_mode="complete"
    ).toPandas()
    made = set(os.listdir(root)) - before
    (ckpt,) = [n for n in made if n.startswith("stream_ckpt_")]
    (out,) = [n for n in made if n.startswith("stream_out_")]
    assert made == {ckpt, out}
    assert os.path.isdir(os.path.join(root, out, "t"))
    assert _n_batches(os.path.join(root, ckpt)) >= N_SPLITS
    # complete mode re-emits the FULL state per batch; the upsert's
    # last-writer-wins per key must converge on the exact totals
    _assert_frames_equal(result, _oracle(sf_dir, "stream_event_type_totals"))


def test_scratch_dir_is_removed_at_exit(tmp_path):
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from sparktrends_spark.plans.registry import scratch_dir\n"
        "d = scratch_dir('probe_')\n"
        "open(d + '/f', 'w').write('x')\n"
        "print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=repo,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    made = out.stdout.strip().splitlines()[-1]
    assert made.startswith(str(tmp_path) + os.sep)
    assert os.listdir(tmp_path) == []


def test_multibatch_pii_redact_lands_on_oracle(
    spark, sf_dir, docs_split_dir, tmp_path
):
    from sparktrends_spark.plans.streaming_queries import (
        build_stream_doc_pii_redact,
    )

    ckpt = str(tmp_path / "ckpt_pii")
    result = build_stream_doc_pii_redact(
        spark, docs_split_dir, max_files_per_trigger=1, ckpt_dir=ckpt
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    _assert_frames_equal(result, _oracle(sf_dir, "stream_doc_pii_redact"))


def test_multibatch_incremental_dedup_screen_lands_on_oracle(
    spark, sf_dir, docs_split_dir, tmp_path
):
    """Screening against a FIXED index is batch-boundary-invariant:
    splitting the incoming docs into 3 micro-batches must produce the
    identical verdicts as the single-batch oracle."""
    from sparktrends_spark.plans.streaming_queries import (
        build_stream_doc_incremental_dedup,
    )

    ckpt = str(tmp_path / "ckpt_incr")
    result = build_stream_doc_incremental_dedup(
        spark, docs_split_dir, max_files_per_trigger=1, ckpt_dir=ckpt
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    _assert_frames_equal(
        result, _oracle(sf_dir, "stream_doc_incremental_dedup")
    )


def test_multibatch_histogram_sketch_lands_on_oracle(
    spark, sf_dir, split_dir, tmp_path
):
    """Update-mode sketch maintenance across real micro-batches: a
    (day, bucket) count refined over several batches must upsert to
    exactly the single-batch sketch — the property that makes range
    quantiles answerable from the live rollup."""
    from sparktrends_spark.plans.streaming_queries import (
        build_stream_value_histogram_sketch,
    )

    ckpt = str(tmp_path / "ckpt_sketch")
    result = build_stream_value_histogram_sketch(
        spark, split_dir, max_files_per_trigger=1, ckpt_dir=ckpt
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    _assert_frames_equal(result, _oracle(sf_dir, "stream_value_histogram_sketch"))


def test_multibatch_cms_cells_land_on_oracle(spark, sf_dir, split_dir, tmp_path):
    """CMS maintenance across real micro-batches: cell-wise count
    upserts over several batches must converge to exactly the
    single-batch sketch (the mergeable-summaries algebra run through
    the update-mode state store + keyed upsert sink)."""
    from sparktrends_spark.plans.streaming_queries import (
        build_stream_user_cms_cells,
    )

    ckpt = str(tmp_path / "ckpt_cms")
    result = build_stream_user_cms_cells(
        spark, split_dir, max_files_per_trigger=1, ckpt_dir=ckpt
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    _assert_frames_equal(result, _oracle(sf_dir, "stream_user_cms_cells"))


def test_multibatch_profile_lands_on_oracle(spark, sf_dir, split_dir, tmp_path):
    from sparktrends_spark.operators.profile import profile_columns
    from sparktrends_spark.plans.streaming_queries import (
        run_upsert_stream,
        stream_events,
    )

    ckpt = str(tmp_path / "ckpt_profile")
    ev = stream_events(spark, split_dir, max_files_per_trigger=1)
    prof = profile_columns(ev, include_distinct=False)
    result = run_upsert_stream(
        prof, keys=("col_name",), output_mode="complete", ckpt_dir=ckpt
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    # the profile's merge algebra (counts, min/max, exact decimal sums)
    # must make the converged state independent of the batching — the
    # multi-batch profile lands bit-exactly on the whole-table oracle
    _assert_frames_equal(result, _oracle(sf_dir, "stream_events_profile"))


@pytest.fixture(scope="module")
def orders_split_dir(sf_dir, tmp_path_factory) -> str:
    out = tmp_path_factory.mktemp("orders_split")
    tbl = pq.read_table(f"{sf_dir}/orders.parquet")
    n = len(tbl)
    step = (n + N_SPLITS - 1) // N_SPLITS
    base_mtime = 1_700_000_000
    for i in range(N_SPLITS):
        name = "orders.parquet" if i == 0 else f"orders_{i}.parquet"
        path = str(out / name)
        pq.write_table(tbl.slice(i * step, step), path)
        os.utime(path, (base_mtime + i, base_mtime + i))
    return str(out)


def test_multibatch_ivm_lands_on_oracle(spark, sf_dir, orders_split_dir, tmp_path):
    from sparktrends_spark.plans.streaming_queries import (
        build_stream_order_status_ivm,
    )

    ckpt = str(tmp_path / "ckpt_ivm")
    result = build_stream_order_status_ivm(
        spark, orders_split_dir, max_files_per_trigger=1, ckpt_dir=ckpt
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    # the rollup is advanced by per-batch deltas (keyed point reads,
    # no base rescan) — accumulation across real micro-batches must
    # land exactly on recomputation over the surviving rows
    _assert_frames_equal(result, _oracle(sf_dir, "stream_order_status_ivm"))


def test_multibatch_drawdown_state_carries(spark, sf_dir, split_dir, tmp_path):
    from pyspark.sql import functions as F

    from sparktrends_spark.plans.market import trades_projection
    from sparktrends_spark.plans.streaming_queries import (
        run_upsert_stream,
        stream_events,
    )
    from sparktrends_spark.streaming.stateful import running_symbol_drawdown

    ckpt = str(tmp_path / "ckpt_dd")
    ev = stream_events(spark, split_dir, max_files_per_trigger=1)
    out = running_symbol_drawdown(trades_projection(ev)).withColumn(
        "trough_ts", F.col("trough_ts").cast("timestamp_ntz")
    )
    result = run_upsert_stream(
        out, keys=("symbol",), output_mode="update", ckpt_dir=ckpt
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    # the six-scalar state must fold across REAL micro-batches to the
    # same answer as the batch window form (incl. peaks set in an
    # earlier batch bounding drawdowns in a later one)
    _assert_frames_equal(result, _oracle(sf_dir, "stream_symbol_max_drawdown"))


@pytest.fixture(scope="module")
def emb_split_dir(sf_dir, tmp_path_factory) -> str:
    """embeddings.parquet split round-robin into N files so the query
    rows (vec_id < N_QUERIES) straddle micro-batch boundaries."""
    return _round_robin_split(sf_dir, tmp_path_factory, "embeddings")


def test_multibatch_ann_serve_lands_on_oracle(
    spark, sf_dir, emb_split_dir, tmp_path
):
    """Serving against a FIXED standing index is batch-boundary-
    invariant: the query stream split into 3 micro-batches must
    produce the identical top-k as the single-batch oracle (the
    stream_doc_incremental_dedup argument applied to the ANN serve
    path)."""
    from sparktrends_spark.plans.similarity import (
        build_stream_embedding_ann_serve,
    )

    ckpt = str(tmp_path / "ckpt_ann_serve")
    got = build_stream_embedding_ann_serve(
        spark, emb_split_dir, max_files_per_trigger=1, ckpt_dir=ckpt
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    _assert_frames_equal(got, _oracle(sf_dir, "stream_embedding_ann_serve"))


def test_multibatch_filtered_ann_serve_lands_on_oracle(
    spark, sf_dir, emb_split_dir, tmp_path
):
    """ONLINE FILTERED retrieval: the streaming serve under a payload
    predicate (where="label < 5" against an index built with the
    label payload) split into 3 micro-batches must land on the exact
    batch filtered-serve oracle — the index is fixed for the stream's
    duration, so the predicate's probed-cell pushdown is just as
    batch-boundary-invariant as the unfiltered serve."""
    from sparktrends_spark.plans.similarity import (
        build_stream_embedding_ann_serve,
    )

    ckpt = str(tmp_path / "ckpt_ann_serve_f")
    got = build_stream_embedding_ann_serve(
        spark, emb_split_dir, max_files_per_trigger=1, ckpt_dir=ckpt,
        payload_cols=("label",), where="label < 5",
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    _assert_frames_equal(
        got, _oracle(sf_dir, "embedding_ivfpq_filtered_topk")
    )


def test_multibatch_adaptive_filtered_serve_is_batch_invariant(
    spark, sf_dir, emb_split_dir, tmp_path
):
    """ONLINE selectivity-aware escalation (round 14): the streaming
    filtered serve with ``min_candidates`` split into 3 micro-batches
    must equal the BATCH adaptive serve over an identically-built
    index — per-query escalation depends only on the fixed index and
    that query's own probe order, so batch boundaries cannot change
    the probe prefixes or the verdicts."""
    from pyspark.sql import functions as F

    from sparktrends_spark.plans.similarity import (
        _KM_ITERS,
        _KM_K,
        _PQ_K,
        _PQ_M,
        build_stream_embedding_ann_serve,
    )
    from sparktrends_spark.similarity.ivfpq_index import (
        build_ivfpq_index,
        ivfpq_index_topk,
    )

    emb = spark.read.parquet(f"{emb_split_dir}/embeddings*.parquet")
    n = emb.count()
    ckpt = str(tmp_path / "ckpt_ann_serve_a")
    got = build_stream_embedding_ann_serve(
        spark, emb_split_dir, max_files_per_trigger=1, ckpt_dir=ckpt,
        payload_cols=("label",), where="label < 5", min_candidates=n,
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS

    idx = str(tmp_path / "ref_idx")
    build_ivfpq_index(
        emb, idx, dim=64, n_cells=_KM_K, m=_PQ_M, k_codes=_PQ_K,
        iterations=_KM_ITERS, payload_cols=("label",),
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = ivfpq_index_topk(
        spark, idx, queries, dim=64, k_neighbors=3, nprobe=2,
        where="label < 5", min_candidates=n,
    ).select("query_id", "vec_id", "approx_d2", "rnk").toPandas()
    _assert_frames_equal(got, want)


def test_multibatch_hybrid_serve_lands_on_oracle(
    spark, sf_dir, emb_split_dir, tmp_path
):
    """The streaming HYBRID serve (filtered ANN + persisted-BM25 + RRF
    per micro-batch, round 14): with the query stream split into 3
    micro-batches, the upsert table must land exactly on the batch
    doc_hybrid_bm25_ann_rrf oracle — both standing indexes are fixed
    for the stream's duration, so retrieval is stateless per batch.
    The documents table (the lexical corpus) comes from sf_dir while
    the queries stream from the split embeddings dir."""
    from sparktrends_spark.plans.similarity import (
        build_stream_doc_hybrid_serve,
    )

    ckpt = str(tmp_path / "ckpt_hybrid_serve")
    got = build_stream_doc_hybrid_serve(
        spark, emb_split_dir, max_files_per_trigger=1, ckpt_dir=ckpt,
        docs_dir=sf_dir,
    ).toPandas()
    assert _n_batches(ckpt) >= N_SPLITS
    # the stream's own oracle (embedding query universe); on the
    # driver fixtures it coincides with doc_hybrid_bm25_ann_rrf's
    _assert_frames_equal(got, _oracle(sf_dir, "stream_doc_hybrid_rrf"))
