"""analytics_mix: one closed-loop client over registered batch queries and
persisted-index requests with appends.

Inputs: the seeded TESTDATA-schema table set (``gen_tables``) at ``SF``.
``embeddings`` and ``documents`` are the base corpus of an IVF and a BM25
index; seeded append batches and query batches come from
``gen_tables.search_extras``.

Set-up runs three threads at once: the IVF build, the BM25 build, and one
execution of each batch query (a first execution pays code generation
and is several times slower; its result is kept for the correctness
check). In the window, each batch query thus runs for the second time,
and the first round's index requests and append are the first after the
builds.

The client then runs whole rounds until ``--seconds`` have passed. A round
starts with one id-disjoint ``append_ivf_index`` + ``append_bm25_index``
batch, followed by a seeded permutation of the reads: each batch query
built from ``plans.QUERIES``, written to the ``noop`` sink and followed by
``release_persisted()``; one ``ivf_index_topk`` and one
``bm25_index_topk`` request (``QUERIES_PER_REQUEST`` queries, k = 10,
results collected). Whole rounds keep the operation mix, and so the
latency median, independent of the seed.

Correctness, untimed and in parallel threads: every batch query's set-up
result equals its ``ORACLES`` SQL under DuckDB on the same files; every
index request returns k rows per query; the last round's BM25 results,
served after every append, equal those of a fresh ``build_bm25_index``
over the union. The last round's IVF recall@10 against
``brute_force_topk`` over the union is reported, not gated.
"""

from __future__ import annotations

import math
import os
import random
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

from common import Context, Result, SparkCounters, median, retained_mem_mb, tree_stats
from gen_tables import DIM, SearchExtras, generate, search_extras

SF = 0.02
QUERY_MENU = (
    "q1_pricing_summary",
    "q5_region_revenue",
    "doc_minhash_pairs",
)
READS = QUERY_MENU + ("ivf_index_topk", "bm25_index_topk")
K = 10
QUERIES_PER_REQUEST = 4
APPEND_ROWS = 20
MAX_ROUNDS = 64  # a cap; append and query batches are generated up front
QID0 = 10**9  # query ids, disjoint from corpus ids (BM25 excludes id == query id)
IVF_QUERY = "query_id long, embedding array<float>"
BM25_QUERY = "query_id long, text string"
VEC_SCHEMA = "vec_id long, embedding array<float>, label int"
DOC_SCHEMA = "doc_id long, text string"


def _frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Order-insensitive equality; floats within 1e-6 relative."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)
    a, b = a[cols].copy(), b[cols].copy()
    for df in (a, b):
        for c in cols:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    key = lambda df: df.apply(
        lambda r: tuple(
            f"{v:.4f}" if isinstance(v, float) and not math.isnan(v) else str(v) for v in r
        ),
        axis=1,
    )
    if len(a):
        a = a.iloc[key(a).sort_values().index].reset_index(drop=True)
        b = b.iloc[key(b).sort_values().index].reset_index(drop=True)
    for c in cols:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            x, y = x.astype(float), y.astype(float)
            if not np.allclose(x, y, rtol=1e-6, atol=1e-9, equal_nan=True):
                return False
        elif not all((u == v) or (pd.isna(u) and pd.isna(v)) for u, v in zip(x, y)):
            return False
    return True


def prepare(work: str, seed: int) -> SearchExtras:
    """Write the table set and draw the index requests' inputs."""
    generate(os.path.join(work, "tables"), seed, SF)
    return search_extras(seed, SF, MAX_ROUNDS, APPEND_ROWS, MAX_ROUNDS * QUERIES_PER_REQUEST)


def run(ctx: Context) -> Result:
    import duckdb

    from sparktrends_spark.caching import release_persisted
    from sparktrends_spark.plans import ORACLES, QUERIES
    from sparktrends_spark.similarity.cosine import (
        append_ivf_index,
        brute_force_topk,
        build_ivf_index,
        ivf_index_topk,
    )
    from sparktrends_spark.sources.tables import TABLES
    from sparktrends_spark.text.bm25_index import (
        append_bm25_index,
        bm25_index_topk,
        build_bm25_index,
    )

    spark, tracer = ctx.spark, ctx.tracer
    counters = SparkCounters(spark) if tracer.enabled else None
    order_rng = random.Random(ctx.seed)
    data = os.path.join(ctx.work, "tables")
    ivf_path = os.path.join(ctx.work, "ivf")
    bm25_path = os.path.join(ctx.work, "bm25")
    extras = ctx.inputs
    appended: list[int] = []  # append batches the indexes took

    def base_vectors():
        return spark.read.parquet(f"{data}/embeddings.parquet")

    def base_docs():
        return spark.read.parquet(f"{data}/documents.parquet").select("doc_id", "text")

    def vec_frame(i: int):
        ids, vecs, labels = extras.append_vectors[i]
        rows = [(int(a), v.tolist(), int(b)) for a, v, b in zip(ids, vecs, labels)]
        return spark.createDataFrame(rows, VEC_SCHEMA)

    def doc_frame(i: int):
        ids, texts = extras.append_docs[i]
        return spark.createDataFrame([(int(a), t) for a, t in zip(ids, texts)], DOC_SCHEMA)

    def request(i: int) -> range:
        return range(i * QUERIES_PER_REQUEST, (i + 1) * QUERIES_PER_REQUEST)

    def ivf_queries(i: int):
        rows = [(QID0 + j, extras.query_vectors[j].tolist()) for j in request(i)]
        return spark.createDataFrame(rows, IVF_QUERY)

    def bm25_queries(i: int):
        rows = [(QID0 + j, extras.query_texts[j]) for j in request(i)]
        return spark.createDataFrame(rows, BM25_QUERY)

    def execute(op: str, i: int, collect: bool = False, release: bool = True) -> dict:
        """One operation; ``i`` picks the request's query batch or the
        append batch."""
        rec = {"op": op, "ok": True}
        rec["group"] = counters.tag(op) if counters else None
        t = time.perf_counter()
        try:
            if op in QUERY_MENU:
                with tracer.span(f"plans.{op}"):
                    with tracer.span(f"plans.{op}.build"):
                        df = QUERIES[op](spark, data)
                    rec["build_s"] = time.perf_counter() - t
                    with tracer.span(f"plans.{op}.exec"):
                        if collect:
                            rec["result"] = df.toPandas()
                        else:
                            df.write.format("noop").mode("overwrite").save()
                    if release:
                        with tracer.span(f"caching.{op}.release"):
                            rec["released"] = release_persisted()
            elif op == "ivf_index_topk":
                with tracer.span("similarity.topk"):
                    rec["rows"] = ivf_index_topk(spark, ivf_path, ivf_queries(i), k=K).collect()
            elif op == "bm25_index_topk":
                with tracer.span("text.topk"):
                    rec["rows"] = bm25_index_topk(spark, bm25_path, bm25_queries(i), k=K).collect()
            else:
                with tracer.span("similarity.append"):
                    append_ivf_index(vec_frame(i), ivf_path)
                with tracer.span("text.append"):
                    append_bm25_index(doc_frame(i), bm25_path)
                appended.append(i)
        except Exception:
            rec["ok"] = False
            traceback.print_exc(file=sys.stderr)
        rec["latency"] = time.perf_counter() - t
        if "rows" in rec:
            rec["ok"] = len(rec["rows"]) == K * QUERIES_PER_REQUEST
        return rec

    def build(layer: str, fn, *args, **kw) -> dict:
        """An index build as a set-up operation."""
        rec = {"op": f"{layer}.build", "ok": True}
        try:
            with tracer.span(f"{layer}.build"):
                fn(*args, **kw)
        except Exception:
            rec["ok"] = False
            traceback.print_exc(file=sys.stderr)
        return rec

    def query_setup() -> list[dict]:
        # released once all set-up threads are done: release_persisted()
        # drops every persisted frame, the other threads' too
        return [execute(q, 0, collect=True, release=False) for q in QUERY_MENU]

    t_setup = time.perf_counter()
    with ThreadPoolExecutor(3) as pool:
        futures = [
            pool.submit(build, "similarity", build_ivf_index, base_vectors(), ivf_path, dim=DIM),
            pool.submit(build, "text", build_bm25_index, base_docs(), bm25_path),
            pool.submit(query_setup),
        ]
        ivf_build, bm25_build, warm = (f.result() for f in futures)
    release_persisted()
    setup_s = time.perf_counter() - t_setup

    window_start = time.perf_counter()
    measured: list[dict] = []
    rnd = 0
    while rnd < MAX_ROUNDS and (rnd == 0 or time.perf_counter() - window_start < ctx.seconds):
        reads = list(READS)
        order_rng.shuffle(reads)
        measured.extend(execute(op, rnd) for op in ["append", *reads])
        rnd += 1
    elapsed = time.perf_counter() - window_start
    mem_mb, mem_parts = retained_mem_mb(spark)
    index_files = {"ivf": tree_stats(ivf_path), "bm25": tree_stats(bm25_path)}

    # ---- correctness, untimed: the last round's reads saw every append
    last = {o["op"]: o for o in measured[-len(READS) :]}
    gate_out: dict = {"recall": 0.0}

    def oracle_gate() -> dict[str, bool]:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
            return {
                q: rec["ok"] and _frames_equal(rec["result"], con.execute(ORACLES[q]).fetchdf())
                for q, rec in zip(QUERY_MENU, warm)
            }
        finally:
            con.close()

    def ivf_recall() -> None:
        union = base_vectors().select("vec_id", "embedding")
        for i in appended:
            union = union.unionByName(vec_frame(i).select("vec_id", "embedding"))
        want = brute_force_topk(ivf_queries(rnd - 1), union, k=K).select("query_id", "vec_id")
        got = {(r["query_id"], r["vec_id"]) for r in last["ivf_index_topk"].get("rows", [])}
        want_set = {tuple(r) for r in want.collect()}
        gate_out["recall"] = len(got & want_set) / max(1, len(want_set))

    def bm25_union() -> bool:
        union = base_docs()
        for i in appended:
            union = union.unionByName(doc_frame(i))
        fresh = os.path.join(ctx.work, "bm25_union")
        build_bm25_index(union, fresh)
        want = sorted(bm25_index_topk(spark, fresh, bm25_queries(rnd - 1), k=K).collect())
        rec = last["bm25_index_topk"]
        return rec["ok"] and sorted(rec["rows"]) == want

    def guarded(fn, fallback):
        try:
            return fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return fallback

    if counters:
        counters.tag("gates")  # keep the gates' jobs out of the last operation's group
    t_gates = time.perf_counter()
    with ThreadPoolExecutor(3) as pool:
        futures = [
            pool.submit(guarded, oracle_gate, {q: False for q in QUERY_MENU}),
            pool.submit(guarded, bm25_union, False),
            pool.submit(guarded, ivf_recall, None),
        ]
        checks, bm25_ok, _ = (f.result() for f in futures)
    checks["bm25_union"] = bm25_ok
    gates_s = time.perf_counter() - t_gates

    ops = warm + [ivf_build, bm25_build] + measured
    n_failed = sum(not o["ok"] for o in ops) + sum(not ok for ok in checks.values())
    lat = [o["latency"] for o in measured]
    e2e = {
        "latency_p50_s": median(lat),
        "ops_per_s": len(measured) / elapsed,
        "mem_retained_mb": mem_mb,
    }
    info = {
        "rounds": rnd,
        "ops_in_window": len(measured),
        "window_s": elapsed,
        "gates_s": gates_s,
        **{f"mem_retained_mb.{k}": v for k, v in mem_parts.items()},
        "ivf_recall_at_10": gate_out["recall"],
        **{f"check.{name}": ok for name, ok in checks.items()},
    }
    for op in ("append", *READS):
        info[f"latency_p50_s.{op}"] = median([o["latency"] for o in measured if o["op"] == op])
    layer: dict[str, float] = {}
    if tracer.enabled:
        snap = counters.snapshot()

        def per_op(op):
            runs = [o for o in measured if o["op"] == op and o["ok"]]
            return runs, counters.totals([o["group"] for o in runs], snap), max(1, len(runs))

        for q in QUERY_MENU:
            runs, tot, k = per_op(q)
            layer.update(
                {
                    f"plans.{q}.build_s": median([o["build_s"] for o in runs] or [0.0]),
                    f"plans.{q}.exec_s": median(
                        tracer.durations(f"plans.{q}.exec", window_start) or [0.0]
                    ),
                    f"plans.{q}.jobs": tot["jobs"] / k,
                    f"plans.{q}.tasks": tot["tasks"] / k,
                    f"plans.{q}.shuffle_bytes": tot["shuffle_bytes"] / k,
                    f"sources.{q}.input_bytes": tot["scan_bytes"] / k,
                    f"caching.{q}.frames_released": sum(o["released"] for o in runs) / k,
                }
            )
        for name, op, kind in (
            ("similarity", "ivf_index_topk", "ivf"),
            ("text", "bm25_index_topk", "bm25"),
        ):
            _, tot, k = per_op(op)
            span = lambda s: median(tracer.durations(f"{name}.{s}", window_start) or [0.0])
            layer.update(
                {
                    f"{name}.build_s": sum(tracer.durations(f"{name}.build")),
                    f"{name}.topk_s": span("topk"),
                    f"{name}.append_s": span("append"),
                    f"{name}.jobs_per_search": tot["jobs"] / k,
                    f"{name}.index_files": float(index_files[kind][0]),
                }
            )
            if name == "similarity" and index_files["ivf"][1]:
                layer["similarity.probed_bytes_fraction"] = (
                    tot["scan_bytes"] / k / index_files["ivf"][1]
                )
        layer["similarity.recall_at_10"] = gate_out["recall"]
    return Result(
        setup_s=setup_s, e2e=e2e, layer=layer, attempted=len(ops) + len(checks),
        failed=n_failed, correct=n_failed == 0, window_start=window_start, info=info,
    )
