#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The workload's inputs are generated from
``--seed`` inside ``.perfbench_work/`` (removed at exit); the program under
test is ``sparktrends_spark`` on ``local[<cpus>]``. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics (plus the
tracing overhead against the untraced runs of the same code) with
``--trace 1``. Spans of a traced run and every run's result are kept in
``.perfbench_out/``. See perfbench/README.md for workloads and sizing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("market_stream", "analytics_mix")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _code_digest() -> str:
    """Digest of the program and benchmark sources and BENCHMARK.json, so
    stored results are only compared with results of the same code."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "BENCHMARK.json")]
    for top in (os.path.join(ROOT, "sparktrends_spark"), BENCH_DIR):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            paths.extend(os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def _result_name(digest: str, workload: str, seed: int, seconds: int, trace: int) -> str:
    return f"result-{digest}-{workload}-seed{seed}-{seconds}s-trace{trace}.json"


def _untraced_reference(args, digest: str) -> dict[str, float]:
    """Per end-to-end metric, the median over this checkout's stored
    untraced runs of the same code, workload and run length (any seed).
    With none stored, one untraced run with the same seed is made first
    in a child process."""
    prefix = f"result-{digest}-{args.workload}-seed"
    suffix = f"-{args.seconds}s-trace0.json"
    found = lambda: [n for n in os.listdir(OUT_DIR) if n.startswith(prefix) and n.endswith(suffix)]
    if not found():
        cmd = [
            sys.executable, os.path.abspath(__file__),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "0",
        ]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, check=True, timeout=170)
    values: dict[str, list[float]] = {}
    for name in found():
        with open(os.path.join(OUT_DIR, name)) as f:
            for metric, m in json.load(f)["metrics"].items():
                values.setdefault(metric, []).append(m["value"])
    return {metric: statistics.median(xs) for metric, xs in values.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be >= 1")

    sys.path.insert(0, ROOT)
    try:
        import sparktrends_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: program not found under {ROOT}: {e}", file=sys.stderr)
        return 3
    spec = _spec()
    os.makedirs(OUT_DIR, exist_ok=True)
    digest = _code_digest()
    reference = _untraced_reference(args, digest) if args.trace else None

    sys.path.insert(0, BENCH_DIR)
    import common
    import importlib

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    tracer = common.Tracer(bool(args.trace))
    workload = importlib.import_module(f"wl_{args.workload}")
    spark = None
    pool = ThreadPoolExecutor(1)
    try:
        # input generation is not set-up; it overlaps the session start
        prepare = getattr(workload, "prepare", lambda work, seed: None)
        inputs = pool.submit(prepare, work, args.seed)
        from sparktrends_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark(
                f"perfbench-{args.workload}",
                extra_conf={
                    "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    # keep the JVM's scratch files inside the work dir
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={work}"
                    ),
                },
            )
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ctx = common.Context(
            spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds, work=work,
            inputs=inputs.result(),
        )
        res = workload.run(ctx)
        e2e = {
            "setup_s": session_s + res.setup_s,
            "ok_ops_ratio": 1.0 - res.failed / res.attempted,
            **res.e2e,
        }
        res.info["peak_rss_mb"] = common.peak_rss_mb(spark)
        layer = {"session.start_s": session_s, **res.layer}
    finally:
        pool.shutdown()
        if spark is not None:
            jvm = spark.sparkContext._gateway.proc
            spark.stop()
            jvm.stdin.close()  # the Spark JVM exits on EOF; wait for it
            jvm.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        for name, value in e2e.items():
            layer[f"trace.overhead.{name}"] = value - reference[name]
        for name, value in tracer.self_times(since=res.window_start).items():
            layer[f"selftime.{name}_s"] = value
        tracer.write(os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.json"))
        wanted = [m["name"] for m in spec["per_layer"]]
        metrics = {n: layer.get(n, 0.0) for n in wanted}
        extra = sorted(set(layer) - set(wanted))
        if extra:
            print(f"perfbench: unlisted layer metrics {extra}", file=sys.stderr)
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    for name, value in sorted(res.info.items()):
        print(f"{name}: {value}")
    out = {
        "correct": res.correct,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }
    with open(
        os.path.join(
            OUT_DIR, _result_name(digest, args.workload, args.seed, args.seconds, args.trace)
        ),
        "w",
    ) as f:
        json.dump(out, f)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
