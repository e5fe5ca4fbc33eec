"""Full-registry oracle-parity sweep -> PARITY.json.

This sweep runs EVERY registered query against its DuckDB oracle (same
comparison as tests/oracle_utils) with a vanilla SparkSession, the way
an external driver would import ``__spark_entry__``. Commit the
artifact when the registry or a plan changes.

Usage: python tools/parity_summary.py [--exact] [sf_dir]   (default sf0.01)

``--exact`` compares stringified cells exactly and floats bit-for-bit
via repr, instead of within rel_tol 1e-6, so a 1-ULP aggregation-order
drift (round-7 `user_event_salted_agg`) shows; it writes
PARITY_EXACT.json.
"""

from __future__ import annotations

import json
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--exact"]
    exact = "--exact" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    # PARITY_MASTER / PARITY_SHUFFLE override the session shape so the
    # exact sweep can be repeated under a DIFFERENT parallelism — any
    # query whose output depends on addition order (the bug class the
    # exact mode exists for) diverges between the two runs.
    spark = (
        SparkSession.builder.master(os.environ.get("PARITY_MASTER", "local[8]"))
        .appName("parity-summary")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("PARITY_SHUFFLE", "200"),
        )
        .getOrCreate()
    )
    import __spark_entry__ as entry
    from tests.oracle_utils import assert_query_matches_oracle

    queries = entry.queries()
    oracles = entry.oracle_sql()
    failures: dict[str, str] = {}
    rows_only: list[str] = sorted(set(queries) - set(oracles))
    for name in sorted(oracles):
        try:
            assert_query_matches_oracle(spark, sf_dir, name, exact=exact)
        except Exception as exc:  # noqa: BLE001 - summarize, don't abort
            failures[name] = str(exc)[:300]
    for name in rows_only:
        try:
            assert queries[name](spark, sf_dir).count() >= 0
        except Exception as exc:  # noqa: BLE001
            failures[name] = str(exc)[:300]

    summary = {
        "mode": "exact-string" if exact else "tolerant",
        "master": os.environ.get("PARITY_MASTER", "local[8]"),
        "shuffle_partitions": os.environ.get("PARITY_SHUFFLE", "200"),
        "sf_dir": sf_dir,
        "n_registered": len(queries),
        "n_oracled": len(oracles),
        "n_rows_only": len(rows_only),
        "rows_only": rows_only,
        "n_parity_pass": len(oracles) - sum(1 for f in failures if f in oracles),
        "failures": failures,
    }
    out_path = os.path.join(REPO_ROOT, "PARITY_EXACT.json" if exact else "PARITY.json")
    with open(out_path, "w") as fh:
        json.dump(summary, fh, indent=2)
    print(json.dumps({k: v for k, v in summary.items() if k != "failures"}))
    if failures:
        print("FAILURES:", json.dumps(failures, indent=2))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
