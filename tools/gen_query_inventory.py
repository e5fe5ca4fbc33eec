"""Generate QUERIES.md — the registered-query inventory.

One row per registry entry: name, one-line description (docstring
head), and verification mode (full DuckDB oracle vs rows-only). Run
after registry changes; commit the artifact.
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def main() -> None:
    from sparktrends_spark.plans import ORACLES, QUERIES

    lines = [
        "# Registered query inventory",
        "",
        f"{len(QUERIES)} queries; {len(ORACLES)} carry full DuckDB value-level "
        "oracles, the rest are rows-only by design. Regenerate with "
        "`python tools/gen_query_inventory.py`; `tools/parity_summary.py` "
        "sweeps all of them.",
        "",
        "| query | verified | description |",
        "|---|---|---|",
    ]
    for name in sorted(QUERIES):
        fn = QUERIES[name]
        doc = (fn.__doc__ or "").strip().splitlines()
        head = doc[0].strip() if doc else ""
        mode = "oracle" if name in ORACLES else "rows-only"
        lines.append(f"| `{name}` | {mode} | {head} |")
    with open(os.path.join(REPO_ROOT, "QUERIES.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md: {len(QUERIES)} queries, {len(ORACLES)} oracled")


if __name__ == "__main__":
    main()
