"""Query/oracle registry.

A query is ``fn(spark, sf_dir) -> DataFrame``. An oracle is the
equivalent ANSI SQL DuckDB runs over the same parquet tables (views
``region nation customer supplier part orders lineitem events
documents embeddings``). Column names must match exactly — the driver
sorts columns by name before hashing values.

Queries registered with ``oracle=None`` get the driver's weaker
rows-only check (reserved for genuinely non-SQL-expressible ops).

``scratch_root``/``scratch_dir``/``scratch_path`` give queries a
per-process place for default checkpoints, staging copies, persisted
indexes and per-scale tables that is removed when the process exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def register(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return register


_SCRATCH_ROOT: str | None = None


def scratch_root() -> str:
    """This process's scratch root, removed at interpreter exit.

    The directory is uid- and pid-suffixed, so concurrent processes
    and users never share a persisted index that one of them is
    overwrite-building. It is stable within a process, so a repeat run
    rebuilds an index in place instead of leaving a second copy."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = os.path.join(
            tempfile.gettempdir(),
            f"sparktrends_u{os.getuid()}_p{os.getpid()}",
        )
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    os.makedirs(_SCRATCH_ROOT, exist_ok=True)
    return _SCRATCH_ROOT


def scratch_dir(prefix: str) -> str:
    """A fresh directory under ``scratch_root()`` for a query's own
    checkpoint, staging copy or default table; it goes with the root
    at exit."""
    return tempfile.mkdtemp(prefix=prefix, dir=scratch_root())


def scratch_path(kind: str, sf_dir: str, *parts: str) -> str:
    """A stable path under ``scratch_root()`` for a query's ``kind`` of
    table at one scale (``<root>/<kind>/<sf>/<parts...>``), so repeat
    runs in one process overwrite instead of piling up copies."""
    sf = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(scratch_root(), kind, sf, *parts)
