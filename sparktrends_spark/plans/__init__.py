"""Named query registry.

Each module registers queries via ``plans.registry.query``; importing
this package loads them all. ``__spark_entry__`` at the repo root
exposes the registry to the driver.
"""

from sparktrends_spark.plans.registry import ORACLES, QUERIES, query

# Imports for registration side effects.
from sparktrends_spark.plans import indicators  # noqa: E402,F401
from sparktrends_spark.plans import market  # noqa: E402,F401
from sparktrends_spark.plans import relational  # noqa: E402,F401
from sparktrends_spark.plans import tpch_extra  # noqa: E402,F401
from sparktrends_spark.plans import tpch_extra2  # noqa: E402,F401
from sparktrends_spark.plans import windows  # noqa: E402,F401
from sparktrends_spark.plans import text  # noqa: E402,F401
from sparktrends_spark.plans import similarity  # noqa: E402,F401
from sparktrends_spark.plans import streaming_queries  # noqa: E402,F401
from sparktrends_spark.plans import multimodal  # noqa: E402,F401
from sparktrends_spark.plans import skew  # noqa: E402,F401
from sparktrends_spark.plans import portfolio  # noqa: E402,F401
from sparktrends_spark.plans import profile  # noqa: E402,F401

__all__ = ["QUERIES", "ORACLES", "query"]
