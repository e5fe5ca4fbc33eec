"""SparkSession factory with scale-oriented defaults.

Reference parity: the reference builds its session from a YAML config
(`spark/utilities.py:17-26`, `spark/init_config.py:17-39`). Here the
factory is code-first and encodes the settings that matter at scale:

- AQE on (runtime coalescing + skew-join splitting) so plans self-tune
  when the 100 TB partition counts diverge from estimates.
- ``spark.sql.shuffle.partitions`` sized explicitly (the reference left
  the old default of 200 on a 1-core worker).
- UTC session timezone so epoch conversions are deployment-independent.
- ``nanosAsLong`` kept on defensively: the current testdata stores
  timestamps as parquet timestamp[us] (read natively), but a
  TIMESTAMP(NANOS) file would otherwise fail the scan outright;
  sources/tables.py detects the resulting ns-long and converts it.
- Arrow enabled for the Pandas-UDF paths (text/similarity/multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def default_shuffle_partitions() -> int:
    """Scale-dependent: local default 32, a fixed width that AQE
    coalesces below on small batch shuffles (streaming queries start
    capped at the core count instead, see streaming/pipeline.py);
    production sizes partitions to 100 MB-1 GB of shuffle data (guide
    §2.2) via SPARK_GRAFT_SHUFFLE_PARTITIONS — e.g. a 100 TB shuffle
    wants O(100k-1M) partitions, not 32."""
    return int(
        os.environ.get(
            "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS
        )
    )


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def get_spark(
    app_name: str = "sparktrends_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    builder = SparkSession.builder.master(master or default_master()).appName(app_name)
    conf = {
        # local[N] runs the driver AND all N executor threads in ONE
        # JVM, so the 1g driver default is the whole engine's heap —
        # fine on a cluster (each executor brings its own), fatal
        # locally once broadcast builds + shuffle buffers for 32
        # threads land in the same gigabyte. Only effective when this
        # factory launches the JVM; an already-running session keeps
        # its own setting.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or default_shuffle_partitions()
        ),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.ui.showConsoleProgress": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
