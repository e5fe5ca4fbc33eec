"""The streaming upsert sink: one object that carries the bucket layout.

``BucketedParquetUpsertSink`` wraps ``sinks.upsert_parquet_bucketed``
(hash-bucketed, manifest-committed, per-key last-writer-wins at the
micro-batch version) and its keyed read. ``run_bar_pipeline`` builds
one for its ``"bucketed"`` default; a caller that wants to observe the
sink's calls passes a subclass instead. On a cluster the same call is
one ``MERGE INTO`` on a transactional table format (Delta/Iceberg);
the data movement is the same.

Reference scope note: the reference's sink is an at-least-once JDBC
append (spark/utilities.py:36-44); idempotent upsert is the fix SURVEY
§7.4 calls for.
"""

from __future__ import annotations

from collections.abc import Sequence

from sparktrends_spark.streaming import sinks as _sinks


class BucketedParquetUpsertSink:
    """Hash-bucketed manifest-committed upsert
    (``upsert_parquet_bucketed``): per-batch cost is O(touched
    buckets), not O(table) — the shape that keeps a long-running
    update-mode stream viable as its sink table grows."""

    def __init__(
        self,
        n_buckets: int = 32,
        bucket_cols: Sequence[str] | None = None,
    ):
        self.n_buckets = int(n_buckets)
        self.bucket_cols = list(bucket_cols) if bucket_cols else None

    def upsert(self, df, path, keys, version):
        _sinks.upsert_parquet_bucketed(
            df,
            path,
            keys=keys,
            n_buckets=self.n_buckets,
            version=version,
            bucket_cols=self.bucket_cols,
        )

    def read_keyed(self, spark, path, keys_df):
        """Committed rows of the buckets ``keys_df``'s bucket columns
        hash into (manifest-routed; callers still filter)."""
        return _sinks.read_upserted_keyed(spark, path, keys_df)
