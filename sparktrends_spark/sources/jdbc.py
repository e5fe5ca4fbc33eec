"""JDBC source/sink (SURVEY §2.1 S3, §2.2 K1-K3) + keyed upsert/DDL.

The reference reads Postgres with a hand-rolled pushdown subquery
(spark/jobs/stock_stream.py:39-57), appends with a generic writer
(spark/utilities.py:29-47), and ships DDL for its three output tables
(postgres/init.sql:2-34). Kept here as the optional JDBC deployment
path; the engine's primary storage is partitioned parquet (SURVEY §4:
"restate as Spark window+filter over parquet-resident bars").

``read_*``/``write_table`` are plan builders only — no JDBC driver jar
ships in the build container. The upsert/DDL half runs through DB-API
connections instead (``connect`` factory), so it executes for real
against sqlite in tests and against psycopg2/any driver in deployment:

- ``create_table_ddl`` maps a Spark schema to dialect DDL with a
  natural-key PRIMARY KEY — the reference's init.sql, derived instead
  of hand-written.
- ``upsert_statement`` builds the dialect MERGE: ``INSERT .. ON
  CONFLICT (keys) DO UPDATE`` (postgres/sqlite), ``ON DUPLICATE KEY
  UPDATE`` (mysql), ANSI ``MERGE INTO`` otherwise.
- ``upsert_table`` executes it distributed: one connection per
  partition (``df.foreachPartition``), executemany in bounded batches,
  commit per partition. Replaying a micro-batch re-upserts the same
  natural keys — idempotent, unlike the reference's at-least-once
  append. This is the K1 "at scale prefer batch upsert" path from
  SURVEY §2.2, carrying the per-key last-writer-wins contract of
  streaming/sinks.upsert_parquet_bucketed to JDBC targets.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_table(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    predicates: list[str] | None = None,
) -> DataFrame:
    """Read a JDBC table; simple filters/column pruning push down
    automatically. ``predicates`` (one WHERE clause per partition)
    parallelize the scan without a numeric partition column.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if predicates:
        # Spark's DataFrameReader.jdbc(predicates=...) path
        return spark.read.jdbc(
            url, table, predicates=predicates, properties=properties or {}
        )
    return reader.load()


def read_pushdown_query(
    spark: SparkSession,
    url: str,
    sql: str,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S3: execute ``sql`` inside the database, scan only its result.

    The reference used this to make Postgres compute top-10-per-symbol
    (ROW_NUMBER window) because Spark won't push window functions
    through JDBC. Spark-native alternative: operators/topk.py
    ``top_k_per_group`` over parquet.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", f"({sql}) AS pushed")
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def write_table(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    properties: dict[str, str] | None = None,
    batch_size: int = 10_000,
) -> None:
    """K1/K2: JDBC append or overwrite.

    At-least-once under retries — for exactly-once use natural-key
    upserts (streaming/sinks.upsert_parquet_bucketed semantics) or stage to
    parquet and MERGE db-side.
    """
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


# --------------------------------------------------------------------------
# Keyed upsert + DDL through DB-API connections (K1 at-scale half).
# --------------------------------------------------------------------------

# paramstyle per DB-API driver family.
_PLACEHOLDER = {"postgresql": "%s", "mysql": "%s", "sqlite": "?", "ansi": "?"}

_SQL_TYPES: dict[str, dict[type, str]] = {
    # postgres/init.sql:10-19 vocabulary: TEXT, DOUBLE PRECISION,
    # BIGINT, TIMESTAMPTZ (we emit TIMESTAMP: engine times are ntz).
    "postgresql": {
        T.StringType: "TEXT",
        T.DoubleType: "DOUBLE PRECISION",
        T.FloatType: "REAL",
        T.LongType: "BIGINT",
        T.IntegerType: "INTEGER",
        T.ShortType: "SMALLINT",
        T.BooleanType: "BOOLEAN",
        T.TimestampType: "TIMESTAMP",
        T.TimestampNTZType: "TIMESTAMP",
        T.DateType: "DATE",
        T.BinaryType: "BYTEA",
    },
    "sqlite": {
        T.StringType: "TEXT",
        T.DoubleType: "REAL",
        T.FloatType: "REAL",
        T.LongType: "INTEGER",
        T.IntegerType: "INTEGER",
        T.ShortType: "INTEGER",
        T.BooleanType: "INTEGER",
        T.TimestampType: "TEXT",
        T.TimestampNTZType: "TEXT",
        T.DateType: "TEXT",
        T.BinaryType: "BLOB",
    },
}


def _sql_type(dt: T.DataType, dialect: str) -> str:
    table = _SQL_TYPES.get(dialect, _SQL_TYPES["postgresql"])
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    for spark_type, sql in table.items():
        if isinstance(dt, spark_type):
            return sql
    raise ValueError(f"no {dialect} DDL mapping for Spark type {dt}")


def create_table_ddl(
    schema: T.StructType,
    table: str,
    keys: Sequence[str],
    dialect: str = "postgresql",
) -> str:
    """CREATE TABLE IF NOT EXISTS with the natural key as PRIMARY KEY.

    Derives what the reference hand-writes in postgres/init.sql — e.g.
    ``stock_bars(symbol TEXT, .., timestamp TIMESTAMPTZ)`` — from the
    DataFrame schema, with the upsert key declared so ON CONFLICT has
    a unique index to land on (init.sql uses SERIAL surrogate ids plus
    a btree on symbol; a natural PK serves both roles).
    """
    missing = [k for k in keys if k not in schema.fieldNames()]
    if missing:
        raise ValueError(f"key columns not in schema: {missing}")
    cols = ",\n  ".join(
        f"{f.name} {_sql_type(f.dataType, dialect)}"
        + ("" if f.nullable and f.name not in keys else " NOT NULL")
        for f in schema.fields
    )
    pk = ", ".join(keys)
    return (
        f"CREATE TABLE IF NOT EXISTS {table} (\n  {cols},\n"
        f"  PRIMARY KEY ({pk})\n)"
    )


def upsert_statement(
    table: str,
    columns: Sequence[str],
    keys: Sequence[str],
    dialect: str = "postgresql",
) -> str:
    """Dialect MERGE statement with DB-API placeholders, one row/param.

    Non-key columns take the incoming value (last writer wins — same
    contract as streaming/sinks.upsert_parquet_bucketed). Key-only tables
    degrade to insert-if-absent.
    """
    bad = [k for k in keys if k not in columns]
    if bad:
        raise ValueError(f"key columns not in columns: {bad}")
    ph = _PLACEHOLDER.get(dialect, "?")
    collist = ", ".join(columns)
    phlist = ", ".join([ph] * len(columns))
    updates = [c for c in columns if c not in keys]
    if dialect in ("postgresql", "sqlite"):
        conflict = ", ".join(keys)
        if updates:
            setlist = ", ".join(f"{c} = excluded.{c}" for c in updates)
            action = f"DO UPDATE SET {setlist}"
        else:
            action = "DO NOTHING"
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({phlist}) "
            f"ON CONFLICT ({conflict}) {action}"
        )
    if dialect == "mysql":
        if updates:
            setlist = ", ".join(f"{c} = VALUES({c})" for c in updates)
        else:
            setlist = ", ".join(f"{k} = {table}.{k}" for k in keys)
        return (
            f"INSERT INTO {table} ({collist}) VALUES ({phlist}) "
            f"ON DUPLICATE KEY UPDATE {setlist}"
        )
    # ANSI MERGE (Oracle, MSSQL, DB2, ...): source row from VALUES.
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    src_cols = ", ".join(columns)
    ins_vals = ", ".join(f"s.{c}" for c in columns)
    merge = (
        f"MERGE INTO {table} t USING (VALUES ({phlist})) AS s ({src_cols}) "
        f"ON ({on}) "
    )
    if updates:
        setlist = ", ".join(f"t.{c} = s.{c}" for c in updates)
        merge += f"WHEN MATCHED THEN UPDATE SET {setlist} "
    merge += f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({ins_vals})"
    return merge


def _upsert_rows(
    rows: Iterable[Any],
    connect: Callable[[], Any],
    statement: str,
    columns: Sequence[str],
    batch_size: int,
) -> None:
    conn = connect()
    try:
        cur = conn.cursor()
        batch: list[tuple] = []
        for row in rows:
            batch.append(tuple(row[c] for c in columns))
            if len(batch) >= batch_size:
                cur.executemany(statement, batch)
                batch.clear()
        if batch:
            cur.executemany(statement, batch)
        conn.commit()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()


def upsert_table(
    df: DataFrame,
    connect: Callable[[], Any],
    table: str,
    keys: Sequence[str],
    dialect: str = "postgresql",
    batch_size: int = 10_000,
    ensure_table: bool = False,
) -> None:
    """Distributed natural-key upsert of ``df`` into a DB table.

    Executors each open one connection per partition (``connect`` must
    be picklable — e.g. ``functools.partial(psycopg2.connect, dsn)``)
    and stream their rows through ``executemany`` in ``batch_size``
    chunks, committing once per partition. Per-key idempotence comes
    from the statement, not the transport: replays of the same batch
    converge to the same table state. At 100 TB the same call runs
    with thousands of partitions; the DB's write throughput — not the
    driver — is the bottleneck, which is why keys/commit-batching are
    the knobs exposed here.

    Partition-level retries re-run the whole partition; with upsert
    semantics that is exactly-once observable state (reference's plain
    append, spark/utilities.py:36-44, double-writes in that case).
    """
    columns = df.columns
    statement = upsert_statement(table, columns, keys, dialect)
    if ensure_table:
        ddl = create_table_ddl(df.schema, table, keys, dialect)
        conn = connect()
        try:
            conn.cursor().execute(ddl)
            conn.commit()
        finally:
            conn.close()

    def run_partition(rows: Iterator[Any]) -> None:
        _upsert_rows(rows, connect, statement, columns, batch_size)

    df.foreachPartition(run_partition)
