"""Local mirror of the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its oracle SQL over the same sf dir
and asserts row count, column names, and values match (order- and
float-tolerant), so oracle mismatches surface in `pytest` long before
the driver's CORRECTNESS gate.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from sparktrends_spark.sources.tables import TABLES

_REL_TOL = 1e-6
_ABS_TOL = 1e-9


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir.rstrip('/')}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_bool_dtype(df[c]) or df[c].dtype == object:
            pass
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    # Stable order-insensitive sort on stringified values.
    key = df.apply(lambda r: tuple(str(v) for v in r), axis=1) if len(df) else None
    if key is not None:
        df = df.iloc[key.sort_values().index].reset_index(drop=True)
    return df


def _values_close(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=_REL_TOL, abs_tol=_ABS_TOL)
    return a == b


def _cell_str(v) -> str:
    """Stringify a cell the way the driver's exact hasher sees it: NaN/NaT
    and None collapse to one token, floats via repr (shortest roundtrip),
    everything else via str."""
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    return repr(v) if isinstance(v, float) else str(v)


def assert_query_matches_oracle(
    spark, sf_dir: str, name: str, exact: bool = False, df=None
) -> None:
    """``df`` is the query's already-built frame, if the caller has one."""
    from sparktrends_spark.plans import ORACLES, QUERIES

    if df is None:
        df = QUERIES[name](spark, sf_dir)
    spark_pdf = df.toPandas()
    con = duckdb_connection(sf_dir)
    try:
        duck_pdf = con.execute(ORACLES[name]).fetchdf()
    finally:
        con.close()

    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} != oracle {len(duck_pdf)}"
    )
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    )
    s = _normalize(spark_pdf)
    d = _normalize(duck_pdf)
    # The driver hashes stringified values exactly — a float64 oracle column
    # against an int64/decimal Spark column fails there even when values are
    # numerically equal. Mirror that by requiring aligned dtypes.
    for col in s.columns:
        assert str(s[col].dtype) == str(d[col].dtype), (
            f"{name}: dtype mismatch on {col!r}: spark {s[col].dtype} "
            f"!= oracle {d[col].dtype} (driver hash would differ)"
        )
    mismatches = []
    for col in s.columns:
        cell_exact = exact or not pd.api.types.is_float_dtype(s[col])
        sv, dv = s[col].tolist(), d[col].tolist()
        for i, (a, b) in enumerate(zip(sv, dv)):
            if exact:
                # Driver-faithful comparison: stringified cells, bit-exact
                # floats (repr roundtrip). Any drift here IS a driver
                # hash_match failure, whatever the numeric tolerance says.
                if _cell_str(a) != _cell_str(b):
                    mismatches.append((col, i, _cell_str(a), _cell_str(b)))
                    if len(mismatches) > 5:
                        break
                continue
            a = None if (a is pd.NaT or (isinstance(a, float) and math.isnan(a))) else a
            b = None if (b is pd.NaT or (isinstance(b, float) and math.isnan(b))) else b
            if not (a == b if cell_exact and not (a is None or b is None) else _values_close(a, b)):
                mismatches.append((col, i, a, b))
                if len(mismatches) > 5:
                    break
        if len(mismatches) > 5:
            break
    mode = "EXACT-string" if exact else "tolerant"
    assert not mismatches, (
        f"{name}: {mode} value mismatches (col,row,spark,duck): {mismatches}"
    )
