"""Oracle-comparison harness: run a Spark query and its ANSI-SQL twin on
DuckDB over the same parquet fixtures, then compare row-count, schema
shape, and values — mimicking the driver's CORRECTNESS gate (sorted
column names, order-insensitive row compare).

Mirrors the reference's test strategy (SURVEY.md §5): golden-output
functional tests, with DuckDB playing the role of the MTR ``.result``
files.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from stonedb_spark.catalog import TABLES, table_path


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        path = table_path(sf_dir, name)
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif s.dtype == object:
            # decimals → float; datetime.date objects (Spark DATE cols
            # arrive as object dtype) → Timestamp, matching DuckDB's
            # datetime64 coercion of DATE
            out[c] = s.map(
                lambda v: float(v)
                if hasattr(v, "as_tuple")
                else (pd.Timestamp(v) if type(v).__name__ == "date" else v)
            )
    return out.sort_values(by=list(out.columns), ignore_index=True, na_position="last")


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty = match)."""
    problems: list[str] = []
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return [f"column mismatch: spark={list(a.columns)} oracle={list(b.columns)}"]
    if len(a) != len(b):
        return [f"row-count mismatch: spark={len(a)} oracle={len(b)}"]
    for col in a.columns:
        av, bv = a[col], b[col]
        for i, (x, y) in enumerate(zip(av, bv)):
            # pd.isna covers None, float nan, pd.NA and pd.NaT (nullable
            # timestamp results); guard with a scalar check since isna
            # on a list/array argument returns an array.
            if not isinstance(x, (list, tuple)) and pd.isna(x):
                ok = not isinstance(y, (list, tuple)) and bool(pd.isna(y))
            elif isinstance(x, float) and isinstance(y, float):
                ok = x == y or math.isclose(x, y, rel_tol=1e-12, abs_tol=1e-12)
            else:
                ok = x == y
            if not ok:
                problems.append(f"{col}[{i}]: spark={x!r} oracle={y!r}")
                if len(problems) > 5:
                    return problems
    return problems


def check_query(spark, con, query, sf_dir: str) -> list[str]:
    """Run one registered Query against its oracle; [] means pass."""
    sdf = query.build(spark, sf_dir).toPandas()
    if query.oracle is None:
        return [] if len(sdf) >= 0 else ["spark query failed"]
    odf = con.execute(query.oracle).df()
    return compare_frames(sdf, odf)


def script_vs_oracle(spark, script: str, designated: int = -1) -> list:
    """Run a MySQL script through the dialect on Spark and compile it to
    its DuckDB oracle; assert the ``designated`` SELECT agrees on both
    and return its rows, sorted."""
    from stonedb_spark.dialect import build_oracle_sql, run_script

    pdf = run_script(spark, script, designated).toPandas()
    odf = duckdb.connect().execute(build_oracle_sql(script, designated)).df()
    problems = compare_frames(pdf, odf)
    assert not problems, problems
    return sorted(pdf.values.tolist())
