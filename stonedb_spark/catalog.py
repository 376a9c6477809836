"""Table catalog: load the driver-provided parquet fixtures as temp views.

Mirrors the reference's table layer (TianmuTable,
storage/tianmu/core/tianmu_table.h:65): a flat relational catalog of
columnar tables.  Packs/DPNs (storage/tianmu/data/dpn.h:35-72) map to
Parquet row groups + statistics, which Spark's scan already prunes on.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# One catalog entry per (session, directory) — a table is registered once
# and every query reuses the same resolved relation, exactly like a
# metastore-backed catalog.  Re-reading parquet per query would re-list
# files and re-read footers at plan time (~1s/query at sf0.1 — pure
# driver-side metadata cost that grows with file count at 100 TB; a real
# catalog caches the file index for the same reason).
#
# Each entry also keeps the JVM temp-view binding
# (``Option[TemporaryViewRelation]``) each name got when it was last
# registered here.  A later call re-registers only the names whose
# binding is missing or differs: a DROP VIEW, a re-point by another
# caller or another directory's registration each replace or remove it.
_CATALOG: dict[tuple[int, str], tuple[dict[str, DataFrame], dict[str, object]]] = {}


def _register(spark: SparkSession, dfs: dict[str, DataFrame], bound: dict, names) -> None:
    jcat = spark._jsparkSession.sessionState().catalog()  # noqa: SLF001
    for name in names:
        dfs[name].createOrReplaceTempView(name)
        bound[name] = jcat.getRawTempView(name)


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a session-TZ TIMESTAMP.

    The fixture's physical type has varied across driver generations:
    timestamp[ns] (which Spark reads as ``long`` under
    ``spark.sql.legacy.parquet.nanosAsLong``) and timestamp[us] (which
    Spark reads as TIMESTAMP_NTZ when NTZ inference is on, or TIMESTAMP
    otherwise).  Every downstream query assumes one stable type, so we
    branch on the dtype actually read rather than the fixture we first
    saw — the analog of a storage engine tolerating on-disk format
    versions (reference format versioning: storage/tianmu/core/
    tianmu_table.h:65 tables carry per-pack type metadata).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # ns since epoch → µs timestamps.  Integer div, NOT `/`:
        # ns-since-epoch (~1.7e18) exceeds double's 2^53 integer range,
        # so float division is off by up to ±1 µs on individual values.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # wall-clock µs → TIMESTAMP under the UTC session zone; values
        # are identical to what DuckDB reads from the same file.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Read every fixture table and register it as a temp view (cached).

    Reads are lazy; registering all ten costs only metadata.  Column
    pruning + predicate pushdown reach the parquet scan because the views
    are plain file scans (verify with ``df.explain('formatted')`` —
    PushedFilters/ReadSchema lines).
    """
    key = (id(spark), sf_dir)
    cached = _CATALOG.get(key)
    if cached is not None:
        # temp views are session-global name→plan bindings: re-point only
        # the names something else has dropped or re-bound since.  A
        # lookup is two py4j calls; a re-registration analyzes a new
        # view plan.
        dfs, bound = cached
        jcat = spark._jsparkSession.sessionState().catalog()  # noqa: SLF001
        stale = [n for n in dfs if not jcat.getRawTempView(n).equals(bound[n])]
        if stale:
            _register(spark, dfs, bound, stale)
        return dfs
    if not getattr(spark, "_stonedb_sql_confs", False):
        from stonedb_spark.session import ensure_sql_confs

        # the session may be the driver's own (not built by get_spark) —
        # apply the runtime SQL confs the fixtures/queries depend on, once
        ensure_sql_confs(spark)
        spark._stonedb_sql_confs = True
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        path = table_path(sf_dir, name)
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        if name == "events":
            df = _normalize_event_ts(df)
        dfs[name] = df
    bound: dict[str, object] = {}
    _register(spark, dfs, bound, dfs)
    _CATALOG[key] = (dfs, bound)
    return dfs


def sql(
    spark: SparkSession, query: str, sf_dir: str = DEFAULT_SF_DIR, args=None
) -> DataFrame:
    """Run a SQL string over the registered catalog — the reference's
    user surface (SQL text over named tables, hook at
    storage/tianmu/sql/ha_my_tianmu.h:28).  A reference user's query
    text runs here unchanged wherever MySQL 5.7 and Spark SQL agree;
    dialect gaps (DATE_FORMAT codes, WEEK modes, DIV, …) are covered by
    stonedb_spark.functions.mysql shims from the DataFrame side.

    ``args`` binds parameter markers the way MySQL PREPARE/EXECUTE does
    (``?`` positional with a list, ``:name`` with a dict) — values are
    bound as typed literals by Spark's parameterized-SQL path, never
    string-spliced, so injection is structurally impossible."""
    load_tables(spark, sf_dir)
    if args is not None:
        return spark.sql(query, args=args)
    return spark.sql(query)


def mysql(
    spark: SparkSession, query: str, sf_dir: str = DEFAULT_SF_DIR
) -> DataFrame:
    """Run MySQL-dialect query TEXT over the registered catalog: the
    statement is rewritten by the dialect front-end
    (stonedb_spark.dialect.rewrite_expr — backticks, LIMIT x,y, DIV,
    GROUP_CONCAT, DATE_FORMAT %-codes, string aliases, ||/&&, …) and
    executed as a normal Catalyst plan.  For whole MTR scripts
    (DDL+DML+SELECT) use dialect.run_script instead."""
    from stonedb_spark.dialect import rewrite_expr

    load_tables(spark, sf_dir)
    return spark.sql(rewrite_expr(query, "spark"))
