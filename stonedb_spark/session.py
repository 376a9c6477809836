"""SparkSession bootstrap with scale-oriented defaults.

The reference engine's per-pack pruning / parallel kernels
(storage/tianmu/core/engine.h:151-153, thread pools) map onto Spark's
vectorized Parquet reader + whole-stage codegen; the Knowledge-Grid
rough pruning (storage/tianmu/core/parameterized_filter.cpp:1145)
maps onto Parquet row-group statistics pushdown + AQE runtime
re-planning — so the session turns all of those on explicitly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Tuned for the test rig (local[32], 128 GiB). On a real cluster the same
# code runs unchanged; only master/memory/shuffle-partitions change. The
# shuffle-partition count is intentionally set equal to the core count for
# local runs — AQE coalesces small partitions anyway, and at 100 TB you
# would raise spark.sql.shuffle.partitions (or let AQE's
# advisoryPartitionSizeInBytes govern) rather than touch query code.
_LOCAL_DEFAULTS = {
    # --- adaptive execution: runtime re-plan ≈ the reference's runtime
    # join-algorithm fallback (storage/tianmu/optimizer/joiner.cpp:97-104)
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- pruning ≈ Knowledge Grid (SURVEY.md §4.4-4.5)
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
    # --- CBO for join reorder (≈ DescriptorJoinOrdering, SURVEY §4.6)
    "spark.sql.cbo.enabled": "true",
    # default 100 evicts across a 60+-query battery (several codegen
    # stages per query); re-runs then recompile ~1s of Janino per query
    "spark.sql.codegen.cache.maxEntries": "2000",
    # --- Arrow for the few pandas-UDF operators (dedup/similarity)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # deterministic comparisons against the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    # older driver fixtures stored events.ts as timestamp[ns]; reading
    # those as long (catalog._normalize_event_ts converts to µs) keeps
    # both fixture generations loadable.  Current fixtures are
    # timestamp[us] and unaffected by this flag.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # managed-table location for bucketed layouts (sources/bucketing.py);
    # keep the repo clean — local stand-in for the cluster warehouse path
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/stonedb_spark-warehouse"
    ),
    # quiet + stable local shuffle sizing
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
}


def get_spark(app_name: str = "stonedb_spark", extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local test rig only — on a cluster you'd submit with your own master
    and the same SQL-level confs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_LOCAL_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship the stonedb_spark package to executors (sc.addPyFile).

    Python workers resolve imports from THEIR path, not the driver's
    sys.path edits — a mapInPandas closure that references a function
    from this package (operators/codecs.py) dies with
    ModuleNotFoundError whenever the driver process wasn't launched
    from the repo root.  Shipping a zip is also exactly what a real
    cluster submit does (--py-files), so local behavior matches the
    deployment story.  Idempotent per session."""
    try:
        if getattr(spark, "_stonedb_pkg_shipped", False):
            return
        import shutil
        import tempfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        stamp = os.path.join(
            tempfile.gettempdir(), f"stonedb_spark_pkg_{os.getpid()}"
        )
        zip_path = shutil.make_archive(stamp, "zip", os.path.dirname(pkg_dir),
                                       os.path.basename(pkg_dir))
        spark.sparkContext.addPyFile(zip_path)
        spark._stonedb_pkg_shipped = True
    except Exception:
        # never fail session bootstrap over packaging; worker-side
        # imports then require the repo on the workers' PYTHONPATH
        pass


def ensure_sql_confs(spark: SparkSession) -> None:
    """Apply the engine's SQL-runtime confs to an AMBIENT session.

    The driver (and any embedding application) hands us its own
    SparkSession; without ``spark.sql.legacy.parquet.nanosAsLong`` every
    catalog load dies on the nanosecond-timestamp events fixture, and
    without UTC/adaptive/pushdown confs results and plans drift from the
    tested ones.  Everything here is a runtime-settable SQL conf —
    static confs (master, memory, warehouse, UI) stay the caller's
    choice.  Idempotent and cheap; called from catalog.load_tables."""
    for k, v in _LOCAL_DEFAULTS.items():
        if k.startswith("spark.sql.") and k != "spark.sql.warehouse.dir":
            try:
                spark.conf.set(k, v)
            except Exception:
                pass  # conf became static in some deployment — keep going

