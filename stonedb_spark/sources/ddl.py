"""Table layout maintenance on plain parquet: compaction and Z-order
clustering, both staged rewrites.

The MySQL DDL statements themselves (TRUNCATE, ALTER TABLE, CREATE
TEMPORARY TABLE, CREATE TRIGGER, AUTO_INCREMENT) run through the dialect
front-end (stonedb_spark/dialect.py), as the reference runs them in the
MySQL SQL layer above Tianmu (TianmuTable::Truncate / Alter,
storage/tianmu/core/tianmu_table.h:74-76).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def _rewrite(df: DataFrame, path: str) -> None:
    """Copy-on-write rewrite: stage to a sibling dir, then swap.

    Reading lazily from ``path`` while overwriting the same ``path``
    deletes the source files mid-scan; a transactional table format
    (Delta) makes this a log commit — on plain parquet the staging dir +
    directory swap provides the same never-in-place discipline.
    """
    staging = path.rstrip("/") + ".__staging__"
    df.write.mode("overwrite").parquet(staging)
    shutil.rmtree(path)
    shutil.move(staging, path)


def compact_table(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """OPTIMIZE analog: rewrite a many-small-files table into
    ~target-size files; returns the new file count.

    This is the reference's background delta-merge
    (TianmuTable::MergeDeltaTable, storage/tianmu/core/
    tianmu_table.cpp:1598; merge loop engine.cpp:1454): streaming/
    delayed appends accumulate small files (delta-store rows), and a
    maintenance pass folds them into full-size columnar files so scans
    read few large row groups instead of many tiny ones.  File count =
    ceil(bytes / target) — measured from the actual on-disk footprint,
    never a row count collected to the driver.  On Delta this is
    OPTIMIZE (+ Z-ORDER); on plain parquet it is a staged rewrite.
    """
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    _rewrite(df.repartition(n_files), path)
    return n_files


def optimize_zorder(
    spark: SparkSession,
    path: str,
    cols: list[str],
    target_file_bytes: int = 128 * 1024 * 1024,
    group_bytes: int = 1 << 20,
) -> int:
    """OPTIMIZE ... ZORDER BY analog: one maintenance pass that both
    compacts small files AND clusters the rewrite on the Morton key of
    ``cols`` (operators/zorder.py), so subsequent multi-column range
    scans prune row groups on every listed column.  This is the full
    lakehouse maintenance verb: compact_table alone fixes file sizing,
    this also fixes ROW ORDER.  Returns the new file count."""
    from pyspark.sql import functions as F

    from stonedb_spark.operators.zorder import zvalue

    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    keyed = df.withColumn("_z", zvalue([F.col(c) for c in cols]))
    clustered = (
        keyed.repartitionByRange(n_files, "_z").sortWithinPartitions("_z").drop("_z")
    )
    staging = path + ".zorder_staging"
    clustered.write.mode("overwrite").option(
        "parquet.block.size", group_bytes
    ).parquet(staging)
    backup = path + ".old"
    if os.path.exists(backup):
        shutil.rmtree(backup)
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup, ignore_errors=True)
    return n_files
