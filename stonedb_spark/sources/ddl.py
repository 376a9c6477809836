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
from typing import Callable

from pyspark.sql import SparkSession


def _parquet_bytes(path: str) -> int:
    """On-disk footprint of a parquet table directory."""
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _staged_swap(path: str, write: Callable[[str], None]) -> None:
    """Copy-on-write rewrite: ``write`` the new table into a sibling
    staging dir, then swap it in.

    Reading lazily from ``path`` while overwriting the same ``path``
    deletes the source files mid-scan; a transactional table format
    (Delta) makes this a log commit — on plain parquet the staging dir +
    directory swap provides the same never-in-place discipline.  The swap
    renames the old table to a backup before renaming staging into place
    and only then removes the backup, so a stop at any point leaves the
    table (or its backup) whole on disk.
    """
    base = path.rstrip("/")
    staging, backup = base + ".__staging__", base + ".__old__"
    write(staging)
    if os.path.exists(backup):
        shutil.rmtree(backup)
    os.rename(base, backup)
    os.rename(staging, base)
    shutil.rmtree(backup, ignore_errors=True)


def compact_table(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """OPTIMIZE analog: rewrite a many-small-files table into
    ~target-size files; returns the new file count.

    This is the reference's background delta-merge
    (TianmuTable::MergeDeltaTable, storage/tianmu/core/
    tianmu_table.cpp:1598; merge loop engine.cpp:1454): batched or
    delayed appends accumulate small files (delta-store rows), and a
    maintenance pass folds them into full-size columnar files so scans
    read few large row groups instead of many tiny ones.  File count =
    ceil(bytes / target) — measured from the actual on-disk footprint,
    never a row count collected to the driver.  On Delta this is
    OPTIMIZE (+ Z-ORDER); on plain parquet it is a staged rewrite.
    """
    n_files = max(1, -(-_parquet_bytes(path) // target_file_bytes))
    df = spark.read.parquet(path).repartition(n_files)
    _staged_swap(path, lambda staging: df.write.mode("overwrite").parquet(staging))
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
    ``cols`` (operators/zorder.zorder_write, which scales each column
    to the same bit width first), so subsequent multi-column range
    scans prune row groups on every listed column.  This is the full
    lakehouse maintenance verb: compact_table alone fixes file sizing,
    this also fixes ROW ORDER.  Returns the new file count."""
    from stonedb_spark.operators.zorder import zorder_write

    n_files = max(1, -(-_parquet_bytes(path) // target_file_bytes))
    df = spark.read.parquet(path)
    _staged_swap(
        path,
        lambda staging: zorder_write(
            df, staging, cols, partitions=n_files, group_bytes=group_bytes
        ),
    )
    return n_files
