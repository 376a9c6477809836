"""Change-data-capture: row-level snapshot diff and (streaming) apply.

The reference's freshness story is one-directional (delta store merged
into the columnar base, storage/tianmu/core/tianmu_table.cpp:1598);
a warehouse built on periodic full loads needs the reverse derivation
too — turn two snapshots into a change stream, and apply a change
stream to a stored table.  Q(pipeline_snapshot_diff) reports the
aggregate classes; this module is the row-level machinery.

Scale shape: diff is ONE full-outer join on the PK (both snapshots
shuffle once; bucketed layouts remove even that); apply is an anti-join
plus a union — state never lives on the driver.  The streaming apply
folds micro-batches through the same function via foreachBatch with a
staged-swap parquet write (the local stand-in for a transactional
table format's MERGE — on Delta/Iceberg this is one MERGE INTO with
snapshot isolation).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stonedb_spark.reuse import materialize

CHANGE_COL = "_change"


def diff_snapshots(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """Row-level CDC extract: one row per key whose state differs,
    tagged insert/delete/update in ``_change``; update/insert rows carry
    the NEW payload, delete rows the key only (payload NULL).

    Change detection compares columns directly (NULL-safe), never a
    stringified row hash — float formatting is engine-specific, column
    equality is not.
    """
    cols = [c for c in new.columns if c != key]
    o = old.select(F.col(key).alias("_ko"), *[F.col(c).alias(f"_o_{c}") for c in cols])
    n = new.select(F.col(key).alias("_kn"), *cols)
    j = o.join(n, F.col("_ko") == F.col("_kn"), "full_outer")
    changed = F.lit(False)
    for c in cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"_o_{c}"))
    return (
        j.select(
            F.coalesce(F.col("_kn"), F.col("_ko")).alias(key),
            F.when(F.col("_ko").isNull(), "insert")
            .when(F.col("_kn").isNull(), "delete")
            .when(changed, "update")
            .alias(CHANGE_COL),
            *cols,
        )
        .filter(F.col(CHANGE_COL).isNotNull())
    )


def apply_changes(old: DataFrame, changes: DataFrame, key: str) -> DataFrame:
    """Apply a diff_snapshots change set: delete/update keys drop out of
    the base, insert/update rows come in with their new payload.
    ``apply_changes(old, diff_snapshots(old, new, k), k)`` ≡ ``new``.
    """
    cols = [c for c in old.columns]
    touched = changes.select(F.col(key).alias("_tk"))
    survivors = old.join(touched, old[key] == F.col("_tk"), "left_anti")
    incoming = changes.filter(F.col(CHANGE_COL).isin("insert", "update")).select(*cols)
    return survivors.unionByName(incoming)


_SEQ_RE = r"diff(\d+)_"


def next_diff_seq(changes_dir: str) -> int:
    """Next monotonic diff sequence number for ``changes_dir``: one more
    than the highest ``diff{N}_`` prefix already present (0 for a fresh
    directory).  The sequence lives in FILE NAMES, not mtimes — mtime
    granularity is filesystem-dependent (can be 1 s), so two diffs
    exported in the same tick would otherwise be ordered by path text.
    """
    import re

    best = -1
    if os.path.isdir(changes_dir):
        for f in os.listdir(changes_dir):
            m = re.match(_SEQ_RE, f)
            if m:
                best = max(best, int(m.group(1)))
    return best + 1


def export_diff(diff: DataFrame, changes_dir: str, seq: int | None = None) -> int:
    """Write one diff_snapshots change set into ``changes_dir`` with a
    monotonic ``diff{seq:010d}_`` file-name prefix; returns the sequence
    used.  run_streaming_apply orders cross-diff duplicates by this
    sequence, so apply order equals export order even when successive
    exports land in the same mtime tick.
    """
    os.makedirs(changes_dir, exist_ok=True)
    if seq is None:
        seq = next_diff_seq(changes_dir)
    staging = os.path.join(changes_dir, f".staging_{seq}")
    diff.write.mode("overwrite").parquet(staging)
    for f in sorted(os.listdir(staging)):
        if f.endswith(".parquet"):
            os.rename(
                os.path.join(staging, f),
                os.path.join(changes_dir, f"diff{seq:010d}_{f}"),
            )
    shutil.rmtree(staging)
    return seq


def run_streaming_apply(
    spark: SparkSession,
    changes_dir: str,
    target_path: str,
    checkpoint: str,
    schema,
    key: str,
) -> None:
    """Drain a directory of change-row files (availableNow) and fold each
    micro-batch into the parquet table at ``target_path`` with a staged
    swap.  Change batches may arrive in any number of files, and one
    micro-batch may drain files from SEVERAL successive diffs — a key
    changed in more than one diff would then appear multiple times, and
    apply_changes (anti-join + union) would keep every copy.  The fold
    therefore first collapses the batch to the LAST change per key,
    ordered by the monotonic ``diff{N}_`` file-name sequence stamped by
    export_diff (mtime, then path, as fallbacks for files written
    without it; files within one diff never repeat a key, so only
    cross-diff order matters).  mtime alone is NOT a safe order — its
    granularity is filesystem-dependent (can be 1 s), and two diffs in
    the same tick would be ordered by path text.

    The swap renames the live table aside before promoting the staging
    copy (target -> target.old, staging -> target, drop target.old), so
    a crash at any point leaves either the old or the new table intact;
    on checkpoint replay the base loader falls back to ``.old`` rather
    than silently treating a missing target as an empty base.
    """
    backup = target_path + ".old"

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark_l = batch.sparkSession
        if os.path.exists(target_path):
            base = spark_l.read.parquet(target_path)
        elif os.path.exists(backup):  # crashed between rename-aside and promote
            base = spark_l.read.parquet(backup)
        else:
            base = spark_l.createDataFrame(
                [], schema=batch.drop(CHANGE_COL, "_src_file", "_src_mtime").schema
            )
        from pyspark.sql import Window

        w = (
            Window.partitionBy(key)
            .orderBy(
                F.col("_src_seq").desc(),
                F.col("_src_mtime").desc(),
                F.col("_src_file").desc(),
            )
        )
        latest = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src_file", "_src_mtime", "_src_seq")
        )
        merged = materialize(apply_changes(base, latest, key), eager=True)
        staging = target_path + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        if os.path.exists(backup):
            shutil.rmtree(backup)
        if os.path.exists(target_path):
            os.rename(target_path, backup)
        os.rename(staging, target_path)
        shutil.rmtree(backup, ignore_errors=True)

    q = (
        spark.readStream.schema(schema)
        .parquet(changes_dir)
        # _metadata only resolves against the file-scan relation, so the
        # provenance columns are projected here, not inside foreachBatch
        .select(
            "*",
            F.col("_metadata.file_path").alias("_src_file"),
            F.col("_metadata.file_modification_time").alias("_src_mtime"),
            F.coalesce(
                F.nullif(
                    F.regexp_extract(
                        F.element_at(
                            F.split(F.col("_metadata.file_path"), "/"), -1
                        ),
                        _SEQ_RE,
                        1,
                    ),
                    F.lit(""),
                ).cast("long"),
                F.lit(-1),
            ).alias("_src_seq"),
        )
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
