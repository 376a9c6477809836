"""Incrementally-maintained aggregate (materialized-view analog).

The reference keeps query results fresh by merging its delta store into
the columnar base in the background (MergeDeltaTable,
storage/tianmu/core/tianmu_table.cpp:1598) and re-running the query.
The Spark-native equivalent maintains the AGGREGATE itself: each
micro-batch folds its partial aggregate into a persisted running state
via ``foreachBatch`` — reads touch the (tiny) aggregate table, never
the raw stream history.

State update per batch: combine(previous_state, partial(batch)) — an
outer merge on the group key.  Counts and DECIMAL sums are associative
and order-independent, so the maintained view is byte-equal to the
batch recomputation at every point (tested).  Storage here is plain
parquet with a staged swap (write new → atomic dir rename is the
production analog); on Delta Lake this collapses to one MERGE and
readers get snapshot isolation for free.

At scale: the per-batch partial is a normal map-side-combined
aggregation of the batch only; the merge joins |groups| rows — state
size is group-cardinality, independent of stream length.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEC = "decimal(38,10)"


def _partial(batch: DataFrame) -> DataFrame:
    return batch.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast(DEC)).alias("total"),
    )


def _combine(state: DataFrame, part: DataFrame) -> DataFrame:
    s = state.select(
        "event_type", F.col("n").alias("n_s"), F.col("total").alias("t_s")
    )
    p = part.select(
        "event_type", F.col("n").alias("n_p"), F.col("total").alias("t_p")
    )
    return s.join(p, "event_type", "full_outer").select(
        "event_type",
        (F.coalesce("n_s", F.lit(0)) + F.coalesce("n_p", F.lit(0))).alias("n"),
        (
            F.coalesce(F.col("t_s"), F.lit(0).cast(DEC))
            + F.coalesce(F.col("t_p"), F.lit(0).cast(DEC))
        ).cast(DEC).alias("total"),
    )


def run_incremental_agg(
    spark: SparkSession,
    src_dir: str,
    schema,
    view_dir: str,
    checkpoint_dir: str,
) -> None:
    """Maintain the per-event-type (count, exact sum) view over a file
    stream; availableNow trigger drains what exists and stops."""

    def fold(batch: DataFrame, batch_id: int) -> None:
        # Merged state is written DISTRIBUTED straight to the staged dir —
        # never through the driver: view state is |groups|-sized, and a
        # high-cardinality group key would OOM a collect().  Reading
        # view_dir while writing
        # view_dir + '.staged' is safe; the swap stays atomic-rename.
        part = _partial(batch)
        if os.path.exists(view_dir):
            state = batch.sparkSession.read.parquet(view_dir)
            merged = _combine(state, part)
        else:
            merged = part
        staged = view_dir + ".staged"
        merged.write.mode("overwrite").parquet(staged)
        if os.path.exists(view_dir):
            shutil.rmtree(view_dir)
        os.rename(staged, view_dir)

    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")  # several batches, not one
        .parquet(src_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# ---------------------------------------------------------------------------
# Weighted (retraction) aggregate maintenance: deltas carry ``_w``
# (+1 insert, -1 delete).  COUNT and SUM are abelian-group aggregates
# (they have inverses), so the SAME fold maintains them under DML —
# n += Σw, total += Σ(w·value) — and a group vanishes when its net
# count reaches zero.  (MIN/MAX are NOT invertible; deleting the
# current extremum forces a per-group rescan — that path belongs to
# compaction, not the incremental fold, and is deliberately absent.)
def _partial_weighted(batch: DataFrame) -> DataFrame:
    return batch.groupBy("event_type").agg(
        F.sum("_w").cast("long").alias("n"),
        F.sum(F.col("_w") * F.col("value").cast(DEC)).cast(DEC).alias("total"),
    )


def fold_weighted_agg(
    state: DataFrame | None, batch: DataFrame
) -> DataFrame:
    """One IVM step for the (count, exact-sum) view under signed
    deltas; returns the new state (groups with net n == 0 drop out)."""
    part = _partial_weighted(batch)
    merged = part if state is None else _combine(state, part)
    return merged.filter(F.col("n") != 0)


def fold_minmax_agg(
    state: DataFrame | None,
    batch: DataFrame,
    base: DataFrame,
    key: str = "event_type",
    val: str = "value",
) -> DataFrame:
    """One IVM step for the (min, max, count) view under signed deltas
    — with the delete-extremum RESCAN trigger that count/sum don't
    need.  MIN/MAX are only semigroup aggregates (no inverse): inserts
    fold monotonically (least/greatest), but deleting a value at or
    beyond a group's current extremum may or may not change it
    (duplicates!), so such groups are marked DIRTY and recomputed from
    ``base`` — the caller's post-batch base relation (one row per live
    physical row, e.g. ``ivm_join.consolidate`` of its weighted state).

    Scale shape: the rescan is a LEFT SEMI join of base against the
    (small) dirty-key set followed by a per-group aggregate — cost is
    the dirty groups' row count, not the base size; with the base
    key-partitioned (as any maintained state would be at 100 TB) the
    semi join bucket-prunes.  Clean groups never touch the base.
    State columns: (key, mn, mx, n); groups with net n == 0 drop out.

    Reference analog: the engine repairs aggregates by re-running the
    query after MergeDeltaTable folds deletes into the columnar base
    (storage/tianmu/core/tianmu_table.cpp:1598) — i.e. a full rescan;
    here only dirty groups pay.
    """
    spark = batch.sparkSession
    ins = (
        batch.filter(F.col("_w") > 0)
        .groupBy(key)
        .agg(
            F.min(val).alias("i_mn"),
            F.max(val).alias("i_mx"),
            F.sum("_w").cast("long").alias("i_n"),
        )
    )
    dels = (
        batch.filter(F.col("_w") < 0)
        .groupBy(key)
        .agg(
            F.min(val).alias("d_mn"),
            F.max(val).alias("d_mx"),
            F.sum("_w").cast("long").alias("d_n"),
        )
    )
    if state is None:
        state = spark.createDataFrame(
            [],
            batch.select(
                F.col(key),
                F.col(val).alias("mn"),
                F.col(val).alias("mx"),
                F.lit(0).cast("long").alias("n"),
            ).schema,
        )
    merged = (
        state.join(ins, key, "full_outer")
        .join(dels, key, "full_outer")
        .select(
            key,
            # least/greatest skip NULLs, so a brand-new group takes the
            # batch extremes and an untouched group keeps its own
            F.least("mn", "i_mn").alias("mn_c"),
            F.greatest("mx", "i_mx").alias("mx_c"),
            (
                F.coalesce("n", F.lit(0))
                + F.coalesce("i_n", F.lit(0))
                + F.coalesce("d_n", F.lit(0))
            ).cast("long").alias("n_new"),
            # compare against the CANDIDATE extremes so a same-batch
            # insert+delete on a brand-new group triggers the rescan too
            (
                (
                    F.col("d_mn").isNotNull()
                    & (F.col("d_mn") <= F.least("mn", "i_mn"))
                )
                | (
                    F.col("d_mx").isNotNull()
                    & (F.col("d_mx") >= F.greatest("mx", "i_mx"))
                )
            ).alias("dirty"),
        )
        .filter(F.col("n_new") > 0)
    )
    clean = merged.filter(~F.coalesce("dirty", F.lit(False))).select(
        key,
        F.col("mn_c").alias("mn"),
        F.col("mx_c").alias("mx"),
        F.col("n_new").alias("n"),
    )
    dirty_keys = merged.filter(F.coalesce("dirty", F.lit(False))).select(
        key, "n_new"
    )
    rescan = (
        base.join(dirty_keys.select(key), key, "left_semi")
        .groupBy(key)
        .agg(F.min(val).alias("mn"), F.max(val).alias("mx"))
        .join(dirty_keys, key)
        .select(key, "mn", "mx", F.col("n_new").alias("n"))
    )
    return clean.unionByName(rescan)
