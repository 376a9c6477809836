"""Streaming ingest-volume monitor — the incremental twin of
Q(events_anomaly_zscore).

The batch query computes per-(event_type, hour) counts and flags
buckets whose count deviates more than 2 sigma from the type's hourly
mean, all from exact integer moments (n, sum c, sum c^2).  Moments are
ADDITIVE, so a stream can maintain them incrementally: each availableNow
drain aggregates only the new files' rows into per-(type, hour) counts
and folds them into a small parquet state table (one row per bucket —
bounded by types x hours, never by event volume).  Anomaly scoring is
then a view over the state, byte-identical math to the batch query.

This is the same merge discipline as streaming/matview.py (incremental
agg view) applied to second-order moments, and converges to the batch
answer no matter how the input is chunked — pinned by
tests/test_sources_streaming.py::test_streaming_anomaly_monitor_matches_batch.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stonedb_spark.reuse import materialize


def fold_bucket_counts(base: DataFrame | None, delta: DataFrame) -> DataFrame:
    """Merge per-(event_type, h) counts: additive union + re-agg."""
    if base is None:
        return delta
    return (
        base.unionByName(delta)
        .groupBy("event_type", "h")
        .agg(F.sum("c").alias("c"))
    )


def anomalies_from_state(state: DataFrame) -> DataFrame:
    """Identical expression shape to Q(events_anomaly_zscore): exact
    integer moments per type, n>1 and integer-exact var>0 guards, one
    deterministic double z expression."""
    m = (
        state.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c").alias("sc"),
            F.sum(F.col("c") * F.col("c")).alias("scc"),
        )
        .filter(
            (F.col("n") > 1)
            & (
                F.col("scc").cast("decimal(38,0)") * F.col("n")
                > F.col("sc").cast("decimal(38,0)") * F.col("sc")
            )
        )
    )
    mean = F.col("sc").cast("double") / F.col("n")
    var = (
        F.col("scc").cast("double")
        - F.col("sc").cast("double") * F.col("sc") / F.col("n")
    ) / (F.col("n") - 1)
    z = (F.col("c") - mean) / F.sqrt(var)
    return (
        state.join(F.broadcast(m), "event_type")
        .select("event_type", "h", "c", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.0)
        .orderBy("event_type", "h")
    )


def run_streaming_monitor(
    spark: SparkSession,
    events_dir: str,
    state_path: str,
    checkpoint: str,
    schema,
) -> None:
    """Drain event files (availableNow) and fold per-bucket counts into
    the parquet state table with the crash-safe rename-aside swap
    (same discipline as sources/cdc.py)."""
    backup = state_path + ".old"

    def fold(batch: DataFrame, batch_id: int) -> None:
        spark_l = batch.sparkSession
        delta = batch.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        ).agg(F.count(F.lit(1)).alias("c"))
        if os.path.exists(state_path):
            base = spark_l.read.parquet(state_path)
        elif os.path.exists(backup):
            base = spark_l.read.parquet(backup)
        else:
            base = None
        merged = materialize(fold_bucket_counts(base, delta), eager=True)
        staging = state_path + ".staging"
        merged.write.mode("overwrite").parquet(staging)
        if os.path.exists(backup):
            shutil.rmtree(backup)
        if os.path.exists(state_path):
            os.rename(state_path, backup)
        os.rename(staging, state_path)
        shutil.rmtree(backup, ignore_errors=True)

    q = (
        spark.readStream.schema(schema)
        .parquet(events_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
