"""AUTO_INCREMENT ingest semantics.

Reference surface: the handler's auto-increment plumbing —
ha_tianmu::update_auto_increment / stats.auto_increment_value
(storage/tianmu/handler/ha_tianmu.cpp:418,552,651) — and the MTR tests
auto_increment.test / init_auto_increment_value.test: ids start at the
table's counter (max existing + 1, or an explicit AUTO_INCREMENT=n),
explicit values are preserved and bump the counter past themselves,
and each batch's assigned ids are unique and gap-free.

Spark-first mapping (scale-true): assigning a dense id range is NOT a
global sort.  Two linear passes over the batch:

1. count id-NULL rows per partition (one tiny aggregate — #partitions
   rows to the driver, row-count independent);
2. an Arrow-batched ``mapInPandas`` stamps ``offset[pid] + local_index``
   per partition — map-only, no shuffle, no window.

This is the same partition-offset scheme zipWithIndex uses, kept in
DataFrame/Arrow form (a PySpark ``df.rdd`` detour would pickle every
row through Python).  Within-batch ordering follows partition layout,
the distributed analog of the reference's load-thread interleaving
(MySQL itself only promises uniqueness + monotonic counter under
concurrent loads, not arrival order).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stonedb_spark.reuse import materialize

_PID = "__autoinc_pid__"


def with_auto_increment(
    df: DataFrame, id_col: str = "id", next_val: int = 1
) -> tuple[DataFrame, int]:
    """Fill NULLs in ``id_col`` with a dense run starting at the table
    counter; explicit non-NULL ids are preserved and push the counter
    past themselves (MySQL rule).  Returns (stamped_df, new_counter).

    The input is materialized once so the pid→offset map computed in
    pass 1 stays valid for pass 2.
    """
    out_schema = df.schema
    if id_col not in out_schema.names:
        raise ValueError(f"no {id_col!r} column in frame")

    tagged = materialize(df.withColumn(_PID, F.spark_partition_id()))
    stats = (
        tagged.groupBy(_PID)
        .agg(
            F.sum(F.when(F.col(id_col).isNull(), 1).otherwise(0)).alias("n_null"),
            F.max(id_col).alias("max_explicit"),
        )
        .collect()
    )  # bounded: one row per partition, never per data row
    max_explicit = max(
        (r["max_explicit"] for r in stats if r["max_explicit"] is not None),
        default=None,
    )
    start = next_val if max_explicit is None else max(next_val, int(max_explicit) + 1)
    offsets: dict[int, int] = {}
    acc = start
    for r in sorted(stats, key=lambda r: r[_PID]):
        offsets[r[_PID]] = acc
        acc += int(r["n_null"])
    new_counter = acc

    def stamp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        used = 0
        for b in batches:
            if len(b):
                off = offsets.get(int(b[_PID].iloc[0]), start)
                mask = b[id_col].isna()
                n = int(mask.sum())
                if n:
                    b = b.copy()
                    # nullable Int64, never float64: ids past 2^53 must
                    # not round through a double mantissa
                    b[id_col] = b[id_col].astype("Int64")
                    b.loc[mask, id_col] = range(off + used, off + used + n)
                    used += n
            yield b.drop(columns=[_PID])

    stamped = tagged.mapInPandas(stamp, schema=out_schema)
    return stamped, new_counter


def append_with_auto_increment(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    id_col: str = "id",
    init_value: int = 1,
) -> int:
    """LOAD/INSERT a batch into the parquet table at ``target_path``
    assigning auto-increment ids; returns the table's new counter.

    The current counter is max(id)+1 read from the target — parquet
    aggregate pushdown makes that metadata-only, the analog of the
    reference persisting stats.auto_increment_value.  ``init_value``
    models CREATE TABLE ... AUTO_INCREMENT=n
    (init_auto_increment_value.test): the counter never starts below
    it, including on an empty/new table.
    """
    import os

    next_val = init_value
    if os.path.exists(target_path):
        cur = spark.read.parquet(target_path).agg(F.max(id_col)).collect()[0][0]
        if cur is not None:
            next_val = max(init_value, int(cur) + 1)
    stamped, counter = with_auto_increment(batch, id_col, next_val)
    stamped.write.mode("append").parquet(target_path)
    return counter
