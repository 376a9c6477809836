"""Bucketed table layout: shuffle-free co-located joins.

The reference is single-node, so "co-location" is free there — its map
join builds an in-memory row-number lookup over the whole build side
(JoinerMapped, storage/tianmu/optimizer/joiner_mapped.h:32).  On a
1000-executor cluster the analogous guarantee must come from LAYOUT:
two tables hash-bucketed into the same number of buckets on the join
key join with zero shuffle — each task reads bucket i of both sides.
With sortBy(key) the sort-merge join's sort is also eliminated.

This is the single biggest lever for a 100 TB fact-to-fact join
(orders ⋈ lineitem): an unbucketed sort-merge join shuffles BOTH
inputs (≈ full dataset over the network, twice, every query); the
bucketed layout pays that shuffle once at write time and amortizes it
over every subsequent join on that key.

`tests/test_plans.py::test_bucketed_join_has_no_shuffle` gates the
plan: zero `Exchange hashpartitioning` nodes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from stonedb_spark.operators.zorder import scale_to_bits, zvalue


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed managed table.

    ``num_buckets`` sizing at scale: total_size / num_buckets should be
    a few hundred MB per bucket per side — for 100 TB lineitem, O(10^5)
    buckets.  Both join sides must use the SAME count and key.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    w = w.sortBy(*(sort_cols or bucket_cols))
    w.saveAsTable(table)


def colocated_join(
    spark: SparkSession, left: str, right: str, on: list[str] | str, how: str = "inner"
) -> DataFrame:
    """Join two same-bucketed tables; the plan must carry no shuffle."""
    return spark.table(left).join(spark.table(right), on, how)


def write_with_bloom(
    df: DataFrame,
    path: str,
    bloom_ndv: dict[str, int],
    sort_cols: list[str] | None = None,
) -> None:
    """Write parquet with bloom filters on selected columns — the
    Knowledge-Grid Bloom node analog (storage/tianmu/index/
    rsi_bloom.h:31): per-row-group membership filters that let an
    equality scan skip row groups whose min/max can't discriminate
    (high-cardinality strings: ids, hashes, urls).

    ``bloom_ndv`` maps column → expected distinct count per row group;
    sizing matters — parquet-mr's default NDV over-allocates ~50× on
    modest tables (measured 1 MB of bloom for a 19 KB file).  Dictionary
    encoding already covers low-cardinality columns; reserve bloom for
    keys whose dictionary would not build.  ``sort_cols`` additionally
    sorts within partitions so min/max stats prune range predicates —
    Bloom and min/max compose exactly like the reference's CMAP +
    histogram + bloom triple."""
    out = df.sortWithinPartitions(*sort_cols) if sort_cols else df
    w = out.write.mode("overwrite")
    for c, ndv in bloom_ndv.items():
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        w = w.option(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
    w.parquet(path)


def zorder_key(cols: list[Column], bounds: list[tuple[float, float]], bits: int = 10) -> Column:
    """Morton (Z-order) interleave of min-max-scaled columns — the
    multi-column locality analog of the reference's single-key sorted
    packs: clustering on z keeps row-group min/max TIGHT ON EVERY
    participating column at once, so the Knowledge-Grid-style stats
    prune scans filtered on any of them (Delta OPTIMIZE ZORDER BY's
    mechanism, built from plain expressions).

    ``bounds[i]`` = (lo, hi) of ``cols[i]`` — normally one tiny min/max
    agg at write time.  Pure bit arithmetic; codegen, no UDF."""
    return zvalue(
        [scale_to_bits(c, lo, hi, bits) for c, (lo, hi) in zip(cols, bounds)],
        bits,
    )


def zorder_write(
    df: DataFrame, path: str, cols: list[str], bits: int = 10, n_files: int | None = None
) -> None:
    """Write ``df`` clustered by the Z-order of ``cols``: range-partition
    on z (each output file covers one z range) and sort within files.
    Bounds come from one min/max aggregate — scalar metadata, the same
    cost class as a broadcast threshold check."""
    row = df.agg(
        *[F.min(c).cast("double").alias(f"lo{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"hi{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    bounds = [(row[f"lo{i}"], row[f"hi{i}"]) for i in range(len(cols))]
    z = zorder_key([F.col(c) for c in cols], bounds, bits)
    out = df.withColumn("__z__", z)
    if n_files:
        out = out.repartitionByRange(n_files, "__z__")
    else:
        out = out.repartitionByRange("__z__")
    out.sortWithinPartitions("__z__").drop("__z__").write.mode("overwrite").parquet(path)
