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

from pyspark.sql import DataFrame


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
