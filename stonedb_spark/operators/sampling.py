"""Deterministic sampling & dataset splitting for training pipelines.

No reference counterpart (StoneDB has no TABLESAMPLE; MySQL 5.7's only
sampling is ORDER BY RAND(), which is neither scalable nor stable).
For corpus work the requirement is stronger than "random": the SAME row
must land in the SAME split on every engine, every partitioning, every
re-run — otherwise train/test contamination appears the first time the
pipeline is re-executed on different hardware.  rand()/sample() are
per-task-seeded in Spark (partitioning-dependent); content hashing is
the portable answer.

hash_bucket derives a uniform bucket in [0, n) from md5 of the key —
bit-identical in any engine with md5 (the DuckDB oracle inlines the
same arithmetic).  All downstream ops (split, p% sample) are plain
filters on that bucket: fully pushdown-friendly, zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_BUCKET_MOD = 10_000  # 0.01% split resolution


def hash_bucket(key: Column | str, buckets: int = _BUCKET_MOD) -> Column:
    """Uniform deterministic bucket in [0, buckets) from md5(key).

    15 hex chars = 60 bits → exact in int64; uniform mod small buckets."""
    c = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")
        % F.lit(buckets)
    )


def split_assign(
    key: Column | str, train: float = 0.8, val: float = 0.1
) -> Column:
    """'train' / 'val' / 'test' label, deterministic per key."""
    b = hash_bucket(key)
    return (
        F.when(b < int(train * _BUCKET_MOD), "train")
        .when(b < int((train + val) * _BUCKET_MOD), "val")
        .otherwise("test")
    )


def stratified_sample(
    df,
    strata: Column | str,
    key: Column | str,
    fractions: dict[str, float],
    default: float = 0.0,
):
    """Per-stratum deterministic sampling: each stratum keeps its own
    fraction, decided by the SAME md5 hash-bucket as split_assign —
    so the kept set is stable across engines, partitionings and reruns
    (df.sampleBy is rand()-seeded per partition and is not).

    The rate lookup is a CASE expression (broadcast-free, no join);
    rebalancing over/under-represented sources in a training corpus is
    exactly this operator at 100 TB — a map-only filter."""
    s = F.col(strata) if isinstance(strata, str) else strata
    rate = F.lit(default)
    for value, frac in sorted(fractions.items()):
        rate = F.when(s == value, F.lit(frac)).otherwise(rate)
    threshold = (rate * _BUCKET_MOD).cast("long")
    return df.filter(hash_bucket(key) < threshold)


def weighted_sample(df, key: Column | str, weight: Column):
    """Deterministic weighted Bernoulli sampling: each row survives with
    probability clamp(weight, 0, 1), decided by its md5 hash bucket —
    quality-weighted corpus downsampling that is exactly reproducible
    on any engine/partitioning (map-only; no rand(), no state)."""
    w = F.least(F.greatest(weight, F.lit(0.0)), F.lit(1.0))
    return df.filter(hash_bucket(key) < (w * _BUCKET_MOD).cast("long"))
