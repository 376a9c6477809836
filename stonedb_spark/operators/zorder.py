"""Z-order (Morton) clustering for multi-column scan pruning.

The reference's Knowledge Grid prunes packs by per-pack min/max on
EVERY column (storage/tianmu/core/pack_guardian.h, SURVEY §3.1) — but
that only bites when the physical row order clusters the filtered
columns.  Sorting by one column destroys locality of the others;
interleaving the bits of several keys (the Morton curve) keeps ALL of
them range-clustered at once, so parquet row-group min/max statistics
(Spark's pack analog) prune 2-D/3-D box predicates instead of scanning
everything.  This is the standard lakehouse `OPTIMIZE ZORDER BY`
mechanic, built here from pure Catalyst bit arithmetic — no UDF, fully
codegen'd, and deterministic so an engine-independent oracle can check
the key itself.

Scale shape: computing the key is map-only; clustering is one
repartitionByRange + per-partition sort on the key (the same cost as
any CTAS with a sort), after which every future 2-D range scan prunes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue(cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` of each integral column into one
    Morton key: column k contributes its bit i at output position
    i*len(cols)+k.  len(cols)*bits must be <= 63.

    Inputs are folded into [0, 2^bits) with pmod first: without the
    mask, values >= 2^bits or negatives would alias silently through
    the raw bit slice (shiftright of a negative long sign-extends),
    producing Morton keys that destroy the clustering the function
    exists to provide while preserving the data — an invisible layout
    bug.  pmod keeps equal inputs on equal keys, so correctness of any
    key-equality use is unaffected; range locality above 2^bits wraps,
    which is the documented trade of a fixed-width Morton code.
    """
    n = len(cols)
    if n * bits > 63:
        raise ValueError("interleaved width must fit a signed long")
    out = F.lit(0).cast("long")
    for k, c in enumerate(cols):
        x = F.pmod(c.cast("long"), F.lit(1 << bits)).cast("long")
        for i in range(bits):
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), i * n + k)
            )
    return out


def scale_to_bits(c: Column, lo: float, hi: float, bits: int) -> Column:
    """Map ``c`` from its [lo, hi] range onto [0, 2^bits) so every
    column of a Morton key fills the same bit width.  Interleaving raw
    values instead lets the widest column own the key's top bits, and
    the layout degrades to a sort on that column alone.  ``lo``/``hi``
    are None for an empty or all-NULL column."""
    lo, hi = float(lo or 0), float(hi or 0)
    span = hi - lo or 1.0
    s = F.floor((c.cast("double") - F.lit(lo)) / F.lit(span) * (1 << bits))
    return F.least(F.greatest(s, F.lit(0)), F.lit((1 << bits) - 1)).cast("long")


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    partitions: int = 8,
    group_bytes: int = 1 << 18,
) -> None:
    """CTAS clustered on the Morton key of ``cols``: range-partition by
    the key, sort within partitions, small row groups
    (``parquet.block.size``) so min/max stats have pruning resolution —
    the knob a real table tunes per workload.  Each column is scaled
    from its min/max (one small aggregate) before interleaving."""
    row = df.agg(
        *[F.min(c).cast("double").alias(f"lo{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"hi{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    scaled = [
        scale_to_bits(F.col(c), row[f"lo{i}"], row[f"hi{i}"], bits)
        for i, c in enumerate(cols)
    ]
    keyed = df.withColumn("_z", zvalue(scaled, bits))
    (
        keyed.repartitionByRange(partitions, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .option("parquet.block.size", group_bytes)
        .parquet(path)
    )
