"""BIT(n) column-type semantics.

Reference: ColumnType::BIT (storage/tianmu/common/common_definitions.h:
47-76, SURVEY §1.2) with MTR coverage bit_type.test / alter_bit.test:
BIT(n) columns (n ≤ 64) accept b'...' literals and integers, compare
numerically, feed the bitwise aggregates, and display as bit strings.

Spark-first mapping: a BIT(n) column is a LONG carrying values in
[0, 2^n) — bitwise ops (&, |, ^, <<, >>) and the BIT_AND/OR/XOR
aggregates are Catalyst builtins over longs, so everything stays in
whole-stage codegen; only ingest validation (range) and display
(zero-padded binary string) need shims.  n=64 uses the full unsigned
range via the signed long's bit pattern, matching MySQL's wire
behavior for BIT(64).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def bit_cast(col: Column, n: int, mode: str = "clamp") -> Column:
    """Ingest an integer expression into BIT(n).

    ``clamp`` reproduces MySQL non-strict inserts (out-of-range stores
    the max value, negatives store 0 — MySQL treats BIT as unsigned);
    ``null`` routes out-of-range to NULL for a reject-path ingest
    (csvload Rejecter discipline).
    """
    if not 1 <= n <= 64:
        raise ValueError("BIT(n) requires 1 <= n <= 64")
    x = col.cast("long")
    if n == 64:
        return x  # full-width: the long's bit pattern IS the value
    hi = (1 << n) - 1
    if mode == "clamp":
        return F.greatest(F.least(x, F.lit(hi)), F.lit(0))
    if mode == "null":
        return F.when((x >= 0) & (x <= hi), x)
    raise ValueError(f"unknown mode {mode!r}")


def bit_display(col: Column, n: int) -> Column:
    """The b'...' display form: zero-padded n-wide binary string."""
    return F.lpad(F.bin(col.cast("long")), n, "0")
