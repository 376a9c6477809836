"""Order-independent numeric aggregation helpers.

The fixtures store money columns as DOUBLE.  A plain SUM(double) is
order-dependent (floating addition does not associate), so a distributed
sum can differ between runs and engines in the low bits — which breaks
value-hash comparison against the DuckDB oracle and, more importantly,
makes results nondeterministic under AQE re-partitioning at scale.

The engine therefore sums money through an exact decimal intermediate:
``CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE)``.  The double→decimal
cast of each input value is deterministic, decimal addition is exact and
associative (any partition order gives the same total), and the final
decimal→double cast is a single deterministic rounding.  Both Spark and
DuckDB produce bit-identical float64 results for the same expression.

The reference gets the same property for free because all its numerics
are scaled int64 (storage/tianmu/common/common_definitions.h:52 — NUM is
a scaled integer; AggregatorSum64, storage/tianmu/optimizer/
aggregator_basic.h:43 sums in int64).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,10)"


def dsum(col: Column | str) -> Column:
    """Exact, order-independent sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: Column | str) -> Column:
    """avg(x) as exact-sum / count — deterministic across partitionings."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double") / F.count(c).cast("double")


def dmul(a: Column, b: Column) -> Column:
    """Product in double (IEEE-deterministic for fixed operand order)."""
    return a * b


def scaled_long(col: Column | str, digits: int) -> Column:
    """Fixed-point value as a scaled int64 — the reference's NUM
    representation (storage/tianmu/common/common_definitions.h:52: decimal
    is a scaled integer; sums run in int64, AggregatorSum64,
    storage/tianmu/optimizer/aggregator_basic.h:43).

    Rounding HALF_UP recovers the exact decimal the double approximates;
    all arithmetic on the scaled values is integer-exact.  Long partial sums
    are safe while (rows per partition) × (max |value|) < 2^63 — with
    ≤128 MB parquet splits (~1.3M rows) that allows per-row magnitudes up
    to ~7e12, far above any money expression here; the final cross-
    partition combine must go through DECIMAL (see tpch_q1) because the
    GLOBAL sum does grow past int64 at large scale factors.
    """
    c = F.col(col) if isinstance(col, str) else col
    x = c * (10**digits)
    # Same value as ``F.round(x, 0)`` without its per-row
    # BigDecimal.valueOf → Double.toString: below 2^52 a double is a tie
    # exactly when its shortest decimal is one, and otherwise that
    # decimal and the double round to the same integer.  Ties go away
    # from zero (HALF_UP), everything else to the nearest integer (rint).
    # |x| - floor(|x|) is exact (x - floor(x) is not for x in (-1, 0):
    # -0.49999999999999994 + 1 rounds to 0.5).  NaN and ±Infinity reach
    # the long cast as before.
    a = F.abs(x)
    return (
        F.when(a - F.floor(a) == 0.5, x + F.signum(x) * 0.5)
        .otherwise(F.rint(x))
        .cast("long")
    )

