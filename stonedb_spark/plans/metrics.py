"""One-pass query observability (df.observe) — the Spark analog of the
reference's per-query execution statistics (Tianmu logs pack-read /
filtered counts per query, storage/tianmu/core/engine.cpp "query
statistics" path).

``observe`` attaches aggregate metrics to a DataFrame that are computed
DURING the action that executes it — zero extra scans, zero extra
shuffles — and surfaces them on the driver afterwards.  A pipeline uses
this to ship row counts / null rates / bounds to its monitoring sink
without re-reading 100 TB, which is the difference between "audit the
load" and "double the load".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed(
    df: DataFrame, counters: dict[str, F.Column] | None = None
) -> tuple[DataFrame, Observation]:
    """Attach an Observation to ``df``.  Default counters: row count.
    Extra ``counters`` are any aggregate expressions over df's columns
    (null counts, min/max, conditional counts).  Read
    ``observation.get`` AFTER an action has executed the returned frame.
    """
    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, col in (counters or {}).items():
        aggs.append(col.alias(name))
    return df.observe(obs, *aggs), obs

