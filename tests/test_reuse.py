"""Materialize-for-reuse goes through one helper and leaves no result that
a later run could reuse (stonedb_spark/reuse.py)."""

from __future__ import annotations

import os
import re
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from stonedb_spark.queries import all_queries
from stonedb_spark.sources.autoinc import with_auto_increment
from stonedb_spark.sources.csvload import append_load, read_csv_with_rejects

PKG = Path(__file__).resolve().parent.parent / "stonedb_spark"
REUSE_CALL = re.compile(r"\.persist\(|\.cache\(\)|localCheckpoint\(|\.unpersist\(")


def test_materialize_is_the_only_reuse_site():
    hits = [
        f"{path.relative_to(PKG)}:{i}: {line.strip()}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "reuse.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if REUSE_CALL.search(line)
    ]
    assert not hits, "\n".join(hits)


def test_no_cache_manager_entries_after_runs(spark, sf_dir, tmp_path):
    """No CacheManager entry survives a query, an ingest or an id stamp:
    a later, independent build of the same plan must recompute."""
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.001")
    qs = all_queries()
    for name in ("tpch_q11", "graph_pagerank"):
        assert qs[name].build(spark, sf).collect()

    csv = tmp_path / "batch.csv"
    csv.write_text("1,alpha,1.5\n2,beta,2.5\nbad_id,gamma,1.0\n")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("v", DoubleType()),
        ]
    )
    good, bad = read_csv_with_rejects(spark, str(csv), schema)
    append_load(good, str(tmp_path / "table"))
    assert bad.count() == 1
    assert spark.read.parquet(str(tmp_path / "table")).count() == 2

    df = spark.range(100).select(
        F.when(F.col("id") % 3 == 0, F.col("id") + 1000).alias("id"),
        F.col("id").alias("v"),
    )
    stamped, _ = with_auto_increment(df, "id", next_val=1)
    assert stamped.select("id").distinct().count() == 100

    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
