"""Bulk CSV load with reject-path semantics — LOAD DATA INFILE parity.

The reference's loader parses delimited files per IOParameters, builds
column packs, and routes malformed rows to a reject file
(TianmuTable::LoadDataInfile → LoadParser / Rejecter,
storage/tianmu/core/tianmu_table.cpp:814,1087,
storage/tianmu/loader/load_parser.h:43,
storage/tianmu/loader/rejecter.h).

Spark equivalent: schema-enforced CSV read in PERMISSIVE mode with a
``_corrupt_record`` capture column; good rows append to parquet, bad
rows are returned (and optionally persisted) as the reject set.  The
parse fans out per input split exactly like the reference's
load_thread_pool — no driver-side row handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from stonedb_spark.reuse import materialize

CORRUPT_COL = "_corrupt_record"


def read_csv_with_rejects(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> tuple[DataFrame, DataFrame]:
    """Return (good_rows, rejected_rows).

    good_rows has exactly ``schema``; rejected_rows has one string column
    ``raw`` holding the original malformed line (Rejecter parity).

    The file is the reference's default IOParameters
    (storage/tianmu/loader/parsing_strategy.h:28) in CSV form: comma
    fields, no header, '"' enclosure, backslash escapes.  MySQL
    ``LOAD DATA`` statements with other FIELDS/LINES options run
    through the dialect (``stonedb_spark.dialect``).
    """
    full_schema = StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])
    reader = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("sep", ",")
        .option("header", "false")
        .option("nullValue", None)
        .option("quote", '"')
        .option("escape", "\\")
    )
    df = materialize(reader.csv(path))  # one parse, two consumers (good + reject split)
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw")
    )
    return good, bad


def append_load(good: DataFrame, target_path: str) -> None:
    """Append the accepted rows to the columnar store (bulk-load commit).

    Row-group sizing ≈ the reference's 64K-row packs (SURVEY §1.1): with
    default parquet.block.size Spark writes row groups in that regime.
    """
    good.write.mode("append").parquet(target_path)
