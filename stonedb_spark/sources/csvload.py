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
    sep: str = ",",
    header: bool = False,
    null_value: str | None = None,
    quote: str = '"',
    escape: str = "\\",
    line_sep: str | None = None,
    encoding: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Return (good_rows, rejected_rows).

    good_rows has exactly ``schema``; rejected_rows has one string column
    ``raw`` holding the original malformed line (Rejecter parity).

    The option surface mirrors the reference's IOParameters
    (storage/tianmu/loader/parsing_strategy.h:28): FIELDS TERMINATED BY
    → ``sep``, ENCLOSED BY → ``quote``, ESCAPED BY → ``escape``, LINES
    TERMINATED BY → ``line_sep``, CHARACTER SET → ``encoding``.
    """
    full_schema = StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType())])
    reader = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("sep", sep)
        .option("header", str(header).lower())
        .option("nullValue", null_value)
        .option("quote", quote)
        .option("escape", escape)
    )
    if line_sep is not None:
        reader = reader.option("lineSep", line_sep)
    if encoding is not None:
        reader = reader.option("encoding", encoding)
    df = materialize(reader.csv(path))  # one parse, two consumers (good + reject split)
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw")
    )
    return good, bad


def append_load(
    good: DataFrame, target_path: str, partition_by: list[str] | None = None
) -> None:
    """Append the accepted rows to the columnar store (bulk-load commit).

    Row-group sizing ≈ the reference's 64K-row packs (SURVEY §1.1): with
    default parquet.block.size Spark writes row groups in that regime.
    """
    writer = good.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(target_path)


def read_jsonl_with_rejects(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines twin of read_csv_with_rejects (beyond the reference —
    its loader is delimited-text only; a training corpus is far more
    often JSONL).  Same contract: (good_rows with exactly ``schema``,
    rejects as one ``raw`` string column).  Rows that parse as JSON but
    miss a field arrive with NULLs (schema-tolerant, like the
    reference's NULL-fill for short rows, load_parser.h:43); only
    syntactically broken lines reject."""
    full_schema = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType())]
    )
    df = materialize(  # one parse, two consumers
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw")
    )
    return good, bad


def read_csv_column_subset(
    spark: SparkSession,
    path: str,
    schema: StructType,
    columns: list[str],
    defaults: dict[str, object] | None = None,
    sep: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """LOAD DATA INFILE ... (col_list) parity: the file supplies only
    ``columns`` (in file order); every other column of ``schema`` is
    filled with its DEFAULT (``defaults[name]``) or NULL
    (mysql-test/suite/tianmu/t/issue1865.test — load into (a, c) of an
    (a, b, c) table, with b's default later altered between loads).

    Returns (good_rows with exactly ``schema``'s columns and order,
    rejects as one ``raw`` column).  The default-fill is a map-only
    literal projection — no second pass over the data.
    """
    defaults = defaults or {}
    by_name = {f.name: f for f in schema.fields}
    unknown = [c for c in columns if c not in by_name]
    if unknown:
        raise ValueError(f"columns not in schema: {unknown}")
    file_schema = StructType([by_name[c] for c in columns])
    good, bad = read_csv_with_rejects(spark, path, file_schema, sep=sep)
    for f in schema.fields:
        if f.name not in columns:
            good = good.withColumn(
                f.name, F.lit(defaults.get(f.name)).cast(f.dataType)
            )
    return good.select(*[f.name for f in schema.fields]), bad


def load_data_infile(
    spark: SparkSession,
    path: str,
    schema: StructType,
    sep: str = ",",
    skip_lines: int = 0,
    columns: list[str] | None = None,
    set_exprs: dict[str, object] | None = None,
    quote: str = '"',
    line_sep: str | None = None,
    doubled_quotes: bool = False,
    multiline: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The full LOAD DATA INFILE option surface over one file
    (issue1000.test: IGNORE n LINES + (col_list) + SET col = expr;
    issue1153.test: OPTIONALLY ENCLOSED BY variants; issue1209.test:
    LINES TERMINATED BY).

    * ``skip_lines`` -- IGNORE n LINES: the first n physical lines of
      the input stream are dropped before parsing (n=0 is a plain
      read).  Implemented by indexing the raw line stream
      (zipWithIndex) and re-parsing the remainder as CSV -- the index
      is per input stream, matching MySQL's single-file LOAD
      semantics.  (One of the few justified RDD touches in the repo:
      Spark's CSV reader has no skip-N option and the stream must be
      indexed in physical order.)
    * ``columns`` -- LOAD ... (c2, c1): the file supplies these
      columns in file order; missing schema columns fill with NULL.
    * ``set_exprs`` -- SET col = <Column or literal> applied after
      parse (MySQL evaluates SET after field assignment, overriding
      the loaded value).
    * ``quote`` -- ENCLOSED BY; pass "" for the no-quoting variant
      (mapped to an unused control character, Spark's off switch).
    * ``doubled_quotes`` -- issue1263.test: an enclosure character
      INSIDE an enclosed field is escaped by doubling (`""` -> literal
      `"`), MySQL's ENCLOSED BY escape.  Maps to escape == quote
      (RFC-4180 doubling).  An ODD run of quotes mis-terminates the
      field and the remainder of the record cannot fill the column
      list -- the reference raises error 1261; here the row lands in
      the rejects frame (strict callers assert it empty).
    * ``multiline`` -- enclosed fields may contain raw line
      terminators (issue1263-2.txt embeds newlines mid-field); the
      file is then parsed whole-record rather than line-split.  With
      skip_lines, IGNORE n skips the first n parsed RECORDS (the
      quote-aware reading of "line" — a physical-line skip would cut
      an enclosed field in half).

    Returns (good, rejects) like read_csv_with_rejects.
    """
    from pyspark.sql import Column

    # skip_lines combos (T/loader/parsing_strategy.h:28,36 semantics):
    # * with a custom LINES TERMINATED BY, "line" means a LINE_SEP-
    #   terminated record: spark.read.text honors lineSep, so the
    #   pre-skip indexes the same record stream the reference's parser
    #   walks; records are then handed to the CSV parser pre-split.
    # * with multiline enclosed fields, physical-line skipping would
    #   split records mid-field, so the skip happens AFTER the quote-
    #   aware whole-record parse (see below) — IGNORE n skips the
    #   first n parsed records, which is what the header-skip idiom
    #   means when headers are themselves well-formed records.
    pre_split = skip_lines > 0 and not multiline
    if pre_split:
        reader_src = (
            spark.read.text(path, lineSep=line_sep)
            .rdd.zipWithIndex()
            .filter(lambda t: t[1] >= skip_lines)
            .map(lambda t: t[0][0])
        )
    else:
        reader_src = path

    target_cols = columns or [f.name for f in schema.fields]
    by_name = {f.name: f for f in schema.fields}
    unknown = [c for c in target_cols if c not in by_name]
    if unknown:
        raise ValueError(f"columns not in schema: {unknown}")
    file_schema = StructType(
        [by_name[c] for c in target_cols]
        + [StructField(CORRUPT_COL, StringType())]
    )
    reader = (
        spark.read.schema(file_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("sep", sep)
        .option("quote", quote if quote else "\u0000")
    )
    if doubled_quotes and quote:
        reader = reader.option("escape", quote)
    if multiline:
        reader = reader.option("multiLine", True)
    if line_sep is not None and not pre_split:
        # pre-split records no longer contain the terminator
        reader = reader.option("lineSep", line_sep)
    df = reader.csv(reader_src)
    if skip_lines > 0 and multiline:
        # multiLine forces a whole-file parse (one task per file), so
        # monotonically_increasing_id IS the record index within the
        # file; drop the first n records quote-aware.
        df = (
            df.withColumn("_recno", F.monotonically_increasing_id())
            .filter(F.col("_recno") >= skip_lines)
            .drop("_recno")
        )
    df = materialize(df)
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw")
    )
    for f in schema.fields:
        if f.name not in target_cols:
            good = good.withColumn(f.name, F.lit(None).cast(f.dataType))
    for name, expr in (set_exprs or {}).items():
        col = expr if isinstance(expr, Column) else F.lit(expr)
        good = good.withColumn(name, col.cast(by_name[name].dataType))
    return good.select(*[f.name for f in schema.fields]), bad
