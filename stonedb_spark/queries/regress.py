"""Regression fixtures derived from the reference's issueNNN MTR tests
(mysql-test/suite/tianmu/t/issue*.test) — each fixture re-creates the
bug-shaped semantics over the driver parquet tables so the DuckDB
oracle can arbitrate, instead of replaying the literal INSERT data.

Covered regressions:
  * issue1332.test / issue1564.test — BETWEEN / IN / NOT IN / comparison
    predicates at the int64 boundaries, with NULLs (three-valued logic)
    and with literals beyond the signed-64 range.
  * in_subquery.test / issue1394.test — NOT IN over a NULL-containing
    subquery (null-aware anti join), and EXISTS over a LIMIT 0/LIMIT 1
    subquery.
  * issue1860.test / issue1599.test — UNION implicit type coercion
    across mixed branch types (decimal vs int, int vs string).
  * issue1855.test — LENGTH() over numeric columns (implicit cast to
    the string representation before measuring).
  * out_of_range_issue1151 / integer_range / signed_boundary —
    non-strict out-of-range inserts clamp to the engine's
    sentinel-adjusted integer ranges (regress_int_range_clamp).
  * issue271.test — LIKE + ESCAPE character variants: literal % / _
    matching under '!', '|', '#' escapes
    (regress_like_escape_variants).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stonedb_spark.catalog import load_tables
from stonedb_spark.queries import register

_I64_MAX = "9223372036854775807"
_I64_MIN = "(-9223372036854775807 - 1)"  # avoid engine-specific min-literal parse

# Derived bigint column with NULLs and both int64 extremes, built from
# o_orderkey so the distribution is deterministic at every SF.
_A_EXPR = f"""CASE CAST(o_orderkey % 13 AS INT)
    WHEN 0 THEN CAST(NULL AS BIGINT)
    WHEN 1 THEN CAST({_I64_MAX} AS BIGINT)
    WHEN 2 THEN CAST({_I64_MIN} AS BIGINT)
    ELSE CAST(o_orderkey - 200 AS BIGINT) END"""

_BOUND_PREDS = {
    "n_lt_neg10": "a < -10",
    "n_gt_huge": "a > 4567890123456789",
    "n_between_full": f"a BETWEEN {_I64_MIN} AND {_I64_MAX}",
    "n_between_small": "a BETWEEN -22 AND 7",
    "n_between_rev": f"a BETWEEN {_I64_MAX} AND -22",
    "n_notin_3": "a NOT IN (3)",
    "n_notin_null": "a NOT IN (3, NULL)",
    "n_in_null_only": "a IN (NULL)",
    "n_gt_unsigned": "a > {U}18446744073709551599{V}",
    "n_le_unsigned": "a <= {U}18446744073709551599{V}",
    "n_eq_unsigned": "a = {U}18446744073709551601{V}",
    "n_ne_unsigned": "a <> {U}18446744073709551601{V}",
    "n_is_null": "a IS NULL",
    "n_is_not_null": "a IS NOT NULL",
}

# Spark's ANALYZER folds `bigint_col <cmp> <integral literal beyond the
# signed-64 range>` straight to TRUE/FALSE — losing NULL three-valued
# semantics (NULL <= huge must be NULL, not TRUE; MySQL and DuckDB both
# agree).  Wrapping the literal in an explicit DECIMAL(20,0) cast keeps
# the comparison null-correct, so the Spark side spells the cast out.
_SPARK_PREDS = {
    n: p.format(U="CAST(", V=" AS DECIMAL(20,0))") for n, p in _BOUND_PREDS.items()
}
_ORACLE_PREDS = {n: p.format(U="", V="") for n, p in _BOUND_PREDS.items()}


@register(
    "regress_bigint_bounds",
    oracle=f"""
WITH d AS (SELECT {_A_EXPR} AS a FROM orders WHERE o_orderkey <= 2000)
SELECT
  {", ".join(f"count(CASE WHEN {p} THEN 1 END) AS {n}" for n, p in _ORACLE_PREDS.items())}
FROM d
""",
    doc="issue1332/issue1564: int64-boundary + NULL predicate battery",
)
def regress_bigint_bounds(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    d = t["orders"].filter("o_orderkey <= 2000").select(F.expr(_A_EXPR).alias("a"))
    return d.agg(
        *[
            F.expr(f"count(CASE WHEN {p} THEN 1 END)").alias(n)
            for n, p in _SPARK_PREDS.items()
        ]
    )


@register(
    "regress_notin_null_subquery",
    oracle="""
SELECT
  (SELECT count(*) FROM supplier
   WHERE s_nationkey NOT IN
     (SELECT CASE WHEN n_nationkey = 3 THEN NULL ELSE n_nationkey END
      FROM nation)) AS cnt_notin_with_null,
  (SELECT count(*) FROM supplier
   WHERE s_nationkey IN
     (SELECT CASE WHEN n_nationkey = 3 THEN NULL ELSE n_nationkey END
      FROM nation)) AS cnt_in_with_null,
  (SELECT count(*) FROM supplier
   WHERE s_nationkey NOT IN
     (SELECT n_nationkey FROM nation WHERE n_nationkey <> 3)) AS cnt_notin_clean
""",
    doc="in_subquery.test: NOT IN over NULL-containing subquery (null-aware anti)",
)
def regress_notin_null_subquery(spark, sf_dir):
    load_tables(spark, sf_dir)
    return spark.sql(
        """
SELECT
  (SELECT count(*) FROM supplier
   WHERE s_nationkey NOT IN
     (SELECT CASE WHEN n_nationkey = 3 THEN NULL ELSE n_nationkey END
      FROM nation)) AS cnt_notin_with_null,
  (SELECT count(*) FROM supplier
   WHERE s_nationkey IN
     (SELECT CASE WHEN n_nationkey = 3 THEN NULL ELSE n_nationkey END
      FROM nation)) AS cnt_in_with_null,
  (SELECT count(*) FROM supplier
   WHERE s_nationkey NOT IN
     (SELECT n_nationkey FROM nation WHERE n_nationkey <> 3)) AS cnt_notin_clean
"""
    )


_EXISTS_SQL = """
SELECT
  (SELECT count(*) FROM customer
   WHERE EXISTS (SELECT 1 FROM orders WHERE o_totalprice > 100 LIMIT 0))
    AS cnt_exists_limit0,
  (SELECT count(*) FROM customer
   WHERE EXISTS (SELECT 1 FROM orders WHERE o_totalprice > 100 LIMIT 1))
    AS cnt_exists_limit1,
  (SELECT count(*) FROM customer
   WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_totalprice > 100 LIMIT 0))
    AS cnt_not_exists_limit0
"""


@register(
    "regress_exists_limit",
    oracle=_EXISTS_SQL,
    doc="issue1394: EXISTS over LIMIT 0 / LIMIT 1 subqueries",
)
def regress_exists_limit(spark, sf_dir):
    load_tables(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


# MySQL resolves `int UNION 'aaa'` to a string result (issue1599's
# non-numeric branch survives verbatim); Spark 4's ANSI union coercion
# instead casts the string branch to BIGINT and faults on 'aaa', so the
# dialect rule — common type is STRING — is spelled explicitly on both
# sides.  The decimal branch goes through DECIMAL(18,2) before the
# string cast so both engines print identical '.00'-padded text.
_UNION_SQL = """
SELECT 'int_str' AS tag, v FROM
  (SELECT CAST(n_nationkey AS {str_t}) AS v FROM nation
   UNION SELECT 'zz_not_a_number') u1
UNION ALL
SELECT 'dec_int' AS tag, CAST(v AS {str_t}) AS v FROM
  (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v
   FROM orders WHERE o_orderkey <= 64
   UNION SELECT CAST(2222 AS DECIMAL(18,2))) u2
ORDER BY tag, v
"""


@register(
    "regress_union_coercion",
    oracle=_UNION_SQL.format(str_t="VARCHAR"),
    doc="issue1860/issue1599: UNION implicit coercion (int vs string, decimal vs int)",
)
def regress_union_coercion(spark, sf_dir):
    load_tables(spark, sf_dir)
    return spark.sql(_UNION_SQL.format(str_t="STRING"))


@register(
    "regress_len_numeric",
    oracle="""
SELECT
  CAST(sum(length(c_name)) AS BIGINT) AS sum_len_str,
  CAST(sum(length(CAST(c_custkey AS VARCHAR))) AS BIGINT) AS sum_len_int,
  CAST(sum(length(CAST(c_custkey AS VARCHAR)) / 2.0) AS DOUBLE)
    AS sum_half_len
FROM customer
""",
    doc="issue1855: LENGTH() over numeric columns via string representation",
)
def regress_len_numeric(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    c = t["customer"]
    key_len = F.length(c["c_custkey"].cast("string"))
    return c.agg(
        F.sum(F.length("c_name")).alias("sum_len_str"),
        F.sum(key_len).alias("sum_len_int"),
        # DOUBLE on both sides: DuckDB materializes DECIMAL(38,10) as
        # float64 in pandas (precision > 18), so a decimal here would
        # reach the driver hash as Decimal-vs-float.
        F.sum(key_len / F.lit(2.0)).cast("double").alias("sum_half_len"),
    )


# issue1402.test: HAVING referencing a SELECT alias of an aggregate
# computed over a join product — across inner/left/right joins (the
# right-join arm is where the reference engine had the bug; nulls from
# the unmatched side must flow INTO the aggregate, then HAVING filters
# the aggregated alias).  MySQL allows the alias in HAVING; Spark SQL
# does too; DuckDB likewise.
_HAVING_SQL = """
SELECT n.n_nationkey, CAST(SUM(CAST(c.c_acctbal * 2 AS DECIMAL(38,10))) AS DOUBLE) AS a
FROM nation n {join} JOIN customer c ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_nationkey
HAVING a > 10000
ORDER BY n.n_nationkey
"""


@register(
    "regress_having_alias",
    oracle=f"""
SELECT 'inner' AS arm, * FROM ({_HAVING_SQL.format(join="INNER")})
UNION ALL
SELECT 'left' AS arm, * FROM ({_HAVING_SQL.format(join="LEFT")})
ORDER BY arm, n_nationkey
""",
    doc="issue1402: HAVING on aggregate alias over inner/left join products",
)
def regress_having_alias(spark, sf_dir):
    load_tables(spark, sf_dir)
    return spark.sql(f"""
SELECT 'inner' AS arm, * FROM ({_HAVING_SQL.format(join="INNER")})
UNION ALL
SELECT 'left' AS arm, * FROM ({_HAVING_SQL.format(join="LEFT")})
ORDER BY arm, n_nationkey
""")


# --------------------------------------------------------------------------
# out_of_range_issue1151.test / integer_range.test / signed_boundary.test:
# non-strict out-of-range inserts clamp to the reference's
# SENTINEL-ADJUSTED ranges (INT min is -2147483647, not -2^31, because
# -2^31 is the engine's NULL_VALUE_32 sentinel; common_definitions.h:
# 127-138).  Values straddling each boundary are derived from orderkeys
# so the clamp hits both sides at every SF.
@register(
    "regress_int_range_clamp",
    oracle="""
WITH d AS (
  SELECT o_orderkey,
         (o_orderkey - 1000) * 4294967 AS v_wide,
         (o_orderkey % 600) - 300 AS v_narrow
  FROM orders WHERE o_orderkey <= 2000
)
SELECT o_orderkey,
       GREATEST(LEAST(v_wide, 2147483647), -2147483647) AS int_clamped,
       GREATEST(LEAST(v_narrow, 127), -127) AS tiny_clamped,
       CAST(GREATEST(LEAST(CAST(v_wide AS HUGEINT) * 4294967296,
                           9223372036854775807),
                     -9223372036854775806) AS BIGINT) AS bigint_clamped
FROM d
ORDER BY o_orderkey
""",
    doc="issue1151/integer_range: out-of-range insert clamps to sentinel-adjusted ranges",
)
def regress_int_range_clamp(spark, sf_dir):
    from stonedb_spark.functions.mysql import tianmu_int_cast

    t = load_tables(spark, sf_dir)
    o = t["orders"]
    d = o.filter(o["o_orderkey"] <= 2000).select(
        "o_orderkey",
        ((o["o_orderkey"] - 1000) * 4294967).alias("v_wide"),
        ((o["o_orderkey"] % 600) - 300).alias("v_narrow"),
    )
    return d.select(
        "o_orderkey",
        tianmu_int_cast(F.col("v_wide"), "int").alias("int_clamped"),
        tianmu_int_cast(F.col("v_narrow"), "tinyint").alias("tiny_clamped"),
        tianmu_int_cast(
            F.col("v_wide").cast("decimal(38,0)") * F.lit(4294967296), "bigint"
        ).alias("bigint_clamped"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# issue271.test: LIKE with per-query ESCAPE characters — literal '%' and
# '_' matching under '!', '|' and '#' escapes, against names suffixed
# with actual wildcards so escaped and unescaped patterns diverge.
@register(
    "regress_like_escape_variants",
    oracle="""
WITH v AS (
  SELECT p_partkey,
         p_name || CASE WHEN p_partkey % 3 = 0 THEN '%'
                        WHEN p_partkey % 3 = 1 THEN '_'
                        ELSE '' END AS s
  FROM part WHERE p_partkey <= 500
)
SELECT p_partkey, s,
       s LIKE '%!%' ESCAPE '!' AS ends_pct_bang,
       s LIKE '%|_' ESCAPE '|' AS ends_us_pipe,
       s LIKE '%#%' ESCAPE '#' AS ends_pct_hash,
       s LIKE '%_' AS any_tail
FROM v
ORDER BY p_partkey
""",
    doc="issue271: LIKE + ESCAPE character variants (literal % / _ matching)",
)
def regress_like_escape_variants(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    p = t["part"]
    s = F.concat(
        p["p_name"],
        F.when(p["p_partkey"] % 3 == 0, "%")
        .when(p["p_partkey"] % 3 == 1, "_")
        .otherwise(""),
    )
    return (
        p.filter(p["p_partkey"] <= 500)
        .select("p_partkey", s.alias("s"))
        .select(
            "p_partkey",
            "s",
            F.expr("s LIKE '%!%' ESCAPE '!'").alias("ends_pct_bang"),
            F.expr("s LIKE '%|_' ESCAPE '|'").alias("ends_us_pipe"),
            F.expr("s LIKE '%#%' ESCAPE '#'").alias("ends_pct_hash"),
            F.expr("s LIKE '%_'").alias("any_tail"),
        )
        .orderBy("p_partkey")
    )


# ---------------------------------------------------------------------------
# issue1784.test: aggregates over an EMPTY table — `SELECT age, SUM(age)
# ... GROUP BY age` must yield zero rows (not a NULL row), global
# aggregates must yield exactly one row with COUNT=0 and NULL SUM/MIN/
# AVG, the CASE-wrapped group key changes nothing, and inserting one row
# flips the grouped count to 1.  Each MTR statement becomes one labelled
# row so the driver hash pins all four behaviors.
@register(
    "regress_empty_agg",
    oracle="""
WITH e AS (SELECT l_orderkey AS age FROM lineitem WHERE l_orderkey < 0)
SELECT 'global' AS label, COUNT(*) AS cnt,
       SUM(age) IS NULL AS sum_null, MIN(age) IS NULL AS min_null,
       AVG(age) IS NULL AS avg_null
FROM e
UNION ALL
SELECT 'grouped', (SELECT COUNT(*) FROM (SELECT age, SUM(age) AS s
                                         FROM e GROUP BY age) g),
       TRUE, TRUE, TRUE
UNION ALL
SELECT 'grouped_case',
       (SELECT COUNT(*) FROM (SELECT CASE WHEN age IS NOT NULL THEN age
                                          ELSE 33 END AS k, SUM(age) AS s
                              FROM e GROUP BY age) g),
       TRUE, TRUE, TRUE
UNION ALL
SELECT 'grouped_one_row',
       (SELECT COUNT(*) FROM (SELECT age FROM (SELECT age FROM e
                              UNION ALL SELECT CAST(1 AS BIGINT)) u
                              GROUP BY age) g),
       FALSE, FALSE, FALSE
ORDER BY label
""",
    doc="issue1784: empty-input aggregate semantics (0 groups, NULL global aggs)",
)
def regress_empty_agg(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    e = (
        t["lineitem"]
        .filter(F.col("l_orderkey") < 0)
        .select(F.col("l_orderkey").alias("age"))
    )

    def lbl(s, cnt_df, b):
        return cnt_df.select(
            F.lit(s).alias("label"),
            F.col("cnt"),
            F.lit(b).alias("sum_null"),
            F.lit(b).alias("min_null"),
            F.lit(b).alias("avg_null"),
        )

    g_global = e.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("age").isNull().alias("sum_null"),
        F.min("age").isNull().alias("min_null"),
        F.avg("age").isNull().alias("avg_null"),
    ).select(F.lit("global").alias("label"), "cnt", "sum_null", "min_null", "avg_null")
    g_grouped = lbl(
        "grouped",
        e.groupBy("age").agg(F.sum("age")).agg(F.count(F.lit(1)).alias("cnt")),
        True,
    )
    g_case = lbl(
        "grouped_case",
        e.select(
            F.when(F.col("age").isNotNull(), F.col("age")).otherwise(33).alias("k"),
            "age",
        )
        .groupBy("age")
        .agg(F.sum("age"))
        .agg(F.count(F.lit(1)).alias("cnt")),
        True,
    )
    g_one = lbl(
        "grouped_one_row",
        e.unionByName(spark.range(1).select(F.lit(1).cast("long").alias("age")))
        .groupBy("age")
        .agg(F.count(F.lit(1)))
        .agg(F.count(F.lit(1)).alias("cnt")),
        False,
    )
    return (
        g_global.unionByName(g_grouped)
        .unionByName(g_case)
        .unionByName(g_one)
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# issue430.test — GROUP BY a SELECT-list alias of a computed expression
# (`select (a/b)/c as agf ... group by agf`): MySQL resolves the alias
# in GROUP BY; Spark does too (spark.sql.groupByAliases), and DuckDB
# likewise.  The division chain exercises the double-promotion path the
# original bug hit (tinyint/smallint/bigint operands).  The NULLIF
# divisor guard is itself MySQL parity: a/0 is NULL there, an error
# under Spark ANSI, and +inf in DuckDB — NULLIF makes all three agree
# (and the fixture does contain zero quantities).
@register(
    "regress_group_by_alias",
    oracle="""
SELECT (CAST(l_linenumber AS DOUBLE) / NULLIF(l_quantity, 0)) / NULLIF(l_orderkey, 0) AS agf,
       COUNT(*) AS n
FROM lineitem
WHERE l_orderkey <= 400
GROUP BY agf
ORDER BY agf
""",
    doc="issue430: GROUP BY select-alias of a computed division chain",
)
def regress_group_by_alias(spark, sf_dir):
    from stonedb_spark.catalog import sql as run_sql

    return run_sql(
        spark,
        """
SELECT (CAST(l_linenumber AS DOUBLE) / NULLIF(l_quantity, 0)) / NULLIF(l_orderkey, 0) AS agf,
       COUNT(*) AS n
FROM lineitem
WHERE l_orderkey <= 400
GROUP BY agf
ORDER BY agf
""",
        sf_dir,
    )


# ---------------------------------------------------------------------------
# issue1157.test — LIKE edge shapes: an ALPHANUMERIC escape character
# ('a%a_' ESCAPE 'a' — the escape char is a normal letter that also
# appears in the data) and the DEFAULT backslash escape.  Note the
# engines' string-literal rules differ: Spark treats backslash as a
# literal-level escape ('\\%' is needed to reach the LIKE engine as
# backslash-percent) while DuckDB standard strings pass '\%' through —
# the two texts below produce the IDENTICAL pattern.  DuckDB further
# has NO default LIKE escape (MySQL and Spark both default to
# backslash), so the oracle adds an explicit ESCAPE '\'.
@register(
    "regress_like_escape_alpha",
    oracle=r"""
WITH v AS (
  SELECT p_partkey,
         p_name || CASE CAST(p_partkey % 4 AS INT)
                     WHEN 0 THEN '%'
                     WHEN 1 THEN '_'
                     WHEN 2 THEN '%_'
                     ELSE 'a_' END AS s
  FROM part WHERE p_partkey <= 500
)
SELECT p_partkey, s,
       s LIKE '%a%a_' ESCAPE 'a' AS ends_pct_us_alpha,
       s LIKE '%\%\_' ESCAPE '\' AS ends_pct_us_backslash,
       s LIKE '%\%_' ESCAPE '\' AS pct_then_any,
       s LIKE '%a_' ESCAPE 'a' AS ends_us_alpha
FROM v
ORDER BY p_partkey
""",
    doc="issue1157: alphanumeric ESCAPE char + default backslash escape",
)
def regress_like_escape_alpha(spark, sf_dir):
    p = load_tables(spark, sf_dir)["part"]
    s = F.concat(
        p["p_name"],
        F.when(p["p_partkey"] % 4 == 0, "%")
        .when(p["p_partkey"] % 4 == 1, "_")
        .when(p["p_partkey"] % 4 == 2, "%_")
        .otherwise("a_"),
    )
    return (
        p.filter(p["p_partkey"] <= 500)
        .select("p_partkey", s.alias("s"))
        .select(
            "p_partkey",
            "s",
            F.expr("s LIKE '%a%a_' ESCAPE 'a'").alias("ends_pct_us_alpha"),
            F.expr(r"s LIKE '%\\%\\_'").alias("ends_pct_us_backslash"),
            F.expr(r"s LIKE '%\\%_'").alias("pct_then_any"),
            F.expr("s LIKE '%a_' ESCAPE 'a'").alias("ends_us_alpha"),
        )
        .orderBy("p_partkey")
    )
