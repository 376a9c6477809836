"""Relational operator battery — SURVEY.md §2.2-2.7 inventory.

One registered query per operator family the reference implements,
modeled on its MTR suite (mysql-test/suite/tianmu/t/): predicates
(between_and.test, like_not_like.test, orquery.test), aggregation
(aggregate.test, std_test.test, func_bit.test, group_concat.test),
joins (inner/left/various_join.test, semi-join.test), sort/limit
(select_order_by.test, select_limit.test), distinct/union
(select_distinct.test, union.test), subqueries (in_subquery.test,
various_subquery.test) — plus Spark-side extensions the reference
lacks (window functions, rollup; SURVEY §2.5 notes parity requires
none, these exceed it).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stonedb_spark.catalog import load_tables
from stonedb_spark.functions.exact import DEC
from stonedb_spark.operators.thetajoin import binned_range_join
from stonedb_spark.queries import register

B = F.broadcast


# --------------------------------------------------------------------------
# §2.2 predicates: BETWEEN / LIKE (with escape) / IN / IS NULL / OR-tree.
# Reference kernels: EvaluatePack_Like / _InString / _BetweenInt
# (storage/tianmu/vc/tianmu_attr_exqp.cpp:405,553,870).
@register(
    "pred_battery",
    oracle="""
SELECT p_partkey, p_name, p_brand, p_size
FROM part
WHERE (p_size BETWEEN 10 AND 40)
  AND p_name LIKE '%e%'
  AND p_name NOT LIKE 'sm!%%' ESCAPE '!'
  AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3', 'Brand#4')
  AND p_retailprice IS NOT NULL
  AND (p_type = 'PROMO' OR p_type = 'STANDARD' OR p_size > 30)
ORDER BY p_partkey
""",
    doc="predicate battery: BETWEEN, LIKE+ESCAPE, IN, IS NOT NULL, OR-tree",
)
def pred_battery(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    p = t["part"]
    return (
        p.filter(
            p["p_size"].between(10, 40)
            & p["p_name"].like("%e%")
            & F.expr("p_name NOT LIKE 'sm!%%' ESCAPE '!'")
            & p["p_brand"].isin("Brand#1", "Brand#2", "Brand#3", "Brand#4")
            & p["p_retailprice"].isNotNull()
            & ((p["p_type"] == "PROMO") | (p["p_type"] == "STANDARD") | (p["p_size"] > 30))
        )
        .select("p_partkey", "p_name", "p_brand", "p_size")
        .orderBy("p_partkey")
    )


# --------------------------------------------------------------------------
# §2.2 column-vs-column θ predicates (EvaluatePack_AttrAttr,
# storage/tianmu/vc/tianmu_attr_exqp.cpp:1044).
@register(
    "pred_col_vs_col",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
FROM lineitem
WHERE l_tax > l_discount AND l_quantity > l_tax * 100.0
ORDER BY l_orderkey, l_linenumber
""",
    doc="column-vs-column θ predicates (AttrAttr kernel)",
)
def pred_col_vs_col(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    l = t["lineitem"]  # noqa: E741
    return (
        l.filter((l["l_tax"] > l["l_discount"]) & (l["l_quantity"] > l["l_tax"] * 100.0))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        .orderBy("l_orderkey", "l_linenumber")
    )


# --------------------------------------------------------------------------
# MySQL collation / CHAR-padding comparison semantics (SURVEY §7
# "genuinely hard" list).  The reference compares strings under MySQL's
# default case-insensitive collation with PAD SPACE (trailing spaces
# ignored) — tests different_charsets_a.test and the CHAR-column MTR
# suite.  Spark is UTF8_BINARY NO PAD; functions/mysql.py ci_eq()
# reproduces MySQL's `=` via native Spark collation (UTF8_LCASE) +
# rtrim, fully JVM-side.  The mixed-case padded literal below returns
# zero rows under Spark default semantics — the match proves the shim.
@register(
    "pred_mysql_collation",
    oracle="""
SELECT c_custkey, c_nationkey, c_mktsegment
FROM customer
WHERE lower(rtrim(c_mktsegment)) = lower(rtrim('BuIlDiNg  '))
  AND c_custkey <= 500
ORDER BY c_custkey
""",
    doc="MySQL utf8_general_ci + PAD SPACE equality via Spark collation",
)
def pred_mysql_collation(spark, sf_dir):
    from stonedb_spark.functions import mysql as M

    c = load_tables(spark, sf_dir)["customer"]
    return (
        c.filter(M.ci_eq(c["c_mktsegment"], F.lit("BuIlDiNg  ")) & (c["c_custkey"] <= 500))
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# Per-column collation battery (different_charsets_a.test, _b.test):
# case-mangled + accent-suffixed + space-padded variants of the same
# base string must compare equal under utf8mb4_general_ci (PAD SPACE,
# case- and accent-insensitive) and unequal under utf8mb4_bin (PAD
# SPACE only).  Variants are synthesized deterministically from
# customer keys with chr() so both engines build identical data, and
# collation-aware ORDER BY runs on the portable collation key (see
# functions/collation.py; ICU sort order is not oracle-portable).
def _collation_battery_oracle() -> str:
    from stonedb_spark.functions.collation import collation_key_sql as K

    return f"""
WITH v AS (
  SELECT c_custkey,
         UPPER(SUBSTRING(c_name, 1, 12)) || CHR(CAST(193 + c_custkey % 5 AS INTEGER)) || '  ' AS va,
         LOWER(SUBSTRING(c_name, 1,
               CASE WHEN c_custkey % 3 = 0 THEN 11 ELSE 12 END))
           || CHR(CAST(225 + c_custkey % 5 AS INTEGER)) AS vb
  FROM customer WHERE c_custkey <= 400
)
SELECT c_custkey, va, vb,
       ({K("va")} = {K("vb")}) AS ci_eq,
       ({K("va", "utf8mb4_bin")} = {K("vb", "utf8mb4_bin")}) AS bin_eq,
       {K("va")} AS sort_key
FROM v
ORDER BY sort_key, c_custkey
"""


@register(
    "pred_collation_battery",
    oracle=_collation_battery_oracle(),
    doc="utf8mb4_general_ci vs _bin comparisons + PAD SPACE + collation-key ORDER BY",
)
def pred_collation_battery(spark, sf_dir):
    from stonedb_spark.functions import collation as C

    c = load_tables(spark, sf_dir)["customer"]
    va = F.concat(
        F.upper(F.substring(c["c_name"], 1, 12)),
        F.char(F.lit(193) + c["c_custkey"] % 5),
        F.lit("  "),
    )
    vb = F.concat(
        F.lower(
            c["c_name"].substr(
                F.lit(1), F.when(c["c_custkey"] % 3 == 0, 11).otherwise(12)
            )
        ),
        F.char(F.lit(225) + c["c_custkey"] % 5),
    )
    v = c.filter(c["c_custkey"] <= 400).select(
        "c_custkey", va.alias("va"), vb.alias("vb")
    )
    return v.select(
        "c_custkey",
        "va",
        "vb",
        C.coll_eq(F.col("va"), F.col("vb"), "utf8mb4_general_ci").alias("ci_eq"),
        C.coll_eq(F.col("va"), F.col("vb"), "utf8mb4_bin").alias("bin_eq"),
        C.collation_key("va", "utf8mb4_general_ci").alias("sort_key"),
    ).orderBy("sort_key", "c_custkey")


# --------------------------------------------------------------------------
# Per-column charset/collation MATRIX (different_charsets_b.test's
# remaining shapes, mysql-test/suite/tianmu/t/different_charsets_b.test):
# the same string data compared/ grouped/ordered under FOUR collation
# classes side by side — latin1_general_ci (case fold, accents
# DISTINCT), utf8mb4_general_ci (case + accent fold), utf8mb4_bin
# (PAD SPACE only), and the BINARY type (NO PAD, raw bytes).  Five
# deterministic spellings per nation name (original, lower, initcap,
# trailing-pad, accented-lower) make every class produce a different
# group count / equality-pair count / sort extreme, pinning the weight
# tables apart.  One narrow frame + one aggregate per class — map-side
# key computation, single shuffle each; the self-join pair count is
# keyed on the collation key (equi-join, no cross product).
def _charset_matrix_oracle() -> str:
    from stonedb_spark.functions.collation import collation_key_sql as K

    colls = [
        ("latin1_general_ci", "latin1_general_ci"),
        ("utf8mb4_general_ci", "utf8mb4_general_ci"),
        ("utf8mb4_bin", "utf8mb4_bin"),
        ("binary", "binary"),
    ]
    variants = """
  SELECT n_nationkey, n_name AS s FROM nation
  UNION ALL SELECT n_nationkey, LOWER(n_name) FROM nation
  UNION ALL SELECT n_nationkey, UPPER(SUBSTRING(n_name,1,1)) || LOWER(SUBSTRING(n_name,2)) FROM nation
  UNION ALL SELECT n_nationkey, n_name || '  ' FROM nation
  UNION ALL SELECT n_nationkey, TRANSLATE(LOWER(n_name), 'ae', 'áé') FROM nation
"""
    legs = []
    for label, coll in colls:
        k = K("s", coll)
        legs.append(f"""
SELECT '{label}' AS coll,
       CAST(COUNT(DISTINCT {k}) AS BIGINT) AS n_groups,
       CAST((SELECT COUNT(*) FROM v a JOIN v b ON {K('a.s', coll)} = {K('b.s', coll)}) AS BIGINT) AS eq_pairs,
       MIN({k}) AS first_key,
       MAX({k}) AS last_key
FROM v""")
    return (
        f"WITH v AS ({variants})\n"
        + "\nUNION ALL\n".join(legs)
        + "\nORDER BY coll"
    )


@register(
    "pred_charset_matrix",
    oracle=_charset_matrix_oracle(),
    doc="latin1/utf8mb4/_bin/BINARY collation matrix: GROUP BY, equality "
    "pairs, ORDER BY extremes per class (different_charsets_b.test)",
)
def pred_charset_matrix(spark, sf_dir):
    from stonedb_spark.functions import collation as C

    n = load_tables(spark, sf_dir)["nation"].select("n_nationkey", "n_name")
    v = (
        n.select("n_nationkey", F.col("n_name").alias("s"))
        .unionAll(n.select("n_nationkey", F.lower("n_name").alias("s")))
        .unionAll(
            n.select(
                "n_nationkey",
                F.concat(
                    F.upper(F.substring("n_name", 1, 1)),
                    F.lower(F.expr("SUBSTRING(n_name, 2)")),
                ).alias("s"),
            )
        )
        .unionAll(
            n.select("n_nationkey", F.concat("n_name", F.lit("  ")).alias("s"))
        )
        .unionAll(
            n.select(
                "n_nationkey",
                F.translate(F.lower("n_name"), "ae", "áé").alias("s"),
            )
        )
    )
    legs = []
    for coll in (
        "latin1_general_ci",
        "utf8mb4_general_ci",
        "utf8mb4_bin",
        "binary",
    ):
        keyed = v.select(C.collation_key("s", coll).alias("k"))
        pairs = (
            keyed.alias("a")
            .join(keyed.alias("b"), F.col("a.k") == F.col("b.k"))
            .count()
        )
        legs.append(
            keyed.agg(
                F.lit(coll).alias("coll"),
                F.countDistinct("k").alias("n_groups"),
                F.lit(pairs).cast("long").alias("eq_pairs"),
                F.min("k").alias("first_key"),
                F.max("k").alias("last_key"),
            ).select("coll", "n_groups", "eq_pairs", "first_key", "last_key")
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("coll")


# --------------------------------------------------------------------------
# Collation-aware GROUP BY / COUNT DISTINCT (different_charsets GROUP BY
# leg): grouping case/pad-mangled segment names under the _ci key
# collapses the variants; n_variants counts the raw spellings that fell
# into each group.  min() picks the deterministic representative (MySQL
# returns "first seen" — nondeterministic, so not oracle-comparable).
def _collation_group_oracle() -> str:
    from stonedb_spark.functions.collation import collation_key_sql as K

    return f"""
WITH v AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 2 = 0 THEN UPPER(c_mktsegment) || '  '
              ELSE LOWER(c_mktsegment) END AS seg
  FROM customer
)
SELECT {K("seg")} AS seg_key,
       COUNT(*) AS n,
       COUNT(DISTINCT seg) AS n_variants,
       MIN(RTRIM(seg)) AS rep
FROM v
GROUP BY {K("seg")}
ORDER BY seg_key
"""


@register(
    "agg_collation_group",
    oracle=_collation_group_oracle(),
    doc="GROUP BY / COUNT DISTINCT under the utf8mb4_general_ci collation key",
)
def agg_collation_group(spark, sf_dir):
    from stonedb_spark.functions import collation as C

    c = load_tables(spark, sf_dir)["customer"]
    seg = F.when(
        c["c_custkey"] % 2 == 0, F.concat(F.upper(c["c_mktsegment"]), F.lit("  "))
    ).otherwise(F.lower(c["c_mktsegment"]))
    return (
        c.select("c_custkey", seg.alias("seg"))
        .groupBy(C.collation_key("seg", "utf8mb4_general_ci").alias("seg_key"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("seg").alias("n_variants"),
            F.min(F.rtrim("seg")).alias("rep"),
        )
        .orderBy("seg_key")
    )


# --------------------------------------------------------------------------
# §2.4 statistical aggregates.  The reference implements
# STDDEV/VAR pop/samp as AggregatorStat* (storage/tianmu/optimizer/
# aggregator_advanced.h:40-152) with the textbook sum/sum-of-squares
# formula — reproduced here through exact decimal sums so the result is
# identical under any partitioning (the builtin streaming stddev is not).
@register(
    "agg_stats",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_bal,
       (CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(38,10))) AS DOUBLE)
        - CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS DOUBLE)
          * CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE))
       / CAST(COUNT(*) AS DOUBLE) AS var_pop,
       (CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(38,10))) AS DOUBLE)
        - CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS DOUBLE)
          * CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE))
       / CAST(COUNT(*) - 1 AS DOUBLE) AS var_samp
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    doc="VAR_POP/VAR_SAMP via exact sum/sum-of-squares (AggregatorStat*)",
)
def agg_stats(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    c = t["customer"]
    s1 = F.sum(c["c_acctbal"].cast(DEC)).cast("double")
    s2 = F.sum((c["c_acctbal"] * c["c_acctbal"]).cast(DEC)).cast("double")
    n = F.count(F.lit(1)).cast("double")
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (s1 / n).alias("mean_bal"),
            ((s2 - s1 * s1 / n) / n).alias("var_pop"),
            ((s2 - s1 * s1 / n) / (n - F.lit(1.0))).alias("var_samp"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# §2.4 bit aggregates (BIT_AND/OR/XOR, storage/tianmu/optimizer/
# aggregator_advanced.h:153-211; tests func_bit.test).
@register(
    "agg_bits",
    oracle="""
SELECT o_orderstatus,
       BIT_AND(o_orderkey) AS band,
       BIT_OR(o_orderkey)  AS bor,
       BIT_XOR(o_orderkey) AS bxor,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    doc="BIT_AND / BIT_OR / BIT_XOR grouped aggregates",
)
def agg_bits(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.bit_and(o["o_orderkey"]).alias("band"),
            F.bit_or(o["o_orderkey"]).alias("bor"),
            F.bit_xor(o["o_orderkey"]).alias("bxor"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# §2.4 GROUP_CONCAT with separator + deterministic order + DISTINCT
# (AggregatorGroupConcat, storage/tianmu/optimizer/aggregator_advanced.h:212;
# group_concat.test).  Spark: concat_ws ∘ sort_array ∘ collect_list.
@register(
    "agg_group_concat",
    oracle="""
SELECT n_regionkey,
       STRING_AGG(n_name, '|' ORDER BY n_name) AS nations,
       STRING_AGG(DISTINCT n_name, '|' ORDER BY n_name) AS nations_distinct
FROM nation
GROUP BY n_regionkey
ORDER BY n_regionkey
""",
    doc="GROUP_CONCAT(sep, ORDER BY, DISTINCT) via concat_ws∘sort_array∘collect_list",
)
def agg_group_concat(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    n = t["nation"]
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.concat_ws("|", F.sort_array(F.collect_list("n_name"))).alias("nations"),
            F.concat_ws("|", F.sort_array(F.array_distinct(F.collect_list("n_name")))).alias(
                "nations_distinct"
            ),
        )
        .orderBy("n_regionkey")
    )


# --------------------------------------------------------------------------
# §2.4 COUNT(DISTINCT) battery incl. multi-arg + HAVING
# (aggregation_algorithm.cpp:184 exact distinct; having.test).
@register(
    "agg_count_distinct_having",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey)  AS nd_part,
       COUNT(DISTINCT l_suppkey)  AS nd_supp,
       COUNT(DISTINCT l_orderkey) AS nd_order,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
HAVING COUNT(DISTINCT l_partkey) > 10
ORDER BY l_returnflag
""",
    doc="COUNT(DISTINCT) ×3 + HAVING filter",
)
def agg_count_distinct_having(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    l = t["lineitem"]  # noqa: E741
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("nd_part"),
            F.countDistinct("l_suppkey").alias("nd_supp"),
            F.countDistinct("l_orderkey").alias("nd_order"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("nd_part") > 10)
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# §2.3 θ-join via the binned-range-join operator (scale path for the
# reference's sort join, storage/tianmu/optimizer/joiner_sort.cpp:30).
# The oracle states the plain non-equi semantics; the Spark side proves
# the equi-join binning rewrite is equivalent.
@register(
    "join_theta_range",
    oracle="""
SELECT c.c_custkey AS c_custkey, COUNT(s.s_suppkey) AS n_close,
       CAST(SUM(CAST(s.s_acctbal AS DECIMAL(38,10))) AS DOUBLE) AS sum_close_bal
FROM customer c
JOIN supplier s
  ON s.s_acctbal BETWEEN c.c_acctbal - 50.0 AND c.c_acctbal + 50.0
GROUP BY c.c_custkey
ORDER BY c_custkey
""",
    doc="θ/range join via binned equi-join rewrite (sort-join analog)",
)
def join_theta_range(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    c = t["customer"].select("c_custkey", "c_acctbal")
    s = t["supplier"].select("s_suppkey", "s_acctbal")
    joined = binned_range_join(
        points=s,
        point_col="s_acctbal",
        intervals=c.withColumn("lo", c["c_acctbal"] - 50.0).withColumn(
            "hi", c["c_acctbal"] + 50.0
        ),
        lo_col="lo",
        hi_col="hi",
        bin_width=100.0,
    )
    return (
        joined.groupBy("c_custkey")
        .agg(
            F.count("s_suppkey").alias("n_close"),
            F.sum(F.col("s_acctbal").cast(DEC)).cast("double").alias("sum_close_bal"),
        )
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# §2.3 outer joins + the "null only" anti pattern
# (storage/tianmu/core/parameterized_filter.cpp:1383-1400).
@register(
    "join_left_isnull_anti",
    oracle="""
SELECT c.c_custkey AS c_custkey, c.c_name AS c_name
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'P'
WHERE o.o_orderkey IS NULL
ORDER BY c_custkey
""",
    doc="LEFT JOIN … IS NULL anti-join (null-only shortcut)",
)
def join_left_isnull_anti(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    c, o = t["customer"], t["orders"]
    return (
        c.join(
            o.filter(o["o_orderstatus"] == "P"),
            c["c_custkey"] == o["o_custkey"],
            "left",
        )
        .filter(o["o_orderkey"].isNull())
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# §2.3 FULL OUTER join (JO_FULL, storage/tianmu/optimizer/compile/
# cq_term.h:60) with mismatched key sets on both sides.
@register(
    "join_full_outer",
    oracle="""
SELECT f.key_f AS key_f, p.key_p AS key_p, f.n_f AS n_f, p.n_p AS n_p
FROM (SELECT o_custkey AS key_f, COUNT(*) AS n_f FROM orders
      WHERE o_orderstatus = 'F' GROUP BY o_custkey) f
FULL OUTER JOIN
     (SELECT o_custkey AS key_p, COUNT(*) AS n_p FROM orders
      WHERE o_orderstatus = 'P' GROUP BY o_custkey) p
  ON f.key_f = p.key_p
ORDER BY key_f NULLS LAST, key_p NULLS LAST
""",
    doc="FULL OUTER join with null-extended tuples on both sides",
)
def join_full_outer(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    f = (
        o.filter(o["o_orderstatus"] == "F")
        .groupBy(F.col("o_custkey").alias("key_f"))
        .agg(F.count(F.lit(1)).alias("n_f"))
    )
    p = (
        o.filter(o["o_orderstatus"] == "P")
        .groupBy(F.col("o_custkey").alias("key_p"))
        .agg(F.count(F.lit(1)).alias("n_p"))
    )
    return (
        f.join(p, f["key_f"] == p["key_p"], "full_outer")
        .select("key_f", "key_p", "n_f", "n_p")
        .orderBy(F.asc_nulls_last("key_f"), F.asc_nulls_last("key_p"))
    )


# --------------------------------------------------------------------------
# §2.3 cartesian product (MultiIndex::AddDimension_cross,
# storage/tianmu/index/multi_index.h:43) — bounded dims only.
@register(
    "join_cross_dims",
    oracle="""
SELECT r_name, n_name, COUNT(*) AS n
FROM region CROSS JOIN nation
GROUP BY r_name, n_name
ORDER BY r_name, n_name
""",
    doc="cartesian product of bounded dims + agg",
)
def join_cross_dims(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    return (
        t["region"]
        .crossJoin(B(t["nation"]))
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("r_name", "n_name")
    )


# --------------------------------------------------------------------------
# §2.6 ORDER BY multi-key + LIMIT/OFFSET (top-k; TempTable::
# OrderByAndMaterialize, storage/tianmu/core/temp_table_low.cpp:43;
# ApplyOffset temp_table.cpp:1810).  Spark plans TakeOrderedAndProject.
@register(
    "sort_topk_offset",
    oracle="""
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 15 OFFSET 5
""",
    doc="multi-key ORDER BY + LIMIT/OFFSET (native top-k)",
)
def sort_topk_offset(spark, sf_dir):
    load_tables(spark, sf_dir)
    return spark.sql(
        """
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 15 OFFSET 5
"""
    )


# --------------------------------------------------------------------------
# §2.4/§2.7 SELECT DISTINCT (just_distinct aggregation mode,
# storage/tianmu/optimizer/aggregation_algorithm.cpp:57).
@register(
    "distinct_select",
    oracle="""
SELECT DISTINCT l_returnflag, l_linestatus, l_shipdate
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1995-03-01'
ORDER BY l_returnflag, l_linestatus, l_shipdate
""",
    doc="SELECT DISTINCT multi-column",
)
def distinct_select(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    l = t["lineitem"]  # noqa: E741
    return (
        l.filter(l["l_shipdate"] < F.lit("1995-03-01").cast("timestamp"))
        .select("l_returnflag", "l_linestatus", "l_shipdate")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus", "l_shipdate")
    )


# --------------------------------------------------------------------------
# §2.7 UNION ALL + UNION DISTINCT with global order/limit
# (TempTable::Union, storage/tianmu/core/temp_table.cpp:1318,1344).
@register(
    "union_all_distinct",
    oracle="""
SELECT * FROM (
  SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 4000
  UNION ALL
  SELECT s_nationkey AS k FROM supplier
  UNION
  SELECT n_nationkey AS k FROM nation WHERE n_regionkey < 2
)
ORDER BY k
""",
    doc="UNION ALL + UNION DISTINCT mixed, global order",
)
def union_all_distinct(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    c, s, n = t["customer"], t["supplier"], t["nation"]
    a = c.filter(c["c_acctbal"] > 4000).select(c["c_nationkey"].cast("int").alias("k"))
    b = s.select(s["s_nationkey"].cast("int").alias("k"))
    d = n.filter(n["n_regionkey"] < 2).select(n["n_nationkey"].cast("int").alias("k"))
    # SQL precedence: UNION ALL result union-distinct'd with the third arm.
    return a.union(b).union(d).distinct().orderBy("k")


# --------------------------------------------------------------------------
# §2.7 IN / NOT IN subqueries (in_subquery.test; compiled to O_IN
# descriptors, storage/tianmu/core/query.cpp:1270).
@register(
    "subq_in_notin",
    oracle="""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
  AND s_suppkey NOT IN (SELECT l_suppkey FROM lineitem
                        WHERE l_quantity = 50
                          AND l_shipdate < TIMESTAMP '1995-03-01')
ORDER BY s_suppkey
""",
    doc="IN + NOT IN subqueries (semi/anti join rewrite)",
)
def subq_in_notin(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    s, n, l = t["supplier"], t["nation"], t["lineitem"]  # noqa: E741
    in_keys = n.filter(n["n_regionkey"] == 0).select("n_nationkey")
    notin_keys = l.filter(
        (l["l_quantity"] == 50) & (l["l_shipdate"] < F.lit("1995-03-01").cast("timestamp"))
    ).select("l_suppkey")
    return (
        s.join(B(in_keys), s["s_nationkey"] == in_keys["n_nationkey"], "left_semi")
        .join(notin_keys, s["s_suppkey"] == notin_keys["l_suppkey"], "left_anti")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# §2.7 correlated EXISTS + scalar subquery (SubSelectColumn,
# storage/tianmu/vc/subselect_column.h:39) — Catalyst decorrelates.
@register(
    "subq_correlated",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders o
WHERE o.o_totalprice > 2.0 * (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10)))
                                          AS DOUBLE)
                                     / CAST(COUNT(l_extendedprice) AS DOUBLE)
                              FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = o.o_orderkey AND l2.l_returnflag = 'R')
ORDER BY o_orderkey
""",
    doc="correlated scalar subquery + correlated EXISTS",
)
def subq_correlated(spark, sf_dir):
    load_tables(spark, sf_dir)
    return spark.sql(
        """
SELECT o_orderkey, o_totalprice
FROM orders o
WHERE o.o_totalprice > 2.0 * (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10)))
                                          AS DOUBLE)
                                     / CAST(COUNT(l_extendedprice) AS DOUBLE)
                              FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = o.o_orderkey AND l2.l_returnflag = 'R')
ORDER BY o_orderkey
"""
    )


# --------------------------------------------------------------------------
# §2.7 ALL/ANY comparisons (O_*_ALL/_ANY, storage/tianmu/common/
# common_definitions.h:185-201).  Spark lacks quantified-comparison
# syntax, so both sides use the equivalent MAX/MIN rewrite — exactly
# what Catalyst/MySQL do internally.
@register(
    "subq_all_any",
    oracle="""
SELECT s_suppkey, s_acctbal
FROM supplier
WHERE s_acctbal > (SELECT MAX(c_acctbal) FROM customer WHERE c_nationkey = 0)
   OR s_acctbal < (SELECT MIN(c_acctbal) FROM customer WHERE c_nationkey = 0)
ORDER BY s_suppkey
""",
    doc="> ALL / < ALL quantified comparisons via MAX/MIN rewrite",
)
def subq_all_any(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    s, c = t["supplier"], t["customer"]
    bounds = c.filter(c["c_nationkey"] == 0).agg(
        F.max("c_acctbal").alias("mx"), F.min("c_acctbal").alias("mn")
    )
    return (
        s.crossJoin(B(bounds))
        .filter((s["s_acctbal"] > F.col("mx")) | (s["s_acctbal"] < F.col("mn")))
        .select("s_suppkey", "s_acctbal")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# §2.8 CASE/WHEN control flow (case_function.test, flow_control_function.test).
@register(
    "case_when_buckets",
    oracle="""
SELECT CASE WHEN o_totalprice < 20000 THEN 'small'
            WHEN o_totalprice < 50000 THEN 'medium'
            WHEN o_totalprice < 100000 THEN 'large'
            ELSE 'huge' END AS bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE) AS total
FROM orders
GROUP BY bucket
ORDER BY bucket
""",
    doc="CASE WHEN bucketing + agg",
)
def case_when_buckets(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    bucket = (
        F.when(o["o_totalprice"] < 20000, "small")
        .when(o["o_totalprice"] < 50000, "medium")
        .when(o["o_totalprice"] < 100000, "large")
        .otherwise("huge")
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(o["o_totalprice"].cast(DEC)).cast("double").alias("total"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Beyond parity (SURVEY §2.5): window functions — rank / lag / running
# sum per partition.  The reference routes these to MySQL (none in 5.7);
# Spark Window covers them natively.
@register(
    "window_rank_running",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROW_NUMBER() OVER w AS rn,
       RANK() OVER w AS rnk,
       LAG(o_orderkey) OVER w AS prev_order,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS running_total
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, rn
LIMIT 500
""",
    doc="window functions: row_number/rank/lag/running sum (beyond reference)",
)
def window_rank_running(spark, sf_dir):
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    o = t["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.lag("o_orderkey").over(w).alias("prev_order"),
            F.sum(o["o_totalprice"].cast(DEC)).over(wsum).cast("double").alias("running_total"),
        )
        .orderBy("o_custkey", "rn")
        .limit(500)
    )


# --------------------------------------------------------------------------
# Beyond parity: ROLLUP (the reference routes WITH ROLLUP to MySQL,
# storage/tianmu/core/query_compile.cpp:70-74; Spark does it natively).
@register(
    "rollup_region_nation",
    oracle="""
SELECT r_name, n_name,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(38,10))) AS DOUBLE) AS total_bal,
       COUNT(*) AS n
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name NULLS LAST, n_name NULLS LAST
""",
    doc="GROUP BY ROLLUP hierarchy totals (beyond reference)",
)
def rollup_region_nation(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    s, n, r = t["supplier"], t["nation"], t["region"]
    return (
        s.join(B(n), s["s_nationkey"] == n["n_nationkey"])
        .join(B(r), n["n_regionkey"] == r["r_regionkey"])
        .rollup("r_name", "n_name")
        .agg(
            F.sum(s["s_acctbal"].cast(DEC)).cast("double").alias("total_bal"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(F.asc_nulls_last("r_name"), F.asc_nulls_last("n_name"))
    )


# --------------------------------------------------------------------------
# Beyond parity: INTERSECT / EXCEPT (absent from the reference — MySQL 5.7
# lacks them, SURVEY §2.7; Spark has both natively).  Customers with
# orders in BOTH years minus a name-pattern exclusion.
@register(
    "set_intersect_except",
    oracle="""
(SELECT DISTINCT o_custkey AS custkey FROM orders
 WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
 INTERSECT
 SELECT DISTINCT o_custkey FROM orders
 WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
EXCEPT
SELECT c_custkey FROM customer WHERE c_name LIKE '%11%'
ORDER BY custkey
""",
    doc="INTERSECT + EXCEPT set operations (beyond reference)",
)
def set_intersect_except(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    o, c = t["orders"], t["customer"]
    y96 = (
        o.filter(
            (o["o_orderdate"] >= F.lit("1996-01-01").cast("timestamp"))
            & (o["o_orderdate"] < F.lit("1997-01-01").cast("timestamp"))
        )
        .select(o["o_custkey"].alias("custkey"))
        .distinct()
    )
    y97 = (
        o.filter(
            (o["o_orderdate"] >= F.lit("1997-01-01").cast("timestamp"))
            & (o["o_orderdate"] < F.lit("1998-01-01").cast("timestamp"))
        )
        .select(o["o_custkey"].alias("custkey"))
        .distinct()
    )
    excl = c.filter(c["c_name"].like("%11%")).select(c["c_custkey"].alias("custkey"))
    return y96.intersect(y97).exceptAll(excl).orderBy("custkey")


# --------------------------------------------------------------------------
# Multiplicity-preserving set ops (bag semantics): INTERSECT ALL keeps
# min(count_l, count_r) copies, EXCEPT ALL subtracts counts — the
# variants MySQL 5.7 lacks entirely and Spark ships natively.
@register(
    "set_ops_all",
    oracle="""
SELECT custkey FROM (
  (SELECT o_custkey AS custkey FROM orders
   WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
   INTERSECT ALL
   SELECT o_custkey FROM orders
   WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE o_orderkey % 5 = 0
)
ORDER BY custkey
""",
    doc="INTERSECT ALL / EXCEPT ALL bag semantics (beyond reference)",
)
def set_ops_all(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    y96 = o.filter(
        (o["o_orderdate"] >= F.lit("1996-01-01").cast("timestamp"))
        & (o["o_orderdate"] < F.lit("1997-01-01").cast("timestamp"))
    ).select(o["o_custkey"].alias("custkey"))
    y97 = o.filter(
        (o["o_orderdate"] >= F.lit("1997-01-01").cast("timestamp"))
        & (o["o_orderdate"] < F.lit("1998-01-01").cast("timestamp"))
    ).select(o["o_custkey"].alias("custkey"))
    excl = o.filter(o["o_orderkey"] % 5 == 0).select(o["o_custkey"].alias("custkey"))
    return y96.intersectAll(y97).exceptAll(excl).orderBy("custkey")


# --------------------------------------------------------------------------
# §4.12 SELECT ROUGHLY analog — the reference's approximate query mode
# answers from Knowledge-Grid metadata only (TempTable::RoughMaterialize,
# storage/tianmu/core/temp_table_roughquery.cpp:32).  Spark's analog is
# sketch-based approximate aggregation (HLL++/quantile sketches): merges
# are associative, shuffle carries fixed-size sketches, not rows.  No
# SQL oracle — approximate results differ by sketch implementation; the
# driver applies its rows-only check.
@register(
    "agg_approx_rough",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS nd_ok,
       TRUE AS p50_ok,
       TRUE AS p95_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="approximate aggregates (HLL++ distinct, quantile sketch) verified "
    "against their published error bounds inside the query",
)
def agg_approx_rough(spark, sf_dir):
    """Sketch values can't hash-match an exact engine, so the DRIVER-
    comparable output is (exact values, bounds verdicts): the exact
    count/distinct computed alongside, plus booleans asserting the
    sketches landed inside their published error — HLL++ relative error
    ≤ 5×rsd, percentile_approx rank error ≤ n/accuracy (checked by the
    exact rank window of the approximate value).  The oracle emits the
    same exact columns and literal TRUEs: the hash matches iff every
    sketch is in-bounds.  (Deterministic: both sketches are
    deterministic functions of the input.)"""
    t = load_tables(spark, sf_dir)
    l = t["lineitem"]  # noqa: E741
    agg = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), 10000).alias("ap50"),
        F.percentile_approx("l_extendedprice", F.lit(0.95), 10000).alias("ap95"),
    )
    # exact ranks of the approximate percentile values, per group
    ranked = (
        l.join(F.broadcast(agg), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(F.col("l_extendedprice") < F.col("ap50"), 1).otherwise(0)).alias("r50_lo"),
            F.sum(F.when(F.col("l_extendedprice") <= F.col("ap50"), 1).otherwise(0)).alias("r50_hi"),
            F.sum(F.when(F.col("l_extendedprice") < F.col("ap95"), 1).otherwise(0)).alias("r95_lo"),
            F.sum(F.when(F.col("l_extendedprice") <= F.col("ap95"), 1).otherwise(0)).alias("r95_hi"),
        )
    )
    tol = F.col("n") / F.lit(10000) + F.lit(1)
    return (
        agg.join(ranked, "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                <= F.greatest(F.lit(5), F.lit(0.25) * F.col("exact_orders"))
            ).alias("nd_ok"),
            (
                (F.col("r50_lo") - tol <= F.lit(0.5) * F.col("n"))
                & (F.lit(0.5) * F.col("n") <= F.col("r50_hi") + tol)
            ).alias("p50_ok"),
            (
                (F.col("r95_lo") - tol <= F.lit(0.95) * F.col("n"))
                & (F.lit(0.95) * F.col("n") <= F.col("r95_hi") + tol)
            ).alias("p95_ok"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Beyond parity: sessionization (gaps-and-islands) over the events table.
# Pure window functions: a session starts when
# the gap to the previous event of the same user exceeds 30 minutes;
# session id = running count of starts.  At scale this is one shuffle on
# user_id; state never materializes on the driver.
@register(
    "events_sessionize",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, value,
         CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS total_value
FROM numbered
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
""",
    doc="sessionization: 30-min-gap sessions per user via windowed gaps-and-islands",
)
def events_sessionize(spark, sf_dir):
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    e = t["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_start = F.when(
        prev.isNull() | (F.col("ts") > prev + F.expr("INTERVAL 30 MINUTE")), 1
    ).otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        e.select("user_id", "ts", "event_id", "value", is_start.alias("is_start"))
        .select(
            "user_id", "ts", "value", F.sum("is_start").over(wsum).alias("session_seq")
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


# --------------------------------------------------------------------------
# §2.1 point lookup by primary key (ha_tianmu::index_read →
# TianmuTableIndex::GetRowByKey, storage/tianmu/index/tianmu_table_index.h:61).
# In a columnar lakehouse the "index" is layout: the equality predicate is
# pushed to the parquet scan (PushedFilters) and min/max row-group stats
# prune everything but the matching group — filter, not B-tree.
@register(
    "point_lookup",
    oracle="""
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
FROM orders WHERE o_orderkey = 42
""",
    doc="point lookup by primary key — pushed equality filter",
)
def point_lookup(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    return o.filter(o["o_orderkey"] == 42).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )


# --------------------------------------------------------------------------
# Composite-PK point lookup (composite_primary_key.test, in_withpk.test):
# lineitem's key is (l_orderkey, l_linenumber) — both equality predicates
# reach the scan as a conjunction (plan-gated in test_plans.py), so
# row-group pruning uses both columns' stats, the layout analog of the
# reference's composite TianmuTableIndex key pack
# (storage/tianmu/index/tianmu_table_index.h:58).
@register(
    "point_lookup_composite",
    oracle="""
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
FROM lineitem WHERE l_orderkey = 7 AND l_linenumber = 2
""",
    doc="composite-PK point lookup — both key equalities pushed to the scan",
)
def point_lookup_composite(spark, sf_dir):
    l = load_tables(spark, sf_dir)["lineitem"]  # noqa: E741
    return l.filter((l["l_orderkey"] == 7) & (l["l_linenumber"] == 2)).select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice"
    )


# --------------------------------------------------------------------------
# §2.4 metadata-only aggregates (aggregation_algorithm.cpp:158-207: lone
# COUNT(*), MIN/MAX answered from DPN stats without touching data).  Spark
# analog: parquet aggregate pushdown (spark.sql.parquet.aggregatePushdown,
# enabled in session.py) answers these from row-group footers.
@register(
    "agg_metadata_fastpath",
    oracle="""
SELECT COUNT(*) AS n_rows,
       MIN(l_shipdate) AS min_ship, MAX(l_shipdate) AS max_ship,
       MIN(l_orderkey) AS min_key,  MAX(l_orderkey) AS max_key
FROM lineitem
""",
    doc="metadata-only COUNT(*)/MIN/MAX — parquet footer aggregate pushdown",
)
def agg_metadata_fastpath(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    l = t["lineitem"]  # noqa: E741
    return l.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )


# --------------------------------------------------------------------------
# Skew-salted join (operators/skew.py): result provably identical to the
# plain equi-join — the oracle IS the plain join.  8× salt spread on the
# orders→customer key; deterministic salt (hash, not rand) so AQE
# re-plans / task retries cannot lose or duplicate rows.
@register(
    "join_skew_salted",
    oracle="""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
    doc="salted equi-join (8 salts, deterministic) ≡ plain join",
)
def join_skew_salted(spark, sf_dir):
    from stonedb_spark.operators.skew import salted_join

    t = load_tables(spark, sf_dir)
    o, c = t["orders"], t["customer"]
    j = salted_join(
        o.withColumnRenamed("o_custkey", "custkey"),
        c.withColumnRenamed("c_custkey", "custkey"),
        on="custkey",
        n_salts=8,
        disambiguator="o_orderkey",
    )
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# PIVOT — absent from MySQL 5.7 / the reference entirely (beyond).
# Spark's native groupBy().pivot() with an EXPLICIT value list: without
# it Spark runs an extra distinct scan to discover columns, and the
# plan stops being statically known — never do that at 100 TB.  The
# oracle spells the same rotation as portable CASE aggregates; sums go
# through DECIMAL(38,10) (exact, order-independent).
@register(
    "pivot_event_type_month",
    oracle="""
SELECT CAST(EXTRACT(month FROM ts) AS INT) AS month,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END)    AS click_n,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END)     AS view_n,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_n,
       CAST(SUM(CASE WHEN event_type = 'purchase'
                THEN CAST(value AS DECIMAL(38,10)) END) AS DOUBLE) AS purchase_value
FROM events
GROUP BY month
ORDER BY month
""",
    doc="PIVOT rotation with explicit value list; CASE-aggregate oracle",
)
def pivot_event_type_month(spark, sf_dir):
    e = load_tables(spark, sf_dir)["events"]
    wide = (
        e.select(
            F.month("ts").alias("month"),
            "event_type",
            F.col("value").cast("decimal(38,10)").alias("v"),
        )
        .groupBy("month")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("val"),
        )
    )
    return wide.select(
        "month",
        F.col("click_n").alias("click_n"),
        F.col("view_n").alias("view_n"),
        F.col("purchase_n").alias("purchase_n"),
        F.col("purchase_val").cast("double").alias("purchase_value"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# Window analytics battery #2 (beyond the reference — MySQL 5.7 has no
# window functions at all): ranking distributions, value navigation,
# and bounded frames.  percent_rank/cume_dist are rank-ratio rationals
# — identical integer inputs → bit-identical doubles on both engines.
# Frame sums go through DECIMAL(38,10).
@register(
    "window_frames_nav",
    oracle="""
SELECT o_custkey, o_orderkey,
       DENSE_RANK()   OVER w AS drnk,
       LEAD(o_orderkey)  OVER w AS next_order,
       PERCENT_RANK() OVER w AS prk,
       CUME_DIST()    OVER w AS cd,
       FIRST_VALUE(o_orderkey) OVER w AS first_ord,
       NTH_VALUE(o_orderkey, 2) OVER w AS second_ord,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS sliding3,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                  RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS range1k
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
LIMIT 500
""",
    doc="dense_rank/lead/percent_rank/cume_dist/first/nth + ROWS and RANGE frames",
)
def window_frames_nav(spark, sf_dir):
    from pyspark.sql.window import Window

    o = load_tables(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    rows3 = w.rowsBetween(-2, Window.currentRow)
    rng = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rangeBetween(-1000, Window.currentRow)
    )
    dec = F.col("o_totalprice").cast("decimal(38,10)")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.lead("o_orderkey").over(w).alias("next_order"),
            F.percent_rank().over(w).alias("prk"),
            F.cume_dist().over(w).alias("cd"),
            F.first("o_orderkey").over(w).alias("first_ord"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_ord"),
            F.sum(dec).over(rows3).cast("double").alias("sliding3"),
            F.sum(dec).over(rng).cast("double").alias("range1k"),
        )
        .orderBy("o_custkey", "o_orderkey")
        .limit(500)
    )


# ---------------------------------------------------------------------------
# Groupwise top-k + per-group mode: top-3 orders per customer segment
# by price, and each segment's most frequent order priority.  MODE()
# tie-breaking differs between engines, so the mode is computed as a
# deterministic count/row_number pipeline (highest count, then
# lexicographically smallest value) on BOTH sides.
@register(
    "window_topk_per_group",
    oracle="""
WITH r AS (
  SELECT c_mktsegment, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders JOIN customer ON o_custkey = c_custkey
),
m AS (
  SELECT c_mktsegment, o_orderpriority, COUNT(*) AS cnt
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY 1, 2
),
mm AS (
  SELECT c_mktsegment, o_orderpriority,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY cnt DESC, o_orderpriority) AS mrk
  FROM m
)
SELECT r.c_mktsegment, r.rk, r.o_orderkey, r.o_totalprice,
       mm.o_orderpriority AS segment_mode_priority
FROM r JOIN mm ON r.c_mktsegment = mm.c_mktsegment AND mm.mrk = 1
WHERE r.rk <= 3
ORDER BY r.c_mktsegment, r.rk
""",
    doc="top-3 per group + deterministic per-group mode (count+row_number)",
)
def window_topk_per_group(spark, sf_dir):
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    oc = t["orders"].join(
        t["customer"], F.col("o_custkey") == F.col("c_custkey")
    )
    wr = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    top3 = (
        oc.select(
            "c_mktsegment", "o_orderkey", "o_totalprice",
            F.row_number().over(wr).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )
    wm = Window.partitionBy("c_mktsegment").orderBy(
        F.col("cnt").desc(), F.col("o_orderpriority").asc()
    )
    mode = (
        oc.groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "c_mktsegment", "o_orderpriority",
            F.row_number().over(wm).alias("mrk"),
        )
        .filter(F.col("mrk") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("segment_mode_priority"),
        )
    )
    return (
        top3.join(mode, "c_mktsegment")
        .select(
            "c_mktsegment", "rk", "o_orderkey", "o_totalprice",
            "segment_mode_priority",
        )
        .orderBy("c_mktsegment", "rk")
    )


# ---------------------------------------------------------------------------
# Equi-width histogram: 20 buckets over o_totalprice, bounds from a
# 1-row min/max broadcast (the same scalar-broadcast shape as q11's
# threshold).  Bucket arithmetic is identical integer/double ops on
# both engines; the max value is clamped into the last bucket.
@register(
    "agg_histogram",
    oracle="""
WITH b AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
SELECT LEAST(CAST(FLOOR((o_totalprice - b.lo) / ((b.hi - b.lo) / 20.0)) AS INT), 19) AS bucket,
       COUNT(*) AS n
FROM orders, b
GROUP BY 1 ORDER BY 1
""",
    doc="20-bucket equi-width histogram, scalar min/max broadcast",
)
def agg_histogram(spark, sf_dir):
    o = load_tables(spark, sf_dir)["orders"]
    b = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / 20.0
    bucket = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("int"),
        F.lit(19),
    )
    return (
        o.crossJoin(F.broadcast(b))
        .groupBy(bucket.cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Salted two-phase aggregation (operators/skew.py salted_agg): per
# event_type (5 hot keys over the whole table — maximal skew) count +
# decimal sum, split across 8 salts then re-aggregated.  Result is
# identical to the direct aggregation (associativity), which is what
# the oracle states.
@register(
    "agg_salted_skew",
    oracle="""
SELECT event_type,
       COUNT(*) AS count_events,
       CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    doc="two-phase salted aggregation == direct agg (5 hot keys, 8 salts)",
)
def agg_salted_skew(spark, sf_dir):
    from stonedb_spark.operators.skew import salted_agg

    e = load_tables(spark, sf_dir)["events"].select(
        "event_type",
        F.lit(1).alias("events"),
        F.col("value").cast("decimal(38,10)").alias("value"),
    )
    out = salted_agg(
        e,
        keys=["event_type"],
        aggs={"events": "count", "value": "sum"},
        n_salts=8,
        salt_source="value",
    )
    return out.select(
        "event_type",
        F.col("count_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Beyond parity: CUBE + GROUPING() ids (MySQL 5.7 has only WITH ROLLUP —
# the reference routes even that to MySQL, query_compile.cpp:70-74;
# Spark computes all four grouping sets in ONE pass with partial aggs).
# The grouping_id bitmask disambiguates "NULL because aggregated away"
# from a genuine NULL key — the standard-SQL answer to the rollup
# placeholder problem.
@register(
    "agg_grouping_sets",
    oracle="""
SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
    doc="CUBE over (status, priority) with GROUPING() bitmask (beyond reference)",
)
def agg_grouping_sets(spark, sf_dir):
    o = load_tables(spark, sf_dir)["orders"]
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(o["o_totalprice"].cast(DEC)).cast("double").alias("total_price"),
        )
        .select("gid", "o_orderstatus", "o_orderpriority", "n", "total_price")
        .orderBy(
            "gid",
            F.asc_nulls_first("o_orderstatus"),
            F.asc_nulls_first("o_orderpriority"),
        )
    )


# --------------------------------------------------------------------------
# Beyond parity: Pearson correlation + covariance per group, computed
# from DECIMAL-EXACT moment sums.  Built-in corr()/covar_samp() fold
# doubles in partition order — nondeterministic across layouts; here the
# five moments (Σx, Σy, Σxy, Σx², Σy²) are exact DECIMAL partials
# (order-independent), and only the FINAL closed-form formula runs in
# double — one expression shape over identical inputs is deterministic
# IEEE on any engine, so the result hashes identically everywhere.
@register(
    "agg_corr_moments",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
                  * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))
                  * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_discount AS DECIMAL(18,4))
                  * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (n * sxy - sx * sy) / (n * (n - 1)) AS covar_samp,
       (n * sxy - sx * sy)
         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr
FROM m ORDER BY l_returnflag
""",
    doc="per-group covariance/correlation from decimal-exact moments (beyond reference)",
)
def agg_corr_moments(spark, sf_dir):
    l = load_tables(spark, sf_dir)["lineitem"]  # noqa: E741
    d18 = "decimal(18,4)"
    x = F.col("l_quantity").cast(d18)
    y = F.col("l_discount").cast(d18)
    m = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        "l_returnflag",
        "n",
        (num / (n * (n - F.lit(1)))).alias("covar_samp"),
        (
            num
            / (
                F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("corr"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# SQL-text parity: ONE SQL string executed verbatim by BOTH engines —
# the reference's user surface is SQL text over named tables
# (ha_my_tianmu.h:28), and this entry proves a migrating user's query
# runs through stonedb_spark.catalog.sql() unchanged wherever MySQL 5.7,
# Spark SQL and ANSI agree (OR-tree predicate, grouped HAVING, CASE
# conditional count — the orquery.test / having.test shapes).
_SHARED_SQL_TEXT = """
SELECT o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f
FROM orders
WHERE o_custkey % 7 = 1 OR o_orderstatus = 'P'
GROUP BY o_orderpriority
HAVING COUNT(*) > 10
ORDER BY o_orderpriority
"""


@register(
    "sql_text_shared",
    oracle=_SHARED_SQL_TEXT,
    doc="one SQL string, zero translation: spark.sql == DuckDB == (MySQL dialect subset)",
)
def sql_text_shared(spark, sf_dir):
    from stonedb_spark.catalog import sql as run_sql

    return run_sql(spark, _SHARED_SQL_TEXT, sf_dir)


# --------------------------------------------------------------------------
# Beyond parity: per-group ordinary-least-squares fit (slope/intercept/
# R²) from the same DECIMAL-exact moment partials as agg_corr_moments —
# the one-pass distributed regression every metrics warehouse needs
# (built-in regr_slope folds doubles in partition order and is layout-
# nondeterministic; exact moments + one closed-form double expression
# are not).
@register(
    "agg_ols_regression",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)
                  * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)
                  * CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       ((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n) / 100.0
         AS intercept,
       ((n * sxy - sx * sy) * (n * sxy - sx * sy))
         / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
FROM m ORDER BY l_returnflag
""",
    doc="per-group OLS slope/intercept/R2 from integer-cent exact moments (beyond reference)",
)
def agg_ols_regression(spark, sf_dir):
    """One-pass distributed OLS.  Moments accumulate as INTEGER cents
    (the 2-decimal money/quantity columns are exact in cent units;
    products <= 1e14 fit int64 per element, sums go through DECIMAL/
    HUGEINT so nothing overflows or rounds) — built-in regr_slope folds
    doubles in partition order and is layout-nondeterministic.  The
    closed forms run in double over identical integers on both engines,
    so results hash identically; slope and R2 are scale-invariant in
    cent units, the intercept divides the factor back out."""
    l = load_tables(spark, sf_dir)["lineitem"]  # noqa: E741
    xc = F.round(F.col("l_quantity") * 100).cast("long")
    yc = F.round(F.col("l_extendedprice") * 100).cast("long")
    dec = "decimal(38,0)"
    m = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xc.cast(dec)).cast("double").alias("sx"),
        F.sum(yc.cast(dec)).cast("double").alias("sy"),
        F.sum((xc * yc).cast(dec)).cast("double").alias("sxy"),
        F.sum((xc * xc).cast(dec)).cast("double").alias("sxx"),
        F.sum((yc * yc).cast(dec)).cast("double").alias("syy"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    return m.select(
        "l_returnflag",
        "n",
        slope.alias("slope"),
        (((F.col("sy") - slope * F.col("sx")) / n) / 100.0).alias("intercept"),
        ((num * num) / (den * (n * F.col("syy") - F.col("sy") * F.col("sy")))).alias(
            "r2"
        ),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# Sargable date predicates: MySQL users write YEAR(col)=1996 or
# DATE(col)='1996-03-01' — functions over the column, which no engine
# can push into a columnar scan (the reference's Knowledge Grid has the
# same blindness: pack min/max can't see through YEAR()).  The engine
# rule is to rewrite them as half-open ranges over the raw column; this
# battery computes both forms and proves them equal, and
# tests/test_plans.py gates that the RANGE form reaches the parquet
# scan as pushed filters.
@register(
    "pred_sargable_dates",
    oracle="""
SELECT 'year_fn' AS form, COUNT(*) AS n
FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
UNION ALL
SELECT 'year_range', COUNT(*)
FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
UNION ALL
SELECT 'month_fn', COUNT(*)
FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996
              AND EXTRACT(month FROM o_orderdate) = 3
UNION ALL
SELECT 'month_range', COUNT(*)
FROM orders WHERE o_orderdate >= TIMESTAMP '1996-03-01'
              AND o_orderdate < TIMESTAMP '1996-04-01'
ORDER BY form
""",
    doc="YEAR()/DATE() predicates vs their sargable range rewrites (equal counts; range form plan-gated)",
)
def pred_sargable_dates(spark, sf_dir):
    o = load_tables(spark, sf_dir)["orders"]
    d = o["o_orderdate"]

    def cnt(label, cond):
        return (
            o.filter(cond)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(label).alias("form"), "n")
        )

    ts = lambda s: F.lit(s).cast("timestamp")  # noqa: E731
    return (
        cnt("year_fn", F.year(d) == 1996)
        .unionByName(cnt("year_range", (d >= ts("1996-01-01")) & (d < ts("1997-01-01"))))
        .unionByName(cnt("month_fn", (F.year(d) == 1996) & (F.month(d) == 3)))
        .unionByName(cnt("month_range", (d >= ts("1996-03-01")) & (d < ts("1996-04-01"))))
        .orderBy("form")
    )


# ---------------------------------------------------------------------------
# Window distribution functions (PERCENT_RANK / CUME_DIST / NTILE /
# NTH_VALUE) — rounding out the analytic family beyond rank/frames/topk.
# Order is a unique total order (c_acctbal, c_custkey) so every engine
# agrees on ties; NTH_VALUE's frame is spelled explicitly because the
# two engines' defaults differ (RANGE vs ROWS matters only under ties,
# but explicit is hash-safe).  Partition-parallel, one shuffle on the
# segment key.
@register(
    "window_distribution_funcs",
    oracle="""
SELECT c_custkey,
       c_mktsegment,
       PERCENT_RANK() OVER w AS pr,
       CUME_DIST() OVER w AS cd,
       NTILE(4) OVER w AS quartile,
       NTH_VALUE(c_custkey, 2) OVER (
         PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_poorest
FROM customer
WHERE c_custkey <= 500
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
ORDER BY c_mktsegment, c_acctbal, c_custkey
""",
    doc="PERCENT_RANK/CUME_DIST/NTILE/NTH_VALUE over a deterministic total order",
)
def window_distribution_funcs(spark, sf_dir):
    from pyspark.sql import Window

    c = load_tables(spark, sf_dir)["customer"].filter(F.col("c_custkey") <= 500)
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.nth_value("c_custkey", 2).over(wrows).alias("second_poorest"),
    ).orderBy("c_mktsegment", "c_acctbal", "c_custkey")


# ---------------------------------------------------------------------------
# Prepared-statement surface (MySQL PREPARE/EXECUTE with ? markers —
# the way every migrated application actually issues queries).  The
# statement text below runs through catalog.sql with POSITIONAL binds;
# Spark's parameterized-SQL path substitutes typed literals inside the
# parser, so the bound plan is identical to the inlined one (Catalyst
# still constant-folds and pushes the predicate).  The oracle is the
# same statement with the parameters inlined, which is exactly MySQL's
# EXECUTE semantics.
_PREPARED_STMT = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE) AS total
FROM orders
WHERE o_orderdate >= CAST(? AS DATE) AND o_orderdate < CAST(? AS DATE)
  AND o_totalprice > ?
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "sql_params_bound",
    oracle=_PREPARED_STMT.replace("CAST(? AS DATE)", "CAST('1996-01-01' AS DATE)", 1)
    .replace("CAST(? AS DATE)", "CAST('1997-01-01' AS DATE)", 1)
    .replace("> ?", "> 1000.0", 1),
    doc="MySQL PREPARE/EXECUTE analog: positional ? binds via parameterized SQL",
)
def sql_params_bound(spark, sf_dir):
    from stonedb_spark.catalog import sql as run_sql

    return run_sql(
        spark, _PREPARED_STMT, sf_dir, args=["1996-01-01", "1997-01-01", 1000.0]
    )


# ---------------------------------------------------------------------------
# UNPIVOT — the inverse rotation (Spark's native unpivot/stack verb vs
# DuckDB's UNPIVOT): melt per-region wide columns back into rows.  The
# wide frame is built identically on both sides from nation, then
# melted; exact integer measures.
@register(
    "pivot_unpivot_melt",
    oracle="""
WITH wide AS (
  SELECT n_regionkey,
         COUNT(*) AS n_nations,
         CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
         CAST(MAX(n_nationkey) AS BIGINT) AS key_max
  FROM nation GROUP BY n_regionkey
)
SELECT n_regionkey, metric, val
FROM wide
UNPIVOT (val FOR metric IN (n_nations, key_sum, key_max))
ORDER BY n_regionkey, metric
""",
    doc="UNPIVOT/melt rotation back to long form (stack verb)",
)
def pivot_unpivot_melt(spark, sf_dir):
    n = load_tables(spark, sf_dir)["nation"]
    wide = n.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.sum("n_nationkey").alias("key_sum"),
        F.max("n_nationkey").cast("long").alias("key_max"),
    )
    return wide.unpivot(
        ["n_regionkey"],
        ["n_nations", "key_sum", "key_max"],
        "metric",
        "val",
    ).orderBy("n_regionkey", "metric")


# ---------------------------------------------------------------------------
# Point-in-time (SCD2) dimension lookup: enrich each purchase event
# with the dimension version valid AT its timestamp — the temporal-join
# idiom every warehouse with slowly-changing dimensions runs.  The
# dimension here is the SCD2 interval table derived from the event
# stream itself (same construction as Q(events_scd2_intervals)); the
# lookup is an equi-join on user plus an interval predicate.  At scale
# the user equi-key carries the shuffle; the interval check is a
# residual filter, not a range cross-join (same discipline as the
# interval-overlap join).
@register(
    "join_scd2_pointintime",
    oracle="""
WITH changes AS (
  SELECT user_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ver
  FROM events WHERE event_type = 'signup'
),
dim AS (
  SELECT user_id, ver, value AS dim_value, ts AS valid_from,
         COALESCE(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ver),
                  TIMESTAMP '9999-12-31') AS valid_to
  FROM changes
),
facts AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT f.event_id, f.user_id, f.ts AS fact_ts, d.ver AS dim_ver, d.dim_value
FROM facts f JOIN dim d
  ON f.user_id = d.user_id AND f.ts >= d.valid_from AND f.ts < d.valid_to
ORDER BY f.event_id
""",
    doc="SCD2 point-in-time lookup: equi-join on key + interval residual",
)
def join_scd2_pointintime(spark, sf_dir):
    from pyspark.sql import Window

    e = load_tables(spark, sf_dir)["events"]
    wv = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = e.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", "value", F.row_number().over(wv).cast("long").alias("ver")
    )
    wl = Window.partitionBy("user_id").orderBy("ver")
    dim = changes.select(
        "user_id",
        "ver",
        F.col("value").alias("dim_value"),
        F.col("ts").alias("valid_from"),
        F.coalesce(
            F.lead("ts").over(wl), F.lit("9999-12-31").cast("timestamp")
        ).alias("valid_to"),
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("fact_ts")
    )
    return (
        facts.join(dim, "user_id")
        .filter(
            (F.col("fact_ts") >= F.col("valid_from"))
            & (F.col("fact_ts") < F.col("valid_to"))
        )
        .select("event_id", "user_id", "fact_ts", F.col("ver").alias("dim_ver"), "dim_value")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# Time-interval RANGE frame: per-user rolling 1-hour event count and
# value sum — RANGE BETWEEN INTERVAL in DuckDB, the micros-cast
# rangeBetween equivalent in Spark (Spark's RANGE frames are numeric,
# so the ordering key is unix_micros; identical peer semantics — ties
# by value are included on both engines).  DECIMAL-exact value sums.
@register(
    "window_range_time_frame",
    oracle="""
SELECT event_id, user_id, ts,
       COUNT(*) OVER w AS n_1h,
       CAST(SUM(CAST(value AS DECIMAL(38,10))) OVER w AS DOUBLE) AS sum_1h
FROM events
WHERE user_id <= 40
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY user_id, ts, event_id
""",
    doc="rolling 1-hour RANGE frame per user (interval frame, exact sums)",
)
def window_range_time_frame(spark, sf_dir):
    from pyspark.sql import Window

    e = load_tables(spark, sf_dir)["events"].filter(F.col("user_id") <= 40)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            "ts",
            F.count(F.lit(1)).over(w).alias("n_1h"),
            F.sum(F.col("value").cast("decimal(38,10)"))
            .over(w)
            .cast("double")
            .alias("sum_1h"),
        )
        .orderBy("user_id", "ts", "event_id")
    )


# ---------------------------------------------------------------------------
# LATERAL join (correlated derived table with per-row LIMIT): top-2
# customers by balance for every nation — the SQL-text idiom migrating
# apps use where window functions are the engine-native plan.  Both
# engines run the SAME statement text through their lateral support;
# Spark decorrelates it to a ranked window internally.
_LATERAL_SQL = """
SELECT n.n_name AS n_name, t.c_custkey AS c_custkey, t.c_acctbal AS c_acctbal
FROM nation n,
LATERAL (
  SELECT c_custkey, c_acctbal
  FROM customer
  WHERE c_nationkey = n.n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 2
) t
ORDER BY n_name, c_acctbal DESC, c_custkey
"""


@register(
    "join_lateral_topn",
    oracle=_LATERAL_SQL,
    doc="LATERAL correlated top-N per outer row (same SQL text both engines)",
)
def join_lateral_topn(spark, sf_dir):
    from stonedb_spark.catalog import sql as run_sql

    return run_sql(spark, _LATERAL_SQL, sf_dir)


# ---------------------------------------------------------------------------
# WITH RECURSIVE (Spark 4.1 + DuckDB, same statement text): walk each
# customer's order chain in date order accumulating a DECIMAL-exact
# running spend.  Chains are linear (rn -> rn+1 successor links), so
# the recursion emits exactly one row per order — no path explosion —
# and terminates at each chain's end; depth is bounded by the max
# orders per customer (well under engines' recursion limits).  The
# reference routes recursive queries to MySQL 8-style CTEs; here BOTH
# engines execute the identical text.
_RECURSIVE_SQL = """
WITH RECURSIVE ord AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders WHERE o_custkey <= 100
),
chain AS (
  SELECT o_custkey, o_orderkey, rn,
         CAST(o_totalprice AS DECIMAL(38,10)) AS cum
  FROM ord WHERE rn = 1
  UNION ALL
  SELECT o.o_custkey, o.o_orderkey, o.rn,
         CAST(c.cum + CAST(o.o_totalprice AS DECIMAL(30,10)) AS DECIMAL(38,10))
  FROM chain c JOIN ord o
    ON o.o_custkey = c.o_custkey AND o.rn = c.rn + 1
)
SELECT o_custkey AS custkey, o_orderkey AS orderkey, CAST(rn AS BIGINT) AS depth,
       CAST(cum AS DOUBLE) AS cum_spend
FROM chain
ORDER BY custkey, depth
"""


@register(
    "sql_recursive_chain",
    oracle=_RECURSIVE_SQL,
    doc="WITH RECURSIVE order-chain walk, identical text on both engines",
)
def sql_recursive_chain(spark, sf_dir):
    from stonedb_spark.catalog import sql as run_sql

    return run_sql(spark, _RECURSIVE_SQL, sf_dir)


# ---------------------------------------------------------------------------
# GROUP BY ALL / ORDER BY ALL (the modern analyst shorthand both Spark
# and DuckDB support with identical resolution rules: non-aggregate
# select items group, the full select list orders) — one statement
# text, two engines, DECIMAL-exact measures.
_GROUP_ALL_SQL = """
SELECT o_orderpriority,
       o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE) AS total
FROM orders
WHERE o_orderkey <= 4000
GROUP BY ALL
ORDER BY ALL
"""


@register(
    "sql_group_order_by_all",
    oracle=_GROUP_ALL_SQL,
    doc="GROUP BY ALL / ORDER BY ALL shorthand, identical text both engines",
)
def sql_group_order_by_all(spark, sf_dir):
    from stonedb_spark.catalog import sql as run_sql

    return run_sql(spark, _GROUP_ALL_SQL, sf_dir)


# ---------------------------------------------------------------------------
# NATIVE session_window (Spark's built-in session operator, batch mode)
# — the same 30-minute-gap semantics as the hand-built gaps-and-islands
# Q(events_sessionize), but expressed as the engine-native grouping
# verb.  Spark defines the window end as last-event + gap; the oracle
# reproduces that from the island construction.  Exact counts +
# DECIMAL-exact sums.
@register(
    "events_session_window_native",
    oracle="""
WITH flag AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   <= INTERVAL '30 minutes' THEN 0 ELSE 1 END AS new_s
  FROM events
),
isl AS (
  SELECT user_id, ts, value,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flag
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS total_value
FROM isl
WHERE user_id <= 50
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
    doc="native session_window grouping (batch) vs gaps-and-islands oracle",
)
def events_session_window_native(spark, sf_dir):
    e = load_tables(spark, sf_dir)["events"].filter(F.col("user_id") <= 50)
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,10)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# Exact ordered-set aggregates (beyond the reference — MySQL 5.7 has no
# PERCENTILE_CONT; users emulate it with variables): PERCENTILE_CONT
# (linear interpolation), PERCENTILE_DISC, MEDIAN spelled as cont(0.5).
# Shared text: Spark 4 and DuckDB both take the standard WITHIN GROUP
# syntax, and both interpolate (1-f)*lo + f*hi over exact 2-decimal
# doubles — identical expression, bit-deterministic IEEE, no ROUND
# needed.  Scale note: Spark computes these as a sort-based aggregate
# per group (no global sort), and the grouped shape keeps each group's
# sort local to its aggregation buffer.
_PERCENTILE_SQL = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n,
       percentile_cont(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS p25,
       percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
       percentile_cont(0.75) WITHIN GROUP (ORDER BY l_extendedprice) AS p75,
       percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_extendedprice) AS p50_disc,
       percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS median_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register(
    "agg_percentile_battery",
    oracle=_PERCENTILE_SQL,
    doc="PERCENTILE_CONT/DISC + median (WITHIN GROUP) — beyond the "
    "reference's 5.7 surface; exact, group-local sort",
)
def agg_percentile_battery(spark, sf_dir):
    from stonedb_spark.catalog import sql as run_sql

    return run_sql(spark, _PERCENTILE_SQL, sf_dir)
