"""TPC-H-shaped analytic queries, adapted to the driver fixture schema.

These are the reference's own benchmark/correctness corpus: the Tianmu
MTR suite runs TPC-H via ``mysql-test/suite/tianmu/t/select_tpch`` and
the revenue-aggregation shape inline in
``mysql-test/suite/tianmu/t/ssb_small.test:52-60``; the published
baseline (BASELINE.md) is TPC-H SF100.  The fixture tables omit some
classic columns (no partsupp, no l_commitdate/l_shipmode, …) so queries
needing them are adapted while keeping the operator shape — the point of
each query (scan+agg, 6-way join, semi/anti join, disjunctive predicate
push, double aggregation, …) is preserved.

Scale notes (100 TB thinking):
* region/nation/supplier are bounded dims → explicit ``broadcast()``.
* customer/orders/lineitem joins shuffle on their keys; AQE handles
  skew (session.py).  No collect, no driver-side loops anywhere.
* All money aggregates go through the exact-decimal sum
  (stonedb_spark.functions.exact) so results are partitioning-independent.
* Every LIMIT carries a total-order tie-break so top-k is deterministic.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stonedb_spark.catalog import load_tables
from stonedb_spark.functions.exact import DEC
from stonedb_spark.queries import register
from stonedb_spark.reuse import materialize

B = F.broadcast

# --------------------------------------------------------------------------
# Scale gate for explicit broadcast hints on SF-GROWING dims (r12 verdict
# item 2 / ADVICE): q5/q7 pre-join a pruned customer projection onto
# orders.  The pre-join is right at any scale; the unconditional B() hint
# is not — customer grows 150k×SF rows, so at SF≈100k (the ~100 TB point)
# the pruned dim blows the 8 GB / 512M-row broadcast hard cap and OOMs
# the driver.  Estimate the pruned dim's in-memory hashed-relation size
# from the source table's ON-DISK bytes (plain os.stat — no Spark job,
# no collect) and hint only under the cap; above it the same pre-join
# ships un-hinted and the planner shuffles it (the selectivity win
# survives, only the join strategy changes).
_BCAST_DIM_CAP = 512 << 20  # est. in-memory bytes; ≪ the 8 GB hard cap
_DISK_BYTES_PER_ROW = 16  # fixtures measure ~21 B/row zstd — undershoot
_HASHED_RELATION_FACTOR = 8  # LongHashedRelation overhead vs payload


def _dim_fits_broadcast(
    sf_dir: str, table: str, selectivity: float, payload_bytes_per_row: int
) -> bool:
    import os

    cap = int(os.environ.get("SPARK_GRAFT_BCAST_DIM_CAP", _BCAST_DIM_CAP))
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        disk = sum(
            os.path.getsize(os.path.join(path, f))
            for f in os.listdir(path)
            if os.path.isfile(os.path.join(path, f))
        )
    elif os.path.isfile(path):
        disk = os.path.getsize(path)
    else:  # non-local layout: trust the planner, skip the hint
        return False
    est_rows = disk / _DISK_BYTES_PER_ROW
    est_mem = est_rows * selectivity * payload_bytes_per_row
    return est_mem * _HASHED_RELATION_FACTOR <= cap


def _rev(l):  # noqa: E741
    return (l["l_extendedprice"] * (1 - l["l_discount"])).cast(DEC)


_SQL_REV = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))"


# --------------------------------------------------------------------------
# Q1 — pricing summary report (scan → filter → wide aggregation).
# Reference shape: aggregation over packrows with pack-level shortcuts
# (storage/tianmu/optimizer/aggregation_algorithm.cpp:38).
#
# Money semantics are the reference's own: DECIMAL is a scaled int64
# (storage/tianmu/common/common_definitions.h:52) and sums run in int64
# (AggregatorSum64, storage/tianmu/optimizer/aggregator_basic.h:43).
# Per-row values/products are integer-exact scaled longs; partial sums
# stay in codegen-fast longs (safe: ≤128 MB splits bound rows/partition,
# see functions/exact.py); the cross-partition combine goes through
# DECIMAL(38,0) because at SF100+ the GLOBAL charge sum exceeds int64.
# ~4× faster than per-row decimal accumulation, and bit-identical under
# any partitioning/AQE re-plan since every step is integer-exact.
@register(
    "tpch_q1",
    oracle="""
WITH s AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity * 100) AS BIGINT)      AS q100,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p100,
         CAST(round(l_discount * 100) AS BIGINT)      AS d100,
         CAST(round(l_tax * 100) AS BIGINT)           AS t100
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'
)
SELECT l_returnflag, l_linestatus,
       CAST(SUM(q100) AS DOUBLE) / 100.0                    AS sum_qty,
       CAST(SUM(p100) AS DOUBLE) / 100.0                    AS sum_base_price,
       CAST(SUM(p100 * (100 - d100)) AS DOUBLE) / 10000.0   AS sum_disc_price,
       CAST(SUM(p100 * (100 - d100) * (100 + t100)) AS DOUBLE) / 1000000.0
                                                            AS sum_charge,
       CAST(SUM(q100) AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
       CAST(SUM(p100) AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE) AS avg_price,
       CAST(SUM(d100) AS DOUBLE) / 100.0 / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
       COUNT(*) AS count_order
FROM s
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 pricing summary — scan+filter+8-fold scaled-int64 aggregation",
)
def tpch_q1(spark, sf_dir):
    from stonedb_spark.functions.exact import scaled_long

    t = load_tables(spark, sf_dir)
    l = t["lineitem"]  # noqa: E741
    q100 = scaled_long(l["l_quantity"], 2)
    p100 = scaled_long(l["l_extendedprice"], 2)
    d100 = scaled_long(l["l_discount"], 2)
    t100 = scaled_long(l["l_tax"], 2)
    partials = (
        l.filter(l["l_shipdate"] <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus", F.spark_partition_id().alias("_pid"))
        .agg(
            F.sum(q100).alias("p_qty"),
            F.sum(p100).alias("p_price"),
            F.sum(p100 * (100 - d100)).alias("p_disc_price"),
            F.sum(p100 * (100 - d100) * (100 + t100)).alias("p_charge"),
            F.sum(d100).alias("p_disc"),
            F.count(F.lit(1)).alias("p_cnt"),
        )
    )
    D0 = "decimal(38,0)"

    def fin(c, div):
        return F.sum(F.col(c).cast(D0)).cast("double") / F.lit(div)

    cnt = F.sum("p_cnt")
    return (
        partials.groupBy("l_returnflag", "l_linestatus")
        .agg(
            fin("p_qty", 100.0).alias("sum_qty"),
            fin("p_price", 100.0).alias("sum_base_price"),
            fin("p_disc_price", 10000.0).alias("sum_disc_price"),
            fin("p_charge", 1000000.0).alias("sum_charge"),
            (fin("p_qty", 100.0) / cnt.cast("double")).alias("avg_qty"),
            (fin("p_price", 100.0) / cnt.cast("double")).alias("avg_price"),
            (fin("p_disc", 100.0) / cnt.cast("double")).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Q2 — minimum-cost supplier (adapted: the fixture has no partsupp, so the
# part↔supplier offer relation is derived from lineitem — per (part,
# supplier) the minimum observed unit price plays ps_supplycost).  Shape
# preserved: 5-way join + correlated scalar MIN subquery on the join key
# (the reference compiles this to a SubSelectColumn,
# storage/tianmu/vc/subselect_column.h:39; Catalyst decorrelates it to an
# aggregate + join — we write the decorrelated form directly).
@register(
    "tpch_q2",
    oracle="""
WITH offer AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(l_extendedprice / l_quantity) AS supplycost
  FROM lineitem GROUP BY l_partkey, l_suppkey
), eur_offer AS (
  SELECT o.ps_partkey, o.supplycost, s.s_acctbal, s.s_name, n.n_name
  FROM offer o
  JOIN supplier s ON s.s_suppkey = o.ps_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'
)
SELECT e.s_acctbal AS s_acctbal, e.s_name AS s_name, e.n_name AS n_name,
       p.p_partkey AS p_partkey, p.p_name AS p_name
FROM part p
JOIN eur_offer e ON e.ps_partkey = p.p_partkey
WHERE p.p_size BETWEEN 10 AND 20 AND p.p_type = 'STANDARD'
  AND e.supplycost = (SELECT MIN(e2.supplycost) FROM eur_offer e2
                      WHERE e2.ps_partkey = p.p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    doc="TPC-H Q2 min-cost supplier — correlated scalar MIN over derived offers",
)
def tpch_q2(spark, sf_dir):
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    l, p, s, n, r = t["lineitem"], t["part"], t["supplier"], t["nation"], t["region"]  # noqa: E741
    # Prune BEFORE the heavy (partkey, suppkey) aggregation: only
    # offers of filtered parts from European suppliers can reach the
    # result or its correlated MIN, so two broadcast semi-joins cut the
    # agg input by both selectivities (part ~20%, region 1/5) — at sf1
    # this halved q2's wall clock vs aggregate-then-filter.
    eur_supp = s.join(
        B(n.join(B(r.filter(r["r_name"] == "EUROPE")), n["n_regionkey"] == r["r_regionkey"])),
        s["s_nationkey"] == n["n_nationkey"],
    ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    pf = p.filter(p["p_size"].between(10, 20) & (p["p_type"] == "STANDARD"))
    pruned = l.join(
        B(pf.select("p_partkey")), l["l_partkey"] == F.col("p_partkey"), "left_semi"
    ).join(
        B(eur_supp.select("s_suppkey")), l["l_suppkey"] == F.col("s_suppkey"), "left_semi"
    )
    offer = pruned.groupBy(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost"))
    eur_offer = offer.join(
        B(eur_supp), offer["ps_suppkey"] == F.col("s_suppkey")
    ).select("ps_partkey", "supplycost", "s_acctbal", "s_name", "n_name")
    # correlated scalar MIN as a window over the per-part partition —
    # one pass over eur_offer instead of a second aggregate + re-join
    # (no re-computation of the offer subplan).
    w = Window.partitionBy("ps_partkey")
    return (
        eur_offer.withColumn("min_cost", F.min("supplycost").over(w))
        .filter(F.col("supplycost") == F.col("min_cost"))
        .join(B(pf), F.col("ps_partkey") == pf["p_partkey"])
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q3 — shipping priority (3-way join + agg + deterministic top-k).
@register(
    "tpch_q3",
    oracle=f"""
SELECT o.o_orderkey AS o_orderkey,
       CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue,
       o.o_orderdate AS o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem ON l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-07-01'
  AND l_shipdate > TIMESTAMP '1998-07-01'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
    doc="TPC-H Q3 shipping priority — customer⋈orders⋈lineitem, top-10",
)
def tpch_q3(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    c, o, l = t["customer"], t["orders"], t["lineitem"]  # noqa: E741
    return (
        c.filter(c["c_mktsegment"] == "BUILDING")
        .join(o, c["c_custkey"] == o["o_custkey"])
        .filter(o["o_orderdate"] < F.lit("1998-07-01").cast("timestamp"))
        .join(l, l["l_orderkey"] == o["o_orderkey"])
        .filter(l["l_shipdate"] > F.lit("1998-07-01").cast("timestamp"))
        .groupBy(o["o_orderkey"], o["o_orderdate"])
        .agg(F.sum(_rev(l)).cast("double").alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q4 — order priority checking (EXISTS → left-semi join).
# Adapted: "late line" = l_shipdate > o_orderdate (fixture has no
# l_commitdate).  Semi-join compilation ≈ reference IN/EXISTS descriptors
# (storage/tianmu/core/query.cpp:1270).
@register(
    "tpch_q4",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    doc="TPC-H Q4 order priority — EXISTS semi-join + agg",
)
def tpch_q4(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    o, l = t["orders"], t["lineitem"]  # noqa: E741
    # r13 (r12 verdict item 6): push the orders date window through the
    # EXISTS correlation onto the lineitem SCAN.  Equivalence: a
    # witnessing line satisfies l_shipdate > o_orderdate and every
    # surviving order has o_orderdate >= 1996-01-01, so every witness
    # has l_shipdate > 1996-01-01 — pre-filtering lineitem to that
    # window drops no witness, and a left-semi join only asks for
    # witness EXISTENCE.  Catalyst cannot derive this (the bound runs
    # through the join's inequality), so the scan read all of lineitem;
    # now PushedFilters carries GreaterThan(l_shipdate) and row groups
    # before 1996 never leave parquet.
    lw = l.filter(l["l_shipdate"] > F.lit("1996-01-01").cast("timestamp"))
    return (
        o.filter(
            (o["o_orderdate"] >= F.lit("1996-01-01").cast("timestamp"))
            & (o["o_orderdate"] < F.lit("1996-07-01").cast("timestamp"))
        )
        .join(
            lw,
            (lw["l_orderkey"] == o["o_orderkey"]) & (lw["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q5 — local supplier volume (6-way join incl. broadcast dims).
@register(
    "tpch_q5",
    oracle=f"""
SELECT n_name, CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem ON l_orderkey = o.o_orderkey
JOIN supplier s ON l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    doc="TPC-H Q5 local supplier volume — 6-way join, broadcast dims",
)
def tpch_q5(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    c, o, l = t["customer"], t["orders"], t["lineitem"]  # noqa: E741
    s, n, r = t["supplier"], t["nation"], t["region"]
    # The r_name='ASIA' restriction reaches every alias: s_nationkey must be
    # an ASIA nation, and c_nationkey = s_nationkey transitively restricts
    # customer too.  Resolve nation⋈region once (broadcast-sized), attach it
    # to supplier, and semi-filter customer BEFORE the orders join so both
    # fact probe sides shrink 5× up front instead of at the last dim join.
    asia_n = n.join(
        B(r.filter(r["r_name"] == "ASIA")), n["n_regionkey"] == r["r_regionkey"]
    ).select("n_nationkey", "n_name")
    s2 = s.join(B(asia_n), s["s_nationkey"] == asia_n["n_nationkey"])
    c2 = c.join(
        B(asia_n.select(F.col("n_nationkey").alias("asia_key"))),
        c["c_nationkey"] == F.col("asia_key"),
        "left_semi",
    )
    # r12: the customer dim is consumed onto the date-filtered orders
    # BEFORE the lineitem join (c2 projected to (c_custkey, c_nationkey):
    # 3M rows ≈ 50 MB at SF100), so the orderkey join's orders side
    # arrives pre-shrunk by both the date range and the ASIA membership
    # instead of shuffling customer⋈orders first (guide §3.1/§3.2).
    # Interleaved min-of-5 at sf1: 2.58 s → 2.00 s, identical rows.
    # r13: the broadcast HINT is scale-gated (ASIA keeps 1/5 of
    # customers × 16 B payload); above the cap the pre-join stays but
    # shuffles (§3.3 — a hint must not bypass the 8 GB broadcast limit).
    c2p = c2.select("c_custkey", "c_nationkey")
    if _dim_fits_broadcast(sf_dir, "customer", 1 / 5, 16):
        c2p = B(c2p)
    o2 = o.filter(
        (o["o_orderdate"] >= F.lit("1996-01-01").cast("timestamp"))
        & (o["o_orderdate"] < F.lit("1997-01-01").cast("timestamp"))
    ).join(c2p, o["o_custkey"] == F.col("c_custkey"))
    # same gate for the supplier-side hint (supplier is 10k×SF rows —
    # 1/15 of customer, but still SF-growing; payload ≈ 2 keys + n_name)
    s2h = B(s2) if _dim_fits_broadcast(sf_dir, "supplier", 1 / 5, 40) else s2
    return (
        o2.join(l, l["l_orderkey"] == o2["o_orderkey"])
        .join(
            s2h,
            (l["l_suppkey"] == s2["s_suppkey"]) & (o2["c_nationkey"] == s2["s_nationkey"]),
        )
        .groupBy("n_name")
        .agg(F.sum(_rev(l)).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


# --------------------------------------------------------------------------
# Q6 — forecasting revenue change (the ssb_small.test:52-60 shape).
# Pure scan+filter+sum: the canonical Knowledge-Grid pruning query —
# in Spark the date/qty/discount predicates push to the parquet scan.
@register(
    "tpch_q6",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,10))) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 24
""",
    doc="TPC-H Q6 / ssb_small revenue — scan+filter+sum (pruning showcase)",
)
def tpch_q6(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    l = t["lineitem"]  # noqa: E741
    return (
        l.filter(
            (l["l_shipdate"] >= F.lit("1996-01-01").cast("timestamp"))
            & (l["l_shipdate"] < F.lit("1997-01-01").cast("timestamp"))
            & l["l_discount"].between(0.02, 0.06)
            & (l["l_quantity"] < 24)
        )
        .agg(
            F.sum((l["l_extendedprice"] * l["l_discount"]).cast(DEC))
            .cast("double")
            .alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations (self-join on nation dim).
@register(
    "tpch_q7",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(volume AS DECIMAL(38,10))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier s
  JOIN lineitem ON s.s_suppkey = l_suppkey
  JOIN orders o ON o.o_orderkey = l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""",
    doc="TPC-H Q7 volume shipping — nation-pair OR predicate, year rollup",
)
def tpch_q7(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    s, l, o, c = t["supplier"], t["lineitem"], t["orders"], t["customer"]  # noqa: E741
    # Both OR branches imply n_name ∈ {NATION_1, NATION_2} on BOTH dims, so
    # push that isin() onto the nation scans and join the (broadcast) dims
    # onto supplier/customer BEFORE the fact joins: supplier and customer
    # shrink to 2/25 of their rows, the runtime bloom filter on
    # l_suppkey / o_custkey prunes the big probe sides at the scan, and
    # only the pair-matching residual OR remains post-join.  Without this
    # the OR survives solely as the last join's residual and all 25
    # nations flow through the 6-way join (round-1 verdict item 4).
    pair = ("NATION_1", "NATION_2")
    n1 = (
        t["nation"]
        .filter(F.col("n_name").isin(*pair))
        .select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    )
    n2 = (
        t["nation"]
        .filter(F.col("n_name").isin(*pair))
        .select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    )
    s2 = s.join(B(n1), s["s_nationkey"] == F.col("n1_key"))
    c2 = c.join(B(n2), c["c_nationkey"] == F.col("n2_key"))
    # r12: join the pruned customer dim (2/25 of customers; 1.2M
    # rows ≈ 20 MB at SF100) onto orders BEFORE the orderkey fact join,
    # so the orders side of the one remaining big SMJ shrinks ~12×
    # up front instead of shuffling in full and dropping rows at the
    # last join (guide §3.2 "reduce the big side before shuffling").
    # Interleaved min-of-5 at sf1: 2.05 s → 1.47 s, identical rows.
    # r13: the broadcast HINT is scale-gated (see _dim_fits_broadcast;
    # payload ≈ key + 8-char nation); the pre-join itself always stays.
    c2p = c2.select("c_custkey", "cust_nation")
    if _dim_fits_broadcast(sf_dir, "customer", 2 / 25, 24):
        c2p = B(c2p)
    o2 = o.join(c2p, o["o_custkey"] == F.col("c_custkey"))
    joined = (
        s2.join(l, s2["s_suppkey"] == l["l_suppkey"])
        .join(o2, o2["o_orderkey"] == l["l_orderkey"])
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (l["l_extendedprice"] * (1 - l["l_discount"])).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(F.col("volume").cast(DEC)).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8 — market share (conditional aggregation over a 7-way join).
@register(
    "tpch_q8",
    oracle="""
SELECT o_year,
       CAST(SUM(CAST(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END
                AS DECIMAL(38,10))) AS DOUBLE)
         / CAST(SUM(CAST(volume AS DECIMAL(38,10))) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part p
  JOIN lineitem ON p.p_partkey = l_partkey
  JOIN supplier s ON s.s_suppkey = l_suppkey
  JOIN orders o ON o.o_orderkey = l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
  JOIN region r ON n1.n_regionkey = r.r_regionkey
  JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'AMERICA' AND p.p_type = 'STANDARD'
) all_nations
GROUP BY o_year
ORDER BY o_year
""",
    doc="TPC-H Q8 market share — conditional agg over 7-way join",
)
def tpch_q8(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    p, l, s, o, c = t["part"], t["lineitem"], t["supplier"], t["orders"], t["customer"]  # noqa: E741
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = t["region"]
    # r_name='AMERICA' restricts the customer-side nation (n1); resolve the
    # region join on the broadcast dim and semi-filter customer BEFORE it
    # meets orders, so only 1/5 of customers enter the fact joins (same
    # late-dim-filter shape as q7, round-1 verdict item 4).
    america_keys = n1.join(
        B(r.filter(r["r_name"] == "AMERICA")), F.col("n1_region") == r["r_regionkey"]
    ).select("n1_key")
    c2 = c.join(B(america_keys), c["c_nationkey"] == F.col("n1_key"), "left_semi")
    base = (
        p.filter(p["p_type"] == "STANDARD")
        .join(l, p["p_partkey"] == l["l_partkey"])
        .join(B(s), s["s_suppkey"] == l["l_suppkey"])
        .join(o, o["o_orderkey"] == l["l_orderkey"])
        .join(c2, c2["c_custkey"] == o["o_custkey"])
        .join(B(n2), s["s_nationkey"] == F.col("n2_key"))
        .select(
            F.year(o["o_orderdate"]).alias("o_year"),
            (l["l_extendedprice"] * (1 - l["l_discount"])).alias("volume"),
            F.col("nation"),
        )
    )
    vol_dec = F.col("volume").cast(DEC)
    nat_dec = F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(F.lit(0.0)).cast(DEC)
    return (
        base.groupBy("o_year")
        .agg((F.sum(nat_dec).cast("double") / F.sum(vol_dec).cast("double")).alias("mkt_share"))
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q9 — product type profit (no ps_supplycost in fixtures; profit = revenue).
@register(
    "tpch_q9",
    oracle=f"""
SELECT nation, o_year, CAST(SUM(CAST(amount AS DECIMAL(38,10))) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS amount
  FROM part p
  JOIN lineitem ON p.p_partkey = l_partkey
  JOIN supplier s ON s.s_suppkey = l_suppkey
  JOIN orders o ON o.o_orderkey = l_orderkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE p.p_name LIKE '%ge%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
""",
    doc="TPC-H Q9 product-type profit — LIKE filter + 5-way join + rollup",
)
def tpch_q9(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    p, l, s, o, n = t["part"], t["lineitem"], t["supplier"], t["orders"], t["nation"]  # noqa: E741
    return (
        p.filter(p["p_name"].like("%ge%"))
        .join(l, p["p_partkey"] == l["l_partkey"])
        .join(B(s), s["s_suppkey"] == l["l_suppkey"])
        .join(o, o["o_orderkey"] == l["l_orderkey"])
        .join(B(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            n["n_name"].alias("nation"),
            F.year(o["o_orderdate"]).alias("o_year"),
            (l["l_extendedprice"] * (1 - l["l_discount"])).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum(F.col("amount").cast(DEC)).cast("double").alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


# --------------------------------------------------------------------------
# Q10 — returned item reporting (outer-dim join + top-k).
@register(
    "tpch_q10",
    oracle=f"""
SELECT c.c_custkey AS c_custkey, c.c_name AS c_name,
       CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue,
       c.c_acctbal AS c_acctbal, n.n_name AS n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem ON l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    doc="TPC-H Q10 returned items — join + group + deterministic top-20",
)
def tpch_q10(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    c, o, l, n = t["customer"], t["orders"], t["lineitem"], t["nation"]  # noqa: E741
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .filter(
            (o["o_orderdate"] >= F.lit("1996-01-01").cast("timestamp"))
            & (o["o_orderdate"] < F.lit("1996-07-01").cast("timestamp"))
        )
        .join(l, l["l_orderkey"] == o["o_orderkey"])
        .filter(l["l_returnflag"] == "R")
        .join(B(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(c["c_custkey"], c["c_name"], c["c_acctbal"], n["n_name"])
        .agg(F.sum(_rev(l)).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q12 — shipping modes / priority classes (fixture has no l_shipmode:
# classify by o_orderpriority instead; same conditional-count shape).
# --------------------------------------------------------------------------
# Q11 — important stock identification (adapted: per-part inventory value
# derived from lineitem revenue of one region's suppliers; partsupp absent).
# Shape preserved: grouped agg filtered by a scalar subquery over the SAME
# aggregate (HAVING value > fraction × global total) — the reference's
# SubSelectColumn + rough-first materialization
# (storage/tianmu/vc/subselect_column.cpp:430).
@register(
    "tpch_q11",
    oracle=f"""
WITH value_per_part AS (
  SELECT l.l_partkey AS p_partkey,
         SUM({_SQL_REV}) AS val
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'EUROPE'
  GROUP BY l.l_partkey
)
SELECT p_partkey, CAST(val AS DOUBLE) AS part_value
FROM value_per_part
WHERE CAST(val AS DOUBLE) >
      (SELECT CAST(SUM(val) AS DOUBLE) * 0.001 FROM value_per_part)
ORDER BY part_value DESC, p_partkey
""",
    doc="TPC-H Q11 important stock — grouped value vs global-total scalar subquery",
)
def tpch_q11(spark, sf_dir):
    # The global 0.001×total threshold comes from the SAME grouped
    # aggregate.  Three forms: (a) scalar subquery — re-executes the
    # whole lineitem pipeline for the total (ReuseExchange misses on the
    # self-referencing branch: TWO fact scans); (b) empty-frame window —
    # one pass, but drags all |parts| rows into ONE task (a
    # single-partition WindowExec); (c) THIS form: materialize the
    # grouped aggregate (|parts| rows ≈ SF×200k — metadata-scale,
    # ~300 MB at SF100), reduce it to a 1-row total with an ordinary
    # partial agg, and crossJoin(broadcast(1 row)) back.  One fact scan,
    # no single-partition window anywhere.  Idle A/B in PLANS.md.
    t = load_tables(spark, sf_dir)
    l, s, n, r = t["lineitem"], t["supplier"], t["nation"], t["region"]  # noqa: E741
    eur_supp = s.join(
        B(n.join(B(r.filter(r["r_name"] == "EUROPE")), n["n_regionkey"] == r["r_regionkey"])),
        s["s_nationkey"] == n["n_nationkey"],
    ).select("s_suppkey")
    vpp = materialize(
        l.join(B(eur_supp), l["l_suppkey"] == F.col("s_suppkey"), "left_semi")
        .groupBy(l["l_partkey"].alias("p_partkey"))
        .agg(F.sum(_rev(l)).alias("val"))
    )
    total = vpp.agg(
        (F.sum("val").cast("double") * F.lit(0.001)).alias("threshold")
    )
    return (
        vpp.crossJoin(F.broadcast(total))
        .filter(F.col("val").cast("double") > F.col("threshold"))
        .select("p_partkey", F.col("val").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), "p_partkey")
    )


@register(
    "tpch_q12",
    oracle="""
SELECT CAST(EXTRACT(year FROM l_shipdate) AS INT) AS ship_year,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem ON o.o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1999-01-01'
  AND l_shipdate > o.o_orderdate
GROUP BY ship_year
ORDER BY ship_year
""",
    doc="TPC-H Q12 shape — join + conditional counts by class",
)
def tpch_q12(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    o, l = t["orders"], t["lineitem"]  # noqa: E741
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .filter(
            (l["l_shipdate"] >= F.lit("1997-01-01").cast("timestamp"))
            & (l["l_shipdate"] < F.lit("1999-01-01").cast("timestamp"))
            & (l["l_shipdate"] > o["o_orderdate"])
        )
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_year")
    )


# --------------------------------------------------------------------------
# Q13 — customer order-count distribution (LEFT OUTER join + double agg).
@register(
    "tpch_q13",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    doc="TPC-H Q13 customer distribution — left outer join + re-aggregation",
)
def tpch_q13(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    c, o = t["customer"], t["orders"]
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"]) & (o["o_orderpriority"] != "5-LOW"),
            "left",
        )
        .groupBy(c["c_custkey"])
        .agg(F.count(o["o_orderkey"]).alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --------------------------------------------------------------------------
# Q14 — promotion effect (conditional revenue share).
@register(
    "tpch_q14",
    oracle=f"""
SELECT (100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END
                AS DECIMAL(38,10))) AS DOUBLE))
       / CAST(SUM({_SQL_REV}) AS DOUBLE) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_shipdate < TIMESTAMP '1997-04-01'
""",
    doc="TPC-H Q14 promo revenue share — join + conditional agg ratio",
)
def tpch_q14(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    l, p = t["lineitem"], t["part"]  # noqa: E741
    rev = l["l_extendedprice"] * (1 - l["l_discount"])
    promo = F.when(p["p_type"] == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        l.filter(
            (l["l_shipdate"] >= F.lit("1997-03-01").cast("timestamp"))
            & (l["l_shipdate"] < F.lit("1997-04-01").cast("timestamp"))
        )
        .join(p, l["l_partkey"] == p["p_partkey"])
        .agg(
            (
                (F.lit(100.0) * F.sum(promo.cast(DEC)).cast("double"))
                / F.sum(rev.cast(DEC)).cast("double")
            ).alias("promo_revenue")
        )
    )


# --------------------------------------------------------------------------
# Q15 — top supplier (agg view + join against its own max: scalar subquery).
@register(
    "tpch_q15",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM({_SQL_REV}) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name, r.total_revenue AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
    doc="TPC-H Q15 top supplier — agg view + scalar-subquery max",
)
def tpch_q15(spark, sf_dir):
    # One lineitem scan: the naive scalar-subquery formulation (join
    # revenue against its own max) re-executes the whole revenue
    # pipeline — Spark's ReuseExchange misses because attribute dedup
    # on the self-referencing branch de-canonicalizes the exchanges —
    # so at 100 TB the fact table would be scanned and shuffled twice.
    # A rank-window form avoids that but sorts all #suppliers rows in
    # ONE task.  THIS form materializes the aggregated frame
    # (#suppliers = SF×10k rows — 4 orders below lineitem), reduces it
    # to a 1-row scalar max with a partial agg, and equality-joins the
    # broadcast max back — the TPC-H view definition's own shape, with
    # no single-task sort.
    # Equality keeps max-revenue ties exactly as the subquery does.
    t = load_tables(spark, sf_dir)
    l, s = t["lineitem"], t["supplier"]  # noqa: E741
    revenue = materialize(
        l.filter(
            (l["l_shipdate"] >= F.lit("1996-01-01").cast("timestamp"))
            & (l["l_shipdate"] < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(l["l_suppkey"].alias("supplier_no"))
        .agg(F.sum(_rev(l)).cast("double").alias("total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    top = (
        revenue.join(
            F.broadcast(mx), F.col("total_revenue") == F.col("_max_rev")
        )
        .select("supplier_no", "total_revenue")
    )
    return (
        s.join(B(top), s["s_suppkey"] == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q16 — parts/supplier relationship (adapted: the part↔supplier relation is
# the DISTINCT (l_partkey, l_suppkey) pairs from lineitem; the complaints
# exclusion is a NOT IN over supplier names).  Shape preserved:
# distinct-pair derivation + NOT IN anti-join + COUNT(DISTINCT) grouped by
# three part attributes (reference: GroupDistinctTable,
# storage/tianmu/optimizer/group_distinct_table.h:46).  s_suppkey is
# non-null so NOT IN ≡ left_anti.
@register(
    "tpch_q16",
    oracle="""
SELECT p.p_brand AS p_brand, p.p_type AS p_type, p.p_size AS p_size,
       COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part p ON p.p_partkey = ps.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type NOT LIKE 'MEDIUM%'
  AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
  AND ps.l_suppkey NOT IN
      (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
    doc="TPC-H Q16 parts/supplier relationship — NOT IN + COUNT DISTINCT",
)
def tpch_q16(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    l, p, s = t["lineitem"], t["part"], t["supplier"]  # noqa: E741
    # No pre-distinct on (l_partkey, l_suppkey): COUNT(DISTINCT
    # l_suppkey) dedups per group anyway, the anti-join can't multiply
    # rows, and the part join is on part's unique PK — so a DISTINCT
    # here would be a full 2-column lineitem exchange for nothing.
    # Order: anti-join and broadcast-part-join FIRST (both map-side),
    # so the one real shuffle (the grouped distinct-count) moves ~25×
    # fewer rows (p_size IN-list + brand/type selectivity).
    ps = l.select("l_partkey", "l_suppkey")
    bad = s.filter(s["s_name"].like("%7")).select("s_suppkey")
    pf = p.filter(
        (p["p_brand"] != "Brand#1")
        & ~p["p_type"].like("MEDIUM%")
        & p["p_size"].isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    return (
        ps.join(B(bad), ps["l_suppkey"] == F.col("s_suppkey"), "left_anti")
        .join(B(pf), pf["p_partkey"] == ps["l_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# --------------------------------------------------------------------------
# Q17 — small-quantity-order revenue (correlated avg subquery → group+join).
@register(
    "tpch_q17",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN (
  SELECT l_partkey AS a_partkey,
         0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE)
                / CAST(COUNT(l_quantity) AS DOUBLE)) AS half_avg_qty
  FROM lineitem GROUP BY l_partkey
) a ON a.a_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#1' AND l.l_quantity < a.half_avg_qty
""",
    doc="TPC-H Q17 small-quantity orders — per-part avg subquery",
)
def tpch_q17(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    l, p = t["lineitem"], t["part"]  # noqa: E741
    # Prune lineitem by the broadcast brand filter BEFORE the per-part
    # average: the correlated avg is per-partkey, so computing it over
    # the pruned rows is identical (all rows of a surviving partkey
    # survive the join) while the agg shuffle shrinks ~25x (one brand).
    # sf1 A/B (interleaved min-of-4): 0.93s -> 0.62s.
    lp = l.join(
        B(p.filter(p["p_brand"] == "Brand#1").select("p_partkey")),
        F.col("p_partkey") == l["l_partkey"],
    )
    avg_qty = lp.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (
            F.lit(0.5)
            * (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count("l_quantity").cast("double"))
        ).alias("half_avg_qty")
    )
    return (
        lp.join(avg_qty, F.col("a_partkey") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg((F.sum(F.col("l_extendedprice").cast(DEC)).cast("double") / F.lit(7.0)).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# Q18 — large-volume customers (HAVING on grouped sum → IN-subquery join).
@register(
    "tpch_q18",
    oracle="""
SELECT c.c_name AS c_name, c.c_custkey AS c_custkey,
       o.o_orderkey AS o_orderkey, o.o_orderdate AS o_orderdate,
       o.o_totalprice AS o_totalprice,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem ON o.o_orderkey = l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(38,10))) > 180
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
    doc="TPC-H Q18 large-volume customers — HAVING + IN semi-join + top-100",
)
def tpch_q18(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    c, o, l = t["customer"], t["orders"], t["lineitem"]  # noqa: E741
    # The re-join of lineitem after the HAVING semi-filter is redundant:
    # the final group key contains o_orderkey, so the grouped sum IS the
    # per-order quantity sum the HAVING subquery already computed.  One
    # lineitem shuffle total; the surviving order set is tiny (HAVING
    # selectivity ~1e-5) so AQE broadcasts both remaining joins.
    # sf1 A/B (interleaved min-of-4): 1.49s -> 1.15s.
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("sq"))
        .filter(F.col("sq") > 180)
    )
    return (
        o.join(big, o["o_orderkey"] == F.col("l_orderkey"))
        .join(c, c["c_custkey"] == o["o_custkey"])
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice",
            F.col("sq").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q19 — discounted revenue (disjunction of conjunctions; the reference
# compiles this to an OR-tree descriptor, storage/tianmu/optimizer/
# compile/descriptor.h:44-70 — Catalyst handles the OR push natively).
@register(
    "tpch_q19",
    oracle=f"""
SELECT CAST(SUM({_SQL_REV}) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
""",
    doc="TPC-H Q19 discounted revenue — OR-of-ANDs predicate tree",
)
def tpch_q19(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    l, p = t["lineitem"], t["part"]  # noqa: E741
    cond = (
        ((p["p_brand"] == "Brand#1") & p["p_size"].between(1, 15) & l["l_quantity"].between(1, 21))
        | ((p["p_brand"] == "Brand#2") & p["p_size"].between(1, 25) & l["l_quantity"].between(10, 30))
        | ((p["p_brand"] == "Brand#3") & p["p_size"].between(1, 35) & l["l_quantity"].between(20, 40))
    )
    return (
        l.join(B(p), p["p_partkey"] == l["l_partkey"])
        .filter(cond)
        .agg(F.sum(_rev(l)).cast("double").alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q20 — potential part promotion (adapted: the availqty > half-of-shipped
# condition becomes a HAVING over per-(supplier, part) shipped quantity of
# name-matched parts; partsupp absent).  Shape preserved: nested IN
# subqueries (part-name IN inside supplier IN) → two semi-joins + grouped
# HAVING (reference compiles IN-subqueries to O_IN descriptors executed by
# the general joiner, storage/tianmu/core/query.cpp:1270).
@register(
    "tpch_q20",
    oracle="""
SELECT s.s_name AS s_name, s.s_acctbal AS s_acctbal
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND s.s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(38,10))) > 40)
ORDER BY s_name
""",
    doc="TPC-H Q20 part promotion — nested IN subqueries + grouped HAVING",
)
def tpch_q20(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    l, p, s, n, r = t["lineitem"], t["part"], t["supplier"], t["nation"], t["region"]  # noqa: E741
    small_parts = p.filter(p["p_name"].like("small%")).select("p_partkey")
    qualifying = (
        l.filter(
            (l["l_shipdate"] >= F.lit("1995-01-01").cast("timestamp"))
            & (l["l_shipdate"] < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(B(small_parts), l["l_partkey"] == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(l["l_quantity"].cast(DEC)).alias("sq"))
        .filter(F.col("sq") > 40)
        .select("l_suppkey")
    )
    asia = n.join(B(r.filter(r["r_name"] == "ASIA")), n["n_regionkey"] == r["r_regionkey"]).select(
        "n_nationkey"
    )
    return (
        s.join(qualifying, s["s_suppkey"] == F.col("l_suppkey"), "left_semi")
        .join(B(asia), s["s_nationkey"] == F.col("n_nationkey"))
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


# --------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (adapted: semi + anti EXISTS).
# A supplier's line shipped late (l_shipdate > o_orderdate + 60 days) on a
# multi-supplier order where no OTHER supplier shipped late.
@register(
    "tpch_q21",
    oracle="""
SELECT s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
""",
    doc="TPC-H Q21 waiting suppliers — EXISTS + NOT EXISTS anti-join",
)
def tpch_q21(spark, sf_dir):
    spark  # noqa: B018 — tables come via temp views
    load_tables(spark, sf_dir)
    # Correlated EXISTS/NOT EXISTS with inequality correlation is exactly
    # what Catalyst's subquery decorrelation handles; express in SQL.
    # Measured (round 4, sf3, interleaved min-of-5): the hand-written
    # single-scan rewrite (per-order conditional COUNT(DISTINCT) + join
    # back to late rows) ties this decorrelated form at 4.3s — Catalyst
    # already plans the efficient shape, so the declarative SQL stays.
    # Re-measured round 6 (sf1, idle host, interleaved min-of-5) after
    # the r5 1.5x wobble: decorrelated 1.47s vs rewrite 1.66s — the
    # declarative form still ties-or-wins; wobble was host noise.
    return spark.sql(
        """
SELECT s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""
    )


# --------------------------------------------------------------------------
# Q22 — global sales opportunity (adapted: nationkey bands for cntrycode;
# scalar avg subquery + NOT EXISTS anti-join).
@register(
    "tpch_q22",
    oracle="""
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS DOUBLE) AS totacctbal
FROM (
  SELECT c.c_nationkey % 5 AS cntrycode, c.c_acctbal AS c_acctbal
  FROM customer c
  WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,10))) AS DOUBLE)
                              / CAST(COUNT(c_acctbal) AS DOUBLE)
                       FROM customer WHERE c_acctbal > 0.0)
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
) custsale
GROUP BY cntrycode
ORDER BY cntrycode
""",
    doc="TPC-H Q22 sales opportunity — scalar-avg subquery + anti-join",
)
def tpch_q22(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    c, o = t["customer"], t["orders"]
    avg_bal = (
        c.filter(c["c_acctbal"] > 0.0)
        .agg(
            (F.sum(c["c_acctbal"].cast(DEC)).cast("double") / F.count("c_acctbal").cast("double")).alias(
                "ab"
            )
        )
    )
    return (
        c.crossJoin(B(avg_bal))
        .filter(c["c_acctbal"] > F.col("ab"))
        .join(
            o.filter(o["o_orderstatus"] == "P"),
            c["c_custkey"] == o["o_custkey"],
            "left_anti",
        )
        .select((c["c_nationkey"] % 5).alias("cntrycode"), c["c_acctbal"])
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )
