"""DML / HTAP analogs — SURVEY.md §2.1, §3.3.

The reference's row-DML path (ha_tianmu::update_row/delete_row →
TianmuTable::Update/Delete or the RocksDB delta store,
storage/tianmu/core/tianmu_table.h:134-141) and its MTR tests
(update_join.test, delete_join.test, insert_on_duplicate_update.test)
map to declarative transformations over immutable columnar data:
UPDATE-via-join = projection with a joined CASE, DELETE-via-join =
anti-join, INSERT ON DUPLICATE KEY UPDATE = MERGE = full-outer
coalesce.  At scale these are how Delta/Iceberg implement DML anyway
(copy-on-write rewrite); here the rewritten result is the query output
so the oracle can check it row-for-row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stonedb_spark.catalog import load_tables
from stonedb_spark.functions.exact import DEC
from stonedb_spark.queries import register
from stonedb_spark.reuse import materialize


# --------------------------------------------------------------------------
# UPDATE ... JOIN (update_join.test): discount PROMO-part lineitems 10%,
# then report the post-update totals (small deterministic check output).
@register(
    "dml_update_join",
    oracle="""
WITH updated AS (
  SELECT l_returnflag,
         CASE WHEN p_type = 'PROMO' THEN l_extendedprice * 0.9
              ELSE l_extendedprice END AS new_price
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CAST(new_price AS DECIMAL(38,10))) AS DOUBLE) AS total_after
FROM updated
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    doc="UPDATE-via-join as joined CASE projection (update_join.test analog)",
)
def dml_update_join(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    l, p = t["lineitem"], t["part"]  # noqa: E741
    new_price = F.when(p["p_type"] == "PROMO", l["l_extendedprice"] * 0.9).otherwise(
        l["l_extendedprice"]
    )
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .select(l["l_returnflag"], new_price.alias("new_price"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("new_price").cast(DEC)).cast("double").alias("total_after"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# DELETE ... JOIN (delete_join.test): drop lineitems belonging to
# MACHINERY-segment customers; report what survives.
@register(
    "dml_delete_join",
    oracle="""
WITH doomed AS (
  SELECT o_orderkey FROM orders
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'MACHINERY'
)
SELECT l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE) AS qty
FROM lineitem
WHERE l_orderkey NOT IN (SELECT o_orderkey FROM doomed)
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
    doc="DELETE-via-join as anti-join (delete_join.test analog)",
)
def dml_delete_join(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    l, o, c = t["lineitem"], t["orders"], t["customer"]  # noqa: E741
    doomed = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(c["c_mktsegment"] == "MACHINERY")
        .select("o_orderkey")
    )
    return (
        l.join(doomed, l["l_orderkey"] == doomed["o_orderkey"], "left_anti")
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(l["l_quantity"].cast(DEC)).cast("double").alias("qty"),
        )
        .orderBy("l_linestatus")
    )


# --------------------------------------------------------------------------
# MERGE / upsert (insert_on_duplicate_update.test analog): per-user
# totals from the first half of the month, upserted with second-half
# activity — full-outer join + coalesce, the canonical distributed MERGE.
@register(
    "dml_merge_upsert",
    oracle="""
WITH target AS (
  SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS total
  FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY user_id
),
source AS (
  SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS total
  FROM events WHERE ts >= TIMESTAMP '2024-01-16' GROUP BY user_id
)
SELECT COALESCE(t.user_id, s.user_id) AS user_id,
       COALESCE(s.total, t.total) AS merged_total,
       CASE WHEN t.user_id IS NULL THEN 'inserted'
            WHEN s.user_id IS NULL THEN 'kept'
            ELSE 'updated' END AS merge_action
FROM target t FULL OUTER JOIN source s ON t.user_id = s.user_id
ORDER BY user_id
""",
    doc="MERGE upsert as full-outer join + coalesce (ON DUPLICATE KEY analog)",
)
def dml_merge_upsert(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    e = t["events"]
    cut = F.lit("2024-01-16").cast("timestamp")
    target = (
        e.filter(e["ts"] < cut)
        .groupBy(F.col("user_id").alias("t_user"))
        .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("t_total"))
    )
    source = (
        e.filter(e["ts"] >= cut)
        .groupBy(F.col("user_id").alias("s_user"))
        .agg(F.sum(F.col("value").cast(DEC)).cast("double").alias("s_total"))
    )
    return (
        target.join(source, target["t_user"] == source["s_user"], "full_outer")
        .select(
            F.coalesce(F.col("t_user"), F.col("s_user")).alias("user_id"),
            F.coalesce(F.col("s_total"), F.col("t_total")).alias("merged_total"),
            F.when(F.col("t_user").isNull(), "inserted")
            .when(F.col("s_user").isNull(), "kept")
            .otherwise("updated")
            .alias("merge_action"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# CREATE VIEW chain (create_view.test:1-45 analog): a view-over-view
# definition resolved through the view registry.  Catalyst inlines both
# view plans into the consumer, so filter pushdown and column pruning
# reach the parquet scans exactly as if the subqueries were written
# inline — a view costs nothing at rest or at plan time beyond analyze.
@register(
    "view_over_tpch",
    oracle="""
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""",
    doc="SELECT through a view-over-view chain == inline subquery (create_view.test)",
)
def view_over_tpch(spark, sf_dir):
    from stonedb_spark.sources import create_view

    load_tables(spark, sf_dir)
    create_view(
        spark,
        "v_cust_nation",
        "SELECT c_custkey, n_name FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey",
        or_replace=True,
    )
    create_view(
        spark,
        "v_nation_rev",
        """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN v_cust_nation ON o_custkey = c_custkey
        GROUP BY n_name
        """,
        or_replace=True,
    )
    return spark.sql("SELECT n_name, revenue, n_items FROM v_nation_rev ORDER BY n_name")


# --------------------------------------------------------------------------
# REPLACE INTO (replace_into.test): on key conflict the OLD ROW IS
# DELETED and the new row inserted whole — unlike INSERT ... ON
# DUPLICATE KEY UPDATE, unspecified columns revert to defaults (NULL
# here) instead of keeping the old values.  Declarative form: the new
# batch wins verbatim; surviving target rows are the key anti-join.
@register(
    "dml_replace_into",
    oracle="""
WITH target AS (
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment
  FROM customer WHERE c_custkey <= 120
),
batch AS (
  SELECT c_custkey, UPPER(c_name) AS c_name,
         ROUND(c_acctbal, 0) AS c_acctbal,
         CAST(NULL AS VARCHAR) AS c_mktsegment
  FROM customer WHERE c_custkey BETWEEN 100 AND 150
)
SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
       (c_custkey BETWEEN 100 AND 150) AS replaced
FROM (
  SELECT * FROM batch
  UNION ALL
  SELECT t.* FROM target t
  WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.c_custkey = t.c_custkey)
)
ORDER BY c_custkey
""",
    doc="REPLACE INTO: delete-then-insert on key conflict (batch wins whole-row)",
)
def dml_replace_into(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    c = t["customer"]
    target = c.filter(c["c_custkey"] <= 120).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    batch = c.filter(c["c_custkey"].between(100, 150)).select(
        "c_custkey",
        F.upper("c_name").alias("c_name"),
        F.round("c_acctbal", 0).alias("c_acctbal"),
        F.lit(None).cast("string").alias("c_mktsegment"),
    )
    survivors = target.join(batch.select("c_custkey"), "c_custkey", "left_anti")
    return (
        batch.unionByName(survivors)
        .withColumn("replaced", F.col("c_custkey").between(100, 150))
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# INSERT IGNORE (insert.test / issue1034-style batches): on key
# conflict the EXISTING row wins and the incoming duplicate is silently
# dropped — the mirror image of REPLACE INTO.  Duplicates INSIDE the
# batch collapse to the first row in batch order (MySQL processes rows
# sequentially), modeled with an explicit row_number over the batch
# ordering column so both engines pick the same survivor.
@register(
    "dml_insert_ignore",
    oracle="""
WITH target AS (
  SELECT c_custkey, c_name, c_mktsegment
  FROM customer WHERE c_custkey <= 120
),
batch AS (
  SELECT c_custkey, LOWER(c_name) AS c_name, 'NEW' AS c_mktsegment
  FROM customer WHERE c_custkey BETWEEN 100 AND 160
),
fresh AS (
  SELECT c_custkey, c_name, c_mktsegment
  FROM (SELECT b.*, ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY c_custkey + 7) AS rn
        FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.c_custkey = b.c_custkey))
  WHERE rn = 1
)
SELECT c_custkey, c_name, c_mktsegment,
       (c_mktsegment = 'NEW') AS inserted
FROM (SELECT * FROM target UNION ALL SELECT * FROM fresh)
ORDER BY c_custkey
""",
    doc="INSERT IGNORE: existing rows win, in-batch duplicates collapse to first",
)
def dml_insert_ignore(spark, sf_dir):
    from pyspark.sql import Window

    c = load_tables(spark, sf_dir)["customer"]
    target = c.filter(c["c_custkey"] <= 120).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    batch = c.filter(c["c_custkey"].between(100, 160)).select(
        "c_custkey",
        F.lower("c_name").alias("c_name"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    # first-wins per key by the batch arrival expression, ranked INSIDE
    # the key partition — a global batch_pos row_number would drag the
    # whole batch into one task (tests/test_plans.py partition-less-window gate)
    w = Window.partitionBy("c_custkey").orderBy(F.col("c_custkey") + 7)
    fresh = (
        batch.join(target.select("c_custkey"), "c_custkey", "left_anti")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", "c_name", "c_mktsegment")
    )
    return (
        target.unionByName(fresh)
        .withColumn("inserted", F.col("c_mktsegment") == "NEW")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# issue1616: UPDATE IGNORE under a PRIMARY KEY — `UPDATE IGNORE t SET
# id = id + 1` processes rows in ascending key order, skipping any row
# whose new key collides with a key still present; over a dense key
# range exactly the MAX key row moves (every other id+1 hits its
# as-yet-unmoved successor).  Plain UPDATE with a collision is error
# 1062 and changes nothing (pinned as n_conflicts > 0 with the rule's
# survivors equal to the ascending-scan result).
@register(
    "dml_update_ignore_pk",
    oracle="""
WITH t AS (
  SELECT o_orderkey AS id, o_orderstatus AS payload
  FROM orders WHERE o_orderkey BETWEEN 100 AND 160
),
updated AS (
  SELECT CASE WHEN id + 1 IN (SELECT id FROM t) THEN id ELSE id + 1 END AS id,
         payload,
         CASE WHEN id + 1 IN (SELECT id FROM t) THEN 0 ELSE 1 END AS moved
  FROM t
)
SELECT id, payload, CAST(moved AS INT) AS moved
FROM updated
ORDER BY id
""",
    doc="issue1616: UPDATE IGNORE SET pk=pk+1 — ascending-scan conflict skipping",
)
def dml_update_ignore_pk(spark, sf_dir):
    o = load_tables(spark, sf_dir)["orders"]
    t = o.filter(o["o_orderkey"].between(100, 160)).select(
        o["o_orderkey"].alias("id"), o["o_orderstatus"].alias("payload")
    )
    keys = t.select(F.col("id").alias("k"))
    return (
        t.join(keys, t["id"] + 1 == F.col("k"), "left")
        .select(
            F.when(F.col("k").isNotNull(), F.col("id"))
            .otherwise(F.col("id") + 1)
            .alias("id"),
            "payload",
            F.when(F.col("k").isNotNull(), 0).otherwise(1).alias("moved"),
        )
        .orderBy("id")
    )


# --------------------------------------------------------------------------
# issue819: MULTI-TABLE DELETE — `DELETE t2.*, t3.* FROM t1, t2, t3
# WHERE t1.a = t2.a AND t2.b = t3.a AND t1.b = t3.b` removes matching
# rows from TWO targets in one statement.  The doomed sets are decided
# against the PRE-delete state of every table (MySQL evaluates the join
# first), so both anti-joins reuse one shared doomed-key frame; the
# output is the tagged survivor summary of both targets.  Here: a
# three-way match (supplier x customer sharing a nation in EUROPE)
# deletes from supplier AND customer.
@register(
    "dml_multi_delete",
    oracle="""
WITH doomed AS (
  SELECT DISTINCT s.s_suppkey, c.c_custkey
  FROM nation n
  JOIN supplier s ON s.s_nationkey = n.n_nationkey
  JOIN customer c ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE' AND c.c_acctbal < 0
)
SELECT tag, n, chk FROM (
  SELECT 'supplier' AS tag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(s_suppkey) AS BIGINT) AS chk
  FROM supplier
  WHERE s_suppkey NOT IN (SELECT s_suppkey FROM doomed)
  UNION ALL
  SELECT 'customer', CAST(COUNT(*) AS BIGINT), CAST(SUM(c_custkey) AS BIGINT)
  FROM customer
  WHERE c_custkey NOT IN (SELECT c_custkey FROM doomed)
) v
ORDER BY tag
""",
    doc="issue819: DELETE t2.*, t3.* FROM three-way join — two anti-joins "
    "off one shared doomed frame, pre-delete snapshot semantics",
)
def dml_multi_delete(spark, sf_dir):
    t = load_tables(spark, sf_dir)
    n, s, c, r = t["nation"], t["supplier"], t["customer"], t["region"]
    doomed = (
        n.join(s, s["s_nationkey"] == n["n_nationkey"])
        .join(c, c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .filter((r["r_name"] == "EUROPE") & (c["c_acctbal"] < 0))
        .select("s_suppkey", "c_custkey")
        .distinct()
    )
    # Both targets anti-join the SAME doomed frame (one join evaluation,
    # mirroring MySQL's single pre-delete join pass).
    doomed = materialize(doomed)
    surv_s = (
        s.join(
            doomed.select("s_suppkey").distinct(),
            "s_suppkey",
            "left_anti",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("s_suppkey").cast("long").alias("chk"),
        )
        .select(F.lit("supplier").alias("tag"), "n", "chk")
    )
    surv_c = (
        c.join(
            doomed.select("c_custkey").distinct(),
            "c_custkey",
            "left_anti",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c_custkey").cast("long").alias("chk"),
        )
        .select(F.lit("customer").alias("tag"), "n", "chk")
    )
    return surv_c.unionAll(surv_s).orderBy("tag")
