"""Graph analytics over derived relational graphs.

The reference engine has no graph surface; these are the "beyond" ops a
warehouse bolted onto a training pipeline actually runs: link analysis
for source weighting (PageRank), community density diagnostics
(triangles / clustering coefficient), and behavioral-sequence modeling
(Markov transition matrices).  Graph = co-purchase pairs from lineitem
(parts sharing an order) or event-type transitions from events.

Every iteration runs in FIXED-POINT integer arithmetic (parts-per-
billion ranks, integer DIV) so the multi-round float-summation-order
problem cannot exist: both engines compute bit-identical BIGINTs and
the driver hash arbitrates exactly.

Scale notes
-----------
* Pair generation is per-order (bounded fan-out ~7 lines/order -> ~21
  pairs), never an unbounded self-join: linear in lineitem.
* PageRank is 3 unrolled join+agg rounds over the edge list — each
  round shuffles edges once on dst; the edge list goes through
  ``materialize`` so the base subplan runs once, not re-derived per round
  (same discipline as operators/dedup.py connected components).
* Triangle counting orients edges from low to high (degree, id), the
  standard trick that caps wedge fan-out at O(sqrt(m)) per node, so
  the wedge join is ~m^1.5 worst-case instead of sum(deg^2) on hubs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stonedb_spark.catalog import load_tables
from stonedb_spark.queries import register
from stonedb_spark.reuse import materialize

B = F.broadcast

# Shared SQL for the co-purchase edge list: distinct part pairs sharing
# an order, sampled to 1-in-20 orders so the oracle's wedge join stays
# tractable at sf0.1 (the SAMPLING is the scale knob, not the shape).
_PAIRS_SQL = """
pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 20 = 0
),
edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u)
"""


def _copurchase_pairs(l):  # noqa: E741
    a = l.filter(F.col("l_orderkey") % 20 == 0).select("l_orderkey", "l_partkey")
    b = a.select(
        F.col("l_orderkey").alias("bo"), F.col("l_partkey").alias("bv")
    )
    return (
        a.join(b, (a["l_orderkey"] == F.col("bo")) & (a["l_partkey"] < F.col("bv")))
        .select(F.col("l_partkey").alias("u"), F.col("bv").alias("v"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# PageRank (3 unrolled rounds, damping 0.85, parts-per-billion fixed point).
def _pagerank_oracle() -> str:
    it = """
it{k} AS (
  SELECT e.v AS u, SUM(r{p}.r // deg.d) AS s
  FROM edges e JOIN r{p} ON e.u = r{p}.u JOIN deg ON deg.u = e.u
  GROUP BY e.v
),
r{k} AS (
  SELECT deg.u, 150000000 // nn.n + (850 * COALESCE(it{k}.s, 0)) // 1000 AS r
  FROM deg CROSS JOIN nn LEFT JOIN it{k} ON it{k}.u = deg.u
)"""
    rounds = ",".join(it.format(k=k, p=k - 1) for k in (1, 2, 3))
    return f"""
WITH {_PAIRS_SQL},
nn AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (SELECT u, 1000000000 // nn.n AS r FROM deg CROSS JOIN nn),
{rounds}
SELECT r3.u AS node, deg.d AS degree, CAST(r3.r AS BIGINT) AS rank_ppb
FROM r3 JOIN deg ON deg.u = r3.u
ORDER BY rank_ppb DESC, node
LIMIT 25
"""


@register(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    doc="3-round fixed-point PageRank over the part co-purchase graph",
)
def graph_pagerank(spark, sf_dir):
    l = load_tables(spark, sf_dir)["lineitem"]  # noqa: E741
    pairs = _copurchase_pairs(l)
    # BOTH reused frames are materialized lazily, so the single
    # deg.count() below is the only setup action — it materializes
    # edges and deg in one job.
    edges = materialize(
        pairs.unionByName(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    # deg is read 4x (one contrib join per round + the rebase join);
    # materialize so the edge aggregation runs once, not per reference.
    deg = materialize(edges.groupBy("u").agg(F.count(F.lit(1)).alias("d")))
    n = deg.count()  # node count: one tiny job, bounded by |parts|
    # rank carries (u, r, d): the contribution r DIV d needs the SOURCE
    # node's rank AND degree, so shipping d inside the rank frame makes
    # each round ONE edges join instead of two (edges⋈rank + edges⋈deg
    # was a second full shuffle of the edge list per round — guide §2.4;
    # same integer arithmetic, bit-identical ranks).
    rank = deg.select("u", F.expr(f"1000000000 DIV {n}").alias("r"), "d")
    for _ in range(3):
        contrib = (
            edges.join(
                rank.select(F.col("u").alias("cu"), "r", "d"),
                F.col("cu") == edges["u"],
            )
            .groupBy(F.col("v").alias("u"))
            .agg(F.sum(F.expr("r DIV d")).alias("s"))
        )
        rank = deg.join(contrib, "u", "left").select(
            "u",
            (
                F.lit(150000000 // n)
                + F.expr("850 * COALESCE(s, 0) DIV 1000")
            ).alias("r"),
            "d",
        )
    return (
        rank.select(
            F.col("u").alias("node"),
            F.col("d").alias("degree"),
            F.col("r").alias("rank_ppb"),
        )
        .orderBy(F.desc("rank_ppb"), "node")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Triangle census + global clustering coefficient.
@register(
    "graph_triangles",
    oracle=f"""
WITH {_PAIRS_SQL},
ori AS (
  SELECT CASE WHEN (da.d, p.u) < (db.d, p.v) THEN p.u ELSE p.v END AS lo,
         CASE WHEN (da.d, p.u) < (db.d, p.v) THEN p.v ELSE p.u END AS hi
  FROM pairs p JOIN deg da ON da.u = p.u JOIN deg db ON db.u = p.v
),
wedge AS (
  SELECT a.hi AS x, b.hi AS y
  FROM ori a JOIN ori b ON a.lo = b.lo AND (a.hi < b.hi)
),
tri AS (
  SELECT COUNT(*) AS t
  FROM wedge w
  WHERE EXISTS (SELECT 1 FROM pairs p
                WHERE (p.u = w.x AND p.v = w.y) OR (p.u = w.y AND p.v = w.x))
),
stats AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(d) / 2 AS BIGINT) AS n_edges,
         CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT s.n_nodes AS n_nodes, s.n_edges AS n_edges,
       t.t AS n_triangles, s.n_wedges AS n_wedges,
       (3 * t.t * 1000000) // s.n_wedges AS global_cc_ppm
FROM stats s CROSS JOIN tri t
""",
    doc="degree-oriented triangle count + global clustering coefficient (ppm)",
)
def graph_triangles(spark, sf_dir):
    l = load_tables(spark, sf_dir)["lineitem"]  # noqa: E741
    # lazy: the tri.count() below is the first consumer and materializes
    # the pairs inside its own job (no separate setup job)
    pairs = materialize(_copurchase_pairs(l))
    edges = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # orient each undirected pair from low to high (degree, id)
    da = deg.select(F.col("u").alias("pu"), F.col("d").alias("du_"))
    db = deg.select(F.col("u").alias("pv"), F.col("d").alias("dv_"))
    ori = (
        pairs.join(da, pairs["u"] == F.col("pu"))
        .join(db, pairs["v"] == F.col("pv"))
        .select(
            F.when(
                (F.col("du_") < F.col("dv_"))
                | ((F.col("du_") == F.col("dv_")) & (pairs["u"] < pairs["v"])),
                F.struct(pairs["u"].alias("lo"), pairs["v"].alias("hi")),
            )
            .otherwise(F.struct(pairs["v"].alias("lo"), pairs["u"].alias("hi")))
            .alias("e")
        )
        .select("e.lo", "e.hi")
    )
    wedge = (
        ori.alias("a")
        .join(ori.alias("b"), (F.col("a.lo") == F.col("b.lo")) & (F.col("a.hi") < F.col("b.hi")))
        .select(F.col("a.hi").alias("x"), F.col("b.hi").alias("y"))
    )
    # close the wedge against the undirected pair set (either direction)
    closing = pairs.select(
        F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y")
    ).distinct()
    tri = wedge.select(
        F.least("x", "y").alias("x"), F.greatest("x", "y").alias("y")
    ).join(closing, ["x", "y"], "left_semi")
    t = tri.count()
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        F.sum(F.expr("d * (d - 1) / 2")).cast("long").alias("n_wedges"),
    )
    return stats.select(
        "n_nodes",
        "n_edges",
        F.lit(t).cast("long").alias("n_triangles"),
        "n_wedges",
        F.expr(f"CAST({3 * t * 1000000} AS BIGINT) DIV n_wedges").alias(
            "global_cc_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# First-order Markov transition matrix over per-user event sequences.
@register(
    "graph_markov_transitions",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
cnt AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
),
tot AS (SELECT prev_type, SUM(n) AS row_n FROM cnt GROUP BY prev_type),
k AS (SELECT COUNT(DISTINCT event_type) AS n_states FROM events)
SELECT c.prev_type AS prev_type, c.next_type AS next_type,
       c.n AS n,
       CAST(CAST((c.n + 1) * 1000000 AS BIGINT) // (t.row_n + k.n_states)
            AS BIGINT) AS p_ppm
FROM cnt c JOIN tot t ON t.prev_type = c.prev_type CROSS JOIN k
ORDER BY prev_type, next_type
""",
    doc="Laplace-smoothed event-type transition matrix (ppm fixed point)",
)
def graph_markov_transitions(spark, sf_dir):
    from pyspark.sql import Window

    e = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    cnt = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cnt.groupBy(F.col("prev_type").alias("tp")).agg(F.sum("n").alias("row_n"))
    n_states = e.select("event_type").distinct().count()
    return (
        cnt.join(B(tot), cnt["prev_type"] == F.col("tp"))
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr(f"(n + 1) * 1000000 DIV (row_n + {n_states})").alias("p_ppm"),
        )
        .orderBy("prev_type", "next_type")
    )
