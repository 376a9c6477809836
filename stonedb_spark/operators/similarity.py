"""Similarity search over embedding columns (array<float>).

* cosine_scores / knn_bruteforce — exact top-k by cosine; the dot
  product runs as a sequential fold over the zipped arrays in pure
  Catalyst (F.zip_with + F.aggregate), entirely JVM-side.  Brute force
  is the correctness baseline: one broadcast of the query vector, one
  scan — at 100 TB it is still a single pass, the cost is O(n·d).
* lsh_bucket / knn_lsh — random-hyperplane LSH (Charikar 2002): sign
  bits of <x, h_i> for fixed seeded hyperplanes form a bucket key; the
  search touches only the query's bucket — the scale path (the scan
  prunes to ~n/2^bits with a plain equi-filter on the bucket column,
  which Parquet can push down when the bucket is materialized).

Hyperplanes are generated from a fixed seed and inlined as literals so
any other engine (the DuckDB oracle) reproduces bucket keys exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stonedb_spark.reuse import materialize

EMB_DIM = 64
LSH_BITS = 4
_SEED = 42


def lsh_hyperplanes(bits: int = LSH_BITS, dim: int = EMB_DIM) -> list[list[float]]:
    """Deterministic hyperplanes, rounded so literals are exact in SQL."""
    rng = np.random.default_rng(_SEED)
    return [[round(float(v), 6) for v in rng.standard_normal(dim)] for _ in range(bits)]


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double (deterministic order)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def const_vector(vals: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vals])


def lsh_bucket(vec: Column, planes: list[list[float]] | None = None) -> Column:
    """Bucket key: concatenated sign bits of <vec, plane_i>."""
    planes = planes or lsh_hyperplanes()
    bits = [
        F.when(dot(vec, const_vector(p)) >= 0, "1").otherwise("0") for p in planes
    ]
    return F.concat(*bits)


def knn_bruteforce(
    embeddings: DataFrame,
    query_vec: Column,
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors of a constant query vector."""
    return (
        embeddings.select(
            F.col(id_col),
            cosine(F.col(vec_col), query_vec).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def knn_lsh(
    embeddings: DataFrame,
    query_vec: Column,
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: search only the query's LSH bucket."""
    planes = lsh_hyperplanes()
    bucketed = embeddings.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))
    qb = lsh_bucket(query_vec, planes)
    return (
        bucketed.filter(F.col("bucket") == qb)
        .select(F.col(id_col), cosine(F.col(vec_col), query_vec).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


IVF_NLIST = 16
IVF_NPROBE = 4


def ivf_centroids(
    embeddings: DataFrame,
    nlist: int = IVF_NLIST,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic coarse quantizer for IVF: the `nlist` rows first in
    md5(id) order serve as centroids (a seeded hash-sample — uniform over
    the table, engine-reproducible, and a top-k plan at any scale).  A
    k-means refinement would be a bounded number of extra
    assign+average passes over the same plan shape; the flat seeded
    quantizer keeps the index build a single pass."""
    return (
        embeddings.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(nlist)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine, ties to
    the smallest cid) → (id, cid).  The broadcast cross-join emits
    n·nlist scored rows but map-side partial MAX collapses them to n
    before the shuffle; at write time this column becomes the table's
    partition key so probes prune partitions."""
    scored = embeddings.crossJoin(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col("cid"),
        cosine(F.col(vec_col), F.col("cvec")).alias("sim"),
    )
    best = (
        scored.groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("sim"), (-F.col("cid")).alias("tie"), F.col("cid")
                )
            ).alias("m")
        )
        .select(F.col(id_col), F.col("m.cid").alias("cid"))
    )
    return best


def ivf_refine_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One spherical-k-means (Lloyd) refinement of the coarse quantizer,
    fully distributed: assign each vector to its nearest centroid, then
    replace every centroid with its cell's mean UNIT vector (the
    direction maximizing within-cell cosine, so the k-means objective is
    monotone — raw means lose that guarantee when norms vary).

    posexplode shuffles n·d (cid, pos, x) rows but the per-(cid, pos)
    AVG combines map-side, so the exchange carries nlist·d partials per
    task; output is nlist rows.  Iterating this a fixed small number of
    times is the standard IVF build; each pass is the same plan shape."""
    assign = ivf_assign(embeddings, centroids, vec_col, id_col)
    exploded = (
        embeddings.join(assign, id_col)
        .select("cid", F.posexplode(unit_vec(F.col(vec_col))).alias("pos", "x"))
    )
    dims = exploded.groupBy("cid", "pos").agg(F.avg("x").alias("m"))
    return (
        dims.groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cid", F.transform("pm", lambda s: s["m"]).alias("cvec"))
    )


# ---------------------------------------------------------------------------
def ivf_index(
    embeddings: DataFrame,
    nlist: int = IVF_NLIST,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignment) for the embedding table — built fresh on
    every call, never memoized across builds (in a real deployment the
    index IS build-once, but then the build must not sit inside a
    benchmarked query).  The centroid frame is materialized because it
    is consumed twice inside one query (assignment + probe top-nprobe).
    """
    c = materialize(ivf_centroids(embeddings, nlist, vec_col, id_col))
    assign = ivf_assign(embeddings, c, vec_col, id_col)
    return c, assign


def unit_vec(vec: Column) -> Column:
    """vec / ||vec|| as array<double> — computed ONCE per row so the
    pair stage needs a single dot, not dot + two norms (3× fewer
    per-pair folds)."""
    n = norm(vec)
    return F.transform(vec, lambda x: x.cast("double") / n)


def pair_dot_pandas() -> Column:
    """Arrow-batched rowwise dot product for PAIR streams.

    Catalyst's zip_with/aggregate lambdas are interpreted per element —
    fine per ROW (n·d work), ruinous per PAIR (n²·d: measured 89 s for
    2k vecs × 64 dims at sf0.1).  Over pairs we hand numpy the whole
    Arrow batch instead: one vectorized einsum per ~10k rows.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _dot(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.stack(a.to_numpy())
        B = np.stack(b.to_numpy())
        return pd.Series(np.einsum("ij,ij->i", A, B))

    return _dot


def semantic_dedup(
    embeddings: DataFrame,
    tau: float,
    nlist: int = IVF_NLIST,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (Abbas et al. 2023): bucket
    vectors by their IVF cell, compare pairs only WITHIN a cell, and
    greedily keep the smallest id of each near-duplicate pair
    (cos >= tau).  The cell partitioning is what makes it scale: pair
    cost is sum of per-cell sizes squared, never n² — the same coarse
    quantizer the ANN path uses, so one index serves both search and
    dedup.

    Returns (vec_id, cid, is_dup): is_dup=1 iff a SMALLER-id vector in
    the same cell clears tau (the greedy keep-first rule — one pass,
    no iteration; chains collapse toward the minimum id).
    """
    cent = ivf_centroids(embeddings, nlist, vec_col, id_col)
    assign = ivf_assign(embeddings, cent, vec_col, id_col)
    unit = embeddings.select(
        F.col(id_col), unit_vec(F.col(vec_col)).alias("u")
    ).join(assign, id_col)
    # read by both pair sides and the verdict join
    unit = materialize(unit)
    a = unit.select(
        F.col("cid"), F.col(id_col).alias("v1"), F.col("u").alias("ua")
    )
    b = unit.select(
        F.col("cid"), F.col(id_col).alias("v2"), F.col("u").alias("ub")
    )
    pd_dot = pair_dot_pandas()
    dup_targets = (
        a.join(b, ["cid"])
        .filter(F.col("v1") < F.col("v2"))
        .withColumn("cos", pd_dot(F.col("ua"), F.col("ub")))
        .filter(F.col("cos") >= tau)
        .select(F.col("v2").alias(id_col))
        .distinct()
    )
    return unit.select(id_col, "cid").join(
        dup_targets.withColumn("_d", F.lit(1)), id_col, "left"
    ).select(
        id_col,
        "cid",
        F.when(F.col("_d").isNotNull(), 1).otherwise(0).alias("is_dup"),
    )
