"""Incremental view maintenance (IVM) folds for JOIN and aggregate views.

The reference refreshes derived results by merging its delta store into
the columnar base and re-running the whole query (MergeDeltaTable,
storage/tianmu/core/tianmu_table.cpp:1598 — recompute-on-read).  These
folds maintain the RESULT itself, one batch of deltas at a time; the
``pipeline_ivm_*`` registry entries drive them and check each step
against the full recompute.

JOIN views use the classic incremental algebra for append-only sides:

    J' = J  ∪  (ΔA ⋈ B)  ∪  (A ⋈ ΔB)  ∪  (ΔA ⋈ ΔB)

where A/B are the states BEFORE the batch and ΔA/ΔB the batch deltas.
The three delta terms are disjoint from J and from each other (every
output row pairs at least one delta row, and (old,old) pairs are
exactly J), so for append-only inputs the maintained view is
row-identical to the full recompute at every step.

At 100 TB the asymmetry is the point: |Δ| is batch-sized while |A|,|B|
are corpus-sized, so ΔA⋈B and A⋈ΔB broadcast the DELTA side —
per-batch cost is two big-side scans (one each) pruned by the
broadcast hash, never a corpus×corpus shuffle; with the states laid
out partitioned/bucketed by the join key the scans prune to matching
buckets.  ΔA⋈ΔB is batch×batch.  The view itself only ever APPENDS,
so J needs no rewrite — exactly the cheap path the reference's
recompute-on-read cannot take.

Aggregate views keep a (count, exact DECIMAL sum) or (min, max, count)
state per group and fold each batch's partial aggregate into it — an
outer merge on the group key, so state size is group-cardinality,
independent of stream length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEC = "decimal(38,10)"


def delta_join(
    a_state: DataFrame | None,
    b_state: DataFrame | None,
    delta_a: DataFrame | None,
    delta_b: DataFrame | None,
    key: str,
) -> DataFrame | None:
    """The new JOIN rows contributed by one batch of deltas: every
    pair with at least one delta member.  Returns None when no term
    applies (both deltas empty/absent)."""
    from pyspark.sql.functions import broadcast

    terms = []
    if delta_a is not None and b_state is not None:
        terms.append(broadcast(delta_a).join(b_state, key))
    if a_state is not None and delta_b is not None:
        terms.append(a_state.join(broadcast(delta_b), key))
    if delta_a is not None and delta_b is not None:
        terms.append(delta_a.join(delta_b, key))
    if not terms:
        return None
    out = terms[0]
    for t in terms[1:]:
        out = out.unionByName(t)
    return out


# ---------------------------------------------------------------------------
# Weighted (retraction) form: rows carry a signed multiplicity column
# ``_w`` (+1 insert, -1 delete / the retraction half of an update), the
# DBSP/differential-dataflow encoding.  Join contributions multiply
# weights (a retracted left row cancels every pair it once produced),
# so the SAME three-term algebra maintains the view under DML — the
# capability the reference reaches by re-merging its delta store.  The
# view stays append-only; ``consolidate`` nets the multiplicities out
# (run it lazily at read time, or periodically as compaction).
def delta_join_weighted(
    a_state: DataFrame | None,
    b_state: DataFrame | None,
    delta_a: DataFrame | None,
    delta_b: DataFrame | None,
    key: str,
) -> DataFrame | None:
    """Like delta_join, for frames carrying ``_w``: output weight is
    the product of the two input weights."""
    from pyspark.sql.functions import broadcast, col

    def _pair(left, right, bc):
        l = left.withColumnRenamed("_w", "_wl")
        r = right.withColumnRenamed("_w", "_wr")
        if bc == "l":
            l = broadcast(l)
        elif bc == "r":
            r = broadcast(r)
        return (
            l.join(r, key)
            .withColumn("_w", col("_wl") * col("_wr"))
            .drop("_wl", "_wr")
        )

    terms = []
    if delta_a is not None and b_state is not None:
        terms.append(_pair(delta_a, b_state, "l"))
    if a_state is not None and delta_b is not None:
        terms.append(_pair(a_state, delta_b, "r"))
    if delta_a is not None and delta_b is not None:
        terms.append(_pair(delta_a, delta_b, None))
    if not terms:
        return None
    out = terms[0]
    for t in terms[1:]:
        out = out.unionByName(t)
    return out


def consolidate(df: DataFrame) -> DataFrame:
    """Net the signed multiplicities: group by every payload column,
    keep rows with a positive net weight (``_w`` = the net count).
    One shuffle over the view — the compaction analog of the
    reference's background merge."""
    from pyspark.sql.functions import col
    from pyspark.sql.functions import sum as fsum

    cols = [c for c in df.columns if c != "_w"]
    return (
        df.groupBy(*cols)
        .agg(fsum("_w").alias("_w"))
        .filter(col("_w") > 0)
    )


def left_view(
    a_state: DataFrame,
    inner_view: DataFrame,
    key: str,
    right_cols: list[str],
) -> DataFrame:
    """LEFT-join view derived at read time from the maintained pieces:
    LJ = consolidate(inner) ∪ (net left rows with NO inner match,
    null-extended).  Nothing extra is maintained — the anti-join is
    against the inner view's key set, so a later right-side insert
    flips a left row from null-extended to matched exactly when the
    inner algebra adds its pairs (and a right delete flips it back
    when they cancel).  One extra anti-join per read; at scale both
    sides are key-partitioned state, so it bucket-prunes like the
    delta terms."""
    from pyspark.sql.functions import col, lit

    inner = consolidate(inner_view)
    matched_keys = inner.select(key).distinct()
    net_a = consolidate(a_state)
    unmatched = net_a.join(matched_keys, key, "left_anti")
    for c in right_cols:
        unmatched = unmatched.withColumn(c, lit(None))
    return inner.unionByName(unmatched.select(inner.columns))


def _combine(state: DataFrame, part: DataFrame) -> DataFrame:
    s = state.select(
        "event_type", F.col("n").alias("n_s"), F.col("total").alias("t_s")
    )
    p = part.select(
        "event_type", F.col("n").alias("n_p"), F.col("total").alias("t_p")
    )
    return s.join(p, "event_type", "full_outer").select(
        "event_type",
        (F.coalesce("n_s", F.lit(0)) + F.coalesce("n_p", F.lit(0))).alias("n"),
        (
            F.coalesce(F.col("t_s"), F.lit(0).cast(DEC))
            + F.coalesce(F.col("t_p"), F.lit(0).cast(DEC))
        ).cast(DEC).alias("total"),
    )


# ---------------------------------------------------------------------------
# Weighted (retraction) aggregate maintenance: deltas carry ``_w``
# (+1 insert, -1 delete).  COUNT and SUM are abelian-group aggregates
# (they have inverses), so the SAME fold maintains them under DML —
# n += Σw, total += Σ(w·value) — and a group vanishes when its net
# count reaches zero.  (MIN/MAX are NOT invertible; deleting the
# current extremum forces a per-group rescan — fold_minmax_agg below.)
def _partial_weighted(batch: DataFrame) -> DataFrame:
    return batch.groupBy("event_type").agg(
        F.sum("_w").cast("long").alias("n"),
        F.sum(F.col("_w") * F.col("value").cast(DEC)).cast(DEC).alias("total"),
    )


def fold_weighted_agg(
    state: DataFrame | None, batch: DataFrame
) -> DataFrame:
    """One IVM step for the (count, exact-sum) view under signed
    deltas; returns the new state (groups with net n == 0 drop out)."""
    part = _partial_weighted(batch)
    merged = part if state is None else _combine(state, part)
    return merged.filter(F.col("n") != 0)


def fold_minmax_agg(
    state: DataFrame | None,
    batch: DataFrame,
    base: DataFrame,
    key: str = "event_type",
    val: str = "value",
) -> DataFrame:
    """One IVM step for the (min, max, count) view under signed deltas
    — with the delete-extremum RESCAN trigger that count/sum don't
    need.  MIN/MAX are only semigroup aggregates (no inverse): inserts
    fold monotonically (least/greatest), but deleting a value at or
    beyond a group's current extremum may or may not change it
    (duplicates!), so such groups are marked DIRTY and recomputed from
    ``base`` — the caller's post-batch base relation (one row per live
    physical row, e.g. ``consolidate`` of its weighted state).

    Scale shape: the rescan is a LEFT SEMI join of base against the
    (small) dirty-key set followed by a per-group aggregate — cost is
    the dirty groups' row count, not the base size; with the base
    key-partitioned (as any maintained state would be at 100 TB) the
    semi join bucket-prunes.  Clean groups never touch the base.
    State columns: (key, mn, mx, n); groups with net n == 0 drop out.

    Reference analog: the engine repairs aggregates by re-running the
    query after MergeDeltaTable folds deletes into the columnar base
    (storage/tianmu/core/tianmu_table.cpp:1598) — i.e. a full rescan;
    here only dirty groups pay.
    """
    spark = batch.sparkSession
    ins = (
        batch.filter(F.col("_w") > 0)
        .groupBy(key)
        .agg(
            F.min(val).alias("i_mn"),
            F.max(val).alias("i_mx"),
            F.sum("_w").cast("long").alias("i_n"),
        )
    )
    dels = (
        batch.filter(F.col("_w") < 0)
        .groupBy(key)
        .agg(
            F.min(val).alias("d_mn"),
            F.max(val).alias("d_mx"),
            F.sum("_w").cast("long").alias("d_n"),
        )
    )
    if state is None:
        state = spark.createDataFrame(
            [],
            batch.select(
                F.col(key),
                F.col(val).alias("mn"),
                F.col(val).alias("mx"),
                F.lit(0).cast("long").alias("n"),
            ).schema,
        )
    merged = (
        state.join(ins, key, "full_outer")
        .join(dels, key, "full_outer")
        .select(
            key,
            # least/greatest skip NULLs, so a brand-new group takes the
            # batch extremes and an untouched group keeps its own
            F.least("mn", "i_mn").alias("mn_c"),
            F.greatest("mx", "i_mx").alias("mx_c"),
            (
                F.coalesce("n", F.lit(0))
                + F.coalesce("i_n", F.lit(0))
                + F.coalesce("d_n", F.lit(0))
            ).cast("long").alias("n_new"),
            # compare against the CANDIDATE extremes so a same-batch
            # insert+delete on a brand-new group triggers the rescan too
            (
                (
                    F.col("d_mn").isNotNull()
                    & (F.col("d_mn") <= F.least("mn", "i_mn"))
                )
                | (
                    F.col("d_mx").isNotNull()
                    & (F.col("d_mx") >= F.greatest("mx", "i_mx"))
                )
            ).alias("dirty"),
        )
        .filter(F.col("n_new") > 0)
    )
    clean = merged.filter(~F.coalesce("dirty", F.lit(False))).select(
        key,
        F.col("mn_c").alias("mn"),
        F.col("mx_c").alias("mx"),
        F.col("n_new").alias("n"),
    )
    dirty_keys = merged.filter(F.coalesce("dirty", F.lit(False))).select(
        key, "n_new"
    )
    rescan = (
        base.join(dirty_keys.select(key), key, "left_semi")
        .groupBy(key)
        .agg(F.min(val).alias("mn"), F.max(val).alias("mx"))
        .join(dirty_keys, key)
        .select(key, "mn", "mx", F.col("n_new").alias("n"))
    )
    return clean.unionByName(rescan)
