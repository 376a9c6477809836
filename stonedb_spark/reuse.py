"""Materialize-for-reuse: the one way a build computes a frame once and
reads it several times (self-joins, iterative rounds, the good/reject
halves of one parse, staged DML rewrites).  The analog of the reference's
``TempTable::Materialize`` (core/temp_table.cpp): the result lives only
as long as the query."""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    """Return ``df`` backed by blocks computed once for this build.

    Policy:

    * The blocks are scoped to this build.  They belong to the returned
      frame's RDD, and ContextCleaner frees them once that frame is
      garbage; nothing needs (or has) an ``unpersist``.
    * There is no CacheManager entry.  A ``persist``/``cache`` entry is
      keyed on the canonical plan, which embeds the input paths, so a
      later, independent build of the same query would silently read
      this run's blocks (result reuse across runs) and the entry would
      live until someone unpersisted it.
    * Storage is MEMORY_AND_DISK: a frame larger than memory spills
      rather than fails.
    * The lineage is truncated: later plans see a ``Scan ExistingRDD``,
      so an iterative loop does not re-optimize every earlier round.
      Its size statistic is the optimizer's estimate of ``df``, not the
      measured size a filled cache reports, so a join against a small
      materialized frame may plan as a sort-merge join that AQE only
      turns into a broadcast after the shuffle has run.

    What ``eager`` does under adaptive query execution:

    * ``eager=False`` is only partly lazy.  Building the RDD runs the
      upstream shuffle-map stages at the call (grouping lineitem by
      ``l_partkey`` ran 1 job at the call); only the final stage is
      deferred to the first consumer's job, which then stores the
      blocks.  A first consumer that reads only some partitions
      (``head``, ``limit``) is followed by one more job that computes
      the rest.
    * ``eager=True`` also runs that final stage, as its own job, before
      returning — one job more than the lazy form.  Use it when the
      source is about to be overwritten (staged DML rewrites) or when
      the frame must be fixed before a side effect reads it.

    The blocks live on the executors that computed them, so losing an
    executor fails the consumer instead of recomputing.  A cluster
    deployment would switch this one function to a reliable
    ``checkpoint()`` into a checkpoint directory (see SCALING.md).
    """
    return df.localCheckpoint(eager)
