"""Lineage truncation; the session decides how the cut is made.

Any intermediate read by more than one consumer (a self-join's two
sides, distrank's probe/aggregate/offsets branches, an iteration's next
round) is held by a cut from this module: without one the lineage grows
per iteration (planning blows up) or the same expensive subtree is
recomputed per consumer, since independent AQE leaf stages race a lazy
cache. A cut's blocks are reclaimed by the ContextCleaner with the plan,
so nothing outlives the call that made it. The one exception is a
call-scoped cache that the operator releases before it returns
(``graph.pagerank``, ``label_propagation``, ``kcore_peel``).

Whether a cut must survive executor loss is a property of the
deployment, not of the call, so no operator takes an option for it: the
session's checkpoint directory decides, the rule Spark ML's
``checkpointInterval`` follows.

- No checkpoint dir (local mode, short interactive queries):
  ``localCheckpoint`` — blocks are executor-local disk/memory, written
  with no extra I/O beyond the shuffle, and reclaimed by the
  ContextCleaner when the plan is dropped. The cost at cluster scale:
  blocks are NOT replicated, so losing one executor mid-query kills the
  query instead of recomputing lineage (which was truncated).
- A checkpoint dir set (``spark.sparkContext.setCheckpointDir``; on a
  cluster of preemptible/spot executors, an HDFS/S3 path): ``checkpoint``
  through it. Survives executor loss; costs a write+read of the
  materialized data through the distributed FS. See SCALE.md "Lineage
  truncation" for the tradeoff.

Every cut is eager: the operators that call this rely on the
materialization happening at the call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Materialize `df` and cut its lineage: a reliable checkpoint when
    the session has a checkpoint dir, a local one otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
