package graft.operators

import org.apache.spark.sql.DataFrame

/** The one way an operator shares an intermediate frame between several
  * branches of ONE returned result (funnel stages, a snapshot state scan,
  * a k-means centroid table or PQ codebook behind an iterated-aggregation
  * lineage, `GlobalOrder`'s range-partitioned scan).
  *
  * A shared subtree that ends in an exchange needs nothing: the planner
  * reuses the exchange within the one plan (`ReusedExchange` in the
  * executed plan). Everything else read more than once goes through
  * [[scaffold]]. `Dataset.persist` is kept for a function that itself runs
  * several actions over one frame (the index writers), with its
  * `unpersist` in a `finally` of that same function: an operator that
  * returns a lazy frame cannot release a `CacheManager` entry at the
  * right moment, and an entry it leaves behind is never garbage-collected.
  */
object CacheLifecycle {

  /** Lineage-truncated scaffolding for a frame one result reads more than
    * once: a RELIABLE `checkpoint()` when the context has a checkpoint
    * directory (`sc.setCheckpointDir`, the deployment's durability choice,
    * as in [[graft.llm.Clusters.starEdges]]), else a lazy
    * `localCheckpoint(false)`. Either way the shuffle stages below it run
    * when the calling function builds its result, not at the caller's
    * action (the reliable form also writes the blocks then), and the
    * frame's range boundaries and partition assignment are pinned once.
    * Checkpoint blocks never enter the `CacheManager`; the ContextCleaner
    * reclaims them once the frame is unreferenced.
    *
    * Multi-executor caveat: local blocks live on the executors. One lost
    * with its executor is not recomputed, and a later action on the result
    * fails with "Checkpoint block not found" — on a multi-executor
    * cluster, set a checkpoint directory. */
  def scaffold(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(false)
}
