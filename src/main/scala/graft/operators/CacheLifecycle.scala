package graft.operators

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Lifecycle management for per-run cached scaffolding.
  *
  * Several operators persist an intermediate frame that multiple branches
  * of ONE returned ledger read (funnel stages, a snapshot key scan, a PQ
  * codebook behind an iterated-aggregation lineage). The persist is
  * load-bearing — without it the shared subtree recomputes once per
  * consuming branch — but `Dataset.persist` parks an entry in the
  * session's `CacheManager` forever: unlike RDD caching, it is never
  * garbage-collected, so a long-lived session running the full query
  * surface accumulates dead cache entries (round-10 verdict, hygiene
  * finding #4). The operator itself cannot simply `unpersist()` before
  * returning, because the returned frame is lazy and the cache must
  * survive until the action that consumes it.
  *
  * [[releaseAfterUse]] closes the gap: it returns the result unchanged
  * and registers a one-shot `QueryExecutionListener` that unpersists the
  * scaffolding as soon as an action whose analyzed plan CONTAINS the
  * scaffolding (by node identity — resolved subtrees pass through the
  * analyzer unchanged, so identity survives derived queries like
  * `result.coalesce(1).write`) completes, successfully or not. A backstop
  * counter releases after [[Backstop]] unrelated actions, so a built-but-
  * never-executed query can never pin its caches indefinitely.
  *
  * An early or backstop release is always SAFE: unpersisting a frame a
  * later action still references only costs recompute, never changes a
  * result. The pattern is therefore applied to operators whose returned
  * ledger is consumed by one action (the Verify/Bench contract — both
  * rebuild the query per run); scaffolding shared across a driver-side
  * convergence LOOP (`Dedup.clusters`' checkpointed star contraction,
  * `GlobalOrder`'s range-boundary frames) keeps explicit management
  * instead, because those run many actions over the same lineage.
  *
  * Known race: the release's `unpersist(false)` runs on the listener-bus
  * thread after the action and re-plans every cached, not-yet-loaded
  * frame whose plan contains the released one, so a caller that persists
  * a frame built over this scaffolding may recompute it. Scaffolding a
  * caller may also cache uses a checkpoint instead ([[scaffold]]).
  */
object CacheLifecycle {

  /** Unrelated-action limit before scaffolding is released regardless —
    * a leak backstop for results that are built but never executed. */
  val Backstop = 64

  /** Return `result` unchanged; unpersist every frame in `scaffolding`
    * after the first completed action that consumes `result`'s plan (or
    * after [[Backstop]] unrelated actions). No-op wrapper when
    * `scaffolding` is empty. */
  def releaseAfterUse(result: DataFrame, scaffolding: Seq[Dataset[_]]): DataFrame = {
    if (scaffolding.isEmpty) return result
    val spark = result.sparkSession
    val targets = scaffolding.map(_.queryExecution.analyzed)
    val lm = spark.listenerManager
    lm.register(new QueryExecutionListener {
      private val released = new AtomicBoolean(false)
      private val unrelated = new AtomicInteger(Backstop)
      private def fire(qe: QueryExecution): Unit = {
        val consumes =
          try qe.analyzed.exists(node => targets.exists(_ eq node))
          catch { case _: Throwable => false }
        if (consumes || unrelated.decrementAndGet() <= 0)
          if (released.compareAndSet(false, true)) {
            scaffolding.foreach(_.unpersist(false))
            lm.unregister(this)
          }
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = fire(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = fire(qe)
    })
    result
  }

  /** Lineage-truncated scaffolding for a frame one result reads more than
    * once (a signature frame on both sides of a band self-join, a decoded
    * image-hash frame behind four plan legs): a RELIABLE `checkpoint()`
    * when the context has a checkpoint directory (`sc.setCheckpointDir`,
    * the deployment's durability choice, as in
    * [[graft.llm.Clusters.starEdges]]), else a lazy
    * `localCheckpoint(false)`. Either way the shuffle stages below it run
    * when the calling function builds its result, not at the caller's
    * action (the reliable form also writes the blocks then). Local blocks
    * live on the executors: one lost with its executor is not recomputed,
    * and a later action on the result fails with "Checkpoint block not
    * found" — on a multi-executor cluster, set a checkpoint directory.
    *
    * Not persist + [[releaseAfterUse]]: that release's non-cascading
    * `unpersist` re-plans any cached, not-yet-loaded frame whose plan
    * contains the released one (a caller persisting
    * `Dedup.scalableCandidates` was the observed case), and consumers that
    * run driver-side contraction loops race the release listener with
    * their build-time actions. Checkpoint blocks never enter the
    * CacheManager; the ContextCleaner reclaims them once the frame is
    * unreferenced. */
  def scaffold(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(false)
}
