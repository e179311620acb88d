package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration graft runs under: the Verify oracle
  * gate, Bench, the plan dumps, the profilers and the test suite all build
  * their session here, so a result, a plan or a timing taken by one of them
  * holds for the others. Every conf not set here stays at Spark's default
  * (AQE and its partition coalescing are on by default). */
object GraftSession {

  /** Local core count, `SPARK_GRAFT_CPUS` (a deployment setting), default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** AQE's parallelismFirst coalescing targets minPartitionSize (default
    * 1m), which under-parallelizes CPU-DENSE small-byte stages once cached
    * plans coalesce too (see `conf`): measured at the 10x slice,
    * dedup_verify_capped's candidate-intersect stage coalesced to 1 task
    * (6.1 s) where the uncached shape ran 32 tasks (2.2 s wall); 64k
    * restores the width (16 tasks, 2.0 s) while droplet-sized caches
    * (<<64k) still collapse to 1 partition. Byte-based and
    * core-count-independent. */
  val MinPartitionSize = "64k"

  /** Every setting except the two that follow the core count (master and
    * `spark.sql.shuffle.partitions`, both set by [[builder]]). */
  val conf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // Let AQE coalesce shuffle partitions INSIDE cached-plan
    // materialization too (partitioning must adapt to data volume, not the
    // core count). Off (the default) every `persist()`ed lineage compiles
    // without partition coalescing, so droplet-sized cached frames
    // materialize at full shuffle.partitions width and every downstream
    // stage inherits that width — measured as ~200-400 ms of pure
    // task-launch overhead per 32-task stage over ~1 ms of work in the
    // persist-bearing composites (cdc_snapshot_tail et al.), and the
    // 32-core anti-scaling family in PERF_r17's scaling block. Safe for
    // results: the only partition-sensitive operators (GlobalOrder's
    // spark_partition_id over repartitionByRange; MetricsAgg's local
    // pre-prune) are invariant under AQE's adjacent-range coalescing.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> MinPartitionSize,
    // strict codegen: a codegen compile failure fails the query instead of
    // passing on an interpreted fallback
    "spark.sql.codegen.fallback" -> "false",
    // every stateful streaming operator is a `transformWithState`
    // processor, which the HDFS-backed default store does not support
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config(conf)
}
