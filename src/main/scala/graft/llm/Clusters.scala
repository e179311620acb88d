package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.CacheLifecycle.scaffold

/** Connected components over the near-duplicate candidate graph — the
  * clustering stage of a fuzzy-dedup pipeline. LSH candidates (e.g.
  * [[Dedup.minhashCandidates]]) are PAIRS; retention policies need
  * CLUSTERS, and near-duplication is transitive in practice (A~B, B~C ⇒
  * keep one of {A,B,C} even when the A–C pair was never emitted).
  *
  * Algorithm: alternating Large-Star / Small-Star contraction (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC 2014) — the
  * shape that holds at 100 TB: every round is two partial-aggregating
  * shuffles plus an equality join (no all-pairs, no driver-side graph,
  * nothing proportional to component diameter), and the round count is
  * O(log n) regardless of chain length, where plain min-label propagation
  * pays one round per hop of graph diameter. The driver only runs the
  * per-round test (one aggregate) — the data never leaves the executors.
  *
  * Size-adaptive finish (Kiveris et al.; Łącki et al., "Connected
  * Components at Scale via Local Contractions", 2018): the same per-round
  * aggregate also counts the remaining edges, and once that MEASURED
  * count is at most [[FinishEdges]] the rest of the work is union-find
  * over primitive arrays in one task. A graph that starts under the bound
  * (every near-dup graph of the benchmark and Verify surfaces) runs no
  * contraction round at all, and reports 0 rounds.
  */
object Clusters {

  /** Edge count at or below which the remaining graph is finished by
    * union-find in one task rather than by more contraction rounds. The
    * task holds at most ~64 bytes per edge (the edge arrays, the sorted
    * node ids and their parent/root indexes), so the bound caps it at
    * ~64 MB. Measured at `local[4]` (4 vCPUs) on planted 64-node chains,
    * the finish beats the 6-round loop ~9× at this size (3.6–3.8 s vs
    * 32–41 s) and at twice it (8.0–8.8 s vs 64–68 s); the bound is set by
    * the task's memory, not by speed. */
  val FinishEdges: Long = 1L << 20

  /** Cap on the contraction rounds of [[starEdges]]; the loop needs
    * O(log n) of them. */
  private val MaxRounds = 20

  /** Both orientations of an undirected edge list with columns (u, v). */
  private def symmetric(e: DataFrame): DataFrame =
    e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))

  /** Large-Star: every node connects its strictly-larger neighbors to the
    * minimum of its neighborhood (including itself). Emitted edges are
    * canonical (u > v). */
  private def largeStar(e: DataFrame): DataFrame = {
    val s = symmetric(e)
    val m = s.groupBy("u").agg(min("v").as("_mn"))
      .select(col("u"), least(col("_mn"), col("u")).as("m"))
    s.join(m, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-Star: every node connects its smaller-or-equal neighbors (and
    * itself) to the minimum among them. Each undirected edge is processed
    * at exactly its larger endpoint, so the union over nodes covers the
    * whole edge set. Emitted edges are canonical (u > v). */
  private def smallStar(e: DataFrame): DataFrame = {
    val s = symmetric(e).where(col("v") < col("u"))
    val m = s.groupBy("u").agg(min("v").as("m"))
    s.join(m, "u").select(col("v").as("u"), col("m").as("v"))
      .union(m.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Star edges (node → component root) for the graph given as candidate
    * pairs (a_id, b_id): one (u, v) row per non-root node u, v = the
    * minimum node id of u's component. Iterates Large-Star∘Small-Star to
    * a fixed point, detected STRUCTURALLY: a canonical (u > v) distinct
    * edge set is a fixed point of the alternation iff it is a star forest
    * — every child appears in exactly one edge and no child is also a
    * root (the canonical orientation then forces each root to be its
    * component's minimum, which is exactly the converged state). Testing
    * that is one cheap aggregate over the already-checkpointed edges,
    * where the previous checksum scheme had to run ONE MORE full
    * contraction round (four shuffles) just to observe an unchanged edge
    * set — on the common near-dup graph (tiny components, one round to
    * converge) the structural test halves the loop's round count. The
    * same aggregate counts the edges: a graph that is not yet a star
    * forest but has at most [[FinishEdges]] edges is finished by
    * union-find in one task (long ids only; other id types always run the
    * loop).
    *
    * Each round is truncated by [[graft.operators.CacheLifecycle.scaffold]]:
    * without lineage truncation the logical plan grows by a constant
    * factor PER ROUND (each star references its input several times) and
    * planning itself blows up long before the data does. The one-task
    * finish is scaffolded the same way, so consumers that read the edges
    * twice ([[assign]]) run it once. With a checkpoint directory set on
    * the context (`sc.setCheckpointDir`, the deployment's durability
    * choice on a multi-executor cluster, where local blocks die with a
    * decommissioned executor) the rounds are reliable checkpoints; else
    * lazy local ones, which the per-round test right after materializes.
    * Dropped generations are reclaimed by the ContextCleaner once
    * unreferenced. */
  def starEdges(pairs: DataFrame): DataFrame = starEdgesWithRounds(pairs)._1

  /** [[starEdges]] plus the number of Large∘Small contraction rounds it
    * ran before the structural fixed-point test passed or the union-find
    * finish took over — the observable the O(log n) claim is tested
    * against. 0 when the input graph was already under [[FinishEdges]]. */
  def starEdgesWithRounds(pairs: DataFrame): (DataFrame, Int) =
    contract(pairs, FinishEdges)

  /** [[starEdgesWithRounds]] with the finish bound as a parameter: tests
    * pass 0 to run the contraction loop to the fixed point on graphs far
    * smaller than [[FinishEdges]]. */
  private[graft] def contract(pairs: DataFrame, finishEdges: Long): (DataFrame, Int) = {
    // canonical orientation (u > v) from the start: the structural test
    // below relies on it, and both star operators preserve it
    val canonical = pairs
      .select(
        greatest(col("a_id"), col("b_id")).as("u"),
        least(col("a_id"), col("b_id")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
    val finishable = canonical.schema("u").dataType == LongType
    @annotation.tailrec
    def loop(e: DataFrame, it: Int): (DataFrame, Int) = {
      val (starForest, edges) = forestStats(e)
      if (starForest) (e, it)
      else if (finishable && edges <= finishEdges) (scaffold(unionFindStars(e)), it)
      else if (it >= MaxRounds) (e, it)
      else loop(scaffold(smallStar(largeStar(e))), it + 1)
    }
    loop(scaffold(canonical), 0)
  }

  /** Union-find over the whole (deduplicated, canonical) edge set in ONE
    * task: node ids sorted into a primitive array, parents as array
    * indexes, every union links the larger root under the smaller, so a
    * root is always its component's minimum. Emits (u, root) for every
    * non-root node — the converged star forest the loop reaches. */
  private def unionFindStars(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.coalesce(1).as[(Long, Long)].mapPartitions { it =>
      val us = new scala.collection.mutable.ArrayBuilder.ofLong
      val vs = new scala.collection.mutable.ArrayBuilder.ofLong
      it.foreach { case (u, v) => us += u; vs += v }
      val (eu, ev) = (us.result(), vs.result())
      val all = eu ++ ev
      java.util.Arrays.sort(all)
      var n = 0
      all.indices.foreach { i =>
        if (i == 0 || all(i) != all(i - 1)) { all(n) = all(i); n += 1 }
      }
      val ids = java.util.Arrays.copyOf(all, n)
      val parent = Array.tabulate(ids.length)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var y = x
        while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
        r
      }
      var i = 0
      while (i < eu.length) {
        val a = find(java.util.Arrays.binarySearch(ids, eu(i)))
        val b = find(java.util.Arrays.binarySearch(ids, ev(i)))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
        i += 1
      }
      val root = Array.tabulate(ids.length)(find)
      ids.indices.iterator.filter(x => root(x) != x).map(x => (ids(x), ids(root(x))))
    }.toDF("u", "v")
  }

  /** Per-round test, one aggregate over the checkpointed edges: whether
    * the canonical, distinct edge set is a fixed point of Large∘Small,
    * and how many edges it has. It is a fixed point iff every child `u`
    * has exactly one edge and no child is also a root (then each root is
    * its component's minimum by the u > v invariant). Written against
    * the RDD API so it is ONE job (a combining shuffle, then the
    * reduction); the SQL form runs one job per shuffle stage under AQE. */
  private def forestStats(e: DataFrame): (Boolean, Long) = {
    // per node: (edges where it is the child, edges where it is the root)
    val perNode = e.rdd
      .flatMap(r => Iterator(r.get(0) -> ((1L, 0L)), r.get(1) -> ((0L, 1L))))
      .reduceByKey((x, y) => (x._1 + y._1, x._2 + y._2))
    val (edges, violations) = perNode.values.aggregate((0L, 0L))(
      { case ((n, bad), (c, r)) => (n + c, if (c > 1 || (c > 0 && r > 0)) bad + 1 else bad) },
      (x, y) => (x._1 + y._1, x._2 + y._2))
    (violations == 0L, edges)
  }

  /** Per-document cluster assignment over `docs` using the near-dup
    * candidate pairs: (doc_id, cluster_id = min doc_id of the component,
    * cluster_size). Documents with no candidate pair are singleton
    * clusters of themselves. The final graph is a star per component, so
    * the root is just the minimum of each node's closed neighborhood —
    * one aggregation, no more iteration. */
  def assign(docs: DataFrame, pairs: DataFrame): DataFrame =
    assignStars(docs, starEdges(pairs))

  /** [[assign]] over star edges already computed (by [[starEdges]] or, in
    * tests, by [[contract]]). */
  private[graft] def assignStars(docs: DataFrame, starEdges: DataFrame): DataFrame = {
    val stars = symmetric(starEdges)
    val roots = stars.groupBy("u").agg(min("v").as("_mn"))
      .select(col("u").as("doc_id"), least(col("_mn"), col("u")).as("cluster_id"))
    val all = docs.select(col("doc_id"))
      .join(roots, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    val sizes = all.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    all.join(sizes, "cluster_id").select("doc_id", "cluster_id", "cluster_size")
  }

  /** Build the near-dup cluster assignment once and persist it under
    * `path` as a (doc_id, cluster_id, cluster_size) parquet — the
    * pipeline shape real curation uses: the expensive star contraction
    * runs ONCE per corpus snapshot, and every downstream gate (funnel,
    * keep-best, incremental checks) reads the assignment instead of
    * re-contracting. Mirrors `Similarity.ivfIndexWrite`. */
  def indexWrite(docs: DataFrame, pairs: DataFrame, path: String): Unit =
    assign(docs, pairs).write.mode("overwrite").parquet(path)

  /** Load a persisted cluster assignment written by [[indexWrite]]. */
  def indexLoad(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Cluster-size distribution — the ledger read before choosing a dedup
    * retention policy: how many near-dup clusters exist at each size and
    * how many documents they hold (size 1 = unique docs; a heavy tail of
    * large clusters means keep-one dedup reclaims the corpus, a flat head
    * means it buys little). One keyed agg over the (already size-annotated)
    * assignment — at scale this reads the persisted cluster index, so the
    * histogram never re-runs the contraction. */
  def sizeHistogram(assignment: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit}
    assignment
      .groupBy("cluster_size")
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"))
  }
}
