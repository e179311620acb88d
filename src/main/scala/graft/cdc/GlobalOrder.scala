package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global ordering: rank (and optionally running max) over a
  * total order WITHOUT a single-partition window.
  *
  * Spark executes `Window.orderBy(...)` with no partition key as one task —
  * the whole input funnels through a single core, which is fine at 10k rows
  * and fatal at 100×. The scalable shape (the classic zipWithIndex layout,
  * kept declarative here so codegen applies):
  *
  *   1. range-partition on the sort key — partition ids are then monotone in
  *      the global order (AQE may coalesce, but only adjacent ranges, which
  *      preserves monotonicity);
  *   2. per-partition local rank / running max (ordinary partitioned window);
  *   3. per-partition counts/maxima — a #partitions-row aggregate — combined
  *      into prefix offsets with a tiny triangular self-join (no
  *      single-partition exchange anywhere, not even on the 32-row side);
  *   4. broadcast the offsets back and add.
  *
  * Requires `sortCols` to be a total order (unique keys) for deterministic
  * ranks — the same requirement the single-partition window had.
  */
object GlobalOrder {

  /** One running aggregate of [[scan]]: `agg` runs as a window over each
    * (key, partition) run and as that run's summary; an additive one (count,
    * sum) adds the summed summaries of earlier partitions, a max takes the
    * larger of its local value and theirs. */
  private case class Running(dst: String, agg: Column, additive: Boolean)

  /** The prefix scan behind every public form: range-partition on
    * (key, sort), run each aggregate as a local cumulative window per
    * (key, partition), summarize each (key, partition), combine the
    * summaries of the same key's earlier partitions with a tiny triangular
    * join, and broadcast the offsets back. `keyNames` empty = one global
    * order. */
  private def scan(
      df: DataFrame,
      keyNames: Seq[String],
      sortCols: Seq[Column],
      runs: Seq[Running]): DataFrame = {
    val pid = "_go_pid"
    val keyCols = keyNames.map(col)
    val local = runs.indices.map(i => s"_go_l$i")
    val summary = runs.indices.map(i => s"_go_s$i")
    val offset = runs.indices.map(i => s"_go_o$i")
    val ranged = df.repartitionByRange(keyCols ++ sortCols: _*)
      .withColumn(pid, spark_partition_id())
    val cum = Window.partitionBy((keyCols :+ col(pid)): _*).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // scaffolded: (a) the partition-summary branches below reuse the
    // scanned data instead of re-executing its lineage, and (b) the sampled
    // range boundaries (and hence pid assignment) are pinned once — the
    // same cache-for-determinism rule RDD.zipWithIndex callers follow. One
    // row per input row; the range exchange runs when the scan is built
    // (a re-executed result would stay CORRECT: ranks/prefix sums are
    // boundary-invariant — the checkpoint only saves work).
    val scanned = graft.operators.CacheLifecycle.scaffold(runs.zip(local)
      .foldLeft(ranged) { case (d, (r, l)) => d.withColumn(l, r.agg.over(cum)) })
    val parts = scanned.groupBy((keyCols :+ col(pid)): _*)
      .agg(runs.head.agg.as(summary.head), runs.tail.zip(summary.tail).map {
        case (r, s) => r.agg.as(s) }: _*)
    // prefix combine over the summaries of the same key's earlier
    // partitions: offset[p] = Σ or max over q < p
    val a = parts.select(keyCols :+ col(pid).as("_go_p"): _*)
    val b = parts.select(keyNames.map(n => col(n).as(s"_gq_$n")) ++
      (col(pid).as("_go_q") +: summary.map(col)): _*)
    val earlier = keyNames.foldRight(col("_go_q") < col("_go_p")) {
      (n, c) => col(n) === col(s"_gq_$n") && c }
    val combined = runs.zip(summary).zip(offset).map { case ((r, s), o) =>
      (if (r.additive) coalesce(sum(s), lit(0L)) else max(s)).as(o) }
    val offsets = a.join(b, earlier, "left")
      .groupBy((keyCols :+ col("_go_p")): _*)
      .agg(combined.head, combined.tail: _*)
      .select(keyNames.map(n => col(n).as(s"_gk_$n")) ++
        (col("_go_p") +: offset.map(col)): _*)
    val sameRun = keyNames.foldRight(col(pid) === col("_go_p")) {
      (n, c) => col(n) === col(s"_gk_$n") && c }
    val joined = runs.zip(local).zip(offset)
      .foldLeft(scanned.join(broadcast(offsets), sameRun)) { case (d, ((r, l), o)) =>
        d.withColumn(r.dst,
          if (r.additive) col(o) + col(l)
          else when(col(o).isNull, col(l)).otherwise(greatest(col(l), col(o))))
      }
    joined.drop(keyNames.map(n => s"_gk_$n") ++ Seq(pid, "_go_p") ++ local ++ offset: _*)
  }

  /** Add a global 1-based rank column (and, if `runningMax` = Some(src, dst),
    * a running max of `src` over the global order as `dst`) ordered by
    * `sortCols`. All original columns are preserved. The rank is a running
    * count. */
  def rank(
      df: DataFrame,
      sortCols: Seq[Column],
      rankCol: String,
      runningMax: Option[(String, String)] = None): DataFrame =
    scan(df, Nil, sortCols, Running(rankCol, count(lit(1)), additive = true) +:
      runningMax.toSeq.map { case (src, dst) => Running(dst, max(col(src)), additive = false) })

  /** Distributed prefix sum: `dstCol` = Σ `srcCol` over all rows at or
    * before this one in `sortCols` order — the same scan as [[rank]], no
    * single-partition window anywhere. `sortCols` must be a total order. */
  def runningSum(
      df: DataFrame,
      sortCols: Seq[Column],
      srcCol: String,
      dstCol: String): DataFrame =
    scan(df, Nil, sortCols, Seq(Running(dstCol, sum(col(srcCol)), additive = true)))

  /** Per-KEY distributed prefix sum: `dstCol` = Σ `srcCol` over all rows of
    * the same `keyCols` at or before this one in `sortCols` order. The
    * keyed generalization of [[runningSum]] for when a single key's rows
    * exceed one partition (a `Window.partitionBy(key)` cumsum funnels each
    * key through ONE task — fine for small keys, fatal for a key holding a
    * 100 TB corpus slice): range-partitioning on (key, sort) makes each key
    * span a contiguous partition run, and the prefix combine stays within
    * the key. `keyCols ++ sortCols` must be a total order. */
  def keyedRunningSum(
      df: DataFrame,
      keyNames: Seq[String],
      sortCols: Seq[Column],
      srcCol: String,
      dstCol: String): DataFrame =
    scan(df, keyNames, sortCols, Seq(Running(dstCol, sum(col(srcCol)), additive = true)))
}
