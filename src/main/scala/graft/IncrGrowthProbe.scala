package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Corpus, Dedup}
import graft.sources.Tables

/** Diagnostic main (round-16 verdict #1): measures the incrementally-
  * maintained admission index's STEADY STATE — the axis the decade
  * rehearsals never see because their slices rebuild the index at every
  * scale. The drill: build the base index from replica 0 of a rehearsal
  * slice (auto-sized), then fold each remaining replica in as a
  * successive [[Corpus.updateAdmissionIndex]] increment, growing the
  * corpus ~K×. Per increment it records wall time, affected partitions,
  * index rows, and the pruned gate's cost for a FIXED micro-batch (the
  * `corpus_admission_batch` batch: replica-0 doc_id%10==0 && <2000) —
  * wall (median of 3 after warm), rows read, partitions read. Then it
  * applies the [[Corpus.needsRebucket]] criterion, re-buckets, and
  * probes the gate once more: the recovery the maintenance op buys.
  *
  * Usage: SPARK_GRAFT_CPUS=8 sbt "runMain graft.IncrGrowthProbe
  * /tmp/sfr10 /tmp/incr_growth.json [batchLimit] [groupSize]" — results
  * feed the SCALE.md round-17 growth table. `batchLimit` bounds the
  * probe batch (default 2000, the corpus_admission_batch shape; a
  * smaller batch at larger slices keeps touched-buckets << numBuckets,
  * the production regime). `groupSize` folds that many replicas per
  * increment (default 1) so the 100x slice can grow through ~10
  * increments instead of 99. Runs under [[GraftSession]] (cores from
  * `SPARK_GRAFT_CPUS`, default 4), the bench's session.
  */
object IncrGrowthProbe {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/sfr10"
    val outPath = if (args.length > 1) args(1) else "/tmp/incr_growth.json"
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def exec(df: DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    val batchLimit = if (args.length > 2) args(2).toLong else 2000L
    val groupSize = if (args.length > 3) args(3).toInt else 1
    val docs = Tables.documents(spark, sfDir)
    val Stride = 1000000L // scale_rehearsal.py's DOC_STRIDE
    val replicas =
      (docs.agg(max(col("doc_id"))).head.getLong(0) / Stride).toInt + 1
    // same corpus/arrival split as the standing admission family
    def corpusSlice(kFrom: Int, kUntil: Int): DataFrame = docs.filter(
      col("doc_id") >= kFrom * Stride && col("doc_id") < kUntil * Stride &&
        col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0 && col("doc_id") < batchLimit)
    val dir = java.nio.file.Files.createTempDirectory("incr_growth_idx").toString

    // the fixed batch's gate: wall (median of 3 after a warm rep), rows
    // read from the index's touched partitions, partitions touched, total
    def gateProbe(): (Double, Long, Int, Long) = {
      val walls = (1 to 4).map { _ =>
        val t = System.nanoTime()
        exec(Corpus.admissionGatePruned(
          batch, Corpus.readAdmissionIndex(spark, dir)))
        (System.nanoTime() - t) / 1e9
      }
      val index = Corpus.readAdmissionIndex(spark, dir)
      val nb = Corpus.recordedNumBuckets(index).get
      val buckets = Dedup.withProjectedSignatures(
          batch.filter(size(split(col("text"), " ")) >= 2))
        .select(Corpus.sigBucket(nb).as("b")).distinct()
        .collect().map(_.getInt(0)).toSeq
      val rowsRead = index.filter(col("sig_bucket").isin(buckets: _*)).count()
      (median(walls.drop(1)), rowsRead, buckets.size, index.count())
    }

    val t0 = System.nanoTime()
    val nbBase = Corpus.writeAdmissionIndexAutoSized(corpusSlice(0, 1), dir)
    val baseWall = (System.nanoTime() - t0) / 1e9
    val g0 = gateProbe()
    System.err.println(f"[incr] base: nb=$nbBase build=$baseWall%.1fs " +
      f"gate=${g0._1}%.3fs rows_read=${g0._2} of ${g0._4}")

    val steps = (1 until replicas by groupSize).map { k =>
      val kUntil = math.min(k + groupSize, replicas)
      val incr = corpusSlice(k, kUntil)
      val affected = Corpus.admissionIndex(incr)
        .select(Corpus.sigBucket(nbBase).as("b")).distinct().count()
      val t1 = System.nanoTime()
      Corpus.updateAdmissionIndex(spark, dir, incr)
      val wall = (System.nanoTime() - t1) / 1e9
      val (gw, gr, gp, tot) = gateProbe()
      System.err.println(f"[incr] +replicas [$k,$kUntil): update=$wall%.1fs " +
        f"affected=$affected gate=$gw%.3fs rows_read=$gr parts=$gp total=$tot")
      (k, wall, affected, tot, gw, gr, gp)
    }

    val finalRows = steps.last._4
    val needs = Corpus.needsRebucket(finalRows, nbBase)
    val t2 = System.nanoTime()
    val nbNew = Corpus.rebucketAdmissionIndex(spark, dir)
    val rebucketWall = (System.nanoTime() - t2) / 1e9
    val gAfter = gateProbe()
    System.err.println(f"[incr] rebucket: nb=$nbBase->$nbNew " +
      f"wall=$rebucketWall%.1fs gate=${gAfter._1}%.3fs rows_read=${gAfter._2}")

    val stepsJson = steps.map { case (k, w, a, tot, gw, gr, gp) =>
      s"""{"replica":$k,"update_sec":${f"$w%.3f"},"affected_partitions":$a,""" +
        s""""index_rows":$tot,"gate_sec":${f"$gw%.4f"},"gate_rows_read":$gr,""" +
        s""""gate_partitions":$gp}"""
    }.mkString("[", ",", "]")
    val line =
      s"""{"sf":"$sfDir","replicas":$replicas,"nb_base":$nbBase,""" +
        s""""base_build_sec":${f"$baseWall%.3f"},""" +
        s""""gate_base":{"gate_sec":${f"${g0._1}%.4f"},"gate_rows_read":${g0._2},"gate_partitions":${g0._3},"index_rows":${g0._4}},""" +
        s""""steps":$stepsJson,"needs_rebucket":$needs,""" +
        s""""rebucket":{"nb_new":$nbNew,"rebucket_sec":${f"$rebucketWall%.3f"}},""" +
        s""""gate_after":{"gate_sec":${f"${gAfter._1}%.4f"},"gate_rows_read":${gAfter._2},"gate_partitions":${gAfter._3},"index_rows":${gAfter._4}}}"""
    val w = new java.io.PrintWriter(new java.io.File(outPath))
    try w.println(line) finally w.close()
    println(line)
    spark.stop()
  }
}
