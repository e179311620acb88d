package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable.ArrayBuffer

/** Stage-level diagnostic main (round-18 measurement tooling): per-stage
  * wall/task/cpu/gc breakdown of one query execution at a given core count,
  * for attributing composite-query cost to scheduling overhead vs work
  * (guide §1/§7). Runs under [[GraftSession]], the bench's session, so the
  * breakdown is of the plan the bench times. Not part of the driver
  * contract; not used by Bench/Verify.
  * Usage: runMain graft.DiagStages <sfDir> <cpus> <query> [reps]
  */
object DiagStages {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = args(1).toInt
    val reps = if (args.length > 3) args(3).toInt else 2
    val name = args(2)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    case class St(id: Int, name: String, tasks: Int, ms: Long, runMs: Long,
        cpuMs: Long, gcMs: Long)
    // appended on the listener-bus thread; read and cleared on this one
    // only after a bus drain, both under the buffer's lock
    val stages = ArrayBuffer[St]()
    var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for {a <- si.completionTime; b <- si.submissionTime} yield a - b).getOrElse(-1L)
        val tm = si.taskMetrics
        val st = St(si.stageId, si.name.takeWhile(_ != '\n').take(90), si.numTasks, ms,
          tm.executorRunTime, tm.executorCpuTime / 1000000L, tm.jvmGCTime)
        stages.synchronized { stages += st }
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        stages.synchronized { jobs += 1 }
    })

    def exec(): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    for (r <- 1 to reps) {
      spark.catalog.clearCache()
      stages.synchronized { stages.clear(); jobs = 0 }
      val t0 = System.nanoTime()
      exec()
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(spark.sparkContext)
      val (repStages, repJobs) = stages.synchronized { (stages.toList, jobs) }
      println(f"== $name rep $r: wall $wall%.2f s, $repJobs jobs, ${repStages.size} stages")
      if (r == reps) {
        for (s <- repStages.sortBy(-_.ms))
          println(f"  stage ${s.id}%4d ${s.ms}%6d ms tasks=${s.tasks}%4d run=${s.runMs}%6d cpu=${s.cpuMs}%6d gc=${s.gcMs}%5d  ${s.name}")
      }
    }
    spark.stop()
  }
}
