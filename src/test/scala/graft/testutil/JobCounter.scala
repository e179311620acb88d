package graft.testutil

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs, and the completed stages that wrote or read
  * shuffle data, while `body` runs. The listener bus is drained before
  * the listener is added and before the counts are read, so no event of
  * an earlier action is counted and none of `body`'s is missed. */
object JobCounter {
  final case class Counts(jobs: Int, shuffleStages: Int)

  def apply[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val shuffleStages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        if (m != null && (m.shuffleWriteMetrics.bytesWritten > 0 ||
            m.shuffleReadMetrics.totalBlocksFetched > 0)) shuffleStages.incrementAndGet()
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, Counts(jobs.get, shuffleStages.get))
    } finally sc.removeSparkListener(listener)
  }
}
