package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-layer spans read from Spark's own listener bus, from outside the
  * library: a span is a named interval of wall time plus the totals
  * of every job and task Spark ran on its behalf.
  *
  * Jobs are attributed through a thread-local Spark property
  * (`perfbench.span`) that the calling thread holds for the span's duration;
  * Spark copies local properties into every job it starts for that thread
  * (broadcast and subquery jobs included), so the attribution does not
  * depend on when the listener happens to see the events.
  *
  * The listener bus is asynchronous. Totals are read only after a barrier:
  * a one-task marker job submitted after the spans end, whose job-end event
  * this listener must see first. A listener receives events in posting
  * order, so by then every job-end and task-end event of every span has
  * been processed.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val lock = new Object
  private val stageSpan = mutable.Map[Int, String]()
  private val shuffleReadStages = mutable.Set[Int]()
  private val totals = mutable.Map[String, Totals]()
  private val taskMs = mutable.Map[String, mutable.ArrayBuffer[(Int, Long)]]()
  private val jobMarker = mutable.Map[Int, String]()
  private val markersSeen = mutable.Set[String]()
  private val markerSeq = new AtomicLong()
  private val spans = mutable.ArrayBuffer[(String, Double)]()
  private var untagged = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))) match {
        case Some(m) if m.startsWith(MarkerPrefix) => jobMarker(e.jobId) = m
        case Some(s) =>
          totals.getOrElseUpdate(s, new Totals).jobs += 1
          e.stageInfos.foreach(si => stageSpan(si.stageId) = s)
        case None => untagged += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobMarker.remove(e.jobId).foreach { m => markersSeen += m; lock.notifyAll() }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val t = totals.getOrElseUpdate(s, new Totals)
        val rd = m.shuffleReadMetrics
        t.tasks += 1
        t.taskMs += m.executorRunTime
        t.shuffleBytes += rd.remoteBytesRead + rd.localBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        if (rd.recordsRead > 0) shuffleReadStages += e.stageId
        taskMs.getOrElseUpdate(s, mutable.ArrayBuffer()) += (e.stageId -> m.executorRunTime)
      }
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` as the layer span `name`. Layers run one after another in a
    * closed-loop pass, so spans do not nest. */
  def span[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tagged(name)(body)
    finally spans += (name -> (System.nanoTime() - t0) / 1e9)
  }

  /** Attribute the jobs of `body` to `tag` without recording a wall span
    * (work the harness does between layers). */
  def tagged[T](tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, tag)
    try body
    finally sc.setLocalProperty(SpanProp, prev)
  }

  /** Block until the listener has processed every event posted so far. */
  def barrier(timeoutMs: Long = 60000L): Unit = {
    val m = s"$MarkerPrefix${markerSeq.incrementAndGet()}"
    tagged(m)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.currentTimeMillis() + timeoutMs
    lock.synchronized {
      while (!markersSeen.contains(m)) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(s"listener barrier $m timed out")
        lock.wait(left)
      }
    }
  }

  /** Per-span totals, in first-start order, after a [[barrier]]. Spans that
    * share a name are summed. */
  def report(): Seq[SpanReport] = {
    barrier()
    lock.synchronized {
      val wall = mutable.LinkedHashMap[String, Double]()
      spans.foreach { case (n, s) => wall(n) = wall.getOrElse(n, 0.0) + s }
      wall.toSeq.map { case (name, selfS) =>
        val t = totals.getOrElse(name, new Totals)
        val shuffleMs = taskMs.getOrElse(name, mutable.ArrayBuffer())
          .collect { case (st, ms) if shuffleReadStages.contains(st) => ms }.sorted
        // max ÷ median task time over the span's shuffle-reading stages;
        // the median is floored at 1 ms (the metric's resolution)
        val skew =
          if (shuffleMs.isEmpty) 1.0
          else shuffleMs.last.toDouble / math.max(1L, shuffleMs(shuffleMs.size / 2))
        SpanReport(name, selfS, t.jobs, t.tasks, t.taskMs / 1000.0,
          t.shuffleBytes / 1e6, skew)
      }
    }
  }

  /** Jobs that ran with no span or tag set (should be 0). */
  def untaggedJobs: Long = lock.synchronized(untagged)

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val MarkerPrefix = "perfbench.marker."

  final class Totals {
    var jobs = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleBytes = 0L
  }

  final case class SpanReport(
      name: String, selfS: Double, jobs: Long, tasks: Long, taskS: Double,
      shuffleMb: Double, taskSkew: Double) {
    /** Planning, scheduling and task-launch time no core spent on rows. */
    def idleCoreS(cores: Int): Double = selfS * cores - taskS
  }
}
