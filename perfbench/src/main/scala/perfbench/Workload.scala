package perfbench

import org.apache.spark.sql.SparkSession

/** A closed-loop pipeline: one pass runs every layer once, in order. */
trait Workload {
  /** Input rows one pass consumes. */
  def inputRows: Long
  /** Spans whose call recomputes another layer internally → that layer. */
  def recomputes: Map[String, String]
  /** Per-session preparation that is part of opening the input. */
  def open(spark: SparkSession, a: Main.Args): Unit = ()
  def pass(p: Pass): Outcome
}

/** What `Main` does with a workload: either time one untraced pass on a
  * fresh session (end-to-end metrics), or warm it and, with tracing, time
  * one traced pass at `local[1]` and then run the traced comparison
  * (per-layer metrics) on a `local[nproc]` session. */
object Runner {

  def warm(spark: SparkSession, w: Workload, res: Result): Unit = {
    res.check("warm pass", res.phase("warm")(w.pass(new Pass(spark, None))))
    settle(res)
  }

  /** Wait (at most `maxMs`) until the JIT compiler has been idle for
    * 500 ms: the work just done leaves a queue of hot methods to compile,
    * and timing while it drains measures the compiler's schedule, not graft. */
  def settle(res: Result, maxMs: Long = 5000L): Unit = res.phase("jit_settle") {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.currentTimeMillis() + maxMs
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 2 && System.currentTimeMillis() < deadline) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = if (now == last) quiet + 1 else 0
      last = now
    }
  }

  /** The end-to-end metrics: one untraced pass, the first on its session
    * and in its JVM, so it pays query compilation and JIT warm-up as a
    * batch job launched on its own does. Set-up ends when it starts. */
  def timed(spark: SparkSession, w: Workload, a: Main.Args, res: Result): Unit = {
    settle(res)
    res.setupS = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    Heap.recording = true
    val wall =
      try untraced(spark, w, res, "timed pass")
      finally Heap.recording = false
    res.metrics("rows_per_s") = w.inputRows / wall
    res.metrics("live_heap_mb") = Stats.median(Heap.liveMb)
    res.info("pass_s") = Json.num(wall)
    res.info("live_heap_samples_mb") = Json.arr(Heap.liveMb)
    res.info("input_rows") = w.inputRows.toString
  }

  /** Sets the per-layer metrics and `trace_overhead_ratio`; returns the
    * traced pass's wall seconds. The untraced pass comes first, so the
    * traced one follows a pass on the same session, as at `local[1]`. */
  def traced(spark: SparkSession, w: Workload, a: Main.Args, res: Result): Double = {
    val plain = untraced(spark, w, res, "untraced pass")
    val (wall, spans, o) = tracedPass(spark, w, res, "traced pass")
    (layerMetrics(w.recomputes, spans, a.cores) ++ o.layerMetrics)
      .foreach { case (k, v) => res.metrics(k) = v }
    res.metrics("trace_overhead_ratio") = wall / plain
    res.info("traced_pass_s") = Json.num(wall)
    res.info("untraced_pass_s") = Json.num(plain)
    res.info("self_time_rule") = Json.str(w.recomputes.map { case (s, pred) =>
      s"$s: self_s and task_s are its span minus the span $pred, " +
        "which times on its own the work the call recomputes internally"
    }.mkString("; "))
    wall
  }

  /** Wall seconds of one traced pass; the session is `local[1]` and
    * warmed, so the pass does not pay the session's first-job cost. */
  def oneCore(spark: SparkSession, w: Workload, res: Result): Double = {
    val (wall, _, _) = tracedPass(spark, w, res, "local[1] traced pass")
    res.info("one_core_pass_s") = Json.num(wall)
    wall
  }

  /** Wall seconds of one untraced pass, less the time spent taking heap
    * samples. */
  private def untraced(spark: SparkSession, w: Workload, res: Result, label: String): Double = {
    val t0 = System.nanoTime()
    val sampling0 = Heap.samplingS
    val o = w.pass(new Pass(spark, None))
    val dt = (System.nanoTime() - t0) / 1e9 - (Heap.samplingS - sampling0)
    res.check(label, o)
    dt
  }

  /** Wall seconds of one traced pass, less its standalone spans. */
  private def tracedPass(spark: SparkSession, w: Workload, res: Result,
      label: String): (Double, Seq[Tracer.SpanReport], Outcome) = {
    val tracer = new Tracer(spark)
    try {
      val t0 = System.nanoTime()
      val o = w.pass(new Pass(spark, Some(tracer)))
      val dt = (System.nanoTime() - t0) / 1e9
      res.check(label, o)
      val spans = tracer.report()
      res.info("untagged_jobs") = tracer.untaggedJobs.toString
      // standalone spans are work an untraced pass does not do
      (dt - spans.filter(_.name.startsWith(Pass.Standalone)).map(_.selfS).sum, spans, o)
    } finally tracer.close()
  }

  /** The seven kinds per span, `<layer>.<kind>`. Standalone spans (see
    * [[Pass.standalone]]) only feed the subtraction. */
  def layerMetrics(recomputes: Map[String, String], spans: Seq[Tracer.SpanReport],
      cores: Int): Map[String, Double] = {
    val byName = spans.map(s => s.name -> s).toMap
    spans.filterNot(_.name.startsWith(Pass.Standalone)).flatMap { s0 =>
      val s = recomputes.get(s0.name).flatMap(byName.get).fold(s0) { pred =>
        s0.copy(selfS = math.max(0.0, s0.selfS - pred.selfS),
          taskS = math.max(0.0, s0.taskS - pred.taskS))
      }
      Seq(
        "self_s" -> s.selfS, "jobs" -> s.jobs.toDouble, "tasks" -> s.tasks.toDouble,
        "task_s" -> s.taskS, "idle_core_s" -> s.idleCoreS(cores),
        "shuffle_mb" -> s.shuffleMb, "task_skew" -> s.taskSkew
      ).map { case (k, v) => s"${s.name}.$k" -> v }
    }.toMap
  }
}

/** `cdc`: the batch capture/delivery/apply pipeline, then the same feed
  * through the streaming folds in closed loop. */
final class CdcWorkload(data: String, cutMs: Long, nOps: Long) extends Workload {
  import CdcStream._

  private var feed: Array[graft.streaming.Streams.Event] = Array()
  private var truth: State = Map.empty
  private var progress: Progress = _
  private var seq = 0
  private var cores = 0
  private var work = ""

  val inputRows: Long = nOps
  val recomputes: Map[String, String] = CdcBatch.recomputes

  /** Also loads the stream's feed and its expected state, which do not
    * change between passes. */
  override def open(spark: SparkSession, a: Main.Args): Unit = {
    progress = new Progress
    spark.streams.addListener(progress)
    cores = spark.sparkContext.defaultParallelism
    work = a.work
    if (feed.isEmpty) {
      feed = CdcStream.open(spark, data)
      truth = stateOf(graft.cdc.ApplyEngine.applyState(graft.cdc.CdcOps.ops(spark, data)).collect())
    }
  }

  def pass(p: Pass): Outcome = {
    val batch = CdcBatch.pass(p, data, cutMs, nOps)
    val stream = streamed(p)
    Outcome(batch.failures ++ stream.failures, batch.layerMetrics ++ stream.layerMetrics)
  }

  /** The feed through `StreamsV2` in `Main.StreamParts` micro-batches,
    * checked against `ApplyEngine.applyState` of the same ops. */
  private def streamed(p: Pass): Outcome = {
    val spark = p.spark
    seq += 1
    val run = p.layer("streaming.StreamsV2") {
      val run = new Run(spark, work, cores, s"q$seq")
      run.drain(feed, Main.StreamParts)
      run
    }
    val bad = mismatches(truth, p.harness(run.result()))
    val prog = progress.of(run.query)
    Outcome(Outcome.check(
      (bad == 0 && truth.nonEmpty,
        s"streamed state differs from ApplyEngine.applyState on $bad keys"),
      (prog.size == Main.StreamParts,
        s"${prog.size} micro-batches read input, expected ${Main.StreamParts}")),
      if (p.traced) triggerMetrics(prog) else Map.empty)
  }
}

final class CorpusWorkload(data: String, nDocs: Long, nVectors: Long) extends Workload {
  val inputRows: Long = nDocs + nVectors
  val recomputes: Map[String, String] = Corpus.recomputes
  def pass(p: Pass): Outcome = Corpus.pass(p, data, nDocs)
}
