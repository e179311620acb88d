package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One closed-loop pass over a workload's pipeline, in one of two modes.
  *
  * Untraced (end-to-end metrics): the pipeline runs as a user would write
  * it — frames that several actions read are persisted, nothing else is
  * forced, and Spark fuses layers wherever it can.
  *
  * Traced (per-layer metrics): every layer's output frame is persisted and
  * materialized inside that layer's span, so the next layer starts from a
  * materialized input and each span times only its own call.
  */
final class Pass(val spark: SparkSession, tracer: Option[Tracer]) {
  private val held = mutable.ArrayBuffer[DataFrame]()

  def traced: Boolean = tracer.isDefined

  /** A call into layer `name`. */
  def layer[T](name: String)(body: => T): T =
    tracer.fold(body)(_.span(name)(body))

  /** A layer's output frame. `shared`: read by more than one action, so
    * the untraced pipeline persists it too. */
  def out(df: DataFrame, shared: Boolean = false): DataFrame = tracer match {
    case Some(_) =>
      val p = hold(df)
      p.count()
      p
    case None => if (shared) hold(df) else df
  }

  /** A layer output that no later layer reads, because the next layer's
    * call recomputes it itself: a traced pass evaluates every column
    * through the noop sink but does not persist it, so the recompute is not
    * served from cache. An untraced pass leaves it to that recompute. */
  def evaluate(df: DataFrame): Unit =
    if (traced) df.write.mode("overwrite").format("noop").save()

  /** Traced passes only: a standalone span `standalone.<name>` of work that
    * a later layer's call recomputes internally, evaluated as in
    * [[evaluate]]. It is not reported; that layer's self time subtracts it. */
  def standalone(name: String)(df: => DataFrame): Unit =
    if (traced) layer(Pass.Standalone + name)(evaluate(df))

  /** Harness work between layers (final sinks, reading results back). */
  def harness[T](body: => T): T = tracer.fold(body)(_.tagged("harness")(body))

  /** Write every column of `df` through the noop sink. */
  def sink(df: DataFrame): Unit =
    harness(df.write.mode("overwrite").format("noop").save())

  /** Unpersist everything this pass persisted, after sampling the live
    * heap (untraced timed passes only) while it is still held. */
  def release(): Unit = {
    if (!traced) Heap.sample()
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }

  private def hold(df: DataFrame): DataFrame = {
    val p = df.persist()
    held += p
    p
  }
}

object Pass {
  val Standalone = "standalone."
}

/** What a pass reports besides its wall time: failed output checks, and
  * (traced passes) the layer metrics that are not span totals — useful to
  * attempted work ratios and the streaming query's trigger metrics. */
final case class Outcome(failures: Seq[String], layerMetrics: Map[String, Double])

object Outcome {
  def check(conds: (Boolean, String)*): Seq[String] =
    conds.collect { case (false, what) => what }
}
