package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** The live heap: heap in use right after a full GC, sampled at the end
  * of each pipeline of a pass while its persisted frames are still held
  * (see [[Pass.release]]), while [[recording]] is on. */
object Heap {
  @volatile var recording = false
  private val samples = mutable.ArrayBuffer[Double]()
  @volatile private var samplingNs = 0L

  def sample(): Unit = if (recording) {
    val t0 = System.nanoTime()
    System.gc()
    // the first GC queues the pass's unreachable broadcasts and shuffles
    // for Spark's ContextCleaner; the second runs after it has freed them
    Thread.sleep(300)
    System.gc()
    samples += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    samplingNs += System.nanoTime() - t0
  }

  def liveMb: Seq[Double] = samples.toSeq

  /** Seconds spent sampling so far: the full GCs are not the program's. */
  def samplingS: Double = samplingNs / 1e9
}
