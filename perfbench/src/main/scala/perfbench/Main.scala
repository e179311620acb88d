package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one JVM, against graft's public
  * functions — graft is a library its users call from their own session.
  *
  * Usage: perfbench.Main --workload W --data DIR --work DIR --seconds S
  *          --trace 0|1 --cores N --t0-ms EPOCH_MS --out FILE
  *          --events N --documents N --embeddings N --cut-ms T
  *
  * `--t0-ms` is when the caller launched this process: set-up time runs
  * from then until the first timed pass starts. The row counts and the
  * sink's cut time describe the generated input in DIR. The result
  * (metrics, checks, per-pass samples, effective conf) is written to
  * `--out` as JSON.
  */
object Main {

  /** The streamed feed goes in as this many micro-batches (closed loop). */
  val StreamParts = 4

  final case class Args(
      workload: String, data: String, work: String, seconds: Int, trace: Boolean,
      cores: Int, t0Ms: Long, out: String, events: Long, documents: Long,
      embeddings: Long, cutMs: Long)

  private def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--data"), need("--work"), need("--seconds").toInt,
      need("--trace") == "1", need("--cores").toInt, need("--t0-ms").toLong, need("--out"),
      need("--events").toLong, need("--documents").toLong, need("--embeddings").toLong,
      need("--cut-ms").toLong)
  }

  /** Deployment settings, the state store `transformWithState` needs, and
    * strict codegen; every other conf stays at Spark's default. */
  def session(cores: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w: Workload = a.workload match {
      case "cdc" => new CdcWorkload(a.data, a.cutMs, a.events)
      case "corpus_curation" => new CorpusWorkload(a.data, a.documents, a.embeddings)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val res = new Result(a)
    res.phases("jvm_start") = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    // a traced run starts at local[1]: the one cold warm pass of the run
    // then also warms the session of the timed local[1] pass
    var spark = res.phase("session")(session(if (a.trace) 1 else a.cores, a.work))
    res.phase("open")(w.open(spark, a))
    if (!a.trace) Runner.timed(spark, w, a, res)
    else {
      Runner.warm(spark, w, res)
      val oneCore = Runner.oneCore(spark, w, res)
      stop(spark)
      spark = session(a.cores, a.work)
      w.open(spark, a)
      res.metrics("speedup_vs_1core") = oneCore / Runner.traced(spark, w, a, res)
    }
    res.conf = spark.conf.getAll.toMap
    Files.write(Paths.get(a.out), res.json.getBytes("UTF-8"))
    stop(spark)
  }

  /** Closes the RocksDB state stores the stream left loaded before the
    * session stops: a RocksDB instance still open when the JVM exits can
    * abort it from native code. */
  private def stop(spark: SparkSession): Unit = {
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    spark.stop()
  }
}

/** Accumulates one run's measurements and writes them as JSON. */
final class Result(a: Main.Args) {
  var setupS = 0.0
  var attempted = 0L
  val failures = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, String]() // raw JSON values
  var conf = Map.empty[String, String]
  /** Wall seconds per phase of the run, in order (summed when repeated). */
  val phases = mutable.LinkedHashMap[String, Double]()

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  def check(what: String, o: Outcome): Unit = {
    attempted += 1
    if (o.failures.nonEmpty) failures += s"$what: ${o.failures.mkString("; ")}"
  }

  def json: String = {
    val ms = metrics.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}")
    val inf = info.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString(", ")
    val cf = conf.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ", ", "}")
    s"""{"workload": ${Json.str(a.workload)}, "trace": ${a.trace}, "cores": ${a.cores}, """ +
      s""""seconds": ${a.seconds}, "setup_s": ${Json.num(setupS)}, "attempted": $attempted, """ +
      s""""failed": ${failures.size}, "failures": ${failures.map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""metrics": $ms, "phases_s": ${phases.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }
        .mkString("{", ", ", "}")}, "conf": $cf${if (inf.isEmpty) "" else ", " + inf}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ", ", "]")
}
