package graft
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Also emits `SELFHASH.json`: one canonical whole-result hash per query
  * (order-insensitive — sha256 over the sorted per-row
  * [[graft.cdc.Canonical.rowHash]]es of the parquet actually written), plus
  * a double-run stability record for the queries named in
  * `SPARK_GRAFT_DOUBLE_RUN` (default `dedup_substring_clean`). Purpose:
  * when a driver-side DuckDB compare disagrees with a judge-side rerun,
  * the sidecar attributes the divergence — if the Spark self-hash is
  * stable across runs and rounds while the driver row stays red, the
  * driver's DuckDB is evaluating the oracle SQL differently; if the
  * self-hash moves, the nondeterminism is ours and reproducible. */
object Verify {
  /** Round-12 guard: DECIMAL columns in a query's OUTPUT contract are a
    * driver-hash hazard — round 11 proved two value-exact results can
    * still red on hash skew purely because the canonical rendering of
    * DECIMAL(38,0)/HUGEINT differs between engines. Accumulate in
    * DECIMAL internally all you like; the published schema must not
    * carry it. Returns the offending column paths (recursing through
    * struct/array/map), empty = clean. */
  def decimalColumns(schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    def walk(dt: DataType, path: String): Seq[String] = dt match {
      case _: DecimalType     => Seq(path)
      case s: StructType      => s.fields.toSeq.flatMap(f => walk(f.dataType, s"$path.${f.name}"))
      case a: ArrayType       => walk(a.elementType, s"$path[]")
      case m: MapType         => walk(m.keyType, s"$path{k}") ++ walk(m.valueType, s"$path{v}")
      case _                  => Nil
    }
    schema.fields.toSeq.flatMap(f => walk(f.dataType, f.name))
  }

  /** Canonical whole-result hash: sha256 over the SORTED per-row canonical
    * hashes, so row order and partitioning drop out — equal row multisets
    * hash equal, across sessions, partition counts and rounds. */
  def selfHash(df: DataFrame): String = {
    val rows = df
      .select(graft.cdc.Canonical.rowHash(df, df.columns.toSeq).as("h"))
      .orderBy("h").collect().map(_.getString(0))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(h => md.update(h.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    // usage: Verify <sfDir> <outDir> [queryName ...] — names filter the run
    // for local iteration; the driver always runs the full surface
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    // the bench's session, so the oracle hash gate attests correctness
    // under the partitioning and strict codegen the bench runs
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Default double-run set (round-13 widening): the queries whose
    // construction is most nondeterminism-prone — the sampled substring
    // path (the original member), the iterative star contraction, the
    // banded+capped image dedup, and a quantized-k-means consumer. Each
    // runs twice per Verify; a moved hash between the two runs is OUR
    // nondeterminism, reproducible, and flagged in SELFHASH.json before
    // any cross-engine compare can blame DuckDB.
    val doubleRun = sys.env.getOrElse("SPARK_GRAFT_DOUBLE_RUN",
      "dedup_substring_clean,dedup_clusters,mm_phash_clusters_capped,ann_pq_topk")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val hashes = scala.collection.mutable.LinkedHashMap[String, String]()
    val stability = scala.collection.mutable.LinkedHashMap[String, (String, String)]()
    val decimalHits = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val dec = decimalColumns(df.schema)
        if (dec.nonEmpty) {
          decimalHits(name) = dec
          System.err.println(
            s"[verify] DECIMAL-OUTPUT GUARD: $name exposes ${dec.mkString(",")}" +
              " — driver-hash hazard, reduce mod ChecksumPrime or cast")
        }
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // hash the parquet ACTUALLY WRITTEN — the exact bytes the driver's
        // DuckDB will read — not the in-memory result
        hashes(name) = selfHash(spark.read.parquet(s"$outDir/$name"))
        if (doubleRun.contains(name)) {
          spark.catalog.clearCache()
          stability(name) = (hashes(name), selfHash(fn(spark, sfDir)))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries share frames through checkpoints or exchange reuse and
      // leave no CacheManager entry (CacheLifecycleSpec); clearing only
      // keeps a cache a failed query left from reaching the next one
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val selfJson = {
      val qs = hashes.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}")
      val dr = stability.map { case (k, (h1, h2)) =>
        s"${q(k)}: {\"first\": ${q(h1)}, \"second\": ${q(h2)}, " +
          s"\"stable\": ${h1 == h2}}"
      }.mkString("{", ",", "}")
      // per-query DEFINITION fingerprint (sha256 of the oracle SQL): the
      // cross-round drift gate (scripts/selfhash_drift.py) fails a round
      // when a self-hash moves while its definition did not — a standing
      // tripwire for silent nondeterminism or testdata drift
      val md = java.security.MessageDigest.getInstance("SHA-256")
      def sha(s: String): String = {
        md.reset()
        md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      }
      val defs = SparkEntry.oracleSql
        .filter { case (k, _) => hashes.contains(k) }
        .map { case (k, v) => s"${q(k)}: ${q(sha(v))}" }.mkString("{", ",", "}")
      // the round-12 decimal-output guard's machine-readable record —
      // SchemaContractSpec is the hard sbt-test gate; this sidecar field
      // makes a violation visible in the round artifact too
      val decg = decimalHits.map { case (k, cols) =>
        s"${q(k)}: ${cols.map(q).mkString("[", ",", "]")}"
      }.mkString("{", ",", "}")
      s"""{"sf": ${q(sfDir)}, "queries": $qs, "defs": $defs, """ +
        s""""double_run": $dr, "decimal_outputs": $decg}"""
    }
    Files.writeString(Paths.get(s"$outDir/SELFHASH.json"), selfJson)
    sys.env.get("SPARK_GRAFT_SELFHASH_OUT")
      .foreach(p => Files.writeString(Paths.get(p), selfJson))
    spark.stop()
  }
}
