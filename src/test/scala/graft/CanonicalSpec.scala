package graft

import org.apache.spark.sql.functions._
import graft.cdc.Canonical

/** Canonical comparison machinery (`harness/verifier/index.js:78-136`,
  * `src/domain/storage.ts:35-43`, `web/App.tsx:1428-1444`). */
class CanonicalSpec extends SparkSpec {

  import spark.implicits._

  test("coerceComparable trims and normalizes numeric strings") {
    val df = Seq(("  x  ", "42.0", "6.55", "abc")).toDF("a", "b", "c", "d")
      .select(
        Canonical.coerceComparable(col("a")).as("a"),
        Canonical.coerceComparable(col("b")).as("b"),
        Canonical.coerceComparable(col("c")).as("c"),
        Canonical.coerceComparable(col("d")).as("d"))
    val r = df.collect().head
    assert(r.getString(0) === "x")
    assert(r.getString(1) === "42") // trailing .0 dropped
    assert(r.getString(2) === "6.55")
    assert(r.getString(3) === "abc")
  }

  test("coerceComparable renders numerics exactly like JS String(Number(x))") {
    // expected values are V8's String(Number(input)) — plain notation in
    // [1e-6, 1e21), JS-style exponential outside it
    val cases = Seq(
      "10000000" -> "10000000", // bare double cast would say "1.0E7"
      "1e3" -> "1000",
      "0.0001" -> "0.0001", // bare double cast would say "1.0E-4"
      "-0.0" -> "0", // JS String(Number("-0")) === "0"
      "0.000001" -> "0.000001", // last plain magnitude
      "0.0000001" -> "1e-7", // first exponential magnitude
      "9.99e-7" -> "9.99e-7",
      "-2.5e-8" -> "-2.5e-8",
      "150000000000000000000" -> "150000000000000000000", // 1.5e20 still plain
      "1e21" -> "1e+21", // first exponential magnitude upward
      "999999999999999999999" -> "1e+21", // rounds to 1e21 as a double
      "1.2345678901234567e22" -> "1.2345678901234568e+22",
      "2e40" -> "2e+40",
      // overflow to ±Infinity: JS String(Number('1e999')) === 'Infinity'
      "1e999" -> "Infinity",
      "-1e999" -> "-Infinity")
    val df = cases.map(_._1).toDF("v")
      .select(Canonical.coerceComparable(col("v")).as("c"))
    val got = df.as[String].collect().toSeq
    got.zip(cases).foreach { case (actual, (in, expected)) =>
      assert(actual === expected, s"input $in")
    }
  }

  test("property: canonical numeric form round-trips and respects JS plain/sci ranges") {
    val rng = new scala.util.Random(42)
    val doubles = Seq.tabulate(200) { i =>
      val mag = i % 50 - 25 // exponents -25..24
      (rng.nextDouble() * 2 - 1) * math.pow(10, mag)
    }.filter(_ != 0.0)
    val df = doubles.map(d => Tuple1(d.toString)).toDF("v")
      .select(col("v"), Canonical.coerceComparable(col("v")).as("c"))
    df.collect().foreach { r =>
      val in = r.getString(0).toDouble
      val canon = r.getString(1)
      assert(canon.toDouble === in, s"round-trip broke for $in → $canon")
      val m = math.abs(in)
      if (m >= 1e-6 && m < 1e21)
        assert(!canon.contains("e"), s"plain range rendered sci: $in → $canon")
      else
        assert(canon.contains("e"), s"sci range rendered plain: $in → $canon")
    }
  }

  test("stableJson sorts keys; rowHash is deterministic and order-insensitive") {
    val df1 = Seq((1.5, "a", 2L)).toDF("zcol", "acol", "mcol")
    val df2 = Seq((1.5, "a", 2L)).toDF("zcol", "acol", "mcol").select("mcol", "zcol", "acol")
    val j1 = df1.select(Canonical.stableJson(df1, Seq("zcol", "acol", "mcol")).as("j"))
      .as[String].collect().head
    assert(j1 === """{"acol":"a","mcol":"2","zcol":"1.5"}""")
    val h1 = df1.select(Canonical.rowHash(df1, Seq("zcol", "acol", "mcol"))).as[String].collect().head
    val h2 = df2.select(Canonical.rowHash(df2, Seq("mcol", "acol", "zcol"))).as[String].collect().head
    assert(h1 === h2)
  }

  test("rowHash over 12 columns compiles inside one whole-stage codegen method") {
    // non-foldable inputs (they depend on `id`), so the projection runs in
    // generated code, not at optimization time
    val vals: Seq[(String, Any, String)] = Seq(
      (" 007 ", "7"), ("1.50", "1.5"), ("abc", "abc"), (10000000L, "10000000"),
      (1e-7, "1e-7"), ("1e21", "1e+21"), ("-0.0", "0"), ("  x  ", "x"),
      ("0.000001", "0.000001"), (2.5, "2.5"),
      ("150000000000000000000", "150000000000000000000"), ("1e999", "Infinity"))
      .zipWithIndex.map { case ((v, want), i) => (f"c$i%02d", v, want) }
    val df = spark.range(1).select(vals.map { case (name, v, _) =>
      when(col("id") >= 0, lit(v)).as(name) }: _*)
    val names = vals.map(_._1)
    val out = df.select(Canonical.stableJson(df, names).as("j"),
      Canonical.rowHash(df, names).as("h"))
    val r = out.collect().head
    val json = vals.map { case (n, _, want) => s""""$n":"$want"""" }.mkString("{", ",", "}")
    assert(r.getString(0) === json)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(json.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getString(1) === sha)
    val plan = out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.find(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
      .isDefined, s"projection not whole-stage compiled:\n$plan")
  }

  test("inferColumnType follows the reference rules") {
    val df = Seq(
      ("flag", "true"), ("updated_ts", "1700000000"), ("amount", "12.5"), ("name", "ada")
    ).toDF("k", "v").select(col("k"), Canonical.inferColumnType(col("k"), col("v")).as("t"))
    val m = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m === Map(
      "flag" -> "bool", "updated_ts" -> "timestamp", "amount" -> "number", "name" -> "string"))
  }

  test("haystack + term matching implements the AND-of-terms search filter") {
    val df = Seq(("Orders", "update", "pk-7"), ("users", "insert", "pk-9"))
      .toDF("tbl", "op", "pk")
      .withColumn("hay", Canonical.haystack(Seq(col("tbl"), col("op"), col("pk"))))
    assert(df.filter(Canonical.matchesAllTerms(col("hay"), Seq("orders", "pk-7"))).count() === 1)
    assert(df.filter(Canonical.matchesAllTerms(col("hay"), Seq("orders", "pk-9"))).count() === 0)
    assert(df.filter(Canonical.matchesAllTerms(col("hay"), Seq.empty)).count() === 2)
  }

  test("write-amp formatting matches reference display rules") {
    val df = Seq((2.0, 1.01)).toDF("hi", "lo").select(
      Canonical.formatWriteAmp(col("hi")).as("f"),
      Canonical.describeWriteAmp(col("hi")).as("dHi"),
      Canonical.describeWriteAmp(col("lo")).as("dLo"))
    val r = df.collect().head
    assert(r.getString(0) === "2.0x")
    assert(r.getString(1) === "~1.0 extra writes/change")
    assert(r.getString(2) === "no meaningful amplification")
  }
}
