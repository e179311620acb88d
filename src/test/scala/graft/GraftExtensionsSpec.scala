package graft

import org.apache.spark.sql.SparkSession

/** `spark.sql.extensions=graft.GraftExtensions` makes the native
  * expressions SQL-callable in a session built with that conf. */
class GraftExtensionsSpec extends SparkSpec {

  test("extensions-built session exposes hash31 / winnow_min / array_dot in SQL") {
    val base = spark // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // withExtensions = the programmatic form of spark.sql.extensions
      // (the conf route needs a fresh SparkContext — static conf — which a
      // shared test JVM cannot provide)
      val ext = GraftSession.builder(4)
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = ext.sql(
        """SELECT hash31('ab', 9973) AS h,
          |       winnow_min('abcdefghij', 8, 1000003) AS w,
          |       array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
          |       lsh_band_keys(array(1.0D, -2.0D), 2, 2, 2) AS b,
          |       rolling_hashes('abc', 2, 1000003) AS rh,
          |       json_entries('{"k":"v","n":1}') AS je""".stripMargin)
        .collect().head
      assert(r.getLong(0) === 3105L)
      assert(r.getLong(1) === graft.functions.WinnowMin.minHash("abcdefghij", 8, 1000003L))
      assert(r.getDouble(2) === 11.0)
      assert(r.getSeq[Long](4) === Seq(
        graft.functions.Hash31.hash("ab", 1000003L),
        graft.functions.Hash31.hash("bc", 1000003L)))
      assert(r.getSeq[org.apache.spark.sql.Row](5)
        .map(e => (e.getString(0), e.getString(1))) === Seq("k" -> "v", "n" -> "1"))
      // SQL form == the Column-builder form over the same 2-dim vector
      import ext.implicits._
      val viaBuilder = Seq(Seq(1.0, -2.0)).toDF("e")
        .select(graft.functions.GraftFunctions.lshBandKeys(
          org.apache.spark.sql.functions.col("e"), 2, 2, 2))
        .collect().head.getSeq[Long](0)
      assert(r.getSeq[Long](3) === viaBuilder)
    } finally {
      // restore the shared session for the rest of the suite run
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
