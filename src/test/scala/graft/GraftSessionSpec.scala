package graft

/** The suite runs the session the mains run: a test session that drops or
  * overrides one of [[GraftSession]]'s settings fails here. */
class GraftSessionSpec extends SparkSpec {

  test("SparkSpec.session holds every GraftSession setting, at 4 cores") {
    for ((key, value) <- GraftSession.conf)
      assert(spark.conf.get(key) === value, key)
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
  }
}
