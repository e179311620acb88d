package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CacheLifecycle, EventAnalytics}

/** The round-10 hygiene contract: operators that persist per-run
  * scaffolding must release it once the returned ledger has been
  * consumed, so a long-lived session running the full surface does not
  * accumulate dead `CacheManager` entries. The listener fires
  * asynchronously on the listener bus, so assertions poll. */
class CacheLifecycleSpec extends SparkSpec {

  /** `CacheManager` entries — the caches `CacheLifecycle` releases. Not
    * `getPersistentRDDs`: lazy `localCheckpoint` RDDs that other suites
    * leave behind stay in that map until a GC collects them. */
  private def cachedCount: Int = org.apache.spark.sql.CacheEntries(spark)

  private def eventually(timeoutMs: Long = 10000L)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    cond
  }

  private def exec(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def eventsDf = {
    import spark.implicits._
    Seq(
      (1L, "signup", 1000000L), (1L, "click", 2000000L),
      (1L, "purchase", 3000000L), (2L, "signup", 1000000L),
      (2L, "click", 5000000L), (3L, "click", 1000000L))
      .toDF("user_id", "event_type", "ts")
  }

  test("funnel releases its stage caches after the consuming action") {
    spark.catalog.clearCache()
    assert(cachedCount === 0)
    val out = EventAnalytics.funnel(eventsDf)
    exec(out) // populates the stage caches, then the listener releases them
    assert(eventually()(cachedCount === 0),
      s"stage caches still resident: $cachedCount")
  }

  test("release fires on identity match, not on unrelated actions") {
    spark.catalog.clearCache()
    val scaffold = eventsDf.persist()
    val result = CacheLifecycle.releaseAfterUse(
      scaffold.groupBy("event_type").agg(count(lit(1)).as("n")), Seq(scaffold))
    exec(eventsDf.select("user_id")) // unrelated: must NOT release
    Thread.sleep(300)
    exec(result) // force the cache to actually materialize, then release
    assert(eventually()(cachedCount === 0),
      s"scaffold still resident after consuming action: $cachedCount")
  }

  test("backstop releases a built-but-never-executed query's scaffolding") {
    spark.catalog.clearCache()
    val scaffold = eventsDf.persist()
    exec(scaffold.groupBy("user_id").agg(count(lit(1)))) // materialize cache
    CacheLifecycle.releaseAfterUse(
      scaffold.groupBy("event_type").agg(count(lit(1)).as("n")), Seq(scaffold))
    // the wrapped result is never executed; Backstop unrelated actions
    // must still flush the scaffold
    val probe = eventsDf.select("user_id")
    (1 to CacheLifecycle.Backstop + 1).foreach(_ => exec(probe))
    assert(eventually()(cachedCount === 0),
      s"scaffold survived the backstop: $cachedCount")
  }

  test("incremental snapshot releases its state cache after consumption") {
    spark.catalog.clearCache()
    val snap = SparkEntry.queries("cdc_incremental_snapshot")(
      spark, "/root/testdata/sf0.001")
    exec(snap)
    assert(eventually()(cachedCount === 0),
      s"snapshot state cache still resident: $cachedCount")
  }
}
