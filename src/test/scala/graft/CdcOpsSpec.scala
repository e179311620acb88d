package graft

import graft.cdc.CdcOps

/** Data-contract assertions for the canonical op stream (see the contract
  * notes in `CdcOps`' doc): set-ops carry non-null payloads, lsn order
  * never inverts t order, and no lsn repeats within a key. These contracts
  * are what keep the sentinel-scan
  * (`withState`), the merge-fold (`ApplyEngine.applyState`), and the DuckDB
  * oracle's `IGNORE NULLS` windows semantically identical.
  */
class CdcOpsSpec extends SparkSpec {

  test("testdata ops satisfy the null-payload and lsn-monotonicity contracts") {
    val ops = CdcOps.ops(spark, "/root/testdata/sf0.001")
    val v = CdcOps.contractViolations(ops).collect().head
    assert(v.getAs[Long]("null_set_payloads") === 0L)
    assert(v.getAs[Long]("lsn_t_inversions") === 0L)
    assert(v.getAs[Long]("dup_lsns") === 0L)
  }

  test("contractViolations flags a null set-payload and an lsn/t inversion") {
    import testutil.Scenarios
    val bad = Scenarios.opsDf(spark, Seq(
      (100L, "t0", "1", "insert", true, None, false, None), // sets_val with null val
      (300L, "t0", "1", "update", false, None, true, Some(1L)),
      (200L, "t0", "1", "update", false, None, false, None))) // t goes backwards vs lsn
    val v = CdcOps.contractViolations(bad).collect().head
    assert(v.getAs[Long]("null_set_payloads") === 1L)
    assert(v.getAs[Long]("lsn_t_inversions") === 1L)
  }

  test("contractViolations counts a replayed op as one duplicate lsn") {
    import org.apache.spark.sql.functions.col
    import testutil.Scenarios
    val ops = Scenarios.opsDf(spark, Seq(
      (100L, "t0", "1", "insert", true, Some(1.0), true, Some(1L)),
      (200L, "t0", "1", "update", true, Some(2.0), false, None),
      (200L, "t0", "2", "insert", true, Some(3.0), true, Some(2L))))
    // a redelivery of key 1's update: same t, event_id and lsn
    val replayed = ops.unionByName(ops.filter(col("event_id") === 1L))
    val v = CdcOps.contractViolations(replayed).collect().head
    assert(v.getAs[Long]("dup_lsns") === 1L)
    assert(v.getAs[Long]("lsn_t_inversions") === 0L)
    assert(v.getAs[Long]("null_set_payloads") === 0L)
    assert(CdcOps.contractViolations(ops).collect().head.getAs[Long]("dup_lsns") === 0L)
  }
}
