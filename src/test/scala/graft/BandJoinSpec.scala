package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.Dedup
import graft.operators.BandJoin
import graft.testutil.PlanNodes.broadcasts

/** [[BandJoin]]: the hot-bucket cap boundary, star edges against a
  * group-and-join-back reference, and the no-broadcast plan contract. */
class BandJoinSpec extends SparkSpec {

  import spark.implicits._

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** One band: bucket "x" holds `n` rows (ids 0 until n), bucket "y" holds
    * `n + 1` rows (ids 100 until 101 + n). */
  private def twoBuckets(n: Int): DataFrame =
    ((0L until n.toLong).map(i => (i, 0, "x")) ++
      (100L until 101L + n).map(i => (i, 0, "y"))).toDF("id", "band", "key")

  private def clique(ids: Seq[Long]): Set[(Long, Long)] =
    ids.combinations(2).map(p => (p(0), p(1))).toSet

  test("cap boundary: a bucket of exactly maxBucket rows pairs, maxBucket + 1 pairs nothing") {
    val banded = twoBuckets(4)
    val x = clique(0L until 4L)
    val y = clique(100L until 105L)
    assert(pairSet(BandJoin.pairs(banded, "id", maxBucket = 4)) === x)
    assert(pairSet(BandJoin.pairs(banded, "id")) === x ++ y)
    assert(BandJoin.pairs(banded, "id").count() === x.size + y.size)
  }

  test("starEdges: null keys emit nothing; equals a group-and-join-back reference") {
    val withNulls = Seq[(Long, Option[Long], Long)](
      (1L, None, 5L), (2L, None, 5L), (3L, Some(7L), 5L), (4L, Some(7L), 5L), (5L, Some(7L), 6L))
      .toDF("id", "k1", "k2")
    assert(BandJoin.starEdges(withNulls, "id", Seq("k1", "k2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((3L, 4L)))

    // ties (an id repeated inside a group, several rows at the group min),
    // singleton groups and null keys
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(400) {
      val k1 = if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(12).toLong)
      (rnd.nextInt(150).toLong, k1, rnd.nextInt(3).toLong)
    }.toDF("id", "k1", "k2")
    val keyCols = Seq("k1", "k2")
    val groups = rows.groupBy(keyCols.map(col): _*)
      .agg(min(col("id")).as("a_id"), count(lit(1)).as("_g"))
      .filter(col("_g") > 1)
      .drop("_g")
    val reference = rows.join(groups, keyCols)
      .filter(col("id") > col("a_id"))
      .select(col("a_id"), col("id").as("b_id"))
    def sorted(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = sorted(BandJoin.starEdges(rows, "id", keyCols))
    assert(got.nonEmpty && got.distinct.size < got.size, "the input must produce repeated edges")
    assert(got === sorted(reference))
  }

  test("no broadcast relation in the final plan: capped pairs") {
    val capped = BandJoin.pairs(twoBuckets(4), "id", maxBucket = 4)
    capped.collect()
    assert(broadcasts(capped).isEmpty, capped.queryExecution.executedPlan.treeString)
  }

  test("no broadcast relation in the final plan: star edges") {
    val rows = (0L until 30L).map(i => (i, i % 4, i % 3)).toDF("id", "k1", "k2")
    val stars = BandJoin.starEdges(rows, "id", Seq("k1", "k2"))
    stars.collect()
    assert(broadcasts(stars).isEmpty, stars.queryExecution.executedPlan.treeString)
  }

  test("no broadcast relation in the final plan: a persisted scalableCandidates") {
    val hot = (0L until 40L).map(i => (i, "common words repeated across the clique"))
    val docs = (hot ++ Seq((100L, "rare unique phrasing here"), (101L, "rare unique phrasing here")))
      .toDF("doc_id", "text")
    val cands = Dedup.scalableCandidates(docs).persist()
    try {
      assert(cands.count() === 40L)
      assert(broadcasts(cands).isEmpty, cands.queryExecution.executedPlan.treeString)
    } finally cands.unpersist(blocking = true)
  }
}
