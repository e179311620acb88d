package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Banded-LSH candidate join — the one shape behind every near-dup path:
  * MinHash bands over text ([[graft.llm.Dedup]]), pHash bands over images
  * ([[graft.llm.Multimodal]]) and SRP bands over embeddings
  * ([[graft.llm.Similarity]]). Each caller builds its own BANDED frame —
  * one row per (item, band) with columns `band`, `key`, the item id and
  * whatever it carries — and this object pairs the rows.
  *
  * Three pieces:
  *   - [[pairs]]: the (band, key) equality self-join to `a_id < b_id`,
  *     never all-pairs; carried columns come out as `a_<c>` / `b_<c>`.
  *     A pair sharing several bands appears once per shared band — the
  *     caller's `distinct` (after its own projection) collapses it.
  *   - the HOT-BUCKET CAP ([[bucketSizes]], [[withinCap]]): a bucket of
  *     more than `maxBucket` rows yields no pairs. The size table is
  *     bucket-count-sized and the filter runs before any pair
  *     materializes, so an oversized bucket costs one count row, not sz².
  *   - [[starEdges]]: each member of an equal-key group → the group's min
  *     id, g−1 edges per group of g (linear, never pairwise). They restore
  *     the recall the cap costs on exact duplicates, which land in one
  *     bucket per band and are dropped whole once the group passes the cap.
  */
object BandJoin {

  /** `(band, key, bucket_size)`: rows per band bucket of a banded frame. */
  def bucketSizes(banded: DataFrame): DataFrame =
    banded.groupBy("band", "key").agg(count(lit(1)).as("bucket_size"))

  /** The cap rule over [[bucketSizes]]: the bucket yields pairs. */
  def withinCap(maxBucket: Int): Column = col("bucket_size") <= maxBucket

  /** Candidate pairs `(band, key, a_id, a_<c>…, b_id, b_<c>…)` with
    * `a_id < b_id` from a banded frame `(id, band, key, carry…)`, buckets
    * over `maxBucket` rows dropped first (`Int.MaxValue` = uncapped). */
  def pairs(banded: DataFrame, id: String, carry: Seq[String] = Nil,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val keys = Seq("band", "key")
    val kept =
      if (maxBucket == Int.MaxValue) banded
      else banded.join(
        bucketSizes(banded).filter(withinCap(maxBucket)).select(keys.map(col): _*),
        keys)
    def side(s: String) = kept.select(keys.map(col) ++
      (col(id).as(s"${s}_id") +: carry.map(c => col(c).as(s"${s}_$c"))): _*)
    side("a").join(side("b"), keys).filter(col("a_id") < col("b_id"))
  }

  /** Star edges `(a_id, b_id)`: every row of `rows` whose `keyCols` tuple
    * is shared with a smaller id, paired with its group's min id. Groups
    * of one emit nothing. */
  def starEdges(rows: DataFrame, id: String, keyCols: Seq[String]): DataFrame = {
    val groups = rows.groupBy(keyCols.map(col): _*)
      .agg(min(col(id)).as("a_id"), count(lit(1)).as("_g"))
      .filter(col("_g") > 1)
      .drop("_g")
    rows.join(groups, keyCols)
      .filter(col(id) > col("a_id"))
      .select(col("a_id"), col(id).as("b_id"))
  }
}
