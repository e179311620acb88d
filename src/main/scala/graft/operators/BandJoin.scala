package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
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
  *   - the HOT-BUCKET CAP ([[withinCap]]): a bucket of more than
  *     `maxBucket` rows yields no pairs. The bucket size is a `count(1)`
  *     window over (band, key), i.e. over the partitioning the pair join
  *     needs anyway, so the cap and the pairing share one exchange and the
  *     filter runs before any pair materializes: an oversized bucket
  *     costs its rows once, not sz². [[bucketSizes]] is the same count as
  *     a table, for histograms ([[graft.llm.Dedup.lshTuning]]).
  *   - [[starEdges]]: each member of an equal-key group → the group's min
  *     id, g−1 edges per group of g (linear, never pairwise), as a
  *     `min(id)` window over the key columns. They restore the recall the
  *     cap costs on exact duplicates, which land in one bucket per band
  *     and are dropped whole once the group passes the cap.
  *
  * NO BROADCAST, at any input size. A join back to a group table is
  * small enough for AQE to turn into a broadcast hash join, and a
  * multi-column broadcast key is a `BytesToBytesMap` holding one full
  * `spark.buffer.pageSize` page (16 MB at a 3 GB heap on 4 cores, up to
  * 64 MB) however few rows it has. A caller that persists a candidate set
  * (`Dedup.scalableCandidates`) keeps its plan, and the plan keeps each
  * such relation alive: three pages per cached candidate frame. So the
  * cap and the star edges are windows, and the pair join is hinted to a
  * sort-merge join over the window's own (band, key) partitioning.
  */
object BandJoin {

  /** `(band, key, bucket_size)`: rows per band bucket of a banded frame. */
  def bucketSizes(banded: DataFrame): DataFrame =
    banded.groupBy("band", "key").agg(count(lit(1)).as("bucket_size"))

  /** The cap rule over `bucket_size` ([[bucketSizes]], or the window in
    * [[pairs]]): the bucket yields pairs. */
  def withinCap(maxBucket: Int): Column = col("bucket_size") <= maxBucket

  /** Candidate pairs `(band, key, a_id, a_<c>…, b_id, b_<c>…)` with
    * `a_id < b_id` from a banded frame `(id, band, key, carry…)`, buckets
    * over `maxBucket` rows dropped first (`Int.MaxValue` = uncapped). */
  def pairs(banded: DataFrame, id: String, carry: Seq[String] = Nil,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val keys = Seq("band", "key")
    val kept =
      if (maxBucket == Int.MaxValue) banded
      else banded
        .withColumn("bucket_size", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
        .filter(withinCap(maxBucket))
    def side(s: String) = kept.select(keys.map(col) ++
      (col(id).as(s"${s}_id") +: carry.map(c => col(c).as(s"${s}_$c"))): _*)
    side("a").hint("merge").join(side("b"), keys).filter(col("a_id") < col("b_id"))
  }

  /** Star edges `(a_id, b_id)`: every row of `rows` whose `keyCols` tuple
    * is shared with a smaller id, paired with its group's min id. Groups
    * of one emit nothing, nor does a row with a null key column. */
  def starEdges(rows: DataFrame, id: String, keyCols: Seq[String]): DataFrame =
    rows.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .select(min(col(id)).over(Window.partitionBy(keyCols.map(col): _*)).as("a_id"),
        col(id).as("b_id"))
      .filter(col("b_id") > col("a_id"))
}
