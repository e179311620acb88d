package perfbench

import org.apache.spark.sql.functions._

import graft.llm.{Clusters, Dedup, Similarity}
import graft.sources.Tables

/** `corpus_curation`: the training-data half — capped MinHash candidates
  * verified by exact trigram Jaccard, near-duplicate clusters by star
  * contraction over the scale-default candidate set, and banded SemDeDup
  * over the embeddings (k-means IVF build included). */
object Corpus {

  /** `verifyCandidates` builds the capped banded MinHash pairs itself
    * (`Dedup.minhashCandidates`), which no other layer computes. */
  val recomputes: Map[String, String] =
    Map("llm.Dedup.verify" -> (Pass.Standalone + "Dedup.minhashCandidates"))

  def pass(p: Pass, dir: String, nDocs: Long): Outcome = {
    val spark = p.spark

    val (docs, emb) = p.layer("sources.Tables") {
      (p.out(Tables.documents(spark, dir)), p.out(Tables.embeddings(spark, dir)))
    }
    val pairs = p.layer("llm.Dedup.candidates")(p.out(Dedup.scalableCandidates(docs), shared = true))
    p.standalone("Dedup.minhashCandidates") {
      Dedup.minhashCandidates(docs, maxBucket = Dedup.DefaultMaxBucket)
    }
    val verified = p.layer("llm.Dedup.verify") {
      p.out(Dedup.verifyCandidates(docs, maxBucket = Dedup.DefaultMaxBucket))
    }
    p.sink(verified)
    val pairRows = p.harness(pairs.collect().map(r => (r.getLong(0), r.getLong(1))))
    val assigned = p.layer("llm.Clusters")(p.out(Clusters.assign(docs, pairs)))
    val assignRows = p.harness(assigned.collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"))))
    val sem = p.layer("llm.Similarity")(p.out(Similarity.semDedupBanded(emb)))
    p.sink(sem)

    // the per-layer ratios read the materialized outputs of a traced pass
    val ratios =
      if (!p.traced) Map.empty[String, Double]
      else p.harness {
        val v = verified.agg(count(lit(1)), count(when(col("verified"), 1))).head
        val s = sem.agg(count(lit(1)), count(when(col("kept"), 1))).head
        val rounds = Clusters.starEdgesWithRounds(pairs)._2
        Map(
          "llm.Dedup.verified_per_candidate" -> v.getLong(1).toDouble / math.max(1L, v.getLong(0)),
          "llm.Clusters.rounds" -> rounds.toDouble,
          "llm.Similarity.kept_ratio" -> s.getLong(1).toDouble / math.max(1L, s.getLong(0)))
      }
    p.release()

    val expected = unionFind(nDocs, pairRows)
    val got = assignRows.toMap
    val wrong = expected.count { case (d, want) => !got.get(d).contains(want) }
    Outcome(Outcome.check(
      (assignRows.length == nDocs && wrong == 0,
        s"cluster assignment differs from an in-process union-find on $wrong of $nDocs docs " +
          s"(${assignRows.length} rows)"),
      (pairRows.nonEmpty, "no candidate pairs")), ratios)
  }

  /** In-process reference: doc → (min doc id of its component, size). */
  def unionFind(n: Long, pairs: Array[(Long, Long)]): Map[Long, (Long, Long)] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x
      while (y != r) { val nx = parent.getOrElse(y, y); parent(y) = r; y = nx }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val root = (0L until n).map(d => d -> find(d)).toMap
    val size = root.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    root.map { case (d, r) => d -> (r, size(r)) }
  }
}
