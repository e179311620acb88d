package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.CacheLifecycle

/** End-to-end corpus filtering funnel — the composition a pretraining
  * build actually runs: length gate, quality gate, repetition gate
  * (Gopher rules), near-dup representative gate, one verdict per
  * document with the per-rule flags kept for auditing (every serious
  * pipeline reports WHY a document dropped, not just that it did).
  *
  * Shapes: the gates are the already-scaling operators
  * ([[TextAnalysis.quality]], [[TextAnalysis.repetitionStats]],
  * [[Dedup.minhashCandidates]] → [[Clusters.assign]]) composed with
  * doc_id-keyed joins — the join keys all share the doc_id partitioning
  * family, and the dedup gate rides the banded-LSH candidate join plus
  * the O(log n)-round star contraction the standalone `dedup_clusters`
  * operator already pays. Nothing here adds a shuffle family the
  * component operators didn't already pay.
  */
object Corpus {

  /** Per-document filter verdict: (doc_id, pass_length, pass_quality,
    * pass_repetition, pass_dedup, kept). `pass_repetition` defaults to
    * true for documents too short to have bigrams (no signal ≠ spam);
    * `pass_dedup` keeps the BEST-QUALITY representative of each FUZZY
    * near-dup cluster (quality desc, doc_id asc tie-break — the
    * [[Dedup.keepBestByQuality]] retention policy over the transitive
    * closure) — LSH band candidates closed by connected components, so a
    * chain A~B, B~C keeps exactly one of {A,B,C} even though the A–C
    * pair was never emitted; and the one kept is the one worth training
    * on, not the one that happened to have the lowest id.
    *
    * Shape of the representative choice: one cluster-keyed `max_by`
    * aggregation plus one cluster-keyed join back — the same bounded key
    * family the component assignment already shuffles on. */
  def filterFunnel(
      docs: DataFrame,
      minTokens: Long = 20L,
      minQuality: Double = 0.2,
      maxTopBigram: Double = 0.1,
      clusterIndex: Option[DataFrame] = None): DataFrame = {
    val q = TextAnalysis.quality(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val rep = TextAnalysis.repetitionStats(docs)
      .select(col("doc_id"), col("top_bigram_frac"))
    // a persisted assignment (Clusters.indexWrite) skips the star
    // contraction entirely — the production shape: contract once per
    // corpus snapshot, every downstream gate reads the index
    val clusters = clusterIndex
      .getOrElse(Clusters.assign(docs, Dedup.scalableCandidates(docs)))
      .select(col("doc_id"), col("cluster_id"))
    val best = clusters
      .join(q.select(col("doc_id"), col("quality_score")), "doc_id")
      .groupBy("cluster_id")
      .agg(max_by(
        col("doc_id"),
        struct(col("quality_score"), (-col("doc_id")).as("neg_id"))).as("rep_id"))
    val dedup = clusters.join(best, "cluster_id")
      .select(col("doc_id"), (col("doc_id") === col("rep_id")).as("pass_dedup"))
    val flags = q
      .join(rep, Seq("doc_id"), "left")
      .join(dedup, "doc_id")
      .select(
        col("doc_id"),
        (col("n_tokens") >= minTokens).as("pass_length"),
        (col("quality_score") >= minQuality).as("pass_quality"),
        coalesce(col("top_bigram_frac") <= maxTopBigram, lit(true)).as("pass_repetition"),
        col("pass_dedup"))
    flags.withColumn("kept",
      col("pass_length") && col("pass_quality") &&
        col("pass_repetition") && col("pass_dedup"))
  }

  /** Streaming admission controller — the live-ingestion counterpart of
    * [[filterFunnel]]: every ARRIVING document gets an admit/reject
    * verdict with per-rule flags, in one pass, before it ever lands in
    * the corpus. Rules: the linear quality gate (sign of
    * [[TextAnalysis.qualityLogit]]'s chain), a PII threshold
    * ([[Pii.piiCount]] == 0), and the near-dup gate against the standing
    * corpus signature index ([[Dedup.ingestGate]]'s stream-static join).
    *
    * Stream-legal by construction: signatures, quality counts, and PII
    * counts are per-row projections (the token array is named once,
    * `quality`'s staged-projection discipline), and the only join is
    * stream-static — append mode, no watermark, no streaming state. The
    * same call works in batch (oracled as `corpus_admission`) and on a
    * stream without any [[graft.streaming.StreamsV2]] operator; the
    * streaming parity is pinned in StreamingSpec.
    */
  def admissionGate(arrivals: DataFrame, corpus: DataFrame): DataFrame =
    admissionGateWithIndex(arrivals, admissionIndex(corpus))

  /** The standing corpus signature index the admission gate joins against:
    * one row per distinct 8-hash MinHash signature with the lowest owning
    * doc_id (`dup_of`). Build it once per corpus snapshot and PERSIST it
    * (the [[graft.sources.IndexCache]] / `Clusters.indexWrite` pattern) —
    * at 100 TB the index build is the expensive half of admission (full
    * corpus scan + signature shuffle) and amortizes across every arriving
    * batch, while the gate itself stays a per-arrival projection plus one
    * signature-keyed equality join. */
  def admissionIndex(corpus: DataFrame): DataFrame = {
    val sigCols = (0 until 8).map(i => s"m$i")
    Dedup.minhashSignatures(corpus)
      .groupBy(sigCols.map(col): _*)
      .agg(min("doc_id").as("dup_of"))
  }

  /** The signature-bucket column for a persisted-index layout: a stable
    * hash of the full 8-hash signature folded into `numBuckets`
    * partitions. Derivable identically on the index (write time) and on
    * an arriving batch (plan time), which is what makes the partition
    * pruning in [[admissionGatePruned]] sound. */
  def sigBucket(numBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64((0 until 8).map(i => col(s"m$i")): _*), lit(numBuckets.toLong))
      .cast("int")

  /** Schema-metadata key recording the bucket count a `sig_bucket` column
    * was folded with. Pruning is only sound when the batch recomputes its
    * buckets with the SAME count the index was written with — the count
    * therefore travels WITH the index (column metadata in the plan, a
    * sidecar file in the persisted layout) instead of being a parameter
    * two call sites must keep in sync by discipline. */
  val NumBucketsKey = "graft.admission.numBuckets"

  /** Sidecar filename recording the bucket count next to a persisted
    * bucketed index (underscore prefix: invisible to the parquet reader). */
  val NumBucketsSidecar = "_graft_num_buckets"

  /** The bucket count recorded on `index`'s `sig_bucket` column, if any. */
  def recordedNumBuckets(index: DataFrame): Option[Int] = {
    val f = index.schema.fields.find(_.name == "sig_bucket")
    f.filter(_.metadata.contains(NumBucketsKey))
      .map(_.metadata.getLong(NumBucketsKey).toInt)
  }

  /** The sizing target: ~2k index rows per `sig_bucket` partition. Small
    * enough that a pruned read of a handful of buckets is a handful of
    * small files; large enough that a bucket is one healthy parquet file,
    * not a directory of crumbs. */
  val TargetRowsPerBucket = 2048L

  /** Default upper clamp on the bucket count: 2^16 partition directories.
    * At the 2k-rows target this covers ~134M distinct signatures before
    * per-bucket size starts growing again; past that, partition-directory
    * COUNT becomes the cost (listing, driver-side partition metadata, one
    * dirent per bucket on the object store), so the clamp trades bounded
    * file-count for linear per-bucket growth — the documented point where
    * a corpus has outgrown one admission index and shards by a leading
    * signature byte. The round-16 clamp of 512 froze that trade at ~1M
    * signatures, two orders of magnitude early (round-16 verdict). */
  val MaxBucketsDefault = 65536

  /** Bucket count sized to the index: ~[[TargetRowsPerBucket]] rows per
    * bucket, clamped to [8, maxBuckets]. The floor keeps a tiny corpus
    * from degenerating to one partition; the ceiling is the file-count
    * trade documented on [[MaxBucketsDefault]]. Near-empty-file overhead
    * at small scale was the round-14 sf0.1 regression (a fixed 512 wrote
    * hundreds of near-empty files the UNPRUNED gate paid to open), which
    * is why the count is sized rather than constant. */
  def sizeBuckets(corpusRows: Long, maxBuckets: Int = MaxBucketsDefault): Int = {
    require(maxBuckets >= 8, s"maxBuckets must be >= 8, got $maxBuckets")
    math.max(8L, math.min(maxBuckets.toLong, corpusRows / TargetRowsPerBucket))
      .toInt
  }

  /** Maintenance criterion for an incrementally-grown index
    * ([[updateAdmissionIndex]] preserves the base-build fold forever, so
    * per-bucket size grows with the corpus): re-bucket when the average
    * rows per bucket exceeds `slack` × [[TargetRowsPerBucket]].
    *
    * Derivation (the round-16 verdict's open scale question): the pruned
    * gate's per-batch index read is touchedBuckets × rows/nb — the batch
    * fixes touchedBuckets, so the read grows linearly in rows once nb is
    * frozen. Re-bucketing ([[rebucketAdmissionIndex]]) restores
    * rows/nb ≈ [[TargetRowsPerBucket]] for one full-rewrite cost; at
    * slack = 2 each rewrite doubles the corpus the index absorbs before
    * the next one, so total rewrite work over any growth history is
    * ≤ 2× the final corpus size (geometric series) while the gate's
    * per-batch read stays within 2× of its rebuilt-index cost. Measured
    * growth curve: SCALE.md round-17 (per-increment gate reads against a
    * 10×-grown index, with and without the re-bucket). */
  def needsRebucket(indexRows: Long, numBuckets: Int,
      slack: Double = 2.0): Boolean =
    numBuckets < MaxBucketsDefault &&
      indexRows.toDouble / numBuckets > slack * TargetRowsPerBucket

  /** The bucket count an arriving batch must fold with: the count the
    * index RECORDS wins ([[recordedNumBuckets]]). A metadata-less bucketed
    * frame (raw `spark.read.parquet` of the layout, lost sidecar) gets the
    * caller's fallback only after VALIDATION — a fallback that disagrees
    * with the write-time fold would prune away exactly the matching
    * partitions and silently admit true duplicates, the hole the recorded
    * count exists to close (round-16 ADVICE). Validation recomputes
    * `sig_bucket` from a bounded sample of index rows with the fallback
    * fold and requires every row to agree: a wrong fold maps a 64-bit
    * xxhash64 onto the stored bucket only by coincidence, so 256 agreeing
    * rows make a wrong-but-validated count vanishingly unlikely, while an
    * empty index validates trivially (nothing prunable to lose). The
    * sample is a `limit(256)` over ≤ 9 small columns — one bounded job on
    * the metadata-less path only; indexes read via [[readAdmissionIndex]]
    * never pay it. */
  def effectiveNumBuckets(index: DataFrame, fallback: Int): Int =
    recordedNumBuckets(index).getOrElse {
      val bad = index
        .select((0 until 8).map(i => col(s"m$i")) :+
          col("sig_bucket").cast("int").as("_sb"): _*)
        .limit(256)
        .filter(sigBucket(fallback) =!= col("_sb"))
        .count()
      if (bad > 0) throw new IllegalStateException(
        s"metadata-less bucketed admission index: $bad sampled row(s) " +
          s"disagree with numBuckets=$fallback — the index was folded with " +
          "a different bucket count; pruning with this fallback would " +
          "silently admit true duplicates. Re-read the index via " +
          "Corpus.readAdmissionIndex (restores the recorded count) or pass " +
          "the write-time count.")
      fallback
    }

  /** [[admissionIndex]] in the bucketed persisted layout: same rows plus
    * the `sig_bucket` partition column, which carries `numBuckets` as
    * column metadata ([[NumBucketsKey]]) so [[admissionGatePruned]] prunes
    * with the count the index was actually folded with. Write it with
    * [[writeAdmissionIndex]] (which also records the count in a sidecar,
    * since partition-column metadata does not survive a parquet
    * round-trip) — the layout is what lets an admission batch read only
    * the index partitions its own signatures hash into
    * ([[admissionGatePruned]]) instead of scanning the whole standing
    * index; at 100 TB the index is corpus-sized and the batch is a
    * micro-batch, so the pruned read is the difference between O(batch)
    * and O(corpus) per admission. */
  def admissionIndexBucketed(corpus: DataFrame, numBuckets: Int = 512): DataFrame = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(NumBucketsKey, numBuckets.toLong).build()
    admissionIndex(corpus)
      .withColumn("sig_bucket", sigBucket(numBuckets).as("sig_bucket", meta))
  }

  /** Persist the bucketed admission index: partitioned parquet plus the
    * [[NumBucketsSidecar]] bucket-count sidecar [[readAdmissionIndex]]
    * restores the column metadata from. The sidecar is written to a temp
    * name then atomically moved, so a reader never observes a
    * half-written count; the residual window (parquet complete, sidecar
    * not yet moved) degrades to the metadata-less path, where
    * [[effectiveNumBuckets]] validates or rejects the caller's fallback
    * instead of silently pruning wrong. */
  def writeAdmissionIndex(corpus: DataFrame, path: String,
      numBuckets: Int = 512): Unit =
    writeBucketedIndex(admissionIndex(corpus), path, numBuckets)

  /** [[writeAdmissionIndex]] with the bucket count sized from the INDEX
    * row count (distinct signatures — what [[sizeBuckets]]'s ~2k-rows-per-
    * bucket target actually means) in ONE corpus scan: the unbucketed
    * index is built once, persisted in memory for the count, then written
    * bucketed. The corpus-rows-fed two-scan form overestimated index rows
    * (duplicates collapse) and paid a full extra corpus pass just to size
    * the fold (round-16 ADVICE). Returns the recorded count. */
  def writeAdmissionIndexAutoSized(corpus: DataFrame, path: String): Int = {
    val idx = admissionIndex(corpus).persist()
    try {
      val nb = sizeBuckets(idx.count())
      writeBucketedIndex(idx, path, nb)
      nb
    } finally { idx.unpersist(); () }
  }

  /** INCREMENTAL maintenance of a persisted bucketed admission index —
    * the production alternative to rebuilding per corpus snapshot: fold
    * `newDocs`' signatures into the standing index, rewriting ONLY the
    * partitions the new signatures hash into (dynamic partition
    * overwrite). The result is row-identical to a full rebuild over
    * old ∪ new — the min-doc owner per signature merges across both
    * sides — at O(increment + affected partitions) cost instead of
    * O(corpus). At 100 TB the standing index is corpus-sized and an
    * ingest increment is not: this is the same O(batch)-vs-O(corpus)
    * distinction [[admissionGatePruned]] makes on the READ path, applied
    * to the index WRITE path. The bucket fold is the index's own
    * recorded count (required — merging with a drifted fold would split
    * signatures across partitions); the sidecar is untouched because the
    * fold does not change. The merged partitions are eagerly
    * local-checkpointed before the overwrite so the write never reads
    * the files it is replacing.
    *
    * Crash/retry contract: the dynamic partition overwrite is NOT atomic
    * across partitions — a failure mid-commit leaves some affected
    * partitions merged and some stale. The remedy is to RE-RUN THE SAME
    * increment: the merge is idempotent (min-fold over old ∪ new is the
    * same whether `old` already absorbed the increment or not), so a
    * retry over any partially-updated index converges to the full-rebuild
    * rows (pinned in CorpusHealthSpec's partial-update drill). A retry is
    * only convergent for the SAME or a SUPERSET increment; if the failed
    * increment is lost, rebuild with [[writeAdmissionIndex]].
    *
    * Concurrency contract: single-writer ONLY. Two concurrent increments
    * touching overlapping buckets each overwrite the partition with their
    * OWN merge — last writer wins and the other side's signatures are
    * dropped (each read the pre-update partition). Serialize increments
    * (or union the doc batches into one call); this refusal is
    * documentation-level because the FileSystem layout has no lock to
    * detect a concurrent writer with. For genuinely concurrent ingestion
    * use [[appendAdmissionDelta]] + [[compactAdmissionIndex]]: append-only
    * delta segments share no mutable state and need no lock at all. */
  def updateAdmissionIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame): Unit = {
    val index = readAdmissionIndex(spark, path)
    val nb = recordedNumBuckets(index).getOrElse(throw new IllegalStateException(
      s"updateAdmissionIndex needs the recorded bucket count at $path — " +
        "an unrecorded fold cannot be merged into safely; rebuild with " +
        "Corpus.writeAdmissionIndex"))
    val sigCols = (0 until 8).map(i => s"m$i")
    val fresh = admissionIndex(newDocs)
      .withColumn("sig_bucket", sigBucket(nb))
    // the increment's own distinct buckets: ≤ nb small ints, the same
    // bounded plan-time collect as the pruned gates
    val buckets = fresh.select("sig_bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    if (buckets.nonEmpty) {
      val affected = index.filter(col("sig_bucket").isin(buckets: _*))
      val merged = affected.unionByName(fresh)
        .groupBy((sigCols :+ "sig_bucket").map(col): _*)
        .agg(min("dup_of").as("dup_of"))
        .select(sigCols.map(col) :+ col("dup_of") :+ col("sig_bucket"): _*)
      // materialize BEFORE overwriting the source files; blocks released
      // once the write has consumed them. Per-write dynamic overwrite
      // (DataFrameWriter option), NOT the session conf: mutating
      // spark.sql.sources.partitionOverwriteMode for the write's duration
      // races any concurrent writer in the same session (round-16 ADVICE)
      withEagerCheckpoint(merged) {
        _.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("sig_bucket").parquet(path)
      }
    }
  }

  /** RE-BUCKET a persisted admission index in place: re-fold every row
    * with a new bucket count (default: [[sizeBuckets]] of the CURRENT row
    * count) and rewrite the layout + sidecar once. This is the split-
    * maintenance op [[needsRebucket]]'s criterion calls for — an index
    * grown through [[updateAdmissionIndex]] increments keeps its
    * base-build fold, so per-bucket size (and the pruned gate's per-batch
    * read) grows with the corpus until a re-bucket restores the
    * [[TargetRowsPerBucket]] density. Rows are untouched — only the
    * partition fold changes — so every gate verdict is identical before
    * and after (oracled: `corpus_admission_rebucket` reuses the
    * full-rebuild admission SQL).
    *
    * Cost and shape: ONE streamed rewrite of the index (a corpus-sized
    * shuffle-free pass — the new `sig_bucket` is a per-row projection),
    * written to a sibling staging directory and then swapped in. The
    * source files are never read and overwritten in the same job, so no
    * corpus-sized checkpoint is needed. Crash windows: a failure during
    * the staging write leaves the original index untouched (re-run; the
    * overwrite-mode staging write is idempotent); a failure between the
    * swap's remove and move leaves no index at `path`, but the staging
    * directory (`<path>__rebucket_tmp`) IS the complete new layout,
    * sidecar included — the remedy is to move it into place by hand
    * (a re-run cannot: there is no source left to read). On an object
    * store, publish by pointer-swap to the staging path instead of the
    * remove+move. Returns the new recorded count. */
  def rebucketAdmissionIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, numBuckets: Option[Int] = None): Int = {
    val pending = pendingAdmissionDeltas(path)
    require(pending.isEmpty,
      s"rebucketAdmissionIndex at $path with ${pending.size} pending delta " +
        "segment(s): re-folding the base would strand the deltas on the OLD " +
        "fold (mismatched folds split signatures across partitions) — run " +
        "Corpus.compactAdmissionIndex first")
    val index = readAdmissionIndex(spark, path)
    require(index.columns.contains("sig_bucket"),
      s"rebucketAdmissionIndex needs the bucketed layout at $path")
    val rows = index.drop("sig_bucket")
    val nb = numBuckets.getOrElse(sizeBuckets(rows.count()))
    val dir = java.nio.file.Paths.get(path)
    val staging = dir.resolveSibling(dir.getFileName.toString + "__rebucket_tmp")
    writeBucketedIndex(rows, staging.toString, nb)
    deleteRecursively(dir)
    java.nio.file.Files.move(staging, dir)
    nb
  }

  /** APPEND-ONLY concurrent maintenance of a persisted admission index —
    * the multi-writer alternative to [[updateAdmissionIndex]] (which is
    * single-writer by contract: concurrent partition overwrites are
    * last-writer-wins and drop the loser's signatures). Each call folds
    * `newDocs`' signatures with the base index's RECORDED bucket count and
    * publishes them as an immutable sibling DELTA SEGMENT
    * (`<path>__delta_<uuid>`), written to a `.tmp` staging name and
    * atomically renamed — the LSM discipline: writers share NO mutable
    * state (own directory, unique name, base untouched, sidecar
    * untouched), so any number of appenders may run concurrently, from
    * any number of sessions, with no coordination. A crash mid-write
    * leaves only an unpublished `.tmp` directory that every reader and
    * the compactor ignore; the remedy is to re-run the same increment
    * (absorbing the same rows twice is a no-op under the min-fold).
    *
    * A delta segment is itself a complete bucketed index (partitioned
    * layout + bucket-count sidecar), folded with the base's count so
    * partition pruning stays sound across base and deltas. Readers see
    * the increment via [[readAdmissionIndexFolded]]; a periodic
    * [[compactAdmissionIndex]] absorbs published deltas back into the
    * base. Returns the published segment path. */
  def appendAdmissionDelta(spark: org.apache.spark.sql.SparkSession,
      path: String, newDocs: DataFrame): String = {
    val nb = recordedNumBuckets(readAdmissionIndex(spark, path)).getOrElse(
      throw new IllegalStateException(
        s"appendAdmissionDelta needs the recorded bucket count at $path — " +
          "a delta folded with a guessed count could not be pruned or " +
          "compacted soundly; rebuild with Corpus.writeAdmissionIndex"))
    val dir = java.nio.file.Paths.get(path)
    val id = java.util.UUID.randomUUID().toString.replace("-", "")
    val staging = dir.resolveSibling(
      dir.getFileName.toString + s"__delta_$id.tmp")
    val published = dir.resolveSibling(
      dir.getFileName.toString + s"__delta_$id")
    writeBucketedIndex(admissionIndex(newDocs), staging.toString, nb)
    java.nio.file.Files.move(staging, published)
    published.toString
  }

  /** Published (renamed-in) delta segments pending compaction at `path`,
    * oldest-name first. `.tmp` staging directories — crashed or still
    * in-flight appends — are excluded: a segment exists only once its
    * atomic rename lands. Pure filesystem metadata, no Spark job. */
  def pendingAdmissionDeltas(path: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(path).toAbsolutePath
    val parent = dir.getParent
    val prefix = dir.getFileName.toString + "__delta_"
    if (parent == null || !java.nio.file.Files.isDirectory(parent)) Seq.empty
    else {
      val stream = java.nio.file.Files.list(parent)
      try stream.iterator().asScala.map(_.toString).filter { p =>
        val name = java.nio.file.Paths.get(p).getFileName.toString
        name.startsWith(prefix) && !name.endsWith(".tmp")
      }.toSeq.sorted
      finally stream.close()
    }
  }

  /** The CURRENT admission index at `path`: base plus every published
    * delta segment, min-folded back to one row per signature. With no
    * pending deltas this is exactly [[readAdmissionIndex]] (no fold, no
    * extra work). With deltas, duplicate signatures across segments
    * (and their possibly-different min owners) are re-folded by the same
    * min(dup_of) the rebuild computes, so gate verdicts over the folded
    * read equal the rebuild's row-exactly — `corpus_admission_delta_gate`
    * oracles this against the full-rebuild admission SQL.
    *
    * Scale shape: the fold is a groupBy keyed on the signature PLUS
    * `sig_bucket` (a grouping column), so [[admissionGatePruned]]'s
    * bucket filter pushes below the aggregate into every segment's scan
    * as a partition filter — a micro-batch gate over base + D deltas
    * reads O(touched partitions × (1 + D)) and folds only that pruned
    * slice, never the corpus. Every segment records the SAME fold by
    * construction; a mismatched segment (e.g. hand-copied from a
    * re-bucketed sibling) is refused loudly. */
  def readAdmissionIndexFolded(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val base = readAdmissionIndex(spark, path)
    val deltas = pendingAdmissionDeltas(path)
    if (deltas.isEmpty) base
    else {
      val nb = recordedNumBuckets(base).getOrElse(
        throw new IllegalStateException(
          s"readAdmissionIndexFolded needs the recorded bucket count at " +
            s"$path to fold ${deltas.size} pending delta segment(s)"))
      val segments = deltas.map { d =>
        val seg = readAdmissionIndex(spark, d)
        val segNb = recordedNumBuckets(seg)
        if (!segNb.contains(nb)) throw new IllegalStateException(
          s"delta segment $d records fold ${segNb.getOrElse("none")} but the " +
            s"base at $path records $nb — mismatched folds split signatures " +
            "across partitions; compact or rebuild before reading")
        seg
      }
      val sigCols = (0 until 8).map(i => s"m$i")
      val folded = segments.foldLeft(base)(_.unionByName(_))
        .groupBy((sigCols :+ "sig_bucket").map(col): _*)
        .agg(min("dup_of").as("dup_of"))
        .select(sigCols.map(col) :+ col("dup_of") :+ col("sig_bucket"): _*)
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(NumBucketsKey, nb.toLong).build()
      folded.withColumn("sig_bucket", col("sig_bucket").as("sig_bucket", meta))
    }
  }

  /** Absorb published delta segments back into the base index: min-fold
    * ONLY the base partitions the deltas' buckets touch (the deltas' own
    * partition directories name them — filesystem metadata, no job) with
    * every delta row, dynamic-partition-overwrite those partitions, then
    * delete the absorbed segments. After compaction the plain
    * [[readAdmissionIndex]] / [[admissionGatePruned]] fast path sees the
    * full corpus again with zero per-read fold cost. Cost is
    * O(affected base partitions + delta rows), not O(corpus).
    *
    * Crash/retry contract: segments are deleted only AFTER the overwrite
    * commits, and absorbing an already-absorbed segment is a no-op under
    * the min-fold, so a crash anywhere (mid-overwrite, mid-delete)
    * re-converges by re-running compaction. A segment published WHILE a
    * compaction runs is safe: the pending list is snapshotted first, so
    * the new segment is neither absorbed nor deleted — it stays pending
    * for the next cycle (its rows are never in the partitions being
    * overwritten; delta directories are disjoint from the base).
    * Single-COMPACTOR only: two concurrent compactions race the same
    * partition overwrite exactly like two [[updateAdmissionIndex]]
    * writers — appenders need no lock, the maintenance role does.
    * Returns the number of segments absorbed. */
  def compactAdmissionIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    import scala.jdk.CollectionConverters._
    val deltas = pendingAdmissionDeltas(path) // snapshot BEFORE reading
    if (deltas.isEmpty) return 0
    val base = readAdmissionIndex(spark, path)
    val nb = recordedNumBuckets(base).getOrElse(
      throw new IllegalStateException(
        s"compactAdmissionIndex needs the recorded bucket count at $path"))
    val segments = deltas.map { d =>
      val seg = readAdmissionIndex(spark, d)
      val segNb = recordedNumBuckets(seg)
      if (!segNb.contains(nb)) throw new IllegalStateException(
        s"delta segment $d records fold ${segNb.getOrElse("none")} but the " +
          s"base at $path records $nb — refusing to compact mismatched folds")
      seg
    }
    // buckets the deltas touch: each segment's partition directory names
    val buckets = deltas.flatMap { d =>
      val stream = java.nio.file.Files.list(java.nio.file.Paths.get(d))
      try stream.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("sig_bucket="))
        .map(_.stripPrefix("sig_bucket=").toInt).toSeq
      finally stream.close()
    }.distinct
    if (buckets.nonEmpty) {
      val sigCols = (0 until 8).map(i => s"m$i")
      val affected = base.filter(col("sig_bucket").isin(buckets: _*))
      val merged = segments.foldLeft(affected)(_.unionByName(_))
        .groupBy((sigCols :+ "sig_bucket").map(col): _*)
        .agg(min("dup_of").as("dup_of"))
        .select(sigCols.map(col) :+ col("dup_of") :+ col("sig_bucket"): _*)
      // materialize BEFORE overwriting the source; blocks released once
      // the write has consumed them
      withEagerCheckpoint(merged) {
        _.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("sig_bucket").parquet(path)
      }
    }
    deltas.foreach(d => deleteRecursively(java.nio.file.Paths.get(d)))
    deltas.size
  }

  /** Eagerly localCheckpoint `df` (materializing it BEFORE a write that
    * overwrites its own source files), run `use` over the checkpointed
    * frame, then RELEASE the checkpoint's cached blocks. The maintenance
    * ops are synchronous — by the time `use` returns, the write has
    * consumed the checkpoint — so an immediate unpersist is safe and
    * keeps a long-lived maintenance session from accumulating one
    * affected-partitions-sized block set per increment until the
    * ContextCleaner happens to GC them (the round-10 cache-hygiene
    * contract, applied to eager checkpoints: localCheckpoint persists
    * the underlying RDD outside the CacheManager, so `Dataset.unpersist`
    * cannot release it — the block handle is the LogicalRDD leaf's). */
  private def withEagerCheckpoint[A](df: DataFrame)(use: DataFrame => A): A = {
    val cp = df.localCheckpoint(eager = true)
    try use(cp)
    finally cp.queryExecution.logical.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(root)) {
      val paths = java.nio.file.Files.walk(root).iterator().asScala.toSeq
      paths.reverseIterator.foreach(java.nio.file.Files.delete)
    }
  }

  private def writeBucketedIndex(index: DataFrame, path: String,
      numBuckets: Int): Unit = {
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(NumBucketsKey, numBuckets.toLong).build()
    index.withColumn("sig_bucket", sigBucket(numBuckets).as("sig_bucket", meta))
      .write.mode("overwrite").partitionBy("sig_bucket").parquet(path)
    val dir = java.nio.file.Paths.get(path)
    val tmp = dir.resolve(NumBucketsSidecar + ".tmp")
    java.nio.file.Files.write(tmp, numBuckets.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, dir.resolve(NumBucketsSidecar),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Load a persisted bucketed admission index, restoring the recorded
    * bucket count onto the `sig_bucket` column so every downstream prune
    * recomputes batch buckets with the write-time fold. An index persisted
    * without the sidecar (a pre-round-15 layout) loads without metadata
    * and [[admissionGatePruned]] falls back to its parameter. */
  def readAdmissionIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val raw = spark.read.parquet(path)
    val sidecar = java.nio.file.Paths.get(path, NumBucketsSidecar)
    if (!java.nio.file.Files.exists(sidecar)) raw
    else {
      // a corrupt sidecar must fail with a CLEAR contract error, not a
      // bare NumberFormatException three frames deep — and never fall
      // back silently: a bucketed index whose recorded count is garbage
      // is exactly the silent-admit hazard the sidecar exists to prevent
      val body = new String(
        java.nio.file.Files.readAllBytes(sidecar), "UTF-8").trim
      val n = scala.util.Try(body.toLong).toOption.filter(_ > 0L).getOrElse(
        throw new IllegalStateException(
          s"corrupt $NumBucketsSidecar sidecar at $path (content: " +
            s"'${body.take(32)}'): expected a positive integer bucket " +
            "count — rebuild the index with Corpus.writeAdmissionIndex, " +
            "or delete the sidecar to use validated-parameter pruning"))
      val meta = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(NumBucketsKey, n).build()
      raw.withColumn("sig_bucket", col("sig_bucket").as("sig_bucket", meta))
    }
  }

  /** [[admissionGate]] against a PREBUILT (typically persisted) signature
    * index — the production shape: index built once per corpus snapshot,
    * every admission batch pays only its own row-wise work + the join.
    *
    * Join discipline (the decade-2 lesson): every per-row verdict input —
    * token stats, PII count, the signature itself — is computed BEFORE
    * the join from ONE tokenize (`keepToks`), and the text is dropped, so
    * the signature join moves (doc_id, 4 ints, 1 count, 8 longs) per
    * arrival, never text. The fat form shuffled full documents through
    * the sort-merge exchange and paid a second `split` of every text
    * after the join. A `sig_bucket` column on the index (the bucketed
    * persisted layout) is ignored here — [[admissionGatePruned]] is the
    * path that exploits it. */
  def admissionGateWithIndex(arrivals: DataFrame, index: DataFrame): DataFrame = {
    val sigCols = (0 until 8).map(i => s"m$i")
    // docs below the shingle resolution (< 2 tokens) carry null signatures
    // and are dropped — the batch/oracle contract (Dedup.ingestGate's
    // rule). The predicate is the EQUIVALENT token-count form, not
    // `m0.isNotNull` (m0 is null iff the 2-gram shingle array is empty iff
    // the doc has < 2 tokens): predicate pushdown rewrites a filter
    // through the signature projection, and the isNotNull form inlines
    // the ENTIRE minhash chain into the pushed filter — recomputing every
    // signature per row before the projection computes it again.
    val skinny = Dedup.withProjectedSignatures(
      arrivals.filter(size(split(col("text"), " ")) >= 2), keepToks = true)
      .select(Seq(
        col("doc_id"),
        length(col("text")).as("_nc"),
        size(col("_toks")).as("_nt"),
        size(array_distinct(col("_toks"))).as("_nd"),
        size(filter(col("_toks"),
          t => t.isin(TextAnalysis.Stopwords.map(lit(_)): _*))).as("_ns"),
        Pii.piiCount(col("text")).as("_npii")) ++ sigCols.map(col): _*)
    val staged = skinny
      .join(index.drop("sig_bucket"), sigCols, "left")
    // the qualityLogit chain verbatim (same IEEE evaluation order)
    val logit = lit(-1.0) +
      lit(2.0) * least(col("_nt").cast("double") / 100.0, lit(1.0)) +
      lit(1.5) * (col("_nd").cast("double") / col("_nt")) +
      lit(-3.0) * (col("_ns").cast("double") / col("_nt")) +
      lit(-0.05) * ((col("_nc") - col("_nt") + 1).cast("double") / col("_nt"))
    staged.select(
      col("doc_id"),
      (logit > 0.0).as("pass_quality"),
      (col("_npii") === 0).as("pass_pii"),
      col("dup_of").isNull.as("pass_dedup"),
      coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
      ((logit > 0.0) && col("_npii") === 0 && col("dup_of").isNull).as("admitted"))
  }

  /** [[admissionGateWithIndex]] with BUCKET PRUNING against a bucketed
    * persisted index ([[admissionIndexBucketed]] written with
    * `partitionBy("sig_bucket")`): the batch's own distinct signature
    * buckets — at most `numBuckets` small ints, plan-time partition
    * metadata in the same sense as any partition-pruning predicate — are
    * collected first, and the index scan is restricted to exactly those
    * partitions. Matching index rows share the arrival's signature and
    * therefore its bucket, so dropping every other partition cannot
    * change a verdict; the left join's unmatched arrivals stay unmatched.
    *
    * This is the production admission shape: a micro-batch against a
    * corpus-sized standing index reads O(batch-distinct-signatures)
    * partitions, not O(corpus). The bucket-discovery pass re-projects the
    * batch's signatures (one extra row-wise pass over the BATCH — the
    * small side by construction; the index, the big side, is what gets
    * pruned). */
  def admissionGatePruned(arrivals: DataFrame, index: DataFrame,
      numBuckets: Int = 512): DataFrame = {
    require(index.columns.contains("sig_bucket"),
      "admissionGatePruned needs the bucketed index layout (sig_bucket)")
    // the count the index RECORDS wins over the parameter; a
    // metadata-less frame validates the parameter against a row sample
    // before pruning with it (a drifted count would prune away the
    // matching partitions and silently admit true duplicates) — see
    // [[effectiveNumBuckets]].
    val nb = effectiveNumBuckets(index, numBuckets)
    val buckets = Dedup.withProjectedSignatures(
        arrivals.filter(size(split(col("text"), " ")) >= 2))
      .select(sigBucket(nb).as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq
    admissionGateWithIndex(arrivals,
      index.filter(col("sig_bucket").isin(buckets: _*)))
  }

  /** Corpus snapshot diff — the dataset-versioning primitive: given two
    * snapshots of a corpus, classify every document as added / removed /
    * modified / unchanged. A training-data pipeline runs this per release
    * to audit what changed between corpus v(N) and v(N+1) (and to build
    * incremental re-processing work-lists from the non-`unchanged` rows).
    *
    * Shape at 100 TB: content equality via md5 digests computed AT THE
    * SCAN — only (doc_id, 32-char digest) ever shuffles, never text — then
    * one doc_id-keyed full-outer join. Both sides one shuffle; no
    * collect, no broadcast of anything corpus-sized. */
  def snapshotDiff(old: DataFrame, newer: DataFrame): DataFrame = {
    val o = old.select(col("doc_id"), md5(col("text")).as("_oh"))
    val n = newer.select(col("doc_id"), md5(col("text")).as("_nh"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(
        col("doc_id"),
        when(col("_oh").isNull, "added")
          .when(col("_nh").isNull, "removed")
          .when(col("_oh") =!= col("_nh"), "modified")
          .otherwise("unchanged").as("status"))
  }

  /** Table profile — the data-quality report a pipeline runs before
    * anything trains on a new drop: per column, row count, null count,
    * exact distinct count, and min/max rendered as strings. One wide
    * aggregate over one scan, unpivoted with `stack` (the same
    * single-job report shape as `Evaluate.lane`).
    *
    * Scale note: EXACT multi-column distinct plans through Spark's
    * `Expand` (the scan is replicated once per counted column before the
    * partial aggregate) — the honest cost of exactness, linear in
    * #columns. At 100 TB profile runs either on a hash-sampled slice
    * (`Sampling.stratifiedKeep`) or swap the distinct for a sketch (the
    * [[graft.functions.MisraGries]]/HLL family) when ±2% is acceptable —
    * exact is kept here because the DuckDB oracle compares bit-for-bit.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"_nn_$c"),
        countDistinct(col(c)).as(s"_nd_$c"),
        min(col(c)).cast("string").as(s"_mn_$c"),
        max(col(c)).cast("string").as(s"_mx_$c"))
    }
    val row = df.agg(count(lit(1)).as("_n"), aggs: _*)
    row.selectExpr(
      s"stack(${cols.size}, " + cols.map(c =>
        s"'$c', _n, _n - _nn_$c, _nd_$c, _mn_$c, _mx_$c").mkString(", ") +
        ") AS (col_name, n_rows, n_nulls, n_distinct, min_value, max_value)")
  }

  /** Per-source quality distribution — the monitoring table a corpus build
    * watches to catch a domain going bad (a crawler regression shows up as
    * a falling p25 long before the mean moves). Scores are quantized to
    * the 2^20 integer grid before the exact interpolating percentile:
    * (a) integer inputs keep the Spark `percentile` ↔ DuckDB
    * `quantile_cont` interpolation bit-comparable (the validated
    * `cdc_lag_percentiles` recipe), and (b) the quantization BOUNDS the
    * percentile aggregation state — `percentile` buffers (value → count)
    * pairs per group, so distinct values cap at 2^20 entries per source no
    * matter how many billions of rows a source has. One doc-keyed join +
    * one source-keyed aggregation. */
  def qualityPercentiles(docs: DataFrame): DataFrame = {
    val q = TextAnalysis.quality(docs).select(
      col("doc_id"),
      floor(col("quality_score") * lit(1048576.0)).cast("long").as("_qs"))
    q.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        expr("round(percentile(_qs, 0.25), 3)").as("p25_q20"),
        expr("round(percentile(_qs, 0.5), 3)").as("p50_q20"),
        expr("round(percentile(_qs, 0.75), 3)").as("p75_q20"),
        max(col("_qs")).as("max_q20"))
  }

  /** Token-budget selection — "fill a B-token training budget with the
    * best documents": rank the corpus by the [[TextAnalysis.qualityLogit]]
    * classifier score (ties by doc_id), take the running token total over
    * that order, and mark every document whose cumulative total fits the
    * budget. Returns the full ledger (doc_id, logit, n_tokens,
    * cum_tokens, selected) so the audit shows what the cut excluded, not
    * just what survived.
    *
    * Scale shape: the global running total is
    * [[graft.cdc.GlobalOrder.runningSum]] — range-partition on the sort
    * key, per-partition cumulative window, tiny triangular prefix
    * combine, broadcast back. NO single-partition window anywhere, which
    * is what a naive `Window.orderBy(...)` cumsum would be; the cumsum is
    * exact long arithmetic so the cut point is bit-stable. */
  def tokenBudget(docs: DataFrame, budget: Long = 10000L): DataFrame = {
    val scored = TextAnalysis.qualityLogit(docs).select("doc_id", "logit")
    val toks = docs.select(
      col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    // scaffolded: the scoring chain (wide split/HOF expressions) compiles
    // and runs ONCE — runningSum's range-boundary sampling, local cumsum
    // and partition-summary branches all read the tiny 3-column ledger
    // from the checkpoint instead of re-deriving quality per branch
    val ledger = scored.join(toks, "doc_id").transform(CacheLifecycle.scaffold)
    graft.cdc.GlobalOrder
      .runningSum(ledger, Seq(col("logit").desc, col("doc_id")), "n_tokens", "cum_tokens")
      .select(
        col("doc_id"), col("logit"), col("n_tokens"), col("cum_tokens"),
        (col("cum_tokens") <= budget).as("selected"))
  }

  /** Per-source ingestion-order budget gate (batch form): every source gets
    * `budgetPerSource` tokens; documents are admitted in doc_id (arrival)
    * order until their source's running total passes the budget. This is
    * the INGEST-time quota — caps a runaway crawler feed at write time —
    * where [[tokenBudget]] is the curation-time global cut by quality.
    * The streaming twin ([[graft.streaming.StreamsV2.budgetAdmissionStream]])
    * carries the same running total as keyed state across micro-batches and
    * must agree with this batch form on ordered arrivals.
    *
    * Scale shape: [[graft.cdc.GlobalOrder.keyedRunningSum]] — a
    * `Window.partitionBy(source)` cumsum would funnel EACH source through
    * one task (fatal when one source is a 100 TB crawl); the keyed prefix
    * sum range-partitions on (source, doc_id) and combines per-(source,
    * partition) totals with a key-local triangular join instead. */
  def sourceBudget(docs: DataFrame, budgetPerSource: Long = 2000L): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    graft.cdc.GlobalOrder
      .keyedRunningSum(toks, Seq("source"), Seq(col("doc_id")), "n_tokens",
        "cum_source_tokens")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_source_tokens"),
        (col("cum_source_tokens") <= budgetPerSource).as("admitted"))
  }

  /** Funnel-order audit — dedup-then-filter vs filter-then-dedup on the
    * SAME corpus, gates and cluster index held fixed: the
    * pipeline-design question every corpus build answers implicitly
    * (RefinedWeb filters before deduplicating; others dedup first) made
    * explicit as a per-source ledger. Under keep-best retention the two
    * orders differ in exactly one way: when a cluster's overall
    * best-quality member FAILS a gate, dedup-first loses the whole
    * cluster (the representative was chosen, then rejected), while
    * filter-first elects the best GATE-PASSING member instead — so
    * filter-first can only rescue documents, never drop extra ones
    * (`n_dropped_by_filter_first` is the measured 0 that proves it, and
    * `n_rescued_by_filter_first` is the retention the ordering decision
    * is actually worth).
    *
    * Consumes the persisted cluster index; two cluster-keyed argmax
    * aggregates + one doc-keyed join — no contraction, no second corpus
    * scan beyond the quality/repetition projections. */
  def funnelOrder(docs: DataFrame, clusters: DataFrame,
      minTokens: Long = 20L, minQuality: Double = 0.2,
      maxTopBigram: Double = 0.1): DataFrame = {
    val q = TextAnalysis.quality(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val rep = TextAnalysis.repetitionStats(docs)
      .select(col("doc_id"), col("top_bigram_frac"))
    val base = q
      .join(rep, Seq("doc_id"), "left")
      .join(clusters.select("doc_id", "cluster_id"), "doc_id")
      .join(docs.select("doc_id", "source"), "doc_id")
      .withColumn("pass_gates",
        col("n_tokens") >= minTokens && col("quality_score") >= minQuality &&
          coalesce(col("top_bigram_frac") <= maxTopBigram, lit(true)))
      .transform(CacheLifecycle.scaffold)
    def repOf(in: DataFrame, as: String) = in.groupBy("cluster_id")
      .agg(max_by(col("doc_id"),
        struct(col("quality_score"), (-col("doc_id")).as("neg_id"))).as(as))
    val flagged = base
      .join(repOf(base, "rep_all"), "cluster_id")
      .join(repOf(base.filter(col("pass_gates")), "rep_pass"),
        Seq("cluster_id"), "left")
      .withColumn("kept_a", col("doc_id") === col("rep_all") && col("pass_gates"))
      .withColumn("kept_b", col("doc_id") === coalesce(col("rep_pass"), lit(-1L)))
    flagged.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("kept_a"), 1)).as("n_kept_dedup_first"),
        count(when(col("kept_b"), 1)).as("n_kept_filter_first"),
        count(when(col("kept_b") && !col("kept_a"), 1))
          .as("n_rescued_by_filter_first"),
        count(when(col("kept_a") && !col("kept_b"), 1))
          .as("n_dropped_by_filter_first"),
        coalesce(sum(when(col("kept_a"), col("n_tokens"))), lit(0L))
          .as("tokens_dedup_first"),
        coalesce(sum(when(col("kept_b"), col("n_tokens"))), lit(0L))
          .as("tokens_filter_first"))
  }

  /** Quality-gate threshold sweep — the tuning curve read BEFORE fixing
    * a corpus filter's cutoff: for each candidate threshold, how many
    * documents and tokens survive `quality_score ≥ t`, as counts and
    * fractions. The knee of this curve (tokens retained vs threshold) is
    * where the gate gets set; shipping a cutoff without it is guessing.
    *
    * Shape: ONE corpus scan through the quality projection into a single
    * aggregate row of conditional counts (one pair per threshold —
    * map-side combine, no explode multiplies the corpus), then `stack`
    * unpivots |thresholds| rows. Cost is one pass regardless of how many
    * thresholds are swept. */
  def qualityThresholdSweep(docs: DataFrame,
      thresholds: Seq[Double] = Seq(0.0, 0.1, 0.2, 0.3, 0.4, 0.5)): DataFrame = {
    require(thresholds.nonEmpty)
    val q = TextAnalysis.quality(docs)
      .select(col("n_tokens"), col("quality_score"))
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) => Seq(
      count(when(col("quality_score") >= t, 1)).as(s"_d$i"),
      coalesce(sum(when(col("quality_score") >= t, col("n_tokens"))), lit(0L))
        .as(s"_t$i"))
    } ++ Seq(count(lit(1)).as("_dall"),
      coalesce(sum("n_tokens"), lit(0L)).as("_tall"))
    val one = q.agg(aggs.head, aggs.tail: _*)
    val stackArgs = thresholds.zipWithIndex
      .map { case (t, i) => s"CAST($t AS DOUBLE), _d$i, _t$i" }.mkString(", ")
    one.selectExpr(
      s"stack(${thresholds.size}, $stackArgs) AS (threshold, n_docs_kept, n_tokens_kept)",
      "_dall", "_tall")
      .select(col("threshold"), col("n_docs_kept"), col("n_tokens_kept"),
        (col("n_docs_kept").cast("double") / col("_dall")).as("doc_frac"),
        (col("n_tokens_kept").cast("double") / col("_tall")).as("token_frac"))
  }

  /** Quality-decile × duplication cross-ledger — the audit that answers
    * "is low quality where the duplicates live?" before anyone tunes a
    * funnel: per quality decile (the validated [[TextAnalysis.quality]]
    * composite, floor(q·10) capped at 9), how many documents sit in a
    * near-dup cluster of size > 1 and what fraction that is. A dup rate
    * concentrated in the bottom deciles means the quality gate already
    * removes most duplicates and the dedup pass is cleanup; a flat curve
    * means dedup must run regardless — pipeline-ordering evidence, from
    * the corpus itself.
    *
    * Consumes the persisted cluster index ([[Clusters.indexWrite]]) — no
    * contraction in-plan; one doc-keyed join + one 10-row aggregate. The
    * decile is integer arithmetic on the score, the rate one division of
    * exact longs. */
  def qualityVsDup(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val q = TextAnalysis.quality(docs).select(
      col("doc_id"),
      least(floor(col("quality_score") * 10.0), lit(9.0)).cast("long").as("decile"))
    q.join(clusters.select(col("doc_id"), (col("cluster_size") > 1).as("_dup")),
        Seq("doc_id"))
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_docs"),
        count(when(col("_dup"), 1)).as("n_dup_docs"),
        (count(when(col("_dup"), 1)).cast("double") / count(lit(1))).as("dup_frac"))
  }

  /** Length-distribution drift ledger — the corpus-health check run when
    * two slices of a feed should look alike (today vs yesterday, source
    * group A vs B): documents bucketed by length (fixed `bucketWidth`-char
    * buckets, top bucket open), each slice's per-bucket rate in parts per
    * million, and the absolute ppm drift. A bucket whose drift exceeds a
    * few thousand ppm is the distribution-shift page. Here the two slices
    * are the even- and odd-indexed sources — the split a crawler rotation
    * produces naturally.
    *
    * Exactness contract: integer end-to-end — counts are longs and the
    * ppm rate is `cnt * 1000000 div total` (exact while the slice holds
    * < 9.2e12 docs — Long.MaxValue/1e6; a 100 TB corpus at ~1e11-1e12
    * docs is inside the bound). No floats anywhere, so the drift ranking
    * is bit-stable.
    *
    * Shape: ONE corpus pass collapsing to a ≤ maxBuckets × 2 frame
    * (map-side combine on (bucket, slice)), then 1-row totals broadcast.
    * Pivot to the a/b columns happens on the bounded frame. */
  def lengthDrift(docs: DataFrame, bucketWidth: Long = 100L,
      maxBucket: Long = 9L): DataFrame = {
    val sliced = docs.select(
      least(expr(s"n_chars div $bucketWidth"), lit(maxBucket)).as("bucket"),
      (expr("CAST(substring(source, 4) AS BIGINT)") % 2 === 0).as("_a"))
    // the ≤ maxBuckets+1-row frame feeds the output and its totals: both
    // read its exchange, which the planner reuses, so the corpus is
    // scanned once
    val perBucket = sliced.groupBy("bucket")
      .agg(count(when(col("_a"), 1)).as("cnt_a"),
        count(when(!col("_a"), 1)).as("cnt_b"))
    val totals = perBucket.agg(
      sum("cnt_a").as("_ta"), sum("cnt_b").as("_tb"))
    perBucket.crossJoin(broadcast(totals))
      .select(col("bucket"), col("cnt_a"), col("cnt_b"),
        expr("cnt_a * 1000000L div _ta").as("ppm_a"),
        expr("cnt_b * 1000000L div _tb").as("ppm_b"),
        abs(expr("cnt_a * 1000000L div _ta") -
          expr("cnt_b * 1000000L div _tb")).as("drift_ppm"))
  }
}
