package graft.llm

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.operators.{BandJoin, CacheLifecycle}

/** Multimodal-column plumbing: media payloads as opaque `binary` columns
  * with typed metadata, processed partition-parallel in typed batches (the
  * Scala analogue of the `mapInPandas` batch shape).
  *
  * The decode step is REAL: payloads are genuine PNG images (encoded with
  * the JDK's `javax.imageio` — no external codec dependency), and the
  * metadata/resize paths decode them back with `ImageIO.read` and operate
  * on the decoded raster. Because the corpus has no native media, the
  * payload GENERATOR is synthetic-but-lossless: each document's text is
  * rasterised into a `dimsFor`-sized grayscale-in-RGB image (pixel i holds
  * the code of text char i mod len in all three channels), so every decoded
  * property — dimensions, per-channel pixel sums, resized bytes — is an
  * exact arithmetic function of the text that a SQL oracle can predict
  * WITHOUT a codec. A wrong encoder, a wrong decoder, or a wrong resample
  * all break the oracle match, which makes the decode path end-to-end
  * verified, not stubbed.
  *
  * Contract: generator domain is single-byte code points (the corpus is
  * ASCII); pixel values are `char & 0xFF`. PNG truecolor is lossless, so
  * decoded channel values equal the generated ones bit-for-bit on every
  * compliant decoder.
  */
object Multimodal {

  /** Image dimensions derived from text length — the payload generator's
    * contract, which decode must recover and the oracle predicts:
    * width 8..31, height 8..23. */
  def dimsFor(nChars: Int): (Int, Int) = (8 + nChars % 24, 8 + nChars % 16)

  case class MediaIn(doc_id: Long, text: String)
  case class MediaPayload(doc_id: Long, text_len: Int, payload: Array[Byte])
  case class MediaMeta(
      doc_id: Long, n_bytes: Long, content_hash: String,
      width: Long, height: Long, n_frames: Long, sum_red: Long)
  case class MediaResized(
      doc_id: Long, out_width: Long, out_height: Long, out_bytes: Long,
      resized_md5: String)

  /** Rasterise text to a real PNG: pixel i (row-major) carries
    * `text(i % len) & 0xFF` in R, G and B. TYPE_INT_RGB avoids any
    * gray-colorspace conversion, so set/getRGB round-trip exactly. */
  def encodePng(text: String): Array[Byte] = {
    val (w, h) = dimsFor(text.length)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val px = new Array[Int](w * h) // bulk raster write: one JNI-free pass
    var i = 0
    while (i < px.length) {
      val v = if (text.isEmpty) 0 else text.charAt(i % text.length).toInt & 0xFF
      px(i) = (v << 16) | (v << 8) | v
      i += 1
    }
    img.setRGB(0, 0, w, h, px, 0, w)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real JDK decode of the binary payload. */
  def decode(payload: Array[Byte]): BufferedImage =
    ImageIO.read(new ByteArrayInputStream(payload))

  /** Decoded image as a row-major sRGB int array (bulk `getRGB` — one
    * array copy instead of w·h accessor calls). */
  def pixels(img: BufferedImage): Array[Int] =
    img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0, img.getWidth)

  /** Encode the corpus into its binary media column ONCE: one row per doc
    * `(doc_id, text_len, payload)`, payload a real PNG. In a real pipeline
    * encoding happens at INGEST and every downstream pass reads the stored
    * bytes — persist this via `IndexCache` (one build per JVM per data dir)
    * so the decode paths time decode+process, not re-encode. `text_len`
    * rides along as the typed metadata a media column always carries
    * (here it determines the stub clip's frame count). */
  def encodeCorpus(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val media: Dataset[MediaIn] = docs.select(col("doc_id"), col("text")).as[MediaIn]
    media.mapPartitions { batch =>
      batch.map(m => MediaPayload(m.doc_id, m.text.length, encodePng(m.text)))
    }.toDF()
  }

  /** Decode each stored payload partition-parallel and extract REAL
    * metadata: decoded dimensions, decoded red-channel sum, payload size
    * and content hash. `n_frames` is the stub video layer
    * ([[frameSample]]'s domain): a still image has one frame, the
    * synthetic frame count models a clip.
    *
    * Scale shape: one typed `mapPartitions` pass over the media scan, no
    * shuffle — metadata extraction is scan-speed and the payload never
    * leaves the executor (only the fixed-width metadata row comes back). */
  def metaFromPayloads(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val typed: Dataset[MediaPayload] =
      media.select(col("doc_id"), col("text_len"), col("payload")).as[MediaPayload]
    typed.mapPartitions { batch =>
      val md = java.security.MessageDigest.getInstance("MD5")
      batch.map { m =>
        md.reset()
        val hash = md.digest(m.payload).map("%02x".format(_)).mkString
        val img = decode(m.payload)
        val (w, h) = (img.getWidth, img.getHeight)
        val px = pixels(img)
        var sumRed = 0L
        var i = 0
        while (i < px.length) {
          sumRed += (px(i) >> 16) & 0xFF
          i += 1
        }
        MediaMeta(m.doc_id, m.payload.length.toLong, hash,
          w.toLong, h.toLong, (1 + m.text_len % 120).toLong, sumRed)
      }
    }.toDF()
  }

  /** Encode-then-extract in one pass — the ingest-time form (no stored
    * media yet). Composes [[encodeCorpus]] → [[metaFromPayloads]]; both
    * stages pipeline inside the same task, so there is still no shuffle. */
  def binaryMeta(docs: DataFrame): DataFrame =
    metaFromPayloads(encodeCorpus(docs))

  /** REAL downscale: decode the PNG, nearest-neighbor decimate by 2
    * (out(x,y) = in(2x,2y) — the rounding convention is pinned so the
    * oracle can recompute the exact output), emit the resized raster as
    * raw single-channel bytes plus its md5. Hash-only verification keeps
    * full media off the driver; the raw-byte output (rather than a PNG
    * re-encode) is what makes the hash engine-checkable — compressed
    * bytes would pin the deflate implementation, not the pixels. */
  def resizeBatch(docs: DataFrame): DataFrame =
    resizeFromPayloads(encodeCorpus(docs))

  /** Decode-and-downscale over the STORED media column — the amortized
    * form [[resizeBatch]] composes onto; see that method for the resample
    * and hashing contract. */
  def resizeFromPayloads(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val typed: Dataset[MediaPayload] =
      media.select(col("doc_id"), col("text_len"), col("payload")).as[MediaPayload]
    typed.mapPartitions { batch =>
      val md = java.security.MessageDigest.getInstance("MD5")
      batch.map { m =>
        val img = decode(m.payload)
        val w = img.getWidth
        val (w2, h2) = (w / 2, img.getHeight / 2)
        val px = pixels(img)
        val out = new Array[Byte](w2 * h2)
        var k = 0
        while (k < out.length) {
          out(k) = ((px(2 * (k / w2) * w + 2 * (k % w2)) >> 16) & 0xFF).toByte
          k += 1
        }
        md.reset()
        val hash = md.digest(out).map("%02x".format(_)).mkString
        MediaResized(m.doc_id, w2.toLong, h2.toLong, out.length.toLong, hash)
      }
    }.toDF()
  }

  /** Deterministic frame sampling over the stub VIDEO layer (a clip of
    * `1 + len % 120` synthetic frames atop the real still image): every
    * `stride`-th frame index, one row per sampled frame with a
    * content-addressed frame id. Pure column expressions — sampling frame
    * INDICES needs no decode, exactly like a real pipeline that plans
    * frame extraction before touching pixels. */
  def frameSample(docs: DataFrame, stride: Int = 10): DataFrame = {
    docs
      .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("content_hash"),
        (lit(1L) + length(col("text")).cast("long") % 120L).as("n_frames"))
      .select(col("doc_id"), col("content_hash"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(stride.toLong))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        concat(col("content_hash"), lit(":"), col("frame_idx").cast("string")).as("frame_id"))
  }

  case class MediaHash(doc_id: Long, sum64: Long, phash_hi: Long, phash_lo: Long)

  /** Perceptual average-hash (aHash) over the DECODED raster — the image
    * near-dup fingerprint every media pipeline computes at ingest. The
    * convention is pinned exactly so the oracle can recompute it from the
    * payload generator's arithmetic: sample an 8×8 grid
    * (`sample(x,y) = red(px[(y·h/8)·w + (x·w/8)])`, integer division),
    * take the integer sum, and set bit k ⇔ `64·sample_k > sum` (the
    * mean-threshold rule written multiply-only, so there is no division
    * rounding to disagree about). The 64 bits are returned as two signed
    * BIGINT halves (hi = bits 32..63) because a bit-63 hash would
    * overflow a single signed 64-bit literal in SQL.
    *
    * Scale shape: one typed `mapPartitions` decode pass, no shuffle —
    * same as every decode path here. */
  def aHash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val typed: Dataset[MediaPayload] =
      media.select(col("doc_id"), col("text_len"), col("payload")).as[MediaPayload]
    typed.mapPartitions { batch =>
      batch.map { m =>
        val img = decode(m.payload)
        val (w, h) = (img.getWidth, img.getHeight)
        val px = pixels(img)
        val smp = new Array[Long](64)
        var sum = 0L
        var k = 0
        while (k < 64) {
          val sy = (k / 8) * h / 8
          val sx = (k % 8) * w / 8
          smp(k) = (px(sy * w + sx) >> 16) & 0xFF
          sum += smp(k)
          k += 1
        }
        var hi = 0L
        var lo = 0L
        k = 0
        while (k < 64) {
          if (64L * smp(k) > sum) {
            if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
          }
          k += 1
        }
        MediaHash(m.doc_id, sum, hi, lo)
      }
    }.toDF()
  }

  /** Image near-dup pairs by banded perceptual-hash join: split the 64-bit
    * aHash into eight 8-bit bands; any pair with Hamming distance ≤ 7
    * shares at least one band EXACTLY (pigeonhole — 7 differing bits
    * cannot touch all 8 bands), so the equality join on (band, value)
    * has full recall at the threshold it verifies. Candidates are then
    * verified with the exact popcount distance. Never an all-pairs
    * comparison — the same banded shape as every dedup path here.
    *
    * `maxHamming` must stay ≤ 7 for the recall guarantee; the default IS
    * the pigeonhole bound. */
  def phashDups(hashes: DataFrame, maxHamming: Int = 7): DataFrame =
    phashPairs(hashes, 8, maxHamming, None)

  /** Hot-bucket cap for the SCALE-path image pair join
    * ([[phashDupsWide]]) — same discipline as
    * [[graft.llm.Dedup.DefaultMaxBucket]]: an oversized bucket costs one
    * count row, never sz² pairs. */
  val DefaultPhashBucketCap: Int = 64

  /** SCALE-path image near-dup pairs: [[phashDups]]' 8-bit bands have a
    * 256-value key domain per band, so bucket occupancy grows as n/256
    * and the within-bucket pairing is Σ|bucket|²/2 — n²/512 per band.
    * The second-decade (100×) rehearsal measured exactly that: exponent
    * 1.24–1.34 for the clusters/frame-dedup consumers at 500k images
    * (the same hidden-quadratic shape the r11 rehearsal caught in
    * `ann_semdedup`). This form makes the pair join n·occupancy by
    * construction, three structural changes:
    *
    *   - FOUR 16-bit bands (65536-value key domain — 256× the bucket
    *     headroom; same 64-bit hash, lo bits 0..31 + hi bits 0..31).
    *     Pigeonhole now guarantees full recall to Hamming ≤ 3 (3
    *     differing bits cannot touch all 4 bands), so `maxHamming` must
    *     stay ≤ 3 — a TIGHTER near-dup contract than the exact form's 7,
    *     which is why this is a separately-oracled query, not a swap.
    *   - a hot-bucket cap ([[DefaultPhashBucketCap]]): buckets larger
    *     than the cap are dropped BEFORE any pair materializes (the
    *     bucket-size table is ≤ 4·65536 rows — broadcast-sized).
    *   - STAR EDGES on the full hash restore the recall the cap costs on
    *     exact duplicates: a group of g identical images floods every
    *     band bucket it touches, and identical-hash grouping emits g−1
    *     edges (linear, never pairwise) so the cluster stays connected.
    *
    * Near-identical (Hamming 1..3) members of a DROPPED hot bucket are
    * the documented recall trade; the exact [[phashDups]] stays the
    * small-corpus baseline, this form is the prescribed scale default. */
  def phashDupsWide(hashes: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = DefaultPhashBucketCap): DataFrame =
    phashPairs(hashes, 16, maxHamming, Some(maxBucket))

  /** Body of [[phashDups]] (`bandBits` 8) and [[phashDupsWide]]
    * (`bandBits` 16): the 64-bit hash cut into `64 / bandBits` bands (lo
    * word first), the [[BandJoin]] self-join carrying both hash words,
    * the exact Hamming verify. `maxBucket` set = the wide form: hot
    * buckets capped, identical-hash star edges (Hamming 0) added back.
    * The hash frame is read by every plan leg and its lineage holds the
    * full-corpus decode, so it is checkpointed
    * ([[CacheLifecycle.scaffold]]) and the decode runs once. */
  private def phashPairs(hashes: DataFrame, bandBits: Int, maxHamming: Int,
      maxBucket: Option[Int]): DataFrame = {
    val nBands = 64 / bandBits
    require(maxHamming < nBands,
      s"$nBands bands of $bandBits bits guarantee recall only to Hamming ${nBands - 1}")
    val h = CacheLifecycle.scaffold(hashes)
    val mask = lit((1L << bandBits) - 1)
    val banded = h.select(
      col("doc_id"),
      col("phash_hi"), col("phash_lo"),
      posexplode(array((0 until nBands).map { j =>
        if (j < nBands / 2) shiftright(col("phash_lo"), bandBits * j).bitwiseAND(mask)
        else shiftright(col("phash_hi"), bandBits * (j - nBands / 2)).bitwiseAND(mask)
      }: _*)).as(Seq("band", "key")))
    val hashCols = Seq("phash_hi", "phash_lo")
    val pairs = BandJoin.pairs(banded, "doc_id", hashCols, maxBucket.getOrElse(Int.MaxValue))
      .select("a_id", "b_id", "a_phash_hi", "a_phash_lo", "b_phash_hi", "b_phash_lo").distinct()
      .withColumn("hamming",
        bit_count(col("a_phash_hi").bitwiseXOR(col("b_phash_hi"))).cast("long") +
          bit_count(col("a_phash_lo").bitwiseXOR(col("b_phash_lo"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
    if (maxBucket.isEmpty) pairs
    else pairs.unionByName(
      BandJoin.starEdges(h, "doc_id", hashCols).withColumn("hamming", lit(0L))).distinct()
  }

  /** Hamming-threshold tuning curve for the image near-dup join — per
    * candidate threshold d ∈ [0, 7]: how many pairs sit EXACTLY at
    * distance d and how many a `hamming ≤ d` gate would merge. The
    * image-side twin of the text dedup threshold curve — the evidence
    * for picking [[phashDups]]' cutoff instead of guessing it.
    *
    * Recall is exact over the whole sweep because every threshold is ≤
    * the 8-band pigeonhole bound: the banded join already surfaces ALL
    * pairs at distance ≤ 7, so the curve is a ≤ 8-row rollup of the
    * verified pair set — one extra aggregate on top of the join, never a
    * second pass over the corpus. The cumulative count is minted on the
    * bounded 8-row frame ([[graft.operators.BoundedWindow.cumulative]] —
    * no Window operator). */
  def phashThresholdCurve(hashes: DataFrame): DataFrame = {
    val byDistance = phashDups(hashes, maxHamming = 7)
      .groupBy(col("hamming").as("threshold"))
      .agg(count(lit(1)).as("n_at"))
    graft.operators.BoundedWindow.cumulative(byDistance,
      struct(col("threshold")), Seq("n_at" -> "n_pairs_le"), None)
      .select("threshold", "n_at", "n_pairs_le")
  }

  /** Frame-level dedup reclaim ledger — what clip-level near-dup dedup
    * is WORTH in frames (the storage/compute unit of video training): the
    * perceptual-hash near-dup clusters ([[phashDups]] pairs under the
    * same star contraction as text dedup), each cluster keeping its
    * min-doc_id member, priced in frames — redundant = Σ(cluster frames −
    * kept member's frames). In the stub model every frame of a clip
    * carries the clip's image, so near-dup CLIPS mean near-dup frames;
    * with a real codec the same ledger runs on per-frame hashes from the
    * [[frameSample]] stride.
    *
    * Shape: the decode/hash pass + banded pair join (both corpus-linear),
    * the contraction's bounded rounds, then ONE cluster-keyed aggregate
    * and a 1-row rollup. */
  def frameDedupLedger(media: DataFrame): DataFrame =
    frameDedupLedgerFrom(media, h => phashDups(h).select("a_id", "b_id"))

  /** [[frameDedupLedger]] over the SCALE-path pair join
    * ([[phashDupsWide]]: 16-bit bands + hot-bucket cap + star edges,
    * Hamming ≤ 3 contract) — the prescribed default once the corpus
    * outgrows the 8-bit bands' 256-bucket key domain. */
  def frameDedupLedgerCapped(media: DataFrame): DataFrame =
    frameDedupLedgerFrom(media, h => phashDupsWide(h).select("a_id", "b_id"))

  private def frameDedupLedgerFrom(media: DataFrame,
      pairsOf: DataFrame => DataFrame): DataFrame = {
    val hashes = aHash(media)
    val frames = media.select(col("doc_id"),
      (lit(1L) + col("text_len").cast("long") % 120L).as("n_frames"))
    // doc ids come off the media INDEX scan, not the hash frame — aHash
    // emits one row per media row, and the hash lineage would re-decode
    // the corpus just to list ids
    val clusters = graft.llm.Clusters.assign(
      media.select(col("doc_id")),
      pairsOf(hashes))
    clusters.join(frames, "doc_id")
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("_n"),
        sum("n_frames").as("_f_total"),
        min_by(col("n_frames"), col("doc_id")).as("_f_kept"))
      .agg(
        count(lit(1)).as("n_clusters"),
        sum("_n").as("n_clips"),
        sum("_f_total").as("n_frames_total"),
        sum(col("_f_total") - col("_f_kept")).as("n_frames_redundant"))
      .select(col("n_clips"), col("n_clusters"), col("n_frames_total"),
        col("n_frames_redundant"),
        (col("n_frames_redundant").cast("double") / col("n_frames_total"))
          .as("reclaim_frac"))
  }

  /** Pixel-profile ledger — per modality, the brightness and shape
    * envelope of the DECODED rasters: per-frame pixel mass, red-channel
    * total and its mean value (the normalization statistic an image
    * training pipeline computes over the corpus before fixing its
    * preprocessing), plus the min/max decoded dimensions. Every number
    * comes off the real `ImageIO` decode ([[metaFromPayloads]]) while the
    * oracle re-derives it arithmetically from the generator contract —
    * a wrong decode, a channel swap, or a dropped row all break parity.
    *
    * Shape: one metadata pass to a ≤ 3-row aggregate (map-side combine);
    * `mean_red` is ONE IEEE division of two exactly-summed longs. */
  def pixelProfile(meta: DataFrame): DataFrame =
    meta.select(
        when(col("n_frames") === 1, "image")
          .when(col("n_frames") <= 60, "clip")
          .otherwise("video").as("modality"),
        col("width"), col("height"), col("sum_red"))
      .groupBy("modality")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("width") * col("height")).as("n_pixels"),
        sum("sum_red").as("sum_red"),
        min("width").as("min_width"), max("width").as("max_width"),
        min("height").as("min_height"), max("height").as("max_height"))
      .select(col("modality"), col("n_docs"), col("n_pixels"), col("sum_red"),
        (col("sum_red").cast("double") / col("n_pixels")).as("mean_red"),
        col("min_width"), col("max_width"),
        col("min_height"), col("max_height"))

  /** Modality-mix ledger — the first table a multimodal corpus build
    * reads: what share of the stored media is stills vs short clips vs
    * long-form video, in items AND in pixel mass (compute cost is pixel-
    * proportional, so `pixel_share` is the GPU-hour budget split, not
    * `doc_share`). Classification runs over the DECODED metadata
    * ([[metaFromPayloads]] — real `ImageIO` decode of the stored
    * payloads), so the ledger verifies the decode path end-to-end: frame
    * count 1 = `image`, 2..60 = `clip`, >60 = `video` (the stub clip
    * model's domain is 1..120 frames).
    *
    * Shape: one metadata pass to a ≤ 3-row modality aggregate (map-side
    * combine), totals broadcast back — the payloads never leave the
    * executors and nothing per-document survives the aggregate. */
  def modalityMix(meta: DataFrame): DataFrame = {
    val classed = meta.select(
      when(col("n_frames") === 1, "image")
        .when(col("n_frames") <= 60, "clip")
        .otherwise("video").as("modality"),
      col("n_frames"),
      (col("width") * col("height") * col("n_frames")).as("_px"))
    // the ≤ 3-row aggregate feeds both the output and its own totals:
    // scaffolded so the share denominator does NOT re-run the decode pass
    // over the media column
    val agg = classed.groupBy("modality").agg(
      count(lit(1)).as("n_docs"),
      sum("n_frames").as("n_frames"),
      sum("_px").as("n_pixels")).transform(CacheLifecycle.scaffold)
    val totals = agg.agg(sum("n_docs").as("_td"), sum("n_pixels").as("_tp"))
    agg.crossJoin(broadcast(totals))
      .select(col("modality"), col("n_docs"), col("n_frames"), col("n_pixels"),
        (col("n_docs").cast("double") / col("_td")).as("doc_share"),
        (col("n_pixels").cast("double") / col("_tp")).as("pixel_share"))
  }

  /** The fixed aspect-ratio ladder for [[aspectBuckets]]:
    * (index, name, p, q) with aspect p/q — portrait 1:2 through panorama
    * 3:1, covering the synthetic corpus' 8/23..31/8 spread. `q` values'
    * LCM is 36, the scaling constant that makes cross-bucket distance
    * comparison exact-integer (see below). */
  val AspectLadder: Seq[(Int, String, Int, Int)] = Seq(
    (0, "1:2", 1, 2), (1, "3:4", 3, 4), (2, "1:1", 1, 1),
    (3, "4:3", 4, 3), (4, "16:9", 16, 9), (5, "2:1", 2, 1), (6, "3:1", 3, 1))

  /** Aspect-ratio bucketed batching ledger — assign every image to the
    * nearest rung of a fixed aspect ladder (the variable-resolution
    * vision-training trick: batch same-aspect images so padding is
    * minimal), and price each bucket: item count and share, native
    * pixels, pixels after letterboxing each image to its bucket's aspect
    * at native resolution, and the resulting padding-waste fraction —
    * the image-side twin of the token-packing `pack_padding_waste`
    * ledger.
    *
    * Exactness: nearest-rung selection compares |w/h − p/q| across rungs
    * without ever leaving integers — within one image, h is common to
    * every rung, so |w·q − p·h| · (36/q) (36 = LCM of ladder q's) ranks
    * rungs exactly; the argmin rides ONE BIGINT key
    * `scaled_diff · 8 + rung_index` (diff ≤ ~350·36 ≪ 2^63/8), so
    * engine `min_by` and oracle `arg_min` agree bit-for-bit, ties
    * breaking to the lower rung. Letterbox dims use ceiling division —
    * integer again. The only doubles are the final share/waste divisions
    * of exactly-summed longs.
    *
    * Shape: the 7-rung ladder EXPLODES over the metadata scan (map-side,
    * 7× a metadata-cardinality frame, no shuffle), collapses back to one
    * row per doc via `min_by` partial aggregation, then to the 7-row
    * ledger; the grand total for shares joins back as a broadcast 1-row
    * aggregate. Nothing wider than the metadata ever shuffles. */
  def aspectBuckets(meta: DataFrame): DataFrame = {
    val ladder = AspectLadder.map { case (i, nm, p, q) =>
      struct(lit(i).as("idx"), lit(nm).as("bucket"),
        lit(p).as("p"), lit(q).as("q"), lit(36 / q).as("mult"))
    }
    val perDoc = meta
      .select(col("doc_id"), col("width").as("w"), col("height").as("h"),
        explode(array(ladder: _*)).as("r"))
      .select(col("doc_id"), col("w"), col("h"),
        col("r.idx").as("idx"), col("r.bucket").as("bucket"),
        col("r.p").as("p"), col("r.q").as("q"),
        (abs(col("w") * col("r.q") - col("r.p") * col("h")) * col("r.mult") * 8
          + col("r.idx")).as("_ord"))
      .groupBy("doc_id")
      .agg(min_by(
        struct(col("bucket"), col("p"), col("q"), col("w"), col("h")),
        col("_ord")).as("b"))
      .select(col("b.bucket").as("bucket"), col("b.p").as("p"),
        col("b.q").as("q"), col("b.w").as("w"), col("b.h").as("h"))
      .select(col("bucket"), (col("w") * col("h")).as("_px"),
        // letterbox to the bucket aspect at native resolution:
        // wider than the rung ⇒ pad height to ceil(w·q/p), else pad width
        expr("""CASE WHEN w * q >= p * h
                THEN w * ((w * q + p - 1) div p)
                ELSE h * ((h * p + q - 1) div q) END""").as("_padded"))
    val agg = perDoc.groupBy("bucket").agg(
      count(lit(1)).as("n_images"),
      sum("_px").as("native_pixels"),
      sum("_padded").as("padded_pixels")).transform(CacheLifecycle.scaffold)
    val total = agg.agg(sum("n_images").as("_tn"))
    agg.crossJoin(broadcast(total))
      .select(col("bucket"), col("n_images"),
        (col("n_images").cast("double") / col("_tn")).as("image_share"),
        col("native_pixels"), col("padded_pixels"),
        ((col("padded_pixels") - col("native_pixels")).cast("double")
          / col("padded_pixels")).as("waste_frac"))
  }
}
