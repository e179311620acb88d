package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Sampling, Similarity}
import graft.testutil.JobCounter

/** LLM-pipeline operator semantics on planted data: exact dup collapse,
  * MinHash/Jaccard recall on planted near-duplicates, LSH candidate
  * generation without crossJoin.
  */
class DedupSpec extends SparkSpec {

  import spark.implicits._

  private val base =
    "spark filter join table scan window batch merge sort group value column key row hash part data stream"
  // near-dup: one token changed out of 19
  private val nearDup = base.replace("window", "vector")
  private val distinctDoc =
    "completely different words entirely other content nothing shared here at all zero overlap whatsoever"

  private lazy val docs = Seq(
    (0L, base, "en"), (1L, base, "en"), // exact dup
    (2L, nearDup, "en"), // near dup of 0
    (3L, distinctDoc, "en")
  ).toDF("doc_id", "text", "lang")

  test("exact dedup collapses identical content, keeps min doc_id") {
    val keep = Dedup.exactKeep(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keep === Map(0L -> 2L, 2L -> 1L, 3L -> 1L))
    val stats = Dedup.exactStats(docs).collect().head
    assert(stats.getAs[Long]("n_docs") === 4L)
    assert(stats.getAs[Long]("n_unique") === 3L)
    assert(stats.getAs[Long]("n_dup") === 1L)
  }

  test("jaccard pairs find planted near-dup and skip unrelated docs") {
    val pairs = Dedup.jaccardPairs(docs, n = 2, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair (jaccard 1.0)")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)), "planted near-dup")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc matched")
  }

  test("minhash LSH candidates recall the planted duplicates") {
    val cands = Dedup.minhashCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 1L)), "identical docs must share every band")
    assert(cands.contains((0L, 2L)), "near-dup should share ≥1 band")
    assert(!cands.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("candidates→exact-verify keeps true dups and rejects a banded false positive") {
    val v = Dedup.verifyCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getAs[Double]("jaccard"), r.getAs[Boolean]("verified")))).toMap
    // exact dup: every band agrees AND exact trigram jaccard is 1.0
    assert(v.contains((0L, 1L)) && v((0L, 1L)) === ((1.0, true)))
    // planted near-dup: shares bands (so it IS a candidate) but one changed
    // token of 18 kills 3 of 16 trigrams → J = 13/19 < 0.8 — the banded
    // false positive the exact stage exists to reject
    assert(v.contains((0L, 2L)), "near-dup must surface as a banded candidate")
    assert(v((0L, 2L)) === ((13.0 / 19.0, false)), s"exact check must reject: ${v((0L, 2L))}")
    assert(!v.keySet.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc banded")
  }

  test("mixture materialization: tail source caps at 1x and reports the shortfall") {
    val big = (1 to 8).map(i => (i.toLong, ("w " * 100).trim, "en", "big"))
    val small = Seq((100L, ("v " * 10).trim, "en", "small"),
      (101L, ("v " * 10).trim, "en", "small"))
    val docs = (big ++ small).toDF("doc_id", "text", "lang", "source")
    // α=1/2 on (800, 20) tokens → shares ≈ 0.863/0.137 of the 400 budget:
    // target_small ≈ 54 > the source's 20 tokens → rate caps at 100 and
    // fill_frac < 1 makes the upsampling shortfall visible
    val out = Sampling.materializeMixture(docs, 400L).collect()
      .map(r => r.getString(0) -> ((r.getAs[Long]("target_tokens"),
        r.getAs[Long]("rate_pct"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("kept_tokens"), r.getAs[Double]("fill_frac")))).toMap
    val sm = out("small")
    assert(sm._2 === 100L, s"tail source must cap at rate 100: $sm")
    assert(sm._3 === 2L && sm._4 === 20L, "capped source keeps everything")
    assert(sm._5 < 1.0 && sm._1 > 20L, s"shortfall vs target visible: $sm")
    val bg = out("big")
    assert(bg._2 > 0L && bg._2 < 100L, s"head source downsampled: $bg")
    assert(bg._4 === bg._3 * 100L, "kept tokens consistent with kept docs")
    // determinism: the same build twice keeps the same documents
    val again = Sampling.materializeMixture(docs, 400L).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_kept")).toMap
    assert(again === out.map { case (k, v) => k -> v._3 })
  }

  test("semdedup: duplicate group keeps one copy, distinct cluster-mates all survive") {
    def vec(parts: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, v) => a(i) = v }
      a.toSeq
    }
    // cluster u (seeded by vec 0): three near-identical copies 0/2/4;
    // cluster v (seeded by vec 1): v plus a 45°-apart mate (cos ≈ 0.707)
    val emb = Seq(
      (0L, vec(0 -> 1.0f)),
      (1L, vec(1 -> 1.0f)),
      (2L, vec(0 -> 1.0f, 2 -> 0.05f)),
      (3L, vec(1 -> 0.7f, 3 -> 0.7f)),
      (4L, vec(0 -> 1.0f, 3 -> 0.04f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(emb, nLists = 2, eps = 0.9).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("list_id"), r.getAs[Int]("rnk"),
          r.getAs[Double]("max_prior_sim"), r.getAs[Boolean]("kept")))).toMap
    val uClu = Seq(0L, 2L, 4L).map(out)
    assert(uClu.map(_._1).distinct.size === 1, "copies must share a cluster")
    assert(uClu.count(_._4) === 1, s"exactly one of the duplicate group survives: $out")
    assert(uClu.filter(!_._4).forall(_._3 >= 0.99),
      "dropped copies must record the duplicate similarity")
    // the survivor is the group's rank-1 (centroid-farthest) member
    assert(uClu.find(_._4).get._2 === 1)
    assert(out(1L)._4 && out(3L)._4, "45°-apart cluster-mates both survive")
    assert(out(1L)._1 === out(3L)._1 && math.abs(
      math.max(out(1L)._3, out(3L)._3) - 0.7f / math.sqrt(2 * 0.7f * 0.7f)) < 1e-6,
      s"the later-ranked v-member records cos≈0.707: ${out(1L)} ${out(3L)}")
  }

  test("rolling window hashes equal independent per-window hash31") {
    val rnd = new scala.util.Random(42)
    val s = (0 until 200).map(_ => (rnd.nextInt(26) + 'a').toChar).mkString
    val m = 2199023255531L
    val rolled = graft.functions.RollingHashes.hashes(s, 40, m)
      .toLongArray().toSeq
    val direct = (0 to s.length - 40).map(i =>
      graft.functions.Hash31.hash(s.substring(i, i + 40), m))
    assert(rolled === direct, "rolling recurrence must be an exact modular identity")
    // short string clamps to the whole-string hash
    assert(graft.functions.RollingHashes.hashes("abc", 40, m).toLongArray().toSeq ===
      Seq(graft.functions.Hash31.hash("abc", m)))
  }

  test("substring spans: planted shared paragraph found at its exact length") {
    val rnd = new scala.util.Random(7)
    def rand(n: Int) = (0 until n).map(_ => (rnd.nextInt(26) + 'a').toChar).mkString
    val shared = rand(100)  // non-periodic: no repeated 40-gram
    val shared2 = rand(80)
    val short = rand(50)    // below minSpan — must NOT be reported
    val docs = Seq(
      (1L, rand(30) + shared + rand(30), "en", "s"),
      (2L, rand(25) + shared + rand(40), "en", "s"),  // one 100-char span with 1
      (3L, rand(35) + shared + rand(10) + shared2 + rand(5), "en", "s"), // two spans vs 2
      (4L, rand(40) + short + rand(40), "en", "s"),
      (5L, rand(45) + short + rand(30), "en", "s"),   // only a 50-char span — dropped
      (6L, rand(120), "en", "s")                      // nothing shared
    ).toDF("doc_id", "text", "lang", "source")
    // doc 3 also contains shared2? only doc 3 — pairs (1,3),(2,3) share `shared`
    val out = Dedup.substringSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out((1L, 2L)) === ((1L, 100L)), s"exact shared-paragraph length: $out")
    assert(out((1L, 3L)) === ((1L, 100L)) && out((2L, 3L)) === ((1L, 100L)))
    assert(!out.keySet.exists(p => p._1 == 4L || p._2 == 4L || p._1 == 5L || p._2 == 5L),
      "sub-minSpan overlap must not be reported")
    assert(!out.keySet.exists(p => p._1 == 6L || p._2 == 6L), "unrelated doc matched")
  }

  test("substring spans: two separate shared spans counted separately") {
    val rnd = new scala.util.Random(13)
    def rand(n: Int) = (0 until n).map(_ => (rnd.nextInt(26) + 'a').toChar).mkString
    val s1 = rand(70)
    val s2 = rand(90)
    val docs = Seq(
      (1L, rand(20) + s1 + rand(30) + s2 + rand(20), "en", "s"),
      (2L, rand(40) + s1 + rand(10) + s2 + rand(35), "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val out = Dedup.substringSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out((1L, 2L)) === ((2L, 90L)),
      s"two diagonals, max span 90: ${out.get((1L, 2L))}")
  }

  test("substring spans equal brute-force longest-common-substring (property)") {
    val rnd = new scala.util.Random(55)
    def rand(n: Int) = (0 until n).map(_ => (rnd.nextInt(26) + 'a').toChar).mkString
    // 10 random docs, with shared spans planted across random pairs
    val texts = scala.collection.mutable.ArrayBuffer.fill(10)(rand(150 + rnd.nextInt(100)))
    for (_ <- 0 until 4) {
      val span = rand(60 + rnd.nextInt(80))
      val i = rnd.nextInt(texts.length)
      val j = (i + 1 + rnd.nextInt(texts.length - 1)) % texts.length
      def splice(s: String) = {
        val at = rnd.nextInt(s.length)
        s.take(at) + span + s.drop(at)
      }
      texts(i) = splice(texts(i)); texts(j) = splice(texts(j))
    }
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", "s") }.toSeq
      .toDF("doc_id", "text", "lang", "source")
    // brute-force LCS (classic DP) per pair — the ground truth
    def lcs(x: String, y: String): Int = {
      val prev = new Array[Int](y.length + 1)
      val cur = new Array[Int](y.length + 1)
      var best = 0
      for (i <- 1 to x.length) {
        for (j <- 1 to y.length) {
          cur(j) = if (x(i - 1) == y(j - 1)) prev(j - 1) + 1 else 0
          if (cur(j) > best) best = cur(j)
        }
        System.arraycopy(cur, 0, prev, 0, cur.length)
      }
      best
    }
    val expected = (for {
      a <- texts.indices; b <- texts.indices if a < b
      l = lcs(texts(a), texts(b)) if l >= 60
    } yield (a.toLong, b.toLong) -> l.toLong).toMap
    val got = Dedup.substringSpans(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got === expected,
      s"hash-window spans must equal the DP longest common substring: got $got expected $expected")
  }

  test("substring clean composes: re-scanning the cleaned corpus finds nothing") {
    val rnd = new scala.util.Random(77)
    def rand(n: Int) = (0 until n).map(_ => (rnd.nextInt(26) + 'a').toChar).mkString
    val shared = rand(120)
    val docs = Seq(
      (1L, rand(30) + shared + rand(30), "en", "s"),
      (2L, rand(20) + shared + rand(45), "en", "s"),
      (3L, rand(35) + shared + rand(10), "en", "s") // three-way copy chain
    ).toDF("doc_id", "text", "lang", "source")
    val cleaned = Dedup.substringClean(docs)
      .select(col("doc_id"), col("clean_text").as("text"),
        lit("en").as("lang"), lit("s").as("source"))
    assert(Dedup.substringSpans(cleaned).count() === 0L,
      "after keep-first excision no qualifying shared span remains")
  }

  test("substring clean: later doc loses the shared span, earlier keeps it") {
    val rnd = new scala.util.Random(21)
    def rand(n: Int) = (0 until n).map(_ => (rnd.nextInt(26) + 'a').toChar).mkString
    val shared = rand(100)
    val p2, s2 = rand(30)
    val big = rand(200)
    val docs = Seq(
      (1L, rand(20) + shared + rand(25), "en", "s"),
      (2L, p2 + shared + s2, "en", "s"), // later copy → span cut
      (3L, big, "en", "s"),
      (4L, big, "en", "s"), // verbatim full-doc dup → doc 4 empties
      (5L, rand(90), "en", "s") // untouched
    ).toDF("doc_id", "text", "lang", "source")
    val out = Dedup.substringClean(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L)._1 === 0L && out(1L)._3.contains(shared),
      "the earlier doc keeps its copy verbatim")
    assert(out(2L) === ((1L, 100L, p2 + s2)),
      s"the later doc loses exactly the shared 100 chars: ${out(2L)}")
    assert(out(3L)._1 === 0L && out(3L)._3 === big)
    assert(out(4L) === ((1L, 200L, "")), "a verbatim full-doc dup cleans to empty")
    assert(out(5L) === ((0L, 0L, out(5L)._3)) && out(5L)._3.length === 90)
  }

  test("substring clean: overlapping spans from different partners merge") {
    val rnd = new scala.util.Random(34)
    def rand(n: Int) = (0 until n).map(_ => (rnd.nextInt(26) + 'a').toChar).mkString
    val left = rand(80)
    val right = rand(80)
    val joined = left + right // doc 3 contains left+right contiguously
    val docs = Seq(
      (1L, rand(30) + left + rand(30), "en", "s"),
      (2L, rand(40) + right + rand(20), "en", "s"),
      (3L, rand(10) + joined + rand(15), "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val out = Dedup.substringClean(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 3's two removal intervals ([10,90) from doc 1, [90,170) from
    // doc 2) are adjacent → merge into ONE 160-char excision
    assert(out(3L) === ((1L, 160L)), s"adjacent intervals must merge: ${out(3L)}")
    assert(out(1L) === ((0L, 0L)) && out(2L) === ((0L, 0L)))
  }

  test("rolling hashes and excision offsets count code points, not UTF-16 units") {
    // astral chars (emoji) are ONE code point but TWO UTF-16 units; hash
    // positions must line up with Spark substring()/length() (code points)
    // or excision offsets shift and clean_text corrupts
    val m = 2199023255531L
    val astral = "ab😀cd😁ef" // a b 😀 c d 😁 e f — 8 code points
    val cps = astral.codePoints().toArray
    val rolled = graft.functions.RollingHashes.hashes(astral, 3, m).toLongArray().toSeq
    val direct = (0 to cps.length - 3).map(i =>
      graft.functions.Hash31.hash(new String(cps.slice(i, i + 3), 0, 3), m))
    assert(rolled === direct, "window hashes must be code-point based")
    assert(rolled.length === 6, "8 code points → 6 windows of 3")
    // end-to-end: a shared span preceded by emoji in the later doc is cut
    // at exactly the right code-point offsets
    val rnd = new scala.util.Random(88)
    def rand(n: Int) = (0 until n).map(_ => (rnd.nextInt(26) + 'a').toChar).mkString
    val shared = rand(100)
    val prefix = "😀😁" + rand(20) // 22 code points, 24 units
    val suffix = rand(10)
    val docs = Seq(
      (1L, rand(20) + shared + rand(20), "en", "s"),
      (2L, prefix + shared + suffix, "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val out = Dedup.substringClean(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(2L) === ((1L, 100L, prefix + suffix)),
      s"excision must remove exactly the 100 shared code points: ${out(2L)._1}, ${out(2L)._2}")
    assert(out(1L)._1 === 0L)
  }

  test("substring clean segments reassemble to the full-text clean contract") {
    // the per-segment verification contract (row per kept segment, md5)
    // must be information-equivalent to the reassembled clean_text: cutting
    // (seg_start, seg_len) windows out of the original text in seg_idx
    // order reproduces clean_text exactly, and every seg_md5 matches
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val original = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = Dedup.substringClean(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val segs = Dedup.substringCleanSegments(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        if (r.isNullAt(6)) None else Some(r.getLong(6))))
      .groupBy(_._1)
    assert(segs.keySet === full.keySet, "segment rows must cover every doc")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    for ((docId, rows) <- segs) {
      val ordered = rows.sortBy(_._2)
      assert(ordered.map(_._2).toSeq === ordered.indices.map(_.toLong),
        s"doc $docId: seg_idx must be dense from 0")
      // offsets are code points (matches RollingHashes / Spark substring)
      val cps = original(docId).codePoints().toArray
      val rebuilt = ordered.map { case (_, _, start, len, h, _, _) =>
        val seg = new String(cps.slice(start.toInt, (start + len).toInt),
          0, len.toInt)
        assert(md5hex(seg) === h, s"doc $docId seg@$start md5 mismatch")
        seg
      }.mkString
      assert(rebuilt === full(docId)._3, s"doc $docId reassembly mismatch")
      // totals ride seg_idx 0 only
      assert(ordered.head._6 === Some(full(docId)._1) &&
        ordered.head._7 === Some(full(docId)._2),
        s"doc $docId totals mismatch on seg_idx 0")
      assert(ordered.tail.forall(r => r._6.isEmpty && r._7.isEmpty),
        s"doc $docId totals must be NULL past seg_idx 0")
    }
  }

  test("substring clean is deterministic: repeated runs hash identically") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def run(): Seq[Seq[Any]] =
      Dedup.substringClean(docs).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val first = run()
    // twice more in the same session — any ordering tie in the island scan
    // or segment reassembly would eventually surface as a flip
    assert(run() === first, "second run diverged")
    assert(run() === first, "third run diverged")
  }

  test("substring spans: content-defined anchor sampling still finds long spans") {
    val rnd = new scala.util.Random(99)
    def rand(n: Int) = (0 until n).map(_ => (rnd.nextInt(26) + 'a').toChar).mkString
    val shared = rand(300)
    val docs = Seq(
      (1L, rand(30) + shared + rand(30), "en", "s"),
      (2L, rand(50) + shared + rand(10), "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    for (q <- Seq(4L, 8L)) {
      val out = Dedup.substringSpans(docs, anchorMod = q).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
      // 261 windows in the span, each an anchor w.p. 1/q — extent is a
      // lower bound on 300 and must still clear minSpan
      assert(out.contains((1L, 2L)), s"anchors mod $q must still surface the span")
      assert(out((1L, 2L)) >= 60L && out((1L, 2L)) <= 300L)
    }
  }

  test("simhash: identical docs identical prints; near-dup within small hamming") {
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) === sh(1L))
    val hamming = java.lang.Long.bitCount(sh(0L) ^ sh(2L))
    assert(hamming <= 6, s"near-dup hamming $hamming too high")
  }

  test("keep-best retains the highest-quality doc per near-dup cluster") {
    // docs 4 and 5 share the 2-gram shingle set {w1 w2, w2 w3, w3 w1} →
    // identical MinHash signature → one cluster; both are past the
    // 100-token length saturation, so TTR decides: the tighter doc 4 wins
    val trip = "w1 w2 w3 "
    val docs = Seq(
      (1L, "the same exact text"),
      (2L, "the same exact text"), // exact dup of 1 → tie → min doc_id
      (3L, "completely different words here"),
      (4L, (trip * 34).trim), // 102 tokens, ttr 3/102
      (5L, (trip * 50).trim) // 150 tokens, ttr 3/150 — lower quality
    ).toDF("doc_id", "text")
    val kept = Dedup.keepBestByQuality(docs).orderBy("keep_id").collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("cluster_size")).toMap
    assert(kept === Map(1L -> 2L, 3L -> 1L, 4L -> 2L))
    // 1 beat 2 on the doc_id tie-break; 4 beat 5 on quality (higher TTR)
  }

  test("winnow candidates cluster docs sharing the minimal 8-gram") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup
      (3L, "zzzz entirely unrelated content zzzz")
    ).toDF("doc_id", "text")
    val clusters = Dedup.winnowCandidates(docs).collect()
    assert(clusters.length === 1, "only the duplicated text clusters")
    assert(clusters.head.getAs[Long]("n_docs") === 2L)
    assert(clusters.head.getAs[Long]("keep_id") === 1L)
  }

  test("stratified sampling is deterministic and respects per-stratum rates") {
    import graft.llm.Sampling
    val docs = (1L to 1000L).map(i =>
      (i, if (i % 2 == 0) "en" else "de")).toDF("doc_id", "lang")
    val s1 = Sampling.stratifiedSummary(docs, Map("en" -> 0.5, "de" -> 0.1))
      .orderBy("lang").collect()
    val s2 = Sampling.stratifiedSummary(docs, Map("en" -> 0.5, "de" -> 0.1))
      .orderBy("lang").collect()
    assert(s1.map(_.toSeq).toSeq === s2.map(_.toSeq).toSeq, "same docs every run")
    val byLang = s1.map(r => r.getAs[String]("lang") ->
      (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"))).toMap
    assert(byLang("en")._1 === 500L && byLang("de")._1 === 500L)
    // hash31 % 100 is close to uniform: keep counts land near the rates
    assert(math.abs(byLang("en")._2 - 250L) < 75, s"en kept ${byLang("en")._2}")
    assert(math.abs(byLang("de")._2 - 50L) < 40, s"de kept ${byLang("de")._2}")
    // per-doc decisions are stable: the kept set is a fixed function of id
    val kept = docs.filter(
      Sampling.stratifiedKeep(col("doc_id"), col("lang"), Map("en" -> 0.5, "de" -> 0.1)))
      .select("doc_id").as[Long].collect().sorted
    val keptAgain = docs.orderBy(col("doc_id").desc).filter(
      Sampling.stratifiedKeep(col("doc_id"), col("lang"), Map("en" -> 0.5, "de" -> 0.1)))
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === keptAgain.toSeq)
  }

  test("int8 quantization: integral codes in [-127,127], max-abs maps to ±127, recall holds") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = Similarity.quantizeInt8(emb)
    // every code is an integral double within the int8 range, and the
    // largest-magnitude dimension of each vector saturates at ±127
    val checked = q.select(
      org.apache.spark.sql.functions.size(
        filter(col("qvec"), v => abs(v) > 127.0 || v =!= floor(v).cast("double"))
      ).as("bad"),
      org.apache.spark.sql.functions.size(
        filter(col("qvec"), v => abs(v) === 127.0)).as("saturated"),
      org.apache.spark.sql.functions.size(
        filter(col("qvec"), v => v =!= 0.0)).as("nonzero")).collect()
    assert(checked.forall(_.getAs[Int]("bad") === 0), "non-integral or out-of-range code")
    // an all-zero embedding quantizes to all-zero codes by the scale=1
    // convention (tested below) — only vectors with a nonzero dimension
    // must saturate, so a regenerated corpus containing a zero vector
    // cannot spuriously fail this
    assert(checked.filter(_.getAs[Int]("nonzero") > 0)
        .forall(_.getAs[Int]("saturated") >= 1),
      "max-abs dimension must quantize to ±127")
    // identical vectors stay top-ranked under the quantized metric
    val vecs = Seq(
      (0L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (100L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (101L, Array.tabulate(64)(i => math.cos(i * 2 + 1).toFloat))
    ).toDF("vec_id", "embedding")
    val top = Similarity.quantizedTopK(vecs, nQueries = 1, k = 2).collect()
    assert(top.head.getAs[Long]("n_id") === 100L)
    assert(math.abs(top.head.getAs[Double]("cos_q") - 1.0) < 1e-12)
    // int8 keeps most of the true top-5 on the real corpus
    val rec = Similarity.quantizedRecall(emb).agg(avg("recall")).collect().head.getDouble(0)
    assert(rec >= 0.8, f"int8 recall@5 degraded to $rec%.2f")
  }

  test("incremental embedding flags: clone of standing vector flagged, novel arrival clean") {
    val corpus = Seq(
      (1L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (2L, Array.tabulate(64)(i => math.cos(i * 2 + 1).toFloat))
    ).toDF("vec_id", "embedding")
    val arrivals = Seq(
      (100L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)), // clone of 1
      (101L, Array.tabulate(64)(i => math.sin(i * 7 + 3).toFloat)) // novel
    ).toDF("vec_id", "embedding")
    val out = Similarity.incrementalNearDup(arrivals, corpus, threshold = 0.9)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Boolean]("is_dup"), r.getAs[Long]("n_matches")))).toMap
    assert(out(100L)._1 && out(100L)._2 === 1L, "clone must flag against the index")
    assert(!out(101L)._1 && out(101L)._2 === 0L, "novel vector must pass clean")
    val full = Similarity.incrementalNearDup(arrivals, corpus, threshold = 0.9)
      .collect().find(_.getAs[Long]("vec_id") == 100L).get
    assert(full.getAs[Long]("first_match") === 1L, "provenance points at the corpus id")
    assert(math.abs(full.getAs[Double]("best_cos") - 1.0) < 1e-12)
  }

  test("persisted packed-code index: write once, load, byte-score — identical to the array path") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("sq_idx").toString
    try {
      Similarity.quantizedIndexWrite(emb, dir)
      val loaded = Similarity.quantizedIndexLoad(spark, dir)
      // on-disk payload is 64 bytes/vector (the realized 4x compression)
      assert(loaded.select(org.apache.spark.sql.functions.length(col("code")))
        .distinct().collect().map(_.getInt(0)).toSeq === Seq(64))
      val packed = Similarity.quantizedPersistedTopK(loaded).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"),
          r.getAs[Long]("n_id"), r.getAs[Double]("cos_q"))).toSeq
      val direct = Similarity.quantizedTopK(emb).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"),
          r.getAs[Long]("n_id"), r.getAs[Double]("cos_q"))).toSeq
      assert(packed.sorted === direct.sorted, "packed scoring must be row-identical")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("IVF-SQ: quantized probe agrees with float IVF on most neighbors, deterministic") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val sq = Similarity.ivfSqTopK(emb).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")))
    // same coarse quantizer, int8 scoring: the probed candidate set is
    // identical, so disagreement can only come from int8 rank swaps
    val fl = Similarity.ivfTopK(emb).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")))
    val agree = sq.toSet.intersect(fl.toSet).size.toDouble / fl.length
    assert(agree >= 0.8, f"int8 scoring diverged from float IVF: $agree%.2f")
    // bit-stable across runs (integer scores, integer Lloyd means)
    val again = Similarity.ivfSqTopK(emb).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")))
    assert(sq.toSeq === again.toSeq)
  }

  test("ANN top-k ranks an identical vector first with cosine 1") {
    val vecs = Seq(
      (0L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (100L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)), // clone of 0
      (101L, Array.tabulate(64)(i => math.cos(i * 2 + 1).toFloat)),
      (102L, Array.tabulate(64)(i => (math.sin(i + 1) * -1).toFloat)) // antipode
    ).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(vecs, nQueries = 1, k = 3).collect()
    assert(top.head.getAs[Long]("n_id") === 100L)
    assert(top.head.getAs[Double]("cos_sim") === 1.0)
    assert(top.last.getAs[Long]("n_id") === 102L) // antipode ranks last
    assert(top.last.getAs[Double]("cos_sim") === -1.0)
  }

  test("k-means IVF: centroids converge deterministically; recall vs brute force documented") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // deterministic index: two runs produce identical centroids (quantized
    // integer means — no float-sum order sensitivity)
    val c1 = Similarity.kmeansCentroids(emb).orderBy("c_id").collect()
    val c2 = Similarity.kmeansCentroids(emb).orderBy("c_id").collect()
    assert(c1.map(_.getSeq[Double](1).toVector).toSeq ===
      c2.map(_.getSeq[Double](1).toVector).toSeq)
    // recall@3 of IVF (nProbe=4/16 lists) against exact brute force — the
    // documented quality of the approximate index on this corpus
    val exact = Similarity.cosineTopK(emb, nQueries = 10, k = 3).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val ivf = Similarity.ivfTopK(emb).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.5, f"IVF recall@3 degraded to $recall%.2f")
  }

  test("persisted IVF index: write once, load, probe — identical to the in-memory path") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    try {
      Similarity.ivfIndexWrite(emb, dir)
      val (centroids, lists) = Similarity.ivfIndexLoad(spark, dir)
      val probedDf = Similarity.ivfProbe(emb.filter(col("vec_id") < 10), centroids, lists)
      val probed = probedDf
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"), r.getAs[Long]("n_id"))).toSet
      val direct = Similarity.ivfTopK(emb).collect()
        .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rnk"), r.getAs[Long]("n_id"))).toSet
      assert(probed === direct, "prebuilt-index probe must match the one-shot query")
      // the probe must PRUNE the lists scan to the probed list_id partitions
      // (dynamic partition pruning on the equality join key), not read all
      // nLists partitions — the whole point of the partitioned layout
      val plan = probedDf.queryExecution.executedPlan.toString()
      assert(plan.contains("dynamicpruning"),
        s"lists scan must carry a dynamic partition-pruning filter:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("LSH buckets put clones together and candidates avoid full cross product") {
    val vecs = Seq(
      (0L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (1L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (2L, Array.tabulate(64)(i => math.cos(i * 3 + 2).toFloat))
    ).toDF("vec_id", "embedding")
    val buckets = vecs.select(col("vec_id"),
      Similarity.lshBucket(col("embedding"), 8).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(buckets(0L) === buckets(1L), "identical vectors must share a bucket")
    val dups = Similarity.nearDupPairs(vecs, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dups.toSeq === Seq((0L, 1L)))
  }

  test("contamination flags exactly the docs sharing an n-gram with the benchmark") {
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // verbatim leak of the benchmark sentence inside a longer doc
      (1L, "prefix words then the quick brown fox jumps over the lazy dog tonight and suffix"),
      // shares only shorter spans — no full 10-gram overlap
      (2L, "the quick brown fox sat still"),
      (3L, "completely unrelated content about spark shuffles")
    ).toDF("doc_id", "text")
    val flagged = Dedup.contamination(corpus, bench, n = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keySet === Set(1L), s"only the verbatim leak flags: $flagged")
    assert(flagged(1L) === 1L, "one overlapping 10-gram")
  }

  test("fused lsh_band_keys equals the composed per-band projection keys") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val composed = array((0 until 8).map(b =>
      Similarity.lshBandKey(col("embedding"), b, bitsPerBand = 8)): _*)
    val fused = graft.functions.GraftFunctions.lshBandKeys(col("embedding"), 8, 8)
    val mismatches = emb
      .select(composed.as("c"), fused.as("f"))
      .filter(not(col("c") === col("f")))
      .count()
    assert(mismatches === 0L, "one-pass fused keys must be bit-identical")
  }

  test("banded near-dup: fewer comparisons than the single bucket at equal-or-better recall") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val th = 0.4
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact truth set: brute-force all pairs >= th
    val withNrm = emb.selectExpr("vec_id", "embedding",
      "sqrt(aggregate(zip_with(embedding, embedding, (x, y) -> double(x) * double(y)), 0D, (a, x) -> a + x)) AS nrm")
    val exact = pairSet(withNrm.as("x").join(withNrm.as("y"),
        col("x.vec_id") < col("y.vec_id"))
      .withColumn("cos", expr(
        "aggregate(zip_with(x.embedding, y.embedding, (p, q) -> double(p) * double(q)), 0D, (a, v) -> a + v) / (x.nrm * y.nrm)"))
      .filter(col("cos") >= th)
      .select(col("x.vec_id"), col("y.vec_id")))
    val single = pairSet(Similarity.nearDupPairs(emb, threshold = th, nPlanes = 4)
      .select("a_id", "b_id"))
    val banded = pairSet(Similarity.nearDupPairsBanded(emb, threshold = th)
      .select("a_id", "b_id"))
    assert(single.subsetOf(exact) && banded.subsetOf(exact),
      "exact recheck keeps precision 1 in both schemes")
    assert(banded.size >= single.size,
      s"banded recall (${banded.size}) must not trail the single bucket (${single.size})")
    // comparison budget: the banded scheme must pay FEWER exact rechecks
    // than the single 16-bucket join (8 bands / 256 buckets each ≍ n²/32
    // vs n²/16)
    val singleCand = Similarity.lshBuckets(emb, nPlanes = 4)
      .selectExpr("sum(n_vecs * (n_vecs - 1) div 2) AS c").collect()(0).getLong(0)
    val bandedCand = Similarity.bandedCandidatePairs(emb).count()
    assert(bandedCand < singleCand,
      s"banded comparisons ($bandedCand) must undercut the single bucket ($singleCand)")
  }

  test("filter funnel: each gate drops its planted offender, flags explain why") {
    val longText = (1 to 30).map(i => s"w$i").mkString(" ") // 30 distinct tokens
    val planted = Seq(
      (1L, longText, "en", "s"), // passes everything
      (2L, longText, "en", "s"), // exact dup of 1 → fails dedup (same signature)
      (3L, "a b c d e", "en", "s"), // 5 tokens → fails length
      (4L, ("spam ham " * 15).trim, "en", "s") // 30 tokens, 2 distinct → repetition + quality
    ).toDF("doc_id", "text", "lang", "source")
    val out = graft.llm.Corpus.filterFunnel(planted)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5)))
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(1L) === ((1L, true, true, true, true, true)))
    assert(!byId(2L)._5 && !byId(2L)._6, "dup of 1 must fail the dedup gate")
    assert(!byId(3L)._2 && !byId(3L)._6, "short doc must fail the length gate")
    assert(!byId(4L)._4 && !byId(4L)._6, "boilerplate must fail the repetition gate")
  }

  test("filter funnel dedup gate is fuzzy: A~B~C chain keeps exactly one doc") {
    // Planted chain: B is the clean base; A deviates at positions {5,27,35},
    // C at {3,8,39}. With the engine's 8-hash/4-band LSH this emits exactly
    // the pairs A–B and B–C — NO A–C pair (verified below, deterministic
    // hashes) — so only the transitive closure can know {A,B,C} is one
    // cluster. The old full-signature-equality gate kept all three.
    val base = (0 until 40).map(i => s"t$i")
    def mutate(ps: Set[Int], p: Char) =
      base.zipWithIndex.map { case (t, i) => if (ps(i)) s"$p$i" else t }.mkString(" ")
    val docs = Seq(
      (1L, mutate(Set(5, 27, 35), 'a'), "en", "s"),
      (2L, base.mkString(" "), "en", "s"),
      (3L, mutate(Set(3, 8, 39), 'c'), "en", "s")
    ).toDF("doc_id", "text", "lang", "source")

    val pairs = graft.llm.Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (2L, 3L)),
      "precondition: a chain with no A–C pair — revisit the planted texts")

    val out = graft.llm.Corpus.filterFunnel(docs)
      .select("doc_id", "pass_dedup", "kept")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).sortBy(_._1)
    assert(out === Array((1L, true, true), (2L, false, false), (3L, false, false)),
      "exactly one representative survives (equal quality → min doc_id tie-break)")
  }

  test("funnel keeps the higher-quality, higher-id member of a near-dup pair") {
    val base = (0 until 40).map(i => s"t$i")
    // doc 1: base verbatim 3× — 120 tokens, TTR 1/3 → quality 1/3;
    // doc 2: base once — 40 tokens, TTR 1 → quality 0.4. Near-identical
    // distinct shingle sets (repetition only adds the wraparound 2-gram),
    // so they band together; the HIGHER-quality, HIGHER-id doc must win.
    // A min-doc_id representative (the old policy) would train on the
    // bloated copy and drop the clean one.
    val docs = Seq(
      (1L, (base ++ base ++ base).mkString(" "), "en", "s"),
      (2L, base.mkString(" "), "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val cand = Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand === Set((1L, 2L)), "precondition: the pair must band together")
    val out = graft.llm.Corpus.filterFunnel(docs)
      .select("doc_id", "pass_dedup", "kept").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).sortBy(_._1)
    assert(out === Array((1L, false, false), (2L, true, true)),
      "the quality argmax (not the min doc_id) must be the surviving representative")
  }

  test("cross-source matrix: overlapping crawls surface off-diagonal, label order canonical") {
    val text = (0 until 30).map(i => s"t$i").mkString(" ")
    val other = (0 until 30).map(i => s"u$i").mkString(" ")
    val planted = Seq(
      (1L, text, "en", "crawl_b"),  // near-dup across sources (b < a checks
      (2L, text, "en", "crawl_a"),  // the least/greatest canonicalization)
      (3L, text, "en", "crawl_a"),  // and within crawl_a itself
      (4L, other, "en", "crawl_c")) // unrelated: contributes nothing
      .toDF("doc_id", "text", "lang", "source")
    val out = graft.llm.Dedup.crossSourceMatrix(planted)
      .orderBy("source_a", "source_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out === Array(
      ("crawl_a", "crawl_a", 1L), // pair (2,3)
      ("crawl_a", "crawl_b", 2L))) // pairs (1,2), (1,3) — never (b, a)
  }

  test("incremental dedup: increment flagged against the standing corpus index") {
    val corpus = Seq((0L, base, "en"), (3L, distinctDoc, "en"))
      .toDF("doc_id", "text", "lang")
    val incoming = Seq(
      (10L, base, "en"), // verbatim copy of corpus doc 0 → dup
      (11L, "totally fresh unseen words appear exclusively within this new incoming document text", "en")
    ).toDF("doc_id", "text", "lang")
    val out = graft.llm.Dedup.incrementalFlags(corpus, incoming)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
    assert(out === Array((10L, true, 0L), (11L, false, -1L)))
  }

  test("quality percentiles: quantized grid, exact interpolation per source") {
    // 3 docs in one source with distinct quality scores: p50 = middle value
    // exactly, p25/p75 interpolate halfway between neighbors on the grid
    val planted = Seq(
      (1L, "b c d e f g h i j k", "en", "s"), // 10 distinct non-stopword tokens
      (2L, "b b b b b b b b b b", "en", "s"), // 10 tokens, 1 distinct
      (3L, (1 to 40).map(i => s"t$i").mkString(" "), "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val r = graft.llm.Corpus.qualityPercentiles(planted).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getString(0) === "s" && row.getLong(1) === 3L)
    val qs = Seq(0.1 * 1.0 * 1.0, 0.1 * 0.1 * 1.0, 0.4 * 1.0 * 1.0)
      .map(q => math.floor(q * 1048576.0))
      .sorted
    assert(row.getDouble(3) === qs(1), "p50 is the middle doc's quantized score")
    assert(row.getDouble(2) === (qs(0) + qs(1)) / 2.0)
    assert(row.getDouble(4) === (qs(1) + qs(2)) / 2.0)
    assert(row.getLong(5) === qs(2).toLong)
  }

  test("vocabulary: top-k by occurrences with doc frequency, total order at the cut") {
    val planted = Seq(
      (1L, "x x x y y z", "en", "s"),
      (2L, "x y q", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val out = graft.llm.TextAnalysis.vocabulary(planted, k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out === Array(("x", 4L, 2L), ("y", 3L, 2L), ("q", 1L, 1L)))
  }

  test("KMinValues: min-k set is order-independent, distinct, exact below k") {
    val agg = new graft.functions.KMinValues(4)
    // reduce dedups and keeps only the k smallest
    val fwd = Seq(9L, 3L, 7L, 3L, 1L, 8L, 2L).foldLeft(agg.zero)(agg.reduce)
    assert(fwd.toSeq === Seq(1L, 2L, 3L, 7L))
    // any merge split of any permutation gives the identical sketch
    val rev = Seq(2L, 8L, 1L, 3L, 7L, 3L, 9L).foldLeft(agg.zero)(agg.reduce)
    assert(agg.merge(fwd.clone(), rev.clone()).toSeq === fwd.toSeq)
    val (l, r) = Seq(9L, 3L, 7L).foldLeft(agg.zero)(agg.reduce) ->
      Seq(3L, 1L, 8L, 2L).foldLeft(agg.zero)(agg.reduce)
    assert(agg.merge(l, r).toSeq === fwd.toSeq)
    // below k distinct values the sketch IS the exact distinct set
    val small = Seq(5L, 5L, 2L).foldLeft(agg.zero)(agg.reduce)
    assert(small.toSeq === Seq(2L, 5L))
  }

  test("kmvShingleDistinct: exact regime below k, estimate within 2x above it") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = graft.llm.TextAnalysis.kmvShingleDistinct(docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nExact, nKept, est) =
        (r.getAs[Long]("n_exact"), r.getAs[Long]("n_kept"), r.getAs[Double]("est_kmv"))
      if (nKept < 16) assert(est === nExact.toDouble, "exact regime must be exact")
      else assert(est > nExact / 2.0 && est < nExact * 2.0,
        s"KMV estimate $est vs exact $nExact out of the k=16 error regime")
    }
  }

  test("oovStats: rate against the deterministic vocab cut, tie at the boundary") {
    // corpus vocab by (count desc, tok): x(4) y(3) then {a(1), b(1)} ties —
    // v=3 must cut at 'a' (token asc), leaving b OOV
    val docs = Seq(
      (1L, "x x y a", "en", "s1"),
      (2L, "x x y y b", "en", "s2")
    ).toDF("doc_id", "text", "lang", "source")
    val out = graft.llm.TextAnalysis.oovStats(docs, v = 3)
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out === Array(("s1", 4L, 0L, 0.0), ("s2", 5L, 1L, 0.2)))
  }

  test("lengthBuckets: power-of-two boundaries, exact padding ledger") {
    def doc(id: Long, n: Int) = (id, (1 to n).map(i => s"w$i").mkString(" "), "en", "s")
    val docs = Seq(doc(1, 16), doc(2, 17), doc(3, 64), doc(4, 300), doc(5, 999))
      .toDF("doc_id", "text", "lang", "source")
    val out = graft.llm.Packing.lengthBuckets(docs).orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out === Array(
      (16L, 1L, 16L, 16L),   // exactly 16 stays in the 16 bucket (zero waste)
      (32L, 1L, 17L, 32L),   // 17 spills to the next power of two
      (64L, 1L, 64L, 64L),
      (512L, 2L, 1299L, 1024L))) // 300 and 999 both land in the 512 cap
  }

  test("prioritySample: integer-exact priorities, deterministic winners under repartition") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val once = graft.llm.Sampling.prioritySample(docs, k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val again = graft.llm.Sampling.prioritySample(docs.repartition(13), k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(once === again, "the sample must not depend on partitioning")
    assert(once.groupBy(_._1).values.forall(_.size <= 5))
    // priority formula spot-check: (hash31(id)·2^20) div n_tokens
    val row = graft.llm.Sampling.prioritySample(docs, k = 5)
      .orderBy("source", "rnk").limit(1).collect().head
    val h = graft.functions.Hash31.hash(row.getAs[Long]("doc_id").toString, 1073741789L)
    assert(row.getAs[Long]("priority") ===
      h * 1048576L / row.getAs[Long]("n_tokens"))
  }

  test("importanceAffinity: exact word-mass arithmetic, resample ranks the target slice first") {
    // counts: a→2 occurrences (1 in en), b→1 (en), c→1 (de)
    // doc 1 (en, "a b"): target 1+1=2, corpus 2+1=3 → affinity 2/3
    // doc 2 (de, "a c"): target 1+0=1, corpus 2+1=3 → affinity 1/3
    val tiny = Seq(
      (1L, "a b", "en", "s0"),
      (2L, "a c", "de", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val aff = Sampling.importanceAffinity(tiny).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(aff === Array(
      (1L, 2L, 2L, 3L, 2.0 / 3.0),
      (2L, 2L, 1L, 3L, 1.0 / 3.0)))
    val top = Sampling.importanceResample(tiny, k = 1).collect()
    assert(top.length === 1)
    assert(top.head.getAs[Long]("rnk") === 1L)
    assert(top.head.getAs[Long]("doc_id") === 1L)
    assert(top.head.getAs[String]("lang") === "en")
    // real corpus: mass bounds hold everywhere and the ledger is
    // partition-independent (pure window+agg arithmetic, no rand)
    val real = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val ledger = Sampling.importanceAffinity(real)
    val bad = ledger.filter(
      col("target_mass") > col("corpus_mass") ||
        col("n_words") > col("corpus_mass") ||
        col("affinity") < 0.0 || col("affinity") > 1.0).count()
    assert(bad === 0L)
    val once = ledger.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val again = Sampling.importanceAffinity(real.repartition(13))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(once === again, "the ledger must not depend on partitioning")
  }

  test("unimaxAllocation: water-filling caps small sources, open shares equal, budget conserved") {
    // caps at maxEpochs=2: s0→4, s1→8, s2→20; budget 14:
    //   s0 capped (4·3=12 ≤ 14), s1 open at rank 2 (8·2=16 > 14−4=10),
    //   λ* = (14−4)/2 = 5 → allocs 4, 5, 5; epochs 2, 1.25, 0.5
    val tiny = Seq(
      (1L, "a b", "s0"), (2L, "a b c d", "s1"),
      (3L, "a b c d e f g h i j", "s2")
    ).toDF("doc_id", "text", "source")
    val out = Sampling.unimaxAllocation(tiny, budgetTokens = 14L, maxEpochs = 2)
      .orderBy("source").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Boolean]("capped"),
        r.getAs[Double]("alloc_tokens"), r.getAs[Double]("epochs")))
    assert(out === Array(
      ("s0", true, 4.0, 2.0), ("s1", false, 5.0, 1.25), ("s2", false, 5.0, 0.5)))
    // real corpus: budget conserved exactly when any source is open,
    // no epoch exceeds the cap, result partition-independent
    val real = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = Sampling.unimaxAllocation(real).collect()
    assert(rows.exists(_.getAs[Boolean]("capped")) &&
      rows.exists(!_.getAs[Boolean]("capped")),
      "the default budget must exercise both branches on the test corpus")
    assert(math.abs(rows.map(_.getAs[Double]("alloc_tokens")).sum - 100000.0) < 1e-6)
    assert(rows.forall(_.getAs[Double]("epochs") <= 4.0 + 1e-12))
    val again = Sampling.unimaxAllocation(real.repartition(7))
      .orderBy("source").collect().map(_.toSeq).toSeq
    assert(rows.sortBy(_.getAs[String]("source")).map(_.toSeq).toSeq === again)
  }

  test("containmentPairs: full quote detected at containment 1.0 where jaccard misses it") {
    // doc 2 is a verbatim contiguous slice of doc 1: every 2-shingle of 2
    // appears in 1 → containment 1.0, while jaccard is diluted to ~1/3
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "c d e f g")
    ).toDF("doc_id", "text")
    val cont = graft.llm.Dedup.containmentPairs(docs, n = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(cont === Array((1L, 2L, 4L, 1.0)))
    val jac = graft.llm.Dedup.jaccardPairs(docs, n = 2, threshold = 0.9).count()
    assert(jac === 0L, "jaccard at the same threshold must miss the inclusion")
  }

  test("ivfIncrementalAssign: delta equals the build-time assignment, ties to smaller c_id") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (centroids, lists) = {
      val dir = java.nio.file.Files.createTempDirectory("ivf_inc_spec").toString
      graft.llm.Similarity.ivfIndexWrite(emb, dir)
      graft.llm.Similarity.ivfIndexLoad(spark, dir)
    }
    // re-assigning the corpus vectors themselves through the incremental
    // path must reproduce the persisted build-time lists exactly
    val delta = graft.llm.Similarity.ivfIncrementalAssign(emb, centroids)
      .select("vec_id", "list_id").orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // list_id is the partition directory key and reads back as int
    val built = lists.select(col("vec_id"), col("list_id").cast("long")).orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(delta === built)
  }

  test("connected components: transitive chain collapses to one cluster") {
    // chain 1–2, 2–3, 3–4 plus isolated pair 10–11 and singleton 20:
    // components {1,2,3,4}, {10,11}, {20}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a_id", "b_id")
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val out = graft.llm.Clusters.assign(docs, pairs)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out === Array(
      (1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L), (4L, 1L, 4L),
      (10L, 10L, 2L), (11L, 10L, 2L), (20L, 20L, 1L)))
  }

  test("connected components: long path converges within the O(log n) budget") {
    // a 64-node path is the worst case for label propagation (diameter 63);
    // alternating stars must still collapse it to a single root-1 cluster.
    // finishEdges = 0: the star loop runs, not the one-task finish
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val docs = (1L to 64L).toDF("doc_id")
    val out = graft.llm.Clusters.assignStars(
      docs, graft.llm.Clusters.contract(pairs, finishEdges = 0)._1).collect()
    assert(out.length === 64)
    assert(out.forall(r => r.getLong(1) == 1L && r.getLong(2) == 64L))
  }

  test("connected components: reliable-checkpoint mode matches local, rounds stay O(log n)") {
    // worst-case 128-node chain (diameter 127): plain propagation needs
    // ~127 rounds; alternating stars must land well inside 2·log2(128)+2.
    val pairs = (1L until 128L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    // the checkpoint directory belongs to the context every suite shares:
    // set it for the reliable runs only, and unset it after each
    def run[T](reliable: Boolean)(body: => T): T =
      if (reliable) org.apache.spark.CheckpointDir.during(spark.sparkContext, dir)(body)
      else body
    // finishEdges = 0: the star loop runs, not the one-task finish
    for (ckpt <- Seq(false, true)) run(ckpt) {
      val (stars, rounds) = graft.llm.Clusters.contract(pairs, finishEdges = 0)
      assert(rounds <= 16, s"chain must collapse in O(log n) rounds, took $rounds (ckpt=$ckpt)")
      // final graph is a star: every node points at root 1
      val edges = stars.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(edges === (2L to 128L).map(i => (i, 1L)).toArray, s"ckpt=$ckpt")
    }
    // reliable mode actually wrote checkpoint data
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0, "reliable checkpoint must persist round blocks to the dir")
    // at the default bound the chain is small: the one-task union-find
    // finish returns the same star edges without a contraction round
    for (ckpt <- Seq(false, true)) run(ckpt) {
      val (stars, rounds) = graft.llm.Clusters.starEdgesWithRounds(pairs)
      assert(rounds === 0, s"a graph under the edge bound runs no star round (ckpt=$ckpt)")
      assert(stars.collect().map(r => (r.getLong(0), r.getLong(1))).sorted ===
        (2L to 128L).map(i => (i, 1L)).toArray, s"ckpt=$ckpt")
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "the shared session must be left with no checkpoint directory")
  }

  test("connected components: one-task finish and star loop return identical rows") {
    // seeded random graphs mixing every shape the contraction must handle:
    // chains, stars, cliques, isolated pairs, duplicate and reversed pairs,
    // self-loops, plus docs that appear in no pair
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var next = 0L
      // n unused ids in random order; the id after them stays a singleton
      def fresh(n: Int): IndexedSeq[Long] = {
        val ids = rnd.shuffle((0 until n).map(next + _))
        next += n + 1
        ids
      }
      for (_ <- 0 until 3) {
        val c = fresh(2 + rnd.nextInt(30))
        edges ++= c.zip(c.tail)
        val st = fresh(2 + rnd.nextInt(10))
        edges ++= st.tail.map(x => (x, st.head))
        val q = fresh(2 + rnd.nextInt(5))
        edges ++= (for (a <- q; b <- q if a < b) yield (a, b))
        val pr = fresh(2)
        edges += ((pr(0), pr(1)))
      }
      edges ++= rnd.shuffle(edges.toList).take(5).map(_.swap)
      edges ++= rnd.shuffle(edges.toList).take(5)
      edges ++= edges.take(3).map { case (a, _) => (a, a) }
      val nDocs = next + 5
      val pairs = rnd.shuffle(edges.toList).toDF("a_id", "b_id")
      val docs = (0L until nDocs).toDF("doc_id")
      def rows(out: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
        out.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      // the graph is no star forest (the loop needs rounds), so a 0-round
      // result at the default bound is the finish's
      val (loopStars, loopRounds) = graft.llm.Clusters.contract(pairs, finishEdges = 0)
      assert(loopRounds > 0, s"seed $seed")
      assert(graft.llm.Clusters.starEdgesWithRounds(pairs)._2 === 0, s"seed $seed: finish path")
      val loop = rows(graft.llm.Clusters.assignStars(docs, loopStars))
      val finish = rows(graft.llm.Clusters.assign(docs, pairs))
      assert(finish === loop, s"seed $seed")
      // in-test union-find: doc → (min id of its component, component size)
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = parent.get(x) match {
        case Some(p) if p != x => val r = find(p); parent(x) = r; r
        case _ => x
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val root = (0L until nDocs).map(d => d -> find(d)).toMap
      val size = root.values.groupBy(identity).map { case (r, m) => r -> m.size.toLong }
      assert(finish === (0L until nDocs).map(d => (d, root(d), size(root(d)))), s"seed $seed")
    }
  }

  test("connected components: the finish takes over mid-loop once the edge count drops") {
    // 20 five-cliques chained end to end: 219 edges, most of them
    // redundant. A bound just under that forces the first round; the
    // contracted graph is under it but not yet a star forest
    val cliques = (0L until 20L).flatMap { c =>
      val q = (0L until 5L).map(5 * c + _)
      (for (a <- q; b <- q if a < b) yield (a, b)) ++ (if (c > 0) Seq((5 * c - 1, 5 * c)) else Nil)
    }
    val pairs = cliques.toDF("a_id", "b_id")
    val (loopStars, loopRounds) = graft.llm.Clusters.contract(pairs, finishEdges = 0)
    val (stars, rounds) = graft.llm.Clusters.contract(pairs, finishEdges = cliques.size - 1)
    assert(rounds === 1 && loopRounds > 1, s"finish after $rounds rounds, loop took $loopRounds")
    def edges(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(edges(stars) === (1L until 100L).map(i => (i, 0L)).toArray)
    assert(edges(loopStars) === edges(stars))
  }

  test("connected components: a small graph costs a fixed number of jobs") {
    // ~300-node planted chains: the star loop ran two actions per round;
    // the one-task finish must not bring per-round jobs back
    val pairs = (0L until 300L).filter(_ % 50 != 49).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val docs = (0L until 300L).toDF("doc_id")
    val (rows, counts) = JobCounter(spark)(graft.llm.Clusters.assign(docs, pairs).collect())
    assert(rows.length === 300)
    assert(rows.forall(r => r.getLong(1) == r.getLong(0) / 50 * 50 && r.getLong(2) == 50L))
    assert(counts.jobs <= 6, s"Clusters.assign on a small graph ran ${counts.jobs} jobs")
  }

  test("verifyCandidates does not re-plan a caller's persisted candidate frame") {
    // verifyCandidates' own candidate list shares its plan with
    // scalableCandidates: a persist + async release of it re-planned the
    // caller's persisted, not-yet-loaded frame (a new cache entry), which
    // then recomputed its shuffles on read.
    // 60 planted groups: a random 20-word doc, a one-word edit of it, and
    // an unrelated doc
    val rnd = new scala.util.Random(7)
    def words(): Seq[String] = Seq.fill(20)(s"w${rnd.nextInt(400)}")
    val docs = (0L until 60L).flatMap { i =>
      val base = words()
      Seq((3 * i, base.mkString(" ")), (3 * i + 1, base.updated(5, "edit").mkString(" ")),
        (3 * i + 2, words().mkString(" ")))
    }.toDF("doc_id", "text")
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sc = spark.sparkContext
    def cached(df: org.apache.spark.sql.DataFrame) = session.sharedState.cacheManager
      .lookupCachedData(session, df.queryExecution.analyzed).map(_.cachedRepresentation)
    val before = sc.getPersistentRDDs.keySet
    val pairs = Dedup.scalableCandidates(docs).persist()
    try {
      val entry = cached(pairs)
      assert(entry.isDefined)
      Dedup.verifyCandidates(docs, maxBucket = Dedup.DefaultMaxBucket)
        .write.mode("overwrite").format("noop").save()
      // every listener (a release included) has run before the check
      org.apache.spark.ListenerBusDrain(sc)
      assert(cached(pairs).exists(_ eq entry.get), "the persisted candidate frame was re-planned")
      val first = pairs.collect().toSet
      assert(first.nonEmpty)
      val (reads, counts) = JobCounter(spark)(Seq(pairs.collect(), pairs.collect()))
      assert(counts.shuffleStages === 0,
        s"re-reading the persisted pairs ran ${counts.shuffleStages} shuffle stages")
      reads.foreach(r => assert(r.toSet === first))
    } finally {
      pairs.unpersist(true)
      // drop the checkpoint blocks this test left, so suites that count
      // persistent RDDs do not see them
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = true)
      }
    }
  }

  test("mixture weights: α=1/2 flattens the head, exact on perfect squares") {
    // source a: 9 tokens total (sqrt 9 = 3), source b: 16 (sqrt 16 = 4) —
    // quantization is exact, so the weights are exactly 3/7 and 4/7
    val planted = Seq(
      (0L, "t t t t t", "en", "a"),
      (1L, "t t t t", "en", "a"),
      (2L, "t t t t t t t t t t t t t t t t", "en", "b")
    ).toDF("doc_id", "text", "lang", "source")
    val out = graft.llm.Sampling.mixtureWeights(planted)
      .orderBy("source")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    assert(out === Array(("a", 2L, 9L, 3.0 / 7.0), ("b", 1L, 16L, 4.0 / 7.0)))
    // α < 1 upweights the small domain, downweights the big one
    val up = graft.llm.Sampling.mixtureWeights(planted)
      .orderBy("source").collect().map(_.getDouble(5))
    assert(up(0) > 1.0 && up(1) < 1.0)
  }

  test("gopher gates: each rule fires on its planted offender") {
    val planted = Seq(
      // 5 words, alphabetic, mean len 3.2, 2 stopwords → passes all gates
      (0L, "the cat of mine naps", "en"),
      // mean word length 2: "is" repeated → fails word-len; also 0 stopwords
      (1L, "is is is is", "en"),
      // numeric soup: no alphabetic words → fails alpha (stop gate too)
      (2L, "12 34 56 78 90", "en"),
      // symbol spam: 3 '#' + 1 '...' over 5 words = 0.8 ratio → fails symbol
      (3L, "the # and # rest... #", "en"))
      .toDF("doc_id", "text", "lang")
    val out = graft.llm.TextAnalysis.gopherStats(planted)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7),
        r.getBoolean(8), r.getBoolean(9)))
    assert(out(0) === ((0L, true, true, true, true, true)))
    assert(!out(1)._2 && !out(1)._6, "short repeated words fail the word-len gate")
    assert(!out(2)._3 && !out(2)._6, "numeric soup fails the alpha gate")
    assert(!out(3)._4 && !out(3)._6, "symbol spam fails the symbol gate")
    val sym = graft.llm.TextAnalysis.gopherStats(planted)
      .filter(col("doc_id") === 3L).select("symbol_ratio").head.getDouble(0)
    assert(sym === 4.0 / 6.0, "3 hashes + 1 ellipsis over 6 words")
  }

  test("pack efficiency: exact windows/straddles on a planted corpus") {
    // 300+300+424 = 1024 tokens = exactly 2 windows of 512; doc 1 straddles
    // the 512 boundary (300..600), doc 2 starts at 600 and ends at 1024 —
    // its last token is index 1023, window 1 — so only doc 1 crosses
    val planted = Seq(
      (0L, Seq.fill(300)("w").mkString(" "), "en"),
      (1L, Seq.fill(300)("w").mkString(" "), "en"),
      (2L, Seq.fill(424)("w").mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    val r = graft.llm.Packing.packEfficiency(planted).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((3L, 1024L, 2L, 1L)))
    assert(r.getDouble(4) === 1.0 / 3.0)
    assert(r.getDouble(5) === 1.0, "1024 tokens fill 2×512 windows exactly")
  }

  test("repetition stats: top/dup bigram fractions on planted boilerplate") {
    val planted = Seq(
      (0L, "a b a b a b", "en"), // bigrams: "a b"×3, "b a"×2
      (1L, "x y z", "en"), // 2 bigrams, all distinct
      (2L, "solo", "en") // no bigrams → drops out
    ).toDF("doc_id", "text", "lang")
    val out = graft.llm.TextAnalysis.repetitionStats(planted)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out === Array(
      (0L, 5L, 3.0 / 5.0, 3.0 / 5.0),
      (1L, 2L, 0.5, 0.0)))
  }

  test("tf-idf top-k: rare terms outrank common ones; ties break on token") {
    // "common" is in every doc (df=3 → idf-ratio 1); "rare" only in doc 0;
    // doc 2 repeats "shared" so tf beats doc 1's single occurrence of it
    val planted = Seq(
      (0L, "common rare common"),
      (1L, "common shared"),
      (2L, "common shared shared")
    ).toDF("doc_id", "text")
    val out = graft.llm.TextAnalysis.tfidfTopK(planted, k = 2)
      .orderBy("doc_id", "rnk")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out === Array(
      (0L, 1, "rare", 1L, 1L, 3.0), // 1·3/1 — rarity wins
      (0L, 2, "common", 2L, 3L, 2.0), // 2·3/3
      (1L, 1, "shared", 1L, 2L, 1.5), // 1·3/2
      (1L, 2, "common", 1L, 3L, 1.0),
      (2L, 1, "shared", 2L, 2L, 3.0), // tf=2 doubles the score
      (2L, 2, "common", 1L, 3L, 1.0)))
  }

  test("bm25: tf, rarity, and length normalization order documents as designed") {
    val planted = Seq(
      (0L, "x a b c d e f g h i"), // tf=1, dl=10
      (1L, "x x x a b c d e f g"), // tf=3, dl=10 — tf wins over doc 0
      (2L, "a b c d e f g h i j"), // tf=0 — excluded by the bm25 > 0 cut
      // tf=1 but dl=100: length normalization must rank it below doc 0
      (3L, ("x " + Seq.fill(99)("z").mkString(" ")))
    ).toDF("doc_id", "text")
    val out = graft.llm.TextAnalysis.bm25TopK(planted, Seq("x"), k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq === Seq(1L, 0L, 3L),
      "order: high-tf, then short, then long; tf=0 absent")
    assert(out.forall(_._3 > 0.0))
    // adding a second query term raises exactly the docs that contain it
    // (0 and 1 have "a"; 3 does not — its score must be untouched)
    val two = graft.llm.TextAnalysis.bm25TopK(planted, Seq("x", "a"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val one = out.map(r => r._1 -> r._3).toMap
    assert(two(0L) > one(0L) && two(1L) > one(1L),
      "docs containing the extra term must score strictly higher")
    assert(two(3L) === one(3L),
      "a doc without the extra term keeps its single-term score")
    assert(two.contains(2L), "doc 2 matches the added term and enters the result")
  }

  test("mutual k-NN graph keeps only reciprocated edges") {
    val base64 = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val vecs = Seq(
      (0L, base64),
      (1L, base64.map(x => x * 0.9f)), // same direction as 0 — cos 1
      (2L, base64.zipWithIndex.map { case (x, i) => if (i < 4) -x else x }),
      (3L, base64.map(x => -x)) // antipode — no shared signs
    ).toDF("vec_id", "embedding")
    val edges = Similarity.knnGraph(vecs, k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    // with k=1, v0 and v1 choose each other; v2's one-sided choice of a
    // clone is dropped by the mutual filter; v3 shares no band
    assert(edges.toSeq === Seq((0L, 1L, 1L, 1L)),
      s"only the reciprocated pair survives: ${edges.toSeq}")
    // k=2 admits v2 only if some clone ranks v2 back within its top-2
    val k2 = Similarity.knnGraph(vecs, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k2.contains((0L, 1L)))
    assert(k2.subsetOf(Set((0L, 1L), (0L, 2L), (1L, 2L))))
  }

  test("cluster profile: size, majority label, and quantized cohesion per cluster") {
    val a = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val b = Array.tabulate(64)(i => math.cos(i * 3 + 2).toFloat)
    // seeds are vec 0 (group A) and vec 1 (group B); labels: A is
    // majority-1 with one 2, B is pure 7
    val vecs = Seq(
      (0L, a, 1), (1L, b, 7),
      (2L, a, 1), (3L, a, 2),
      (4L, b, 7), (5L, b, 7)
    ).toDF("vec_id", "embedding", "label")
    val prof = Similarity.clusterProfile(vecs, nLists = 2, kmeansIters = 1)
      .orderBy("list_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getDouble(5)))
    assert(prof.length === 2)
    val Array(ca, cb) = prof
    assert((ca._2, ca._3, ca._4, ca._5) === ((3L, 2L, 1, 2L)),
      s"group A: 3 members, labels {1,1,2}, majority 1: $ca")
    assert((cb._2, cb._3, cb._4, cb._5) === ((3L, 1L, 7, 3L)),
      s"group B: 3 members, pure label 7: $cb")
    // identical members sit within one 2^-20 grid step of their centroid
    // (the Lloyd mean itself is floor-quantized, so cos is a hair under 1
    // and the cohesion floor lands on (2^20 - 1)/2^20)
    val oneStep = (1048576.0 - 1.0) / 1048576.0
    assert(ca._6 >= oneStep && ca._6 <= 1.0 && cb._6 >= oneStep && cb._6 <= 1.0,
      s"identical-member clusters must have cohesion within one grid step of 1: $prof")
  }

  test("bm25 matches a Scala replica bit-for-bit on randomized corpora") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "x", "y")
    val rng = new scala.util.Random(20260813L)
    (1 to 5).foreach { round =>
      val docs = (0L until 40L).map { i =>
        val n = 1 + rng.nextInt(30)
        (i, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
      }
      val terms = Seq("alpha", "x")
      val (k1, b) = (1.2, 0.75)
      // Scala replica with the operator's exact IEEE evaluation order
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val dl = toks.view.mapValues(_.size.toLong).toMap
      val nDocs = docs.size.toLong
      val avgdl = dl.values.sum.toDouble / nDocs
      val df = terms.map(t => t -> toks.values.count(_.contains(t)).toLong).toMap
      def score(id: Long): Double =
        terms.map { t =>
          val tf = toks(id).count(_ == t).toDouble
          val idf = ((nDocs - df(t)).toDouble + 0.5) / (df(t).toDouble + 0.5)
          idf * (tf * (k1 + 1.0)) /
            (tf + k1 * ((1.0 - b) + b * (dl(id).toDouble / avgdl)))
        }.reduceLeft(_ + _)
      val expected = docs.map(_._1).map(id => (id, score(id)))
        .filter(_._2 > 0.0)
        .sortBy { case (id, s) => (-s, id) }
        .take(10)
        .map { case (id, s) => (id, dl(id), s) }
      val got = graft.llm.TextAnalysis
        .bm25TopK(docs.toDF("doc_id", "text"), terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got === expected, s"round $round: bit-exact parity with the replica")
    }
  }

  test("round-8 operators survive empty and degenerate inputs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val oneTok = Seq((7L, "solo")).toDF("doc_id", "text") // no bigram, no 2-shingle
    // lmScore: no transitions anywhere → empty result, not a failure
    assert(graft.llm.TextAnalysis.lmScore(empty).count() === 0L)
    assert(graft.llm.TextAnalysis.lmScore(oneTok).count() === 0L)
    // ingest gate: empty corpus index → nothing crashes; the sub-shingle
    // doc is DROPPED (round-9 short-doc rule: batch-contract parity —
    // near-dup similarity is undefined below the shingle resolution)
    assert(graft.llm.Dedup.ingestGate(oneTok, empty).count() === 0L)
    // snapshot diff with one empty side degenerates to all-added / all-removed
    assert(graft.llm.Corpus.snapshotDiff(empty, oneTok)
      .collect().map(_.getString(1)).toSeq === Seq("added"))
    assert(graft.llm.Corpus.snapshotDiff(oneTok, empty)
      .collect().map(_.getString(1)).toSeq === Seq("removed"))
    // sketch on an empty corpus: empty sketch, empty top-k
    assert(graft.llm.TextAnalysis.vocabularySketch(empty).count() === 0L)
    assert(graft.llm.TextAnalysis.qualityLogit(empty).count() === 0L)
  }

  test("round-9 operators survive empty and degenerate inputs") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // chunking: empty corpus → no chunks; empty text → one 1-token chunk
    assert(graft.llm.Chunking.chunkPlan(emptyDocs).count() === 0L)
    // quantization: empty corpus flows through; an all-zero vector takes
    // scale 1 (no div-by-zero) and quantizes to the zero vector
    assert(Similarity.quantizeInt8(emptyEmb).count() === 0L)
    val zeroVec = Seq((0L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val z = Similarity.quantizeInt8(zeroVec).collect().head
    assert(z.getAs[Double]("scale") === 1.0)
    assert(z.getSeq[Double](2).forall(_ === 0.0))
    // quantized top-k on an empty corpus: no queries, no rows, no crash
    assert(Similarity.quantizedTopK(emptyEmb).count() === 0L)
  }

  test("round-10 wave-3 operators survive empty and degenerate inputs") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val oneDoc = Seq((0L, "alpha beta alpha")).toDF("doc_id", "text")
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // bloom gate: empty corpus → all-zero mask → nothing maybe-present;
    // empty arrivals → no rows; arrival identical to the only corpus doc
    // → maybe and dup
    val g1 = graft.llm.Dedup.bloomGate(emptyDocs, oneDoc).collect()
    assert(g1.length === 1 && !g1.head.getBoolean(1) && !g1.head.getBoolean(2))
    assert(graft.llm.Dedup.bloomGate(oneDoc, emptyDocs).count() === 0L)
    val g2 = graft.llm.Dedup.bloomGate(oneDoc,
      oneDoc.withColumn("doc_id", lit(7L))).collect()
    assert(g2.head.getBoolean(1) && g2.head.getBoolean(2) && !g2.head.getBoolean(3))
    // growth/vocab curves: empty corpus → no buckets; single doc → one
    // bucket, zero dups, all types new
    assert(graft.llm.Dedup.growthCurve(emptyDocs
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", lit(0L))).count() === 0L)
    val vg = graft.llm.TextAnalysis.vocabGrowth(oneDoc).collect()
    assert(vg.length === 1 && vg.head.getLong(1) === 3L && vg.head.getLong(2) === 2L)
    assert(graft.llm.TextAnalysis.vocabGrowth(emptyDocs).count() === 0L)
    // PQ on an empty corpus: empty codebooks, empty codes, empty top-k
    assert(Similarity.pqCodebooks(emptyEmb).count() === 0L)
    assert(Similarity.pqTopK(emptyEmb).count() === 0L)
    // PQ with an all-zero corpus vector: codes still defined (nearest
    // codeword of the zero subvector), reconstructed norm floored, no NaN
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val withZero = emb.select("vec_id", "embedding").unionByName(
      Seq((999000L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding"))
    val cbz = Similarity.pqCodebooks(withZero)
    val encZ = Similarity.pqEncode(withZero, cbz)
      .filter(col("vec_id") === 999000L).collect().head
    assert(encZ.getAs[scala.collection.Seq[Long]]("codes").length === 8)
    assert(!encZ.getAs[Double]("r_nrm").isNaN && encZ.getAs[Double]("r_nrm") > 0.0)
  }

  test("misra-gries sketch: guarantee, error bound, and recount parity") {
    // guarantee: any item with freq > N/(capacity+1) survives any stream
    // order; error: kept weights underestimate by at most N/(capacity+1)
    val rng = new scala.util.Random(31L)
    val stream = rng.shuffle(
      Seq.fill(400)("hot") ++ Seq.fill(150)("warm") ++
        (1 to 300).map(i => s"cold$i"))
    val n = stream.size
    val cap = 8
    val mg = new graft.functions.MisraGries(cap)
    // simulate 4 partitions merged pairwise, like the distributed agg
    val parts = stream.grouped((n + 3) / 4).toSeq
      .map(p => p.foldLeft(mg.zero)((b, x) => mg.reduce(b, x)))
    val merged = mg.finish(parts.reduce((a, b) => mg.merge(a, b)))
    assert(merged.contains("hot") && merged.contains("warm"),
      s"heavy items must survive: $merged")
    assert(merged.size <= cap)
    val bound = n / (cap + 1)
    assert(merged("hot") >= 400L - bound && merged("hot") <= 400L)
    assert(merged("warm") >= 150L - bound && merged("warm") <= 150L)
    // end-to-end: sketch-then-recount equals the exact vocabulary table
    val real = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = graft.llm.TextAnalysis.vocabulary(real).collect().map(_.toSeq).toSeq
    val viaSketch = graft.llm.TextAnalysis.vocabularySketch(real)
      .collect().map(_.toSeq).toSeq
    assert(viaSketch === exact, "recounted candidates must equal the exact top-k")
  }

  test("quality logit gates stopword soup out and clean prose in") {
    val soup = (1 to 40).map(_ => "the a of and to").mkString(" ") // all stopwords
    val clean = (1 to 60).map(i => s"tok$i").mkString(" ") // long, diverse, no stopwords
    val out = graft.llm.TextAnalysis.qualityLogit(
      Seq((0L, clean), (1L, soup)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    assert(out(0L)._2, s"clean doc must pass, logit=${out(0L)._1}")
    assert(!out(1L)._2, s"stopword soup must fail, logit=${out(1L)._1}")
    assert(out(0L)._1 > out(1L)._1)
  }

  test("hot-bucket guard drops oversized band buckets, keeps small-bucket pairs") {
    // 40 identical docs: all 8 minhashes equal → every band lands in one
    // bucket of size 40 > cap → zero pairs from the clique (exact dups are
    // exactKeep's job upstream). Two other identical docs: buckets of 2 →
    // their pair survives the cap.
    val hot = (0L until 40L).map(i => (i, "common words repeated across the clique"))
    val pair = Seq((100L, "rare unique phrasing here"), (101L, "rare unique phrasing here"))
    val docs = (hot ++ pair).toDF("doc_id", "text")
    val uncapped = graft.llm.Dedup.minhashCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = graft.llm.Dedup.minhashCandidates(docs, maxBucket = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.size === 40 * 39 / 2 + 1, "uncapped: full clique + the pair")
    assert(capped === Set((100L, 101L)), s"capped: only the small-bucket pair: $capped")
  }

  test("scalable candidates: star edges rescue a verbatim clique the cap drops") {
    // same degenerate clique as the hot-bucket test: the cap alone loses
    // ALL 40 identical docs (no pairs → no dedup); the SCALE-default path
    // must instead emit 39 linear star edges (0 → each other member) so
    // Clusters.assign keeps the clique as ONE cluster — and must never
    // fall back to the 780-pair quadratic form
    val hot = (0L until 40L).map(i => (i, "common words repeated across the clique"))
    val pair = Seq((100L, "rare unique phrasing here"), (101L, "rare unique phrasing here"))
    val docs = (hot ++ pair).toDF("doc_id", "text")
    val cands = graft.llm.Dedup.scalableCandidates(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val starEdges = (1L until 40L).map(b => (0L, b)).toSet
    assert(cands === starEdges + ((100L, 101L)),
      s"capped pairs ∪ star edges, nothing quadratic: ${cands.size} pairs")
    val clusters = graft.llm.Clusters.assign(docs, cands.toSeq.toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 40L).map(clusters).toSet.size === 1,
      "the verbatim clique must stay one cluster under the SCALE default")
    assert(clusters(100L) === clusters(101L))
  }

  test("short docs below shingle resolution are dropped identically by batch and gate paths") {
    val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val incoming = Seq((10L, "alpha beta gamma"), (11L, "solo"), (12L, ""))
      .toDF("doc_id", "text")
    val batch = graft.llm.Dedup.incrementalFlags(corpus, incoming)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val gate = graft.llm.Dedup.ingestGate(incoming, corpus)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(gate === batch, "gate output must equal the batch contract")
    assert(batch.map(_.head) === Seq(10L), "sub-shingle docs (11, 12) dropped by both")
    val admitted = graft.llm.Corpus.admissionGate(incoming, corpus)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(admitted === Seq(10L), "admission gate follows the same short-doc rule")
  }

  test("persisted cluster index reproduces the in-memory assignment, funnel included") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    // same candidate family as the production index build (SparkEntry's
    // clusterIndexDir) and the funnel's in-line default — the capped+star
    // SCALE default, so live and persisted funnels compare like for like
    val pairs = graft.llm.Dedup.scalableCandidates(docs)
    val dir = java.nio.file.Files.createTempDirectory("clu_idx_spec").toString
    graft.llm.Clusters.indexWrite(docs, pairs, dir)
    val live = graft.llm.Clusters.assign(docs, pairs)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val loaded = graft.llm.Clusters.indexLoad(spark, dir)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(loaded === live)
    val funnelLive = graft.llm.Corpus.filterFunnel(docs)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val funnelIdx = graft.llm.Corpus.filterFunnel(docs,
      clusterIndex = Some(graft.llm.Clusters.indexLoad(spark, dir)))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(funnelIdx === funnelLive)
  }

  test("png encode→decode roundtrip recovers dims and exact pixel values") {
    val text = "abcdefghij" // n=10 → w=8+10=18, h=8+10=18
    val img = graft.llm.Multimodal.decode(graft.llm.Multimodal.encodePng(text))
    assert(img.getWidth === 18 && img.getHeight === 18)
    // decoded red channel at pixel i must equal text(i % 10) exactly
    for (i <- Seq(0, 9, 10, 17, 18, 323)) {
      val v = (img.getRGB(i % 18, i / 18) >> 16) & 0xFF
      assert(v === text(i % 10).toInt, s"pixel $i")
    }
  }

  test("binaryMeta decodes real dimensions and red-channel sum") {
    val text = "abcdefghij"
    val out = graft.llm.Multimodal.binaryMeta(
      Seq((5L, text)).toDF("doc_id", "text")).collect().head
    val codes = text.map(_.toInt)
    val expectSum = (0 until 18 * 18).map(i => codes(i % 10).toLong).sum
    assert(out.getLong(3) === 18L) // width
    assert(out.getLong(4) === 18L) // height
    assert(out.getLong(5) === 11L) // n_frames = 1 + 10 % 120
    assert(out.getLong(6) === expectSum) // sum_red from the DECODED raster
    assert(out.getLong(1) > 0L) // real PNG payload has bytes
  }

  test("resize decimates the decoded raster 2x with the pinned convention") {
    val text = "abcdefghij" // w=h=18 → out 9x9 = 81 raw bytes
    val out = graft.llm.Multimodal.resizeBatch(
      Seq((5L, text)).toDF("doc_id", "text")).collect().head
    val expectBytes = Array.tabulate(81) { k =>
      val (x, y) = (k % 9, k / 9)
      text((2 * y * 18 + 2 * x) % 10).toByte // out(x,y) = in(2x,2y)
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val expectMd5 = md.digest(expectBytes).map("%02x".format(_)).mkString
    assert(out.getLong(1) === 9L && out.getLong(2) === 9L)
    assert(out.getLong(3) === 81L)
    assert(out.getString(4) === expectMd5)
  }

  test("table profile reports rows, nulls, distincts, min/max per column") {
    val df = Seq(
      (1L, Some("b"), 10L), (2L, None, 20L), (3L, Some("a"), 20L))
      .toDF("id", "s", "v")
    val got = graft.llm.Corpus.profile(df, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(got("id") === ((3L, 0L, 3L, "1", "3")))
    assert(got("s") === ((3L, 1L, 2L, "a", "b"))) // null excluded from distinct+min
    assert(got("v") === ((3L, 0L, 2L, "10", "20")))
  }

  test("snapshot diff classifies all four statuses") {
    val vOld = Seq((1L, "a b"), (2L, "c d"), (3L, "e f")).toDF("doc_id", "text")
    val vNew = Seq((2L, "c d"), (3L, "e f CHANGED"), (4L, "g h")).toDF("doc_id", "text")
    val got = graft.llm.Corpus.snapshotDiff(vOld, vNew)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(
      1L -> "removed", 2L -> "unchanged", 3L -> "modified", 4L -> "added"))
  }

  test("projected minhash signatures equal the aggregated form on real docs") {
    val real = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val agg = Dedup.minhashSignatures(real).orderBy("doc_id").collect().toSeq
    val proj = Dedup.minhashProjected(real).orderBy("doc_id").collect().toSeq
    assert(proj.map(_.toSeq) === agg.map(_.toSeq),
      "row-wise signatures must be bit-identical to the explode+groupBy form")
  }

  test("ingest gate (batch form) equals incrementalFlags") {
    val inc = Dedup.incrementalFlags(docs.filter(col("doc_id") =!= 1L),
      docs.filter(col("doc_id") === 1L)).collect().map(_.toSeq).toSeq
    val gate = Dedup.ingestGate(docs.filter(col("doc_id") === 1L),
      docs.filter(col("doc_id") =!= 1L)).collect().map(_.toSeq).toSeq
    assert(gate === inc)
    // doc 1 is an exact dup of doc 0 → flagged against the corpus
    assert(gate === Seq(Seq(1L, true, 0L)))
  }

  test("lm fluency score matches a Scala replica bit-for-bit") {
    val vocab = Vector("alpha", "beta", "gamma", "delta")
    val rng = new scala.util.Random(4242L)
    val docs = (0L until 60L).map { i =>
      val n = 1 + rng.nextInt(12)
      (i, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    // replica with the operator's exact fixed-point arithmetic
    def isTrain(id: Long) = graft.functions.Hash31.hash(id.toString, 9973L) % 100 < 50
    def bigramsOf(t: String) = { val s = t.split(" ").toSeq; s.zip(s.drop(1)) }
    val trainBg = docs.filter(d => isTrain(d._1)).flatMap(d => bigramsOf(d._2))
    val c12 = trainBg.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = trainBg.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val v = docs.filter(d => isTrain(d._1))
      .flatMap(_._2.split(" ")).distinct.size.toLong
    assert(trainBg.nonEmpty && trainBg.size < docs.map(d => bigramsOf(d._2).size).sum,
      "seed must yield a proper train slice")
    val expected = docs.flatMap { case (id, t) =>
      val bgs = bigramsOf(t)
      if (bgs.isEmpty) None
      else {
        val invs = bgs.map { bg =>
          ((c1.getOrElse(bg._1, 0L) + v) * 1000000L) / (c12.getOrElse(bg, 0L) + 1L)
        }
        Some((id, bgs.size.toLong, invs.sum, invs.sum.toDouble / bgs.size))
      }
    }.sortBy(_._1)
    val got = graft.llm.TextAnalysis.lmScore(docs.toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === expected, "fixed-point LM scores must match the replica")
  }

  test("knn graph matches mutual top-k computed from its own candidate pairs") {
    val rng = new scala.util.Random(77L)
    (1 to 3).foreach { round =>
      val vecs = (0L until 30L).map { i =>
        (i, Array.tabulate(64)(d => (rng.nextDouble() - 0.5).toFloat))
      }.toDF("vec_id", "embedding")
      val k = 2
      // ground truth from the operator's OWN candidate generation (the
      // banded recall is a tuning knob, not under test): collect the
      // candidate pairs, then model top-k + reciprocity in Scala
      val cand = Similarity.nearDupPairsBanded(vecs, threshold = -2.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val directed = cand.flatMap { case (a, b, c) => Seq((a, b, c), (b, a, c)) }
      val topk = directed.toSeq.groupBy(_._1).flatMap { case (_, es) =>
        es.sortBy { case (_, dst, c) => (-c, dst) }.take(k).zipWithIndex
          .map { case ((src, dst, c), i) => (src, dst, c, (i + 1).toLong) }
      }.toSet
      val expected = topk.flatMap { case (s, d, c, r1) =>
        topk.find(e => e._1 == d && e._2 == s).map(e => (s, d, c, r1, e._4))
      }.filter { case (s, d, _, _, _) => s < d }
      val got = Similarity.knnGraph(vecs, k = k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(got === expected, s"round $round: mutual filter parity")
    }
  }

  test("deterministic split: stable percent-grid assignment, audited fractions") {
    val docs = (0L until 400L).map(i =>
      (i, Seq.fill((i % 5).toInt + 1)("w").mkString(" "),
        if (i % 2 == 0) "web" else "books"))
      .toDF("doc_id", "text", "source")
    // Scala-side replica of hash31(%9973)%100 over the decimal id string
    def bucket(id: Long): Int =
      id.toString.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 9973).toInt % 100
    def splitOf(id: Long): String = {
      val h = bucket(id)
      if (h < 90) "train" else if (h < 95) "val" else "test"
    }
    val expected = (0L until 400L)
      .groupBy(i => (if (i % 2 == 0) "web" else "books", splitOf(i)))
      .view.mapValues(_.size.toLong).toMap
    val got = Sampling.splitSummary(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === expected, "split counts must match the hash-grid replica")
    // fractions per source sum to 1 and assignment is purely id-driven:
    // re-partitioning must not move a single document
    val shuffled = Sampling.splitSummary(docs.repartition(7)).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(shuffled === got)
  }

  test("product quantization: codebook shape, duplicate-code invariance, recall ledger") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cb = Similarity.pqCodebooks(emb)
    val cbRows = cb.collect()
    // m=8 subspaces of 8-dim codewords, (s, code) unique, ≤ kSub codes each
    assert(cbRows.forall(_.getAs[scala.collection.Seq[Double]]("c_sub").length === 8))
    assert(cbRows.map(r => (r.getAs[Int]("s"), r.getAs[Long]("code")))
      .distinct.length === cbRows.length)
    assert((0 until 8).forall(s =>
      cbRows.count(_.getAs[Int]("s") == s) <= 32), "at most kSub codes per subspace")
    // identical embeddings encode to identical codes and identical r_nrm
    val dup = emb.filter(col("vec_id") === 0)
      .select(lit(999000L).as("vec_id"), col("embedding"))
      .unionByName(emb.filter(col("vec_id") === 0).select(col("vec_id"), col("embedding")))
    val encDup = Similarity.pqEncode(dup, cb).collect()
    assert(encDup.length === 2)
    assert(encDup.map(_.getAs[scala.collection.Seq[Long]]("codes").toList).distinct.length === 1,
      "equal vectors must take equal codes")
    assert(encDup.map(_.getAs[Double]("r_nrm")).distinct.length === 1)
    // recall ledger consistency: n_hit is exactly |pq top-k ∩ exact top-k|
    val exact = Similarity.cosineTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Similarity.pqTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val rec = Similarity.pqRecall(emb).collect()
    assert(rec.map(_.getLong(0)).toSeq.sorted === (0L until 10L))
    rec.foreach { r =>
      val q = r.getLong(0)
      val expect = (exact intersect pq).count(_._1 == q).toLong
      assert(r.getLong(1) === expect, s"n_hit for query $q")
      assert(r.getDouble(2) === expect / 5.0)
    }
    // codes are stable under repartitioning (the determinism contract)
    val enc1 = Similarity.pqEncode(emb, cb).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("codes").toList).toMap
    val enc2 = Similarity.pqEncode(emb.repartition(7), cb).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("codes").toList).toMap
    assert(enc1 === enc2)
  }

  test("bloom gate: no false negatives, ledger consistency, mask stable under partitioning") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val arrivals = docs.filter(col("doc_id") % 10 === 0)
      // plant a guaranteed duplicate: corpus doc 1's text under a fresh id
      .unionByName(corpus.filter(col("doc_id") === 1)
        .withColumn("doc_id", lit(999001L)))
    val out = Dedup.bloomGate(corpus, arrivals).collect()
    assert(out.length === arrivals.count())
    // the Bloom contract: a true duplicate can NEVER be screened out
    assert(out.filter(_.getBoolean(2)).forall(_.getBoolean(1)),
      "is_dup implies maybe_present (no false negatives)")
    assert(out.exists(r => r.getLong(0) == 999001L && r.getBoolean(1) && r.getBoolean(2)),
      "the planted duplicate must be maybe_present and is_dup")
    // ledger consistency: false_positive == maybe && !dup, row-wise
    assert(out.forall(r =>
      r.getBoolean(3) === (r.getBoolean(1) && !r.getBoolean(2))))
    // mask is a pure function of the corpus SET: bit-OR is commutative,
    // associative, idempotent — repartitioning must not move one flag
    val re = Dedup.bloomGate(corpus.repartition(13), arrivals).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    assert(out.map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap === re)
  }

  test("growth curve: cumulative sums, totals, and a planted duplicate lands in its bucket") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = Dedup.growthCurve(docs).orderBy("bucket").collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L until 10L))
    // cum columns are exact running sums of the per-bucket columns
    var (cd, ce, cn) = (0L, 0L, 0L)
    rows.foreach { r =>
      cd += r.getLong(1); ce += r.getLong(2); cn += r.getLong(3)
      assert(r.getLong(4) === cd); assert(r.getLong(5) === ce); assert(r.getLong(6) === cn)
      assert(r.getDouble(7) === ce.toDouble / cd)
      assert(r.getDouble(8) === cn.toDouble / cd)
    }
    assert(cd === docs.count())
    assert(ce <= cn, "signature equality is implied by text equality: near ≥ exact")
    // a planted exact duplicate of doc 0 at the END of ingest order counts
    // as BOTH exact and near dup in the last bucket
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val planted = docs.unionByName(
      docs.filter(col("doc_id") === 0).withColumn("doc_id", lit(maxId + 1)))
    val last = Dedup.growthCurve(planted).orderBy("bucket").collect().last
    assert(last.getLong(5) === ce + 1, "planted exact dup must raise cum_exact by 1")
    assert(last.getLong(6) === cn + 1, "planted exact dup is also a near dup")
  }

  test("lshTuning: identical docs collide in every combo; S-curve monotone in r") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (3L, "totally different words here now yes"))
      .toDF("doc_id", "text")
    val out = Dedup.lshTuning(docs).orderBy(col("bands").desc).collect()
      .map(r => (r.getAs[Long]("bands"), r.getAs[Long]("rows_per_band"),
        r.getAs[Long]("n_buckets_multi"), r.getAs[Long]("max_bucket"),
        r.getAs[Long]("pairs_banded"), r.getAs[Long]("pairs_capped"),
        r.getAs[Double]("p_at_s0")))
    assert(out.map(o => (o._1, o._2)).toSeq ===
      Seq((8L, 1L), (4L, 2L), (2L, 4L)))
    out.foreach { o =>
      // identical signatures collide in EVERY band of every combo
      assert(o._3 >= o._1, s"dup pair must fill every band's bucket: $o")
      assert(o._5 >= o._1, s"banded pair count sums over bands: $o")
      assert(o._5 === o._6, "no bucket exceeds the cap on this corpus")
    }
    // more rows per band -> sharper curve -> LOWER p at the reference sim
    val ps = out.map(_._7)
    assert(ps(0) > ps(1) && ps(1) > ps(2), s"S-curve must sharpen with r: ${ps.toSeq}")
    // the 8x1 value is the closed form 1 - 0.2^8
    assert(math.abs(ps(0) - (1.0 - math.pow(0.2, 8))) < 1e-12)
  }

  test("lshTuning pair volumes equal the shared band join's pre-distinct pair counts") {
    // planted: a 40-doc verbatim clique (one bucket per band, over the cap),
    // a near-dup pair and unrelated docs. The (4, 2) ledger row must count
    // exactly the rows the candidate join emits before its distinct —
    // uncapped, and at the cap — over the same band-key frame.
    val hot = (0L until 40L).map(i => (i, "common words repeated across the clique"))
    val rest = Seq((100L, base), (101L, nearDup), (102L, distinctDoc),
      (103L, "rare unique phrasing here"), (104L, "rare unique phrasing here"))
    val docs = (hot ++ rest).toDF("doc_id", "text")
    val row = Dedup.lshTuning(docs)
      .filter(col("bands") === 4 && col("rows_per_band") === 2).collect().head
    val keys = Dedup.bandKeys(Dedup.minhashSignatures(docs, 2, 8), 4, 2)
    val banded = graft.operators.BandJoin.pairs(keys, "doc_id").count()
    val capped = graft.operators.BandJoin.pairs(keys, "doc_id",
      maxBucket = Dedup.DefaultMaxBucket).count()
    assert(row.getAs[Long]("pairs_banded") === banded)
    assert(row.getAs[Long]("pairs_capped") === capped)
    assert(capped < banded && banded >= 4L * (40 * 39 / 2), s"the cap bites: $capped vs $banded")
  }
}
