package graft

import org.apache.spark.sql.functions._
import graft.llm.{Corpus, Dedup, Sampling, Similarity, TextAnalysis}

/** Round-10 pipeline operators: novelty, char-collision stats, threshold
  * sweep, minhash calibration, two-stage rerank, token-budget selection.
  * Hand-computable fixtures — every assertion is checkable on paper. */
class PipelineOpsSpec extends SparkSpec {

  import spark.implicits._

  test("blockDedup: corpus-wide block repeats flagged, within-doc repeats count") {
    val w10a = (1 to 10).map(i => s"a$i").mkString(" ")   // block A
    val w10b = (1 to 10).map(i => s"b$i").mkString(" ")   // block B
    val w10c = (1 to 10).map(i => s"c$i").mkString(" ")   // block C
    val docs = Seq(
      (0L, s"$w10a $w10b"),        // blocks A, B
      (1L, s"$w10a $w10c"),        // A repeats cross-doc, C unique
      (2L, "x y z"),               // one short unique block
      (3L, s"$w10b $w10b")         // B twice: boilerplate inside ONE doc
    ).toDF("doc_id", "text")
    val out = Dedup.blockDedup(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // A occurs at 2 locations, B at 3 (doc0 + twice in doc3), C/short at 1
    assert(out.toSeq === Seq((0L, 2L, 2L), (1L, 2L, 1L), (2L, 1L, 0L), (3L, 2L, 2L)))
  }

  test("blockDedup: short tail block hashes its remaining words only") {
    // 15 words: block 0 = words 1..10, block 1 = words 11..15 (short)
    val docs = Seq((0L, (1 to 15).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.blockDedup(docs).collect().head
    assert(out.getAs[Long]("n_blocks") === 2L)
    assert(out.getAs[Long]("n_dup_blocks") === 0L)
  }

  test("zipfBuckets: octave is exact floor(log2) of the frequency") {
    val docs = Seq((0L, "a a a b b c")).toDF("doc_id", "text")
    // freqs: a=3 (octave 1), b=2 (octave 1), c=1 (octave 0)
    val out = TextAnalysis.zipfBuckets(docs).orderBy("octave").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((0L, 1L, 1L), (1L, 2L, 5L)))
  }

  test("mixSchedule: anneals from natural share to uniform, each phase sums to 1") {
    val docs = Seq(
      (0L, (1 to 30).map(_ => "t").mkString(" "), "big"),
      (1L, (1 to 10).map(_ => "t").mkString(" "), "small")
    ).toDF("doc_id", "text", "source")
    val out = Sampling.mixSchedule(docs, steps = 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
    val byPhase = out.groupBy(_._1)
    // phase 0 = natural shares, last phase = uniform
    assert(byPhase(0L).map { case (_, s, w) => s -> w }.toMap ===
      Map("big" -> 0.75, "small" -> 0.25))
    assert(byPhase(4L).forall(_._3 === 0.5))
    // every phase's weights sum to exactly 1 (interpolation preserves mass)
    byPhase.values.foreach(rows => assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-12))
    // big source's weight falls monotonically toward uniform
    val big = out.filter(_._2 == "big").sortBy(_._1).map(_._3)
    assert(big.zip(big.tail).forall { case (a, b) => a > b })
  }

  test("hybridRrfTopK: fused score is exactly the sum of reciprocal rank terms") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.hybridRrfTopK(docs, emb).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val sem = Option(r.getAs[Any]("sem_rnk")).map(_.asInstanceOf[Long])
      val lex = Option(r.getAs[Any]("lex_rnk")).map(_.asInstanceOf[Long])
      assert(sem.isDefined || lex.isDefined, "a fused row must come from a list")
      val expected = sem.map(s => 1.0 / (60 + s)).getOrElse(0.0) +
        lex.map(l => 1.0 / (60 + l)).getOrElse(0.0)
      assert(r.getAs[Double]("rrf") === expected)
    }
    // k=10 queries, each with at most 10 fused rows, ranks contiguous from 1
    out.groupBy(_.getAs[Long]("q_id")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq ===
        (1L to rows.length.toLong).toSeq)
    }
  }

  test("bpePairStats: pair counts weight by word occurrence; the top pair is the first merge") {
    val docs = Seq((0L, "ab ab abc")).toDF("doc_id", "text")
    // "ab"×2 contributes pair ab twice; "abc" contributes ab, bc once each
    val out = TextAnalysis.bpePairStats(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq === Seq(("ab", 3L), ("bc", 1L)))
  }

  test("semanticDecontaminate: colinear vector flags, orthogonal does not") {
    val dims = 64
    val e0 = Array.tabulate(dims)(i => if (i == 0) 1.0f else 0.0f)
    val vecs = Seq(
      (0L, e0),                                                  // eval (0 % 17 == 0)
      (1L, e0.map(_ * 3.0f)),                                    // colinear: cos 1
      (2L, Array.tabulate(dims)(i => if (i == 1) 2.0f else 0.0f)) // orthogonal
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDecontaminate(vecs)
      .orderBy("vec_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(out(0).getAs[Long]("eval_id") === 0L)
    assert(out(0).getAs[Double]("max_cos") === 1.0)
    assert(out(0).getAs[Boolean]("contaminated"))
    assert(out(1).getAs[Double]("max_cos") === 0.0)
    assert(!out(1).getAs[Boolean]("contaminated"))
  }

  test("semanticDecontaminate: a finite evalCap only restricts the eval side") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // cap above every vec_id (sf0.001 has 500): identical to uncapped
    val capped = Similarity.semanticDecontaminate(emb, evalCap = 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Similarity.semanticDecontaminate(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped === full)
    // a tight cap keeps every corpus vector but only eval ids below it
    val tight = Similarity.semanticDecontaminate(emb, evalCap = 100L).collect()
    assert(tight.length === full.size, "every corpus vector still reports")
    assert(tight.forall(_.getLong(1) < 100L))
  }

  test("skewProfile: exact shares, integer-cumsum running share, autoSalts overload factor") {
    val rows = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val df = rows.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toDF("user_id", "event_id")
    val out = graft.operators.SaltedJoin.skewProfile(df, Seq("user_id"), k = 10, parts = 32)
      .orderBy("rnk").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ===
      Seq((1L, "a", 5L), (2L, "b", 3L), (3L, "c", 1L)))
    assert(out.map(_.getAs[Double]("share")).toSeq ===
      Seq(5.0 / 9, 3.0 / 9, 1.0 / 9))
    assert(out.map(_.getAs[Double]("cum_share")).toSeq ===
      Seq(5.0 / 9, 8.0 / 9, 1.0))
    // ceil(share * 32): the per-key way-split autoSalts would derive
    assert(out.map(_.getAs[Long]("salts_needed")).toSeq === Seq(18L, 11L, 4L))
  }

  test("noveltyStats: first-seen trigrams count as novel, re-seen do not") {
    val docs = Seq(
      (0L, "a b c d"),     // trigrams {a b c, b c d} — both first here
      (1L, "a b c e"),     // {a b c} seen in doc 0, {b c e} novel
      (2L, "a b c d")      // exact copy: nothing novel
    ).toDF("doc_id", "text")
    val out = TextAnalysis.noveltyStats(docs).orderBy("doc_id").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq((0L, 2L, 2L), (1L, 2L, 1L), (2L, 2L, 0L)))
    assert(out(1).getAs[Double]("novelty_rate") === 0.5)
  }

  test("charStats: exact collision probability, spaces excluded") {
    val docs = Seq((7L, "aa ab")).toDF("doc_id", "text")
    // chars without spaces: a,a,a,b → n=4, distinct=2, Σcnt² = 9+1 = 10
    val r = TextAnalysis.charStats(docs).collect().head
    assert(r.getAs[Long]("n_chars_nospace") === 4L)
    assert(r.getAs[Long]("n_distinct_chars") === 2L)
    assert(r.getAs[Double]("collision_p") === 10.0 / 16.0)
    assert(r.getAs[Double]("renyi2_diversity") === 16.0 / 10.0)
  }

  test("thresholdCurve: identical docs ride every threshold, near docs drop off") {
    val docs = Seq(
      (0L, "x y z w v u t s"),
      (1L, "x y z w v u t s"),          // identical to 0 → J = 1.0
      (2L, "x y z w v u q r")           // shares 4 of 8 pos → J in (0.5, 0.8)
    ).toDF("doc_id", "text")
    val curve = Dedup.thresholdCurve(docs).orderBy("threshold").collect()
    val at = curve.map(r => r.getAs[Double]("threshold") ->
      (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs_affected"))).toMap
    // trigrams of doc2: {x y z, y z w, z w v, w v u, v u q, u q r}; docs 0/1
    // have {x y z, y z w, z w v, w v u, v u t, u t s} → inter 4, union 8 →
    // J(0,2) = J(1,2) = 0.5; J(0,1) = 1.0
    assert(at(0.5) === (3L, 3L))
    assert(at(0.6) === (1L, 2L))
    assert(at(0.9) === (1L, 2L))
  }

  test("thresholdCurveCapped: a lower bound of the exact curve, tight on this corpus") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Double]("threshold") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs_affected"))).toMap
    val exact = toMap(Dedup.thresholdCurve(docs))
    val capped = toMap(Dedup.thresholdCurveCapped(docs))
    capped.foreach { case (t, (p, d)) =>
      assert(p <= exact.getOrElse(t, (0L, 0L))._1,
        s"capped pairs at $t must lower-bound the exact count")
      assert(d <= exact.getOrElse(t, (0L, 0L))._2)
    }
    // the banded candidates catch the high-similarity head — at 0.9 the
    // capped curve must agree with the exact one on this corpus
    assert(capped.get(0.9) === exact.get(0.9),
      "near-identical pairs must survive the banded candidate generation")
  }

  test("minhashCalibration: identical docs estimate 1.0 with zero error; errors bounded") {
    val docs = Seq(
      (0L, "p q r s t u"),
      (1L, "p q r s t u"),
      (2L, "p q r s t x")
    ).toDF("doc_id", "text")
    val cal = Dedup.minhashCalibration(docs).collect()
    assert(cal.nonEmpty)
    val ident = cal.find(r => r.getLong(0) === 0L && r.getLong(1) === 1L).get
    assert(ident.getAs[Double]("est_jaccard") === 1.0)
    assert(ident.getAs[Double]("exact_jaccard") === 1.0)
    assert(ident.getAs[Double]("abs_err") === 0.0)
    cal.foreach { r =>
      assert(r.getAs[Double]("est_jaccard") >= 0.0 && r.getAs[Double]("est_jaccard") <= 1.0)
      assert(r.getAs[Double]("abs_err") >= 0.0 && r.getAs[Double]("abs_err") <= 1.0)
    }
  }

  test("rerankTopK: with a full-width coarse stage the rerank equals exact top-k") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count().toInt
    val exact = Similarity.cosineTopK(emb, nQueries = 5, k = 3)
      .select("q_id", "rnk", "n_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rr = Similarity.rerankTopK(emb, nQueries = 5, coarseK = n, k = 3)
      .select("q_id", "rnk", "n_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rr.sorted.toSeq === exact.sorted.toSeq)
  }

  test("rerankTopK: identical vector wins rank 1 with exact cosine 1") {
    val vecs = Seq(
      (0L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (50L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (51L, Array.tabulate(64)(i => math.cos(i * 3 + 2).toFloat)),
      (52L, Array.tabulate(64)(i => (math.sin(i + 1) + 0.01 * math.cos(i)).toFloat))
    ).toDF("vec_id", "embedding")
    val top = Similarity.rerankTopK(vecs, nQueries = 1, coarseK = 3, k = 2)
      .orderBy("rnk").collect()
    assert(top.head.getAs[Long]("n_id") === 50L)
    assert(math.abs(top.head.getAs[Double]("cos_exact") - 1.0) < 1e-12)
    assert(top.head.getAs[Long]("coarse_rnk") === 1L)
  }

  test("sourceOverlap: directed containment from hand-counted gram sets") {
    val docs = Seq(
      (0L, "a b c d", "srcA"),   // grams {a b c, b c d}
      (1L, "x y z w", "srcA"),   // grams {x y z, y z w} → A has 4
      (2L, "a b c e", "srcB")    // grams {a b c, b c e} → B has 2
    ).toDF("doc_id", "text", "source")
    val m = Dedup.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_common"), r.getAs[Long]("a_grams"), r.getAs[Double]("containment"))).toMap
    // common gram: {a b c} only
    assert(m(("srcA", "srcB")) === ((1L, 4L, 0.25)))
    assert(m(("srcB", "srcA")) === ((1L, 2L, 0.5)))
  }

  test("ivfProbeCurve: hits monotone in nProbe; probing every list is exact") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val curve = Similarity.ivfProbeCurve(emb).orderBy("n_probe").collect()
    assert(curve.map(_.getAs[Long]("n_probe")).toSeq === Seq(1L, 2L, 4L, 8L))
    val hits = curve.map(_.getAs[Long]("n_hits"))
    assert(hits.zip(hits.tail).forall { case (a, b) => a <= b },
      "recall cannot drop when probing more lists")
    curve.foreach(r => assert(r.getAs[Double]("recall") >= 0.0 &&
      r.getAs[Double]("recall") <= 1.0))
    // nProbe = nLists probes every list → IVF degenerates to brute force
    val full = Similarity.ivfProbeCurve(emb, probes = Seq(16)).collect().head
    assert(full.getAs[Double]("recall") === 1.0)
  }

  test("matryoshkaRecall: full width is exact; recall bounded and present per width") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val curve = Similarity.matryoshkaRecall(emb).orderBy("dims").collect()
    assert(curve.map(_.getAs[Long]("dims")).toSeq === Seq(16L, 32L, 64L))
    curve.foreach(r => assert(r.getAs[Double]("recall") >= 0.0 &&
      r.getAs[Double]("recall") <= 1.0))
    assert(curve.last.getAs[Double]("recall") === 1.0,
      "truncating to the full width must reproduce the exact top-k")
  }

  test("aHash: the decoded-raster hash equals the arithmetic contract, corpus-wide") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val media = graft.llm.Multimodal.encodeCorpus(docs)
    val got = graft.llm.Multimodal.aHash(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // recompute WITHOUT any codec, straight from the generator contract
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    texts.foreach { case (id, text) =>
      val len = text.length
      val (w, h) = (8 + len % 24, 8 + len % 16)
      val smp = Array.tabulate(64) { k =>
        val idx = ((k / 8) * h / 8) * w + (k % 8) * w / 8
        (text.charAt(idx % len).toInt & 0xFF).toLong
      }
      val sum = smp.sum
      var hi = 0L; var lo = 0L
      (0 until 64).foreach { k =>
        if (64L * smp(k) > sum) {
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
      }
      assert(got(id) === ((sum, hi, lo)),
        s"doc $id: decode path and arithmetic contract disagree")
    }
  }

  test("phashDups: identical images collide at hamming 0; bound enforced") {
    val docs = Seq(
      (0L, (1 to 50).map(i => s"w$i").mkString(" ")),
      (1L, (1 to 50).map(i => s"w$i").mkString(" ")),   // identical → hamming 0
      (2L, (1 to 50).map(i => s"z${i * 7}").mkString(" "))
    ).toDF("doc_id", "text")
    val hashes = graft.llm.Multimodal.aHash(graft.llm.Multimodal.encodeCorpus(docs))
    val pairs = graft.llm.Multimodal.phashDups(hashes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((0L, 1L, 0L)), s"identical payloads must pair at 0: ${pairs.toSeq}")
    pairs.foreach { case (_, _, d) => assert(d <= 7L) }
    intercept[IllegalArgumentException] {
      graft.llm.Multimodal.phashDups(hashes, maxHamming = 8)
    }
  }

  test("phashDupsWide: equals the exact pair set at hamming <= 3 when no bucket caps; " +
      "star edges keep identical groups connected under a cap of 1") {
    val docs = Seq(
      (0L, (1 to 50).map(i => s"w$i").mkString(" ")),
      (1L, (1 to 50).map(i => s"w$i").mkString(" ")),   // identical → hamming 0
      (2L, (1 to 50).map(i => s"w$i").mkString(" ")),   // identical → hamming 0
      (3L, (1 to 50).map(i => s"z${i * 7}").mkString(" ")),
      (4L, (1 to 40).map(i => s"q${i * 3}").mkString(" "))
    ).toDF("doc_id", "text")
    val hashes = graft.llm.Multimodal.aHash(graft.llm.Multimodal.encodeCorpus(docs))
    def set(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // no-cap regime: the 16-bit-band path must reproduce the exact ≤3 set
    val exact3 = set(graft.llm.Multimodal.phashDups(hashes).filter(col("hamming") <= 3))
    val wide = set(graft.llm.Multimodal.phashDupsWide(hashes))
    assert(wide === exact3, s"wide $wide != exact@3 $exact3")
    // cap 1 drops EVERY shared bucket (identical docs always share all
    // bands) — the star edges alone must keep the identical trio connected
    val capped = set(graft.llm.Multimodal.phashDupsWide(hashes, maxBucket = 1))
    assert(capped.contains((0L, 1L, 0L)) && capped.contains((0L, 2L, 0L)),
      s"star edges must survive the cap: $capped")
    intercept[IllegalArgumentException] {
      graft.llm.Multimodal.phashDupsWide(hashes, maxHamming = 4)
    }
  }

  test("tokenBudget: cum_tokens follows logit-desc order and the cut is exact") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Corpus.tokenBudget(docs, budget = 500L).orderBy("cum_tokens").collect()
    assert(out.length === docs.count())
    // cumulative total is strictly increasing and consistent with n_tokens
    var prev = 0L
    out.foreach { r =>
      assert(r.getAs[Long]("cum_tokens") === prev + r.getAs[Long]("n_tokens"))
      prev = r.getAs[Long]("cum_tokens")
    }
    // the selected prefix is exactly the rows fitting the budget, and the
    // cum order is the (logit desc, doc_id) order
    val logits = out.map(r => (r.getAs[Double]("logit"), r.getAs[Long]("doc_id")))
    assert(logits.sortBy { case (l, id) => (-l, id) }.toSeq === logits.toSeq)
    out.foreach { r =>
      assert(r.getAs[Boolean]("selected") === (r.getAs[Long]("cum_tokens") <= 500L))
    }
    assert(out.exists(_.getAs[Boolean]("selected")))
    assert(out.exists(!_.getAs[Boolean]("selected")))
  }

  test("pqRerank: winners come from the coarse stage and beat raw PQ recall") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.cosineTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val rawPq = Similarity.pqTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val coarse = Similarity.pqTopK(emb, k = 20).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val rr = Similarity.pqRerank(emb).collect()
    val rrPairs = rr.map(r => (r.getLong(0), r.getLong(2))).toSet
    // every winner carries a coarse rank within the coarse budget
    assert(rr.forall(_.getLong(4) <= 20))
    assert(rrPairs.subsetOf(coarse))
    // the rescore recovers EVERY exact neighbor the coarse stage kept —
    // so reranked recall can never fall below the raw ADC recall
    assert((exact intersect coarse) === (exact intersect rrPairs),
      "exact neighbors surviving the coarse stage must all survive the rerank")
    assert((exact intersect rrPairs).size >= (exact intersect rawPq).size)
    // per query, the reranked list is in exact-cosine order
    rr.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cs = rows.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq
      assert(cs === cs.sorted.reverse, "rerank order must follow exact cosine")
    }
  }

  test("vocabGrowth: running sums, Heaps decline, totals tie to the corpus") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = TextAnalysis.vocabGrowth(docs).orderBy("bucket").collect()
    var (ct, cy) = (0L, 0L)
    rows.foreach { r =>
      ct += r.getLong(1); cy += r.getLong(2)
      assert(r.getLong(3) === ct); assert(r.getLong(4) === cy)
      assert(r.getDouble(5) === cy.toDouble / ct)
    }
    // totals: all token occurrences, all distinct types, exactly once each
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    assert(ct === toks.count())
    assert(cy === toks.distinct().count())
    // Heaps-flavored sanity that survives a testdata regeneration: the
    // final ratio cannot exceed the first bucket's (vocabulary yield per
    // token never grows over the whole corpus)
    assert(rows.last.getDouble(5) <= rows.head.getDouble(5) + 1e-15,
      "cumulative type/token ratio must not rise over the corpus")
  }

  test("ivfPqTopK: probing every list degenerates to the full PQ scan") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val full = Similarity.pqTopK(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val allProbes = Similarity.ivfPqTopK(emb, nProbe = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(allProbes === full,
      "nProbe = nLists must score every candidate — identical to brute-force ADC")
    // pruned probes only shrink the candidate set: per-query scores of the
    // pruned result must all appear in the full candidate ordering
    val pruned = Similarity.ivfPqTopK(emb).collect()
    assert(pruned.nonEmpty)
    assert(pruned.forall(_.getLong(1) <= 5L))
  }

  test("ivfPqPersistedTopK: both standing indexes compose to the in-memory result") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val ivfDir = java.nio.file.Files.createTempDirectory("ivfpq_ivf").toString
    val pqDir = java.nio.file.Files.createTempDirectory("ivfpq_pq").toString
    try {
      Similarity.ivfIndexWrite(emb, ivfDir)
      Similarity.pqIndexWrite(emb, pqDir)
      val (centroids, lists) = Similarity.ivfIndexLoad(spark, ivfDir)
      val (cb, codes) = Similarity.pqIndexLoad(spark, pqDir)
      val persisted = Similarity
        .ivfPqPersistedTopK(emb, centroids, lists, cb, codes).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val direct = Similarity.ivfPqTopK(emb).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(persisted === direct,
        "serving off the persisted centroids + codes must match the one-shot query")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ivfDir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pqDir))
    }
  }

  test("sizeHistogram: ties to the assignment, rowwise size arithmetic exact") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val assign = graft.llm.Clusters.assign(
      docs, graft.llm.Dedup.scalableCandidates(docs))
    val hist = graft.llm.Clusters.sizeHistogram(assign).collect()
    // every row: n_docs = cluster_size * n_clusters
    assert(hist.forall(r => r.getLong(2) === r.getLong(0) * r.getLong(1)))
    // totals tie back to the corpus and the distinct cluster count
    assert(hist.map(_.getLong(2)).sum === docs.count())
    assert(hist.map(_.getLong(1)).sum ===
      assign.select("cluster_id").distinct().count())
  }

  test("hardNegatives: same-label rows never surface, ranking is by cosine") {
    val vecs = Seq(
      (0L, Array.tabulate(64)(i => math.sin(i + 1).toFloat), 0),
      (100L, Array.tabulate(64)(i => math.sin(i + 1).toFloat), 0),  // clone, SAME label
      (101L, Array.tabulate(64)(i => (math.sin(i + 1) + 0.01).toFloat), 1), // near, other label
      (102L, Array.tabulate(64)(i => (math.sin(i + 1) * -1).toFloat), 1)    // antipode
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(vecs, nQueries = 1, k = 5).collect()
    // the identical clone shares the query's label: excluded despite cos 1
    assert(!out.exists(_.getAs[Long]("n_id") == 100L))
    assert(out.map(_.getAs[Long]("n_id")).toSeq === Seq(101L, 102L))
    // the hard negative (near-clone across the boundary) ranks first
    assert(out.head.getAs[Double]("cos_sim") > 0.99)
    assert(out.forall(r => r.getAs[Int]("q_label") != r.getAs[Int]("n_label")))
  }

  test("filteredSearchAudit: post-filter recall counts survivors of the global top-k") {
    // query 0 (label 0); same-label pool = {100 near, 103 far};
    // k=2 global top-k = {100, 101} -> only 100 survives the filter
    val vecs = Seq(
      (0L, Array.tabulate(64)(i => math.sin(i + 1).toFloat), 0),
      (100L, Array.tabulate(64)(i => (math.sin(i + 1) + 0.001).toFloat), 0),
      (101L, Array.tabulate(64)(i => (math.sin(i + 1) + 0.01).toFloat), 1),
      (102L, Array.tabulate(64)(i => (math.sin(i + 1) + 0.02).toFloat), 1),
      (103L, Array.tabulate(64)(i => (math.sin(i + 1) * -1).toFloat), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.filteredSearchAudit(vecs, nQueries = 1, k = 2)
      .collect().head
    assert(out.getAs[Long]("n_label_pool") === 2L)
    assert(out.getAs[Long]("n_in_global_topk") === 1L)
    assert(out.getAs[Double]("postfilter_recall") === 0.5)
  }

  test("overfetchCurve: recall is monotone in fetch_k and saturates at 1") {
    val vecs = Seq(
      (0L, Array.tabulate(64)(i => math.sin(i + 1).toFloat), 0),
      (100L, Array.tabulate(64)(i => (math.sin(i + 1) + 0.001).toFloat), 0),
      (101L, Array.tabulate(64)(i => (math.sin(i + 1) + 0.01).toFloat), 1),
      (102L, Array.tabulate(64)(i => (math.sin(i + 1) + 0.02).toFloat), 1),
      (103L, Array.tabulate(64)(i => (math.sin(i + 1) * -1).toFloat), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.overfetchCurve(vecs, nQueries = 1, k = 2,
      factors = Seq(1, 2)).orderBy("fetch_k").collect()
      .map(r => (r.getAs[Long]("fetch_k"), r.getAs[Long]("n_kept"),
        r.getAs[Double]("recall")))
    // k'=2 keeps only vec 100 of the label-0 pool {100, 103};
    // k'=4 fetches everything -> both survive
    assert(out.toSeq === Seq((2L, 1L, 0.5), (4L, 2L, 1.0)))
  }

  test("shardAssign: dense per-shard positions, stable under repartition, seed re-mixes") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Sampling.shardAssign(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.length === docs.count())
    // positions within each shard are exactly 1..n_docs(shard)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length).toSeq)
    }
    // pure function of doc_id: physical layout cannot move a document
    val b = Sampling.shardAssign(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.sortBy(_._1).toSeq === b.sortBy(_._1).toSeq)
    // a different seed re-mixes (some doc changes shard or position)
    val c = Sampling.shardAssign(docs, seed = 43).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(a.sortBy(_._1).toSeq !== c.sortBy(_._1).toSeq)
    // the ledger ties back to the assignment
    val stats = Sampling.shardStats(docs).collect()
    val byShard = a.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    stats.foreach(r => assert(r.getAs[Long]("n_docs") === byShard(r.getAs[Long]("shard"))))
    assert(math.abs(stats.map(_.getAs[Double]("token_share")).sum - 1.0) < 1e-12)
  }

  test("simpsonConcentration: exact rational on a paper-checkable doc") {
    val docs = Seq(
      (0L, "a a a b"),   // pairs = 3*2 = 6, n(n-1) = 12 -> 0.5; top 3/4
      (1L, "only"),      // n < 2 -> simpson 0 by convention
      (2L, "x y z w")    // all distinct -> 0
    ).toDF("doc_id", "text")
    val out = TextAnalysis.simpsonConcentration(docs).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_tokens") === 4L)
    assert(out(0).getAs[Long]("n_types") === 2L)
    assert(out(0).getAs[Double]("simpson") === 0.5)
    assert(out(0).getAs[Double]("top_share") === 0.75)
    assert(out(1).getAs[Double]("simpson") === 0.0)
    assert(out(2).getAs[Double]("simpson") === 0.0)
    assert(out(2).getAs[Double]("top_share") === 0.25)
  }

  test("exportManifest: checksums tie to the assignment; stream_sum is order-sensitive") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val manifest = Sampling.exportManifest(docs).collect()
    // membership ledger ties to shardStats exactly
    val stats = Sampling.shardStats(docs).collect()
      .map(r => r.getAs[Long]("shard") -> (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))
      .toMap
    manifest.foreach { r =>
      assert((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))
        === stats(r.getAs[Long]("shard")))
    }
    // cross-validate both checksums against an independent digest×position
    // join of shardAssign (the window the manifest folds over)
    val digests = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.hash31(md5(col("text")), 1048576L).as("digest"))
    val joined = Sampling.shardAssign(docs).join(digests, "doc_id")
      .groupBy("shard")
      .agg(sum("digest").as("cs"), sum(col("digest") * col("pos")).as("ss"))
      .collect()
      .map(r => r.getAs[Long]("shard") -> (r.getAs[Long]("cs"), r.getAs[Long]("ss")))
      .toMap
    manifest.foreach { r =>
      assert((r.getAs[Long]("content_sum"), r.getAs[Long]("stream_sum"))
        === joined(r.getAs[Long]("shard")))
    }
    // physical layout cannot move the checksums
    val again = Sampling.exportManifest(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("content_sum"), r.getAs[Long]("stream_sum")))
    assert(manifest.map(r => (r.getLong(0), r.getAs[Long]("content_sum"),
      r.getAs[Long]("stream_sum"))).sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
    // order sensitivity on paper: digests d1≠d2 at pos 1,2 — swapping them
    // keeps content_sum and moves stream_sum by (d1−d2)
    val d1 = 7L; val d2 = 3L
    assert(d1 * 1 + d2 * 2 !== d2 * 1 + d1 * 2)
    assert(d1 + d2 === d2 + d1)
  }

  test("leakageGuardSplit: clusters never straddle; naive counterfactual measured") {
    val docs = (0L to 9L).map(i => (i, s"tok$i words enough here")).toDF("doc_id", "text")
    // hand cluster structure: {0,1,2} and {3,4} are near-dup groups
    val clusters = Seq(
      (0L, 0L, 3L), (1L, 0L, 3L), (2L, 0L, 3L),
      (3L, 3L, 2L), (4L, 3L, 2L),
      (5L, 5L, 1L), (6L, 6L, 1L), (7L, 7L, 1L), (8L, 8L, 1L), (9L, 9L, 1L)
    ).toDF("doc_id", "cluster_id", "cluster_size")
    val out = Sampling.leakageGuardSplit(docs, clusters).collect()
    assert(out.forall(_.getAs[Long]("leaked_pairs") === 0L),
      "guarded assignment must keep every cluster in one split")
    assert(out.map(_.getAs[Long]("n_docs")).sum === 10L)
    assert(out.map(_.getAs[Long]("n_clusters")).sum === 7L,
      "each cluster lands in exactly one split, so per-split counts sum to 7")
    // compute the naive counterfactual independently from splitFor itself
    val naive = docs.select(col("doc_id"),
      Sampling.splitFor(col("doc_id")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def pairsLeaked(members: Seq[Long]): Long = {
      val bySplit = members.groupBy(naive).values.map(_.size.toLong)
      val n = members.size.toLong
      (n * (n - 1) - bySplit.map(k => k * (k - 1)).sum) / 2
    }
    val expectedNaive = pairsLeaked(Seq(0L, 1L, 2L)) + pairsLeaked(Seq(3L, 4L))
    assert(out.head.getAs[Long]("leaked_pairs_naive") === expectedNaive)
    // docs_moved agrees with a direct recomputation
    val guard = docs.join(clusters, "doc_id").select(col("doc_id"),
      Sampling.splitFor(col("cluster_id")).as("g")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val moved = (0L to 9L).count(i => guard(i) != naive(i)).toLong
    assert(out.head.getAs[Long]("docs_moved") === moved)
  }

  test("qualityVsDup: decile partition of the corpus, dup counts tie to the index") {
    val docs = Seq(
      (0L, "a b c d e f g h"),       // distinct tokens: high ttr
      (1L, "a b c d e f g h"),       // exact dup of 0
      (2L, "the the the the the")    // stopword soup: quality 0 bucket
    ).toDF("doc_id", "text")
    val clusters = Seq(
      (0L, 0L, 2L), (1L, 0L, 2L), (2L, 2L, 1L)
    ).toDF("doc_id", "cluster_id", "cluster_size")
    val out = Corpus.qualityVsDup(docs, clusters).orderBy("decile").collect()
    assert(out.map(_.getAs[Long]("n_docs")).sum === 3L)
    assert(out.map(_.getAs[Long]("n_dup_docs")).sum === 2L)
    out.foreach { r =>
      val d = r.getAs[Long]("decile")
      assert(d >= 0L && d <= 9L)
      assert(r.getAs[Double]("dup_frac")
        === r.getAs[Long]("n_dup_docs").toDouble / r.getAs[Long]("n_docs"))
    }
    // the stopword-soup doc scores quality 0 -> decile 0, and is not a dup
    val zero = out.find(_.getAs[Long]("decile") === 0L).get
    assert(zero.getAs[Long]("n_docs") >= 1L)
  }

  test("bpeMergeApply: round-1 winner merged, round-2 pairs recounted") {
    // words: "aa"×2, "ab"×1 → round-1 pairs: "a a"=2, "a b"=1 → merge "a a".
    // After the merge "aa" is one symbol (no pairs); only "a b" remains.
    val docs = Seq((0L, "aa aa ab")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeMergeApply(docs).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("merge_applied") === "a a")
    assert(out.head.getAs[String]("pair") === "a b")
    assert(out.head.getAs[Long]("pair_count") === 1L)
    // greedy left-to-right non-overlap: "aaa" → "aa a", pairing "aa a"
    val docs2 = Seq((0L, "aaa aaa aa")).toDF("doc_id", "text")
    val out2 = TextAnalysis.bpeMergeApply(docs2).collect()
    assert(out2.map(r => (r.getAs[String]("pair"), r.getAs[Long]("pair_count")))
      .toSeq === Seq(("aa a", 2L)))
  }

  test("funnelOrder: filter-first rescues when the cluster rep fails a gate") {
    // doc1: 19 distinct tokens — quality 0.19 (cluster max) but FAILS the
    // ≥20-token gate; doc2: 20 tokens, quality 0.11 — passes every gate;
    // doc3: singleton, passes everything
    val d1 = (1 to 19).map(i => s"w$i").mkString(" ")
    val d2 = "a b a c a d a e a f a g a h a i a j a k"
    val d3 = (1 to 30).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, d1, "s1"), (2L, d2, "s1"), (3L, d3, "s2"))
      .toDF("doc_id", "text", "source")
    val clusters = Seq((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L))
      .toDF("doc_id", "cluster_id", "cluster_size")
    val out = Corpus.funnelOrder(docs, clusters, minQuality = 0.05)
      .orderBy("source").collect()
    val s1 = out(0); val s2 = out(1)
    // dedup-first elects doc1, the gate rejects it, the cluster is lost;
    // filter-first elects doc2 instead — one rescue, zero extra drops
    assert(s1.getAs[Long]("n_kept_dedup_first") === 0L)
    assert(s1.getAs[Long]("n_kept_filter_first") === 1L)
    assert(s1.getAs[Long]("n_rescued_by_filter_first") === 1L)
    assert(s1.getAs[Long]("n_dropped_by_filter_first") === 0L)
    assert(s1.getAs[Long]("tokens_filter_first") === 20L)
    // the singleton is unaffected by ordering
    assert(s2.getAs[Long]("n_kept_dedup_first") === 1L)
    assert(s2.getAs[Long]("n_kept_filter_first") === 1L)
    assert(s2.getAs[Long]("n_dropped_by_filter_first") === 0L)
  }

  test("transitions: consecutive same-user pairs only, prob out of source type") {
    val events = Seq(
      (1L, 1L, "a", 1L), (1L, 2L, "b", 2L), (1L, 3L, "a", 3L),
      (2L, 4L, "a", 1L), (2L, 5L, "a", 2L),
      (3L, 6L, "c", 5L)) // single event: no pair
      .map { case (u, id, ty, t) => (u, id, ty, t * 1000000L) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = graft.operators.EventAnalytics.transitions(events)
      .orderBy("from_type", "to_type").collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_from"),
        r.getAs[Double]("prob")))
    assert(out.toSeq === Seq(
      ("a", "a", 1L, 2L, 0.5), ("a", "b", 1L, 2L, 0.5),
      ("b", "a", 1L, 1L, 1.0)))
  }

  test("transitions: equal-ms events order by event_id (total order)") {
    val events = Seq((1L, 10L, "x", 1L), (1L, 11L, "y", 1L))
      .map { case (u, id, ty, t) => (u, id, ty, t * 1000000L) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = graft.operators.EventAnalytics.transitions(events).collect()
    assert(out.length === 1)
    assert(out.head.getAs[String]("from_type") === "x")
    assert(out.head.getAs[String]("to_type") === "y")
  }

  test("activeUsers: DAU exact, rolling window spans windowDays, stickiness ratio") {
    val dayNs = 86400000L * 1000000L
    val events = Seq(
      (1L, 0L), (1L, 1L), (1L, 2L),   // u1 active days 0-2
      (2L, 0L), (2L, 7L))             // u2 active days 0 and 7
      .zipWithIndex
      .map { case ((u, d), i) => (u, i.toLong, "e", d * dayNs + 1000000L) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = graft.operators.EventAnalytics.activeUsers(events)
      .orderBy("day").collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("dau"),
        r.getAs[Long]("wau"), r.getAs[Double]("stickiness")))
    assert(out.toSeq === Seq(
      (0L, 2L, 2L, 1.0),        // both users on day 0
      (1L, 1L, 2L, 0.5),        // window [-5,1] still sees u2's day 0
      (2L, 1L, 2L, 0.5),
      (7L, 1L, 2L, 0.5)))       // window [1,7]: u1 (days 1-2) + u2 (day 7)
  }

  test("temperatureAllocation: sqrt weights quantized, shares exact rationals") {
    val docs = Seq(
      (1L, "w w w w", "s0"),    // 4 tokens -> sqrt 2.0 -> 2000
      (2L, "w", "s1"))          // 1 token  -> sqrt 1.0 -> 1000
      .toDF("doc_id", "text", "source")
    val out = Sampling.temperatureAllocation(docs, budgetTokens = 3000L)
      .orderBy("source").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("weight_q"), r.getAs[Double]("share"),
        r.getAs[Double]("alloc_tokens"), r.getAs[Double]("epochs")))
    assert(out.toSeq === Seq(
      ("s0", 4L, 2000L, 2.0 / 3.0, 2000.0, 500.0),
      ("s1", 1L, 1000L, 1.0 / 3.0, 1000.0, 1000.0)))
    // temperature flattens: the small source's share (1/3) exceeds its
    // proportional token share (1/5)
    assert(out(1)._4 > 1.0 / 5.0)
  }

  test("qualityThresholdSweep: monotone retention, exact counts at each cutoff") {
    // quality("w w w x") = min(4/100,1) * (2/4) * 1.0 = 0.02
    // quality of a 50-token all-distinct doc = 0.5 * 1.0 * 1.0 = 0.5
    val distinct50 = (1 to 50).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, "w w w x"), (2L, distinct50)).toDF("doc_id", "text")
    val out = Corpus.qualityThresholdSweep(docs,
      thresholds = Seq(0.0, 0.1, 0.5, 0.9))
      .orderBy("threshold").collect()
      .map(r => (r.getAs[Double]("threshold"), r.getAs[Long]("n_docs_kept"),
        r.getAs[Long]("n_tokens_kept"), r.getAs[Double]("doc_frac"),
        r.getAs[Double]("token_frac")))
    assert(out.toSeq === Seq(
      (0.0, 2L, 54L, 1.0, 1.0),
      (0.1, 1L, 50L, 0.5, 50.0 / 54.0),
      (0.5, 1L, 50L, 0.5, 50.0 / 54.0),  // score 0.5 passes >= 0.5
      (0.9, 0L, 0L, 0.0, 0.0)))
  }

  test("vocabCoverage: top-N mass exact, saturates at the vocabulary size") {
    // freqs: a=4, b=2, c=1 -> ranks a=1, b=2, c=3; total 7
    val docs = Seq((1L, "a a b"), (2L, "a a b c")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabCoverage(docs, anchors = Seq(1L, 2L, 100L))
      .orderBy("n_top").collect()
      .map(r => (r.getAs[Long]("n_top"), r.getAs[Long]("n_types_used"),
        r.getAs[Long]("covered_tokens"), r.getAs[Long]("total_tokens"),
        r.getAs[Double]("coverage")))
    assert(out.toSeq === Seq(
      (1L, 1L, 4L, 7L, 4.0 / 7.0),
      (2L, 2L, 6L, 7L, 6.0 / 7.0),
      (100L, 3L, 7L, 7L, 1.0)))   // anchor past the vocab saturates
  }

  test("hourlyAnomaly: spike flagged by the median +- 3*MAD band, base hours not") {
    val hourNs = 3600000L * 1000000L
    // hours 0..4 carry 10,10,10,12,100 events -> med 10, MAD 0 is wrong:
    // deviations |0,0,0,2,90| -> med of sorted (0,0,0,2,90) = 0... use
    // counts 8,10,10,12,100: deviations 2,0,0,2,90 -> mad = 2
    val counts = Seq(8, 10, 10, 12, 100)
    val rows = counts.zipWithIndex.flatMap { case (n, h) =>
      (1 to n).map(i => (h * 100L + i, i.toLong, "e", h * hourNs + i * 1000000L))
    }
    val events = rows.toDF("user_id", "event_id", "event_type", "ts")
    val out = graft.operators.EventAnalytics.hourlyAnomaly(events)
      .orderBy("hour").collect()
      .map(r => (r.getAs[Long]("hour"), r.getAs[Long]("n_events"),
        r.getAs[Double]("med"), r.getAs[Double]("mad"),
        r.getAs[Boolean]("is_anomaly")))
    assert(out.map(_._2).toSeq === Seq(8L, 10L, 10L, 12L, 100L))
    assert(out.forall(r => r._3 === 10.0 && r._4 === 2.0), s"med/mad: ${out.toSeq}")
    // |8-10| = 2 <= 6, |12-10| = 2 <= 6, |100-10| = 90 > 6
    assert(out.map(_._5).toSeq === Seq(false, false, false, false, true))
  }

  test("pqRecallCurve: recall monotone non-increasing structure, bounded [0,1]") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.pqRecallCurve(emb).orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_hits"),
        r.getAs[Double]("recall")))
    assert(out.map(_._1).toSeq === Seq(1L, 3L, 5L))
    out.foreach { case (k, h, rec) =>
      assert(h >= 0L && h <= k * 10)
      assert(rec >= 0.0 && rec <= 1.0)
      assert(rec === h.toDouble / (k * 10))
    }
    // hits can only accumulate as the cutoff loosens
    assert(out(0)._2 <= out(1)._2 && out(1)._2 <= out(2)._2)
  }

  test("semDedupBanded: equals the exact screen whenever clusters fit the band") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // sf0.001 clusters are far smaller than 128 ranks, so the banded
    // screen must reproduce the exact ledger bit-for-bit
    val exact = Similarity.semDedup(emb).orderBy("vec_id").collect().toSeq
    val banded = Similarity.semDedupBanded(emb).orderBy("vec_id").collect().toSeq
    assert(banded === exact)
  }

  test("semDedupBanded: a tight band only under-drops (kept is a superset)") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exactKept = Similarity.semDedup(emb).filter(col("kept"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val bandedKept = Similarity.semDedupBanded(emb, band = 1)
      .filter(col("kept")).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(exactKept.subsetOf(bandedKept),
      "the banded lower bound may only KEEP more, never drop more")
  }

  test("semDedupBanded: no multi-column broadcast hash join in the final plan") {
    val out = Similarity.semDedupBanded(
      graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001"))
    out.collect()
    assert(graft.testutil.PlanNodes.multiKeyBroadcastJoins(out).isEmpty,
      out.queryExecution.executedPlan.treeString)
  }

  test("semDedupBanded: the Lloyd rounds run once, behind the centroid scaffold") {
    val out = Similarity.semDedupBanded(
      graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001"))
    out.collect()
    // each Lloyd round's mean explodes every vector into its components;
    // trained through ivfIndexBuild, those rounds sit behind a checkpoint
    // and the final plan keeps only the band join's two-block explode
    val gens = graft.testutil.PlanNodes.generators(out)
    assert(gens.contains("explode"), gens)
    assert(!gens.contains("posexplode"), out.queryExecution.executedPlan.treeString)
  }

  test("pathTopK: 3-step windows per user, counts weight repeats, rank total order") {
    // u1 timeline: a b a b -> paths (a,b,a), (b,a,b); u2: a b a -> (a,b,a)
    val events = Seq(
      (1L, 1L, "a", 1L), (1L, 2L, "b", 2L), (1L, 3L, "a", 3L), (1L, 4L, "b", 4L),
      (2L, 5L, "a", 1L), (2L, 6L, "b", 2L), (2L, 7L, "a", 3L))
      .map { case (u, id, ty, t) => (u, id, ty, t * 1000000L) }
      .toDF("user_id", "event_id", "event_type", "ts")
    val out = graft.operators.EventAnalytics.pathTopK(events).orderBy("rnk")
      .collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[String]("s1"),
        r.getAs[String]("s2"), r.getAs[String]("s3"), r.getAs[Long]("n_paths")))
    assert(out.toSeq === Seq(
      (1L, "a", "b", "a", 2L),
      (2L, "b", "a", "b", 1L)))
  }

  test("userActivityOctaves: integer-exact floor(log2) buckets and shares") {
    // users with 1, 2, 3, 8 events -> octaves 0, 1, 1, 3
    val rows = Seq((1L, 1), (2L, 2), (3L, 3), (4L, 8)).flatMap { case (u, n) =>
      (1 to n).map(i => (u, u * 100 + i, "e", (u * 1000 + i) * 1000000L))
    }
    val events = rows.toDF("user_id", "event_id", "event_type", "ts")
    val out = graft.operators.EventAnalytics.userActivityOctaves(events)
      .orderBy("octave").collect()
      .map(r => (r.getAs[Long]("octave"), r.getAs[Long]("n_users"),
        r.getAs[Long]("n_events")))
    assert(out.toSeq === Seq((0L, 1L, 1L), (1L, 2L, 5L), (3L, 1L, 8L)))
  }

  test("lagSla: conditional counts per threshold over one pass") {
    val lane = Seq(5L, 50L, 500L, 5000L, 50000L).toDF("lag_ms")
    val out = graft.cdc.MetricsAgg.lagSla(lane, "log").orderBy("sla_ms")
      .collect()
      .map(r => (r.getAs[Long]("sla_ms"), r.getAs[Long]("n_within"),
        r.getAs[Long]("n_events"), r.getAs[Double]("within_frac")))
    assert(out.toSeq === Seq(
      (10L, 1L, 5L, 0.2), (100L, 2L, 5L, 0.4),
      (1000L, 3L, 5L, 0.6), (10000L, 4L, 5L, 0.8)))
  }

  test("ivfBalance: list loads partition the corpus, balance >= its floor") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val out = Similarity.ivfBalance(emb).collect()
    assert(out.map(_.getAs[Long]("n_vecs")).sum === n,
      "every vector lands in exactly one list")
    out.foreach { r =>
      assert(r.getAs[Double]("expected_load") === n / 16.0)
      assert(r.getAs[Double]("balance") > 0.0)
    }
    assert(out.map(_.getAs[Double]("balance")).max >= 1.0 - 1e-9,
      "the hottest list is at or above the uniform expectation")
  }

  test("pqBalance: loads partition the corpus per subspace, balance >= 1") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val out = Similarity.pqBalance(emb).collect()
    assert(out.length === 8, "one row per subspace")
    out.foreach { r =>
      val used = r.getAs[Long]("n_codes_used")
      assert(used >= 1L && used <= 32L)
      assert(r.getAs[Long]("max_load") >= r.getAs[Long]("min_load"))
      assert(r.getAs[Double]("expected_load") === n / 32.0)
      assert(r.getAs[Double]("balance") >= 1.0 - 1e-9,
        "max load can never be below the uniform expectation")
    }
  }

  test("aspectBuckets: exact nearest rung, tie to the lower index, " +
      "ceil-division letterbox") {
    val meta = Seq(
      (0L, 100L, 100L),  // exactly 1:1 — zero padding
      (1L, 160L, 90L),   // exactly 16:9 — zero padding
      (2L, 150L, 100L),  // 3:2 — nearest rung 4:3, pads height to 113
      (3L, 7L, 6L)       // equidistant 1:1 / 4:3 — lower index (1:1) wins
    ).toDF("doc_id", "width", "height")
    val out = graft.llm.Multimodal.aspectBuckets(meta).orderBy("bucket").collect()
      .map(r => r.getAs[String]("bucket") ->
        (r.getAs[Long]("n_images"), r.getAs[Long]("native_pixels"),
         r.getAs[Long]("padded_pixels"), r.getAs[Double]("waste_frac"))).toMap
    assert(out.keySet === Set("1:1", "16:9", "4:3"))
    // 1:1 holds the exact square AND the 7x6 tie (padded to 7x7)
    assert(out("1:1") === ((2L, 100L * 100 + 42, 100L * 100 + 49,
      7.0 / (100L * 100 + 49))))
    assert(out("16:9") === ((1L, 160L * 90, 160L * 90, 0.0)))
    // 150x100 → 4:3: w·q=450 ≥ p·h=400 ⇒ pad height to ceil(450/4)=113
    assert(out("4:3") === ((1L, 15000L, 150L * 113, 1950.0 / (150L * 113))))
  }

  test("reservoirSample: bottom-k by hash per source, stable across runs") {
    val docs = (0L to 8L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    val once = Sampling.reservoirSample(docs, k = 2).orderBy("source", "rnk")
    val rows = once.collect()
    assert(rows.length === 6, "two winners per source")
    for (src <- Seq("src0", "src1", "src2")) {
      val s = rows.filter(_.getAs[String]("source") == src)
      assert(s.map(_.getAs[Long]("rnk")).toSeq === Seq(1L, 2L))
      assert(s(0).getAs[Long]("h") <= s(1).getAs[Long]("h"),
        "rank must follow the hash order")
    }
    val again = Sampling.reservoirSample(docs, k = 2).orderBy("source", "rnk")
    assert(again.collect().toSeq === rows.toSeq, "the sample is a pure function")
  }

  test("gopherAblation: marginals are consistent with the composite gate") {
    val good = "the quick brown fox jumps over the lazy dog and runs home"
    val docs = Seq(
      (0L, good),                                  // passes everything
      (1L, "x " * 40 + "y"),                       // no stopwords: fails stop only
      (2L, "#### #### #### ####"),                 // symbols + alpha + stop fail
      (3L, good + " " + ("#" * 90))                // symbol ratio + word len
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherAblation(docs).collect()
      .map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_fail"), r.getAs[Long]("n_fail_only"))).toMap
    assert(out.keySet === Set("word_len", "alpha", "symbol", "stop", "any"))
    for ((r, (f, o)) <- out if r != "any")
      assert(o <= f, s"$r: the marginal cannot exceed the alone count")
    val onlySum = Seq("word_len", "alpha", "symbol", "stop").map(out(_)._2).sum
    assert(out("any")._2 === onlySum,
      "the any row's marginal is the sum of exactly-one-rule failures")
    assert(out("any")._1 <= Seq("word_len", "alpha", "symbol", "stop")
      .map(out(_)._1).sum, "union bound")
    assert(out("stop")._1 >= 1, "doc 1 must fail the stopword gate")
  }

  test("normProfile: quantized norm sums are exact; mean is the one division") {
    val emb = Seq(
      (0L, Array(3.0f, 4.0f), 1),   // norm 5
      (1L, Array(6.0f, 8.0f), 1),   // norm 10
      (2L, Array(0.0f, 2.0f), 2)    // norm 2
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.normProfile(emb).orderBy("label").collect()
    val q = 1048576L
    // checksum contract: modulo ChecksumPrime, a no-op at these sizes
    def sumQ(r: org.apache.spark.sql.Row): Long =
      r.getAs[Long]("sum_norm_qm")
    assert(out(0).getAs[Long]("n_vecs") === 2L)
    assert(sumQ(out(0)) === 5 * q + 10 * q)
    assert(out(0).getAs[Long]("min_norm_q") === 5 * q)
    assert(out(0).getAs[Long]("max_norm_q") === 10 * q)
    assert(out(0).getAs[Double]("mean_norm") === 7.5)
    assert(sumQ(out(1)) === 2 * q)
  }

  test("centroidCone: orthogonal pair's centroid cosine is floor-exact") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidCone(emb).collect().head
    // centroid = (0.5, 0.5); each cos = 0.5/sqrt(0.5) = sqrt(0.5);
    // cq = floor(sqrt(0.5) * 2^20) = 741455 for BOTH rows
    assert(out.getAs[Long]("n_vecs") === 2L)
    assert(out.getAs[Long]("min_cos_q") === 741455L)
    assert(out.getAs[Long]("max_cos_q") === 741455L)
    assert(math.abs(out.getAs[Double]("mean_cos") - 741455.0 / 1048576.0) < 1e-12)
    assert(math.abs(out.getAs[Double]("centroid_norm") - math.sqrt(0.5)) < 1e-9)
  }

  test("centroidCone: identical vectors collapse to mean_cos 1 (tight cone)") {
    val emb = Seq(
      (0L, Array(2.0f, 0.0f), 1),
      (1L, Array(2.0f, 0.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidCone(emb).collect().head
    assert(out.getAs[Long]("min_cos_q") === 1048576L) // floor(1.0 * 2^20)
    assert(out.getAs[Double]("mean_cos") === 1.0)
  }

  test("dimVariance: E[x^2] - E[x]^2 recovered exactly from quantized sums") {
    val emb = Seq(
      (0L, Array(1.0f, 3.0f), 1),
      (1L, Array(3.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.dimVariance(emb).orderBy("pos").collect()
    assert(out.length === 2)
    for (r <- out) {
      assert(r.getAs[Long]("n") === 2L)
      assert(r.getAs[Long]("sum_q") === 4L * 1048576L)
      // var of {1, 3} is 1.0; quantization is exact for these values
      assert(math.abs(r.getAs[Double]("variance") - 1.0) < 1e-12)
    }
  }
}
