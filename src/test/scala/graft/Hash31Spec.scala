package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, Hash31}

/** Parity tests for the reference hash (`src/changefeed/model.ts:92-109`):
  * `acc = (acc*31 + charCodeAt) % 9973`, `shouldDrop`, `partitionForKey`.
  * Expected values are hard-coded from hand-evaluating the reference
  * algorithm (charCodeAt = UTF-16 code unit).
  */
class Hash31Spec extends SparkSpec {

  test("hash31 matches hand-computed reference values") {
    // '4'=52, '2'=50: ((0*31+52)%9973)*31+50 = 1662
    assert(Hash31.hash("42", 9973) === 1662L)
    // 'a'=97
    assert(Hash31.hash("a", 9973) === 97L)
    // 'a','b': 97*31+98 = 3105
    assert(Hash31.hash("ab", 9973) === 3105L)
    // 'abc': 3105*31+99 = 96354 % 9973 = 96354 - 9*9973 = 6597
    assert(Hash31.hash("abc", 9973) === 6597L)
    assert(Hash31.hash("", 9973) === 0L)
    // modulus variant used by fingerprints
    assert(Hash31.hash("a", 1000003) === 97L)
  }

  test("hash31 expression evaluates in a plan (codegen path)") {
    import spark.implicits._
    val df = Seq("42", "ab", "abc", "").toDF("s")
      .select(GraftFunctions.hash31(col("s")).as("h"))
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(1662L, 3105L, 6597L, 0L))
  }

  test("shouldDrop and partitionForKey reproduce reference routing") {
    import spark.implicits._
    val df = Seq("7", "12", "99").toDF("pk").select(
      col("pk"),
      GraftFunctions.partitionForKey(col("pk"), 3).as("part"),
      GraftFunctions.shouldDrop(col("pk"), 0.1).as("drop"))
    // '7'=55 → 55 % 3 = 1; "12": (49*31+50)%9973 = 1569 % 3 = 0
    val expected = Map(
      "7" -> (55L % 3, 55L % 100 < 10),
      "12" -> (1569L % 3, 1569L % 100 < 10),
      "99" -> (Hash31.hash("99", 9973) % 3, Hash31.hash("99", 9973) % 100 < 10))
    df.collect().foreach { r =>
      val (p, d) = expected(r.getString(0))
      assert(r.getLong(1) === p && r.getBoolean(2) === d)
    }
  }

  test("winnowMin rolling hash equals re-hashing every window") {
    import graft.functions.WinnowMin
    def brute(s: String, w: Int, m: Long): Long =
      if (s.length <= w) Hash31.hash(s, m)
      else (0 to s.length - w).map(i => Hash31.hash(s.substring(i, i + w), m)).min
    val samples = Seq("", "a", "abcdefg", "abcdefgh", "abcdefghij",
      "the quick brown fox jumps over the lazy dog", "aaaaaaaaaaaaaaa", "zyxw vut 123 %$#")
    for (s <- samples; m <- Seq(9973L, 1000003L)) {
      assert(WinnowMin.minHash(s, 8, m) === brute(s, 8, m), s"mismatch for '$s' mod $m")
    }
    // and through a plan (codegen path)
    import spark.implicits._
    val viaPlan = samples.toDF("s")
      .select(GraftFunctions.winnowMin(col("s"), 8, 1000003L).as("w"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaPlan === samples.map(brute(_, 8, 1000003L)))
  }

  test("arrayDot matches the higher-order zip_with/aggregate fold bit-for-bit") {
    import spark.implicits._
    val df = Seq(
      (Array.tabulate(64)(i => math.sin(i + 1).toFloat),
        Array.tabulate(64)(i => math.cos(i * 2 + 1).toFloat)))
      .toDF("a", "b")
    val hof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val r = df.select(
      GraftFunctions.arrayDot(col("a"), col("b")).as("native"), hof.as("hof"))
      .collect().head
    assert(r.getDouble(0) === r.getDouble(1)) // exact, not approximate
    // mixed float/double inputs (kmeans centroids are double arrays)
    val mixed = df.select(GraftFunctions.arrayDot(
      col("a"), transform(col("b"), x => x.cast("double") * 2.0)).as("d"))
      .collect().head.getDouble(0)
    assert(mixed === r.getDouble(0) * 2.0) // scaling by 2 commutes with rounding
  }

  test("int8 codec: pack/unpack round-trip, byte dot == array dot bit-for-bit") {
    import spark.implicits._
    // integral doubles across the full int8 range, negative included
    val a = Array.tabulate(64)(i => ((i * 37) % 255 - 127).toDouble)
    val b = Array.tabulate(64)(i => ((i * 53 + 11) % 255 - 127).toDouble)
    val df = Seq((a, b)).toDF("a", "b")
    val r = df.select(
      GraftFunctions.unpackInt8(GraftFunctions.packInt8(col("a"))).as("rt"),
      GraftFunctions.int8Dot(
        GraftFunctions.packInt8(col("a")), GraftFunctions.packInt8(col("b"))).as("d8"),
      GraftFunctions.arrayDot(col("a"), col("b")).as("da"),
      length(GraftFunctions.packInt8(col("a"))).as("bytes"))
      .collect().head
    assert(r.getSeq[Double](0).toArray === a, "pack→unpack must be identity")
    assert(r.getDouble(1) === r.getDouble(2), "byte dot must equal array dot exactly")
    assert(r.getInt(3) === 64, "64 dims pack to exactly 64 bytes (4x under float32's 256)")
  }

  test("SQL registration makes hash31 usable inside lambdas") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT array_min(transform(array('ab','abc'), x -> hash31(x, 9973))) v")
      .collect().head.getLong(0)
    assert(r === 3105L)
  }

  test("pqBestCodes: coverage contract holds identically in codegen and interpreted paths") {
    import spark.implicits._
    // m=2, subDim=2; codebook covers s=0 and s=1 with one codeword each
    val good = typedLit(Seq(
      (0, 0L, Seq(1.0, 0.0), 1.0),
      (1, 0L, Seq(0.0, 1.0), 1.0)))
    // malformed: the s=1 group is ABSENT — must FAIL LOUDLY (the round-17
    // paths diverged: interpreted emitted a short array, codegen capped)
    val missing = typedLit(Seq((0, 0L, Seq(1.0, 0.0), 1.0)))
    // malformed: s out of range
    val oob = typedLit(Seq((2, 0L, Seq(1.0, 0.0), 1.0)))
    val df = Seq(Seq(1.0f, 2.0f, 3.0f, 4.0f)).toDF("embedding")
    def run(cbCol: org.apache.spark.sql.Column): Seq[Long] =
      df.select(GraftFunctions.pqBestCodes(col("embedding"), cbCol, 2).as("bc"))
        .select(col("bc.codes")).collect().head.getSeq[Long](0)
    for (wholeStage <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        assert(run(good) === Seq(0L, 0L), s"wholeStage=$wholeStage well-formed encode")
        for (bad <- Seq(missing, oob)) {
          val ex = intercept[Exception](run(bad))
          def chain(t: Throwable): Seq[String] =
            if (t == null) Nil else t.getMessage +: chain(t.getCause)
          assert(chain(ex).exists(m => m != null && m.contains("pq_best_codes")),
            s"wholeStage=$wholeStage must throw the pq_best_codes contract error, got $ex")
        }
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("pqBestCodes: permuted or repeated s-groups are rejected identically on both paths") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types._
    val emb = Literal.create(Seq(1.0f, 2.0f, 3.0f, 4.0f), ArrayType(FloatType))
    val cbType = ArrayType(StructType(Seq(StructField("s", IntegerType),
      StructField("code", LongType), StructField("sub", ArrayType(DoubleType)),
      StructField("c_dot", DoubleType))))
    def encode(cb: Seq[(Int, Long, Seq[Double], Double)]) = {
      val e = graft.functions.PqBestCodes(
        emb, Literal.create(cb.map(org.apache.spark.sql.Row.fromTuple), cbType), 2)
      // interpreted (nullSafeEval) and generated code, called directly
      (() => e.eval(InternalRow.empty),
        () => GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty))
    }
    val (s0, s1) = ((0, 0L, Seq(1.0, 0.0), 1.0), (1, 0L, Seq(0.0, 1.0), 1.0))
    val (goodInterp, goodCodegen) = encode(Seq(s0, s1))
    val good = goodInterp().asInstanceOf[InternalRow]
    assert(good.getArray(0).toLongArray().toSeq === Seq(0L, 0L))
    assert(goodCodegen().getStruct(0, 2).getArray(0).toLongArray().toSeq === Seq(0L, 0L))
    // complete but permuted (the codes would land in the wrong subspace),
    // and complete plus a repeated group
    for (cb <- Seq(Seq(s1, s0), Seq(s0, s1, s0))) {
      val (interp, codegen) = encode(cb)
      val a = intercept[IllegalArgumentException](interp()).getMessage
      val b = intercept[IllegalArgumentException](codegen()).getMessage
      assert(a.contains("pq_best_codes"), a)
      assert(a === b, s"codebook $cb: interpreted and codegen errors differ")
    }
  }

  test("pqBestCodes/nearestCentroid reject integral element types at analysis time") {
    import spark.implicits._
    val intEmb = Seq(Seq(1, 2, 3, 4)).toDF("embedding")
    val cb = typedLit(Seq((0, 0L, Seq(1.0, 0.0), 1.0), (1, 0L, Seq(0.0, 1.0), 1.0)))
    intercept[org.apache.spark.sql.AnalysisException] {
      intEmb.select(GraftFunctions.pqBestCodes(col("embedding"), cb, 2)).queryExecution.analyzed
    }
    val cands = typedLit(Seq((0L, Seq(1.0, 0.0, 0.0, 0.0), 1.0)))
    intercept[org.apache.spark.sql.AnalysisException] {
      intEmb.select(GraftFunctions.nearestCentroid(col("embedding"), lit(1.0), cands))
        .queryExecution.analyzed
    }
  }
}
