package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Argmax-by-cosine over a broadcast centroid array, evaluated per row.
  *
  * Replaces the `join(broadcast(centroids)) → groupBy(vec_id).max_by(...)`
  * shape: that plan fans every corpus row out ×nLists through the broadcast
  * join and then pays a corpus-sized hash Exchange to fold the fan-out back
  * down to one winner per vector. With the centroids collected into ONE
  * sorted array (an nLists-row aggregate, broadcast as a 1-row frame), the
  * argmax is a per-row projection: no fan-out, no Exchange — the guide's
  * "remove shuffles outright" applied to every Lloyd iteration and every
  * index-assignment pass.
  *
  * Bit-compatibility contract (the reason this is an expression and not a
  * rewrite of the math): for each candidate, `cos = arrayDot(emb, c_emb) /
  * (nrm * c_nrm)` — the identical multiply/divide sequence the join form
  * computed — and the winner is selected by `SQLOrderingUtil.compareDoubles`
  * with ties broken toward the SMALLER c_id, exactly the
  * `max_by(struct(c_id ...), struct(c_cos, -c_id))` ordering (NaN greatest,
  * -0.0 == 0.0). Candidates MUST be sorted ascending by c_id (array_sort of
  * the collected struct does this — c_id leads the struct), so "first wins
  * on ties" reproduces the neg_id tie-break.
  *
  * `cands` is `array<struct<c_id: long, c_emb: array<float|double>,
  * c_nrm: double>>`; returns `struct<c_id: long, c_cos: double>`, or null
  * for an EMPTY candidate array. The null case is unreachable by
  * construction in every declared pipeline (the centroid seed is the
  * first nLists corpus vectors, so the folded array is non-empty whenever
  * the corpus is), which is why callers treat the projection as total; a
  * pipeline that could genuinely present an empty index must filter the
  * null result itself.
  */
case class NearestCentroid(emb: Expression, nrm: Expression, cands: Expression)
    extends TernaryExpression {

  override def first: Expression = emb
  override def second: Expression = nrm
  override def third: Expression = cands

  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def dataType: DataType = StructType(Seq(
    StructField("c_id", LongType, nullable = false),
    StructField("c_cos", DoubleType, nullable = false)))

  private def candElem: StructType = cands.dataType match {
    case ArrayType(st: StructType, _) => st
    case other => throw new IllegalArgumentException(
      s"nearest_centroid: candidate array of structs expected, got $other")
  }

  // integral element types are REJECTED AT ANALYSIS TIME (round-18,
  // review finding): the join form's ArrayDot accepted int/long arrays,
  // but this expression's accessors are float/double only — failing in
  // checkInputDataTypes turns what was an execution/codegen-time throw
  // into a planner error at the call site
  override def checkInputDataTypes(): TypeCheckResult = {
    def floaty(t: DataType): Boolean = t == FloatType || t == DoubleType
    val embOk = emb.dataType match {
      case ArrayType(t, _) => floaty(t)
      case _ => false
    }
    val candsOk = cands.dataType match {
      case ArrayType(st: StructType, _) if st.fields.length == 3 =>
        st.fields(0).dataType == LongType &&
          (st.fields(1).dataType match {
            case ArrayType(t, _) => floaty(t)
            case _ => false
          }) && st.fields(2).dataType == DoubleType
      case _ => false
    }
    if (embOk && nrm.dataType == DoubleType && candsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "nearest_centroid: expected (array<float|double>, double, " +
        s"array<struct<long, array<float|double>, double>>), got " +
        s"(${emb.dataType.simpleString}, ${nrm.dataType.simpleString}, " +
        s"${cands.dataType.simpleString})")
  }

  private def cEmbElemType: DataType = candElem.fields(1).dataType match {
    case ArrayType(t, _) => t
    case t => t
  }

  private def embElemType: DataType = emb.dataType match {
    case ArrayType(t, _) => t
    case t => t
  }

  override def nullSafeEval(e: Any, n: Any, cs: Any): Any = {
    val x = e.asInstanceOf[ArrayData]
    val nrmV = n.asInstanceOf[Double]
    val arr = cs.asInstanceOf[ArrayData]
    val nc = arr.numElements()
    if (nc == 0) return null
    val xt = embElemType
    val ct = cEmbElemType
    def get(a: ArrayData, t: DataType, i: Int): Double = t match {
      case FloatType => a.getFloat(i).toDouble
      case DoubleType => a.getDouble(i)
      case other => throw new IllegalArgumentException(
        s"nearest_centroid: unsupported element type $other")
    }
    var bestId = 0L
    var bestCos = 0.0
    var have = false
    var i = 0
    while (i < nc) {
      val row = arr.getStruct(i, 3)
      val cId = row.getLong(0)
      val cEmb = row.getArray(1)
      val cNrm = row.getDouble(2)
      val m = math.min(x.numElements(), cEmb.numElements())
      var dot = 0.0
      var j = 0
      while (j < m) {
        dot += get(x, xt, j) * get(cEmb, ct, j)
        j += 1
      }
      val cos = dot / (nrmV * cNrm)
      if (!have || SQLOrderingUtil.compareDoubles(cos, bestCos) > 0) {
        have = true; bestId = cId; bestCos = cos
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestId, bestCos))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, n, cs) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val m = ctx.freshName("m")
      val nc = ctx.freshName("nc")
      val row = ctx.freshName("row")
      val cEmb = ctx.freshName("cEmb")
      val cNrm = ctx.freshName("cNrm")
      val cId = ctx.freshName("cId")
      val dot = ctx.freshName("dot")
      val cos = ctx.freshName("cos")
      val bestId = ctx.freshName("bestId")
      val bestCos = ctx.freshName("bestCos")
      val have = ctx.freshName("have")
      def get(arr: String, t: DataType, idx: String): String = t match {
        case FloatType => s"(double) $arr.getFloat($idx)"
        case DoubleType => s"$arr.getDouble($idx)"
        case other => throw new IllegalArgumentException(
          s"nearest_centroid: unsupported element type $other")
      }
      s"""
         |int $nc = $cs.numElements();
         |if ($nc == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $bestId = 0L; double $bestCos = 0.0; boolean $have = false;
         |  for (int $i = 0; $i < $nc; $i++) {
         |    InternalRow $row = $cs.getStruct($i, 3);
         |    long $cId = $row.getLong(0);
         |    org.apache.spark.sql.catalyst.util.ArrayData $cEmb = $row.getArray(1);
         |    double $cNrm = $row.getDouble(2);
         |    int $m = java.lang.Math.min($e.numElements(), $cEmb.numElements());
         |    double $dot = 0.0;
         |    for (int $j = 0; $j < $m; $j++) {
         |      $dot += ${get(e, embElemType, j)} * ${get(cEmb, cEmbElemType, j)};
         |    }
         |    double $cos = $dot / ($n * $cNrm);
         |    if (!$have || org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles($cos, $bestCos) > 0) {
         |      $have = true; $bestId = $cId; $bestCos = $cos;
         |    }
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(new Object[]{$bestId, $bestCos});
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestCentroid =
    copy(emb = newFirst, nrm = newSecond, cands = newThird)
}

/** Per-subspace argmin-by-L2 PQ code assignment over a broadcast codebook
  * array, evaluated per vector row — the whole `m`-subspace encode in one
  * projection.
  *
  * Replaces `posexplode(subvectors) → join(broadcast(cb)) →
  * groupBy(vec_id, s).min_by → groupBy(vec_id).collect_list`: an ×m row
  * fan-out, an ×kSub join fan-out and TWO corpus-sized hash Exchanges, all
  * to pick each subvector's nearest codeword. Here the sorted flat codebook
  * (`array_sort(collect_list(struct(s, code, c_sub, c_dot)))` — ascending
  * (s, code)) rides a 1-row broadcast and each vector row walks it once.
  *
  * Bit-compatibility: per candidate `d2 = c_dot − 2·arrayDot(sub, c_sub)`
  * (`sub` = the s-th `subDim`-slice of `emb`; identical arithmetic to the
  * join form), winner by `SQLOrderingUtil.compareDoubles` with ties to the
  * SMALLER code (= the `min_by(struct(code, sub), struct(d2, code))`
  * ordering; ascending-code walk + strict-less replacement reproduces it).
  * Output `struct<codes: array<long>, dotsum: double>`: one winning code per
  * s-group IN ASCENDING s ORDER (exactly the `array_sort(collect_list)`
  * order downstream consumed) and the sum of the winners' `c_dot` in the
  * same order (the `pqEncode` reconstructed-norm sum).
  *
  * COVERAGE CONTRACT (round-18, review finding): the codebook must carry
  * exactly the s-groups 0..m-1, in ascending order — consumers key codes
  * POSITIONALLY (`element_at(codes, s+1)`, the LUT fold), so an absent,
  * out-of-range or out-of-order s-group would silently shift codes into
  * the wrong subspace. Both evaluation paths check each group's s against
  * the number of codes emitted so far (`s0 == codes.size`, and below m):
  * that one comparison rejects absent, duplicate, permuted and
  * out-of-range groups, and the final `codes.size == m` rejects a short
  * codebook. Both throw the identical error on a malformed codebook
  * (they previously diverged: interpreted appended unboundedly, codegen
  * silently capped at m). Any codebook trained on a non-empty corpus
  * satisfies the contract.
  */
case class PqBestCodes(emb: Expression, cb: Expression, m: Int)
    extends BinaryExpression {

  override def left: Expression = emb
  override def right: Expression = cb

  override def nullable: Boolean = true
  override def prettyName: String = "pq_best_codes"

  override def dataType: DataType = StructType(Seq(
    StructField("codes", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("dotsum", DoubleType, nullable = false)))

  private def embElemType: DataType = emb.dataType match {
    case ArrayType(t, _) => t
    case t => t
  }

  private def cbElem: StructType = cb.dataType match {
    case ArrayType(st: StructType, _) => st
    case other => throw new IllegalArgumentException(
      s"pq_best_codes: codebook array of structs expected, got $other")
  }

  /** s is IntegerType when it comes off `posexplode`, LongType if cast. */
  private def sIsLong: Boolean = cbElem.fields.head.dataType == LongType

  // same analysis-time rejection as NearestCentroid: the accessors read
  // float/double embeddings and double codewords only
  override def checkInputDataTypes(): TypeCheckResult = {
    val embOk = emb.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val cbOk = cb.dataType match {
      case ArrayType(st: StructType, _) if st.fields.length == 4 =>
        (st.fields(0).dataType == IntegerType || st.fields(0).dataType == LongType) &&
          st.fields(1).dataType == LongType &&
          (st.fields(2).dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          }) && st.fields(3).dataType == DoubleType
      case _ => false
    }
    if (embOk && cbOk && m > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "pq_best_codes: expected (array<float|double>, " +
        "array<struct<int|long, long, array<double>, double>>, m > 0), got " +
        s"(${emb.dataType.simpleString}, ${cb.dataType.simpleString}, m=$m)")
  }

  /** Shared malformed-codebook error — thrown IDENTICALLY by the
    * interpreted and codegen paths (see the coverage contract above). */
  private def badCodebook(nGroups: Long): Nothing =
    throw PqBestCodes.malformed(nGroups, m)

  override def nullSafeEval(e: Any, c: Any): Any = {
    val x = e.asInstanceOf[ArrayData]
    val arr = c.asInstanceOf[ArrayData]
    val nc = arr.numElements()
    if (nc == 0) return null
    val subDim = x.numElements() / m
    val xt = embElemType
    def getX(i: Int): Double = xt match {
      case FloatType => x.getFloat(i).toDouble
      case DoubleType => x.getDouble(i)
      case other => throw new IllegalArgumentException(
        s"pq_best_codes: unsupported element type $other")
    }
    val codes = scala.collection.mutable.ArrayBuffer.empty[Long]
    var dotsum = 0.0
    var i = 0
    while (i < nc) {
      val s0 = if (sIsLong) arr.getStruct(i, 4).getLong(0)
        else arr.getStruct(i, 4).getInt(0).toLong
      if (s0 != codes.size || s0 >= m) badCodebook(s0)
      // argmin within this s-group
      var bestCode = 0L
      var bestD2 = 0.0
      var bestDot = 0.0
      var have = false
      var k = i
      var continue = true
      while (k < nc && continue) {
        val row = arr.getStruct(k, 4)
        val s = if (sIsLong) row.getLong(0) else row.getInt(0).toLong
        if (s != s0) continue = false
        else {
          val code = row.getLong(1)
          val cSub = row.getArray(2)
          val cDot = row.getDouble(3)
          val base = (s0.toInt) * subDim
          val n = math.min(subDim, cSub.numElements())
          var d = 0.0
          var j = 0
          while (j < n) {
            d += getX(base + j) * cSub.getDouble(j)
            j += 1
          }
          val d2 = cDot - 2.0 * d
          if (!have || SQLOrderingUtil.compareDoubles(d2, bestD2) < 0) {
            have = true; bestCode = code; bestD2 = d2; bestDot = cDot
          }
          k += 1
        }
      }
      codes += bestCode
      dotsum += bestDot
      i = k
    }
    if (codes.size != m) badCodebook(codes.size.toLong)
    new GenericInternalRow(Array[Any](new GenericArrayData(codes.toArray), dotsum))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, c) => {
      val nc = ctx.freshName("nc")
      val subDim = ctx.freshName("subDim")
      val codes = ctx.freshName("codes")
      val nCodes = ctx.freshName("nCodes")
      val dotsum = ctx.freshName("dotsum")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val j = ctx.freshName("j")
      val row = ctx.freshName("row")
      val s0 = ctx.freshName("s0")
      val s = ctx.freshName("s")
      val code = ctx.freshName("code")
      val cSub = ctx.freshName("cSub")
      val cDot = ctx.freshName("cDot")
      val base = ctx.freshName("base")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val d2 = ctx.freshName("d2")
      val bestCode = ctx.freshName("bestCode")
      val bestD2 = ctx.freshName("bestD2")
      val bestDot = ctx.freshName("bestDot")
      val have = ctx.freshName("have")
      val getS = (r: String) => if (sIsLong) s"$r.getLong(0)" else s"(long) $r.getInt(0)"
      val getX = (idx: String) => embElemType match {
        case FloatType => s"(double) $e.getFloat($idx)"
        case DoubleType => s"$e.getDouble($idx)"
        case other => throw new IllegalArgumentException(
          s"pq_best_codes: unsupported element type $other")
      }
      s"""
         |int $nc = $c.numElements();
         |if ($nc == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $subDim = $e.numElements() / $m;
         |  long[] $codes = new long[$m];
         |  int $nCodes = 0;
         |  double $dotsum = 0.0;
         |  int $i = 0;
         |  while ($i < $nc) {
         |    InternalRow $row = $c.getStruct($i, 4);
         |    long $s0 = ${getS(row)};
         |    if ($s0 != $nCodes || $s0 >= $m)
         |      throw graft.functions.PqBestCodes.malformed($s0, $m);
         |    long $bestCode = 0L; double $bestD2 = 0.0; double $bestDot = 0.0;
         |    boolean $have = false;
         |    int $k = $i;
         |    while ($k < $nc) {
         |      $row = $c.getStruct($k, 4);
         |      long $s = ${getS(row)};
         |      if ($s != $s0) break;
         |      long $code = $row.getLong(1);
         |      org.apache.spark.sql.catalyst.util.ArrayData $cSub = $row.getArray(2);
         |      double $cDot = $row.getDouble(3);
         |      int $base = ((int) $s0) * $subDim;
         |      int $n = java.lang.Math.min($subDim, $cSub.numElements());
         |      double $d = 0.0;
         |      for (int $j = 0; $j < $n; $j++) {
         |        $d += ${getX(s"$base + $j")} * $cSub.getDouble($j);
         |      }
         |      double $d2 = $cDot - 2.0 * $d;
         |      if (!$have || org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles($d2, $bestD2) < 0) {
         |        $have = true; $bestCode = $code; $bestD2 = $d2; $bestDot = $cDot;
         |      }
         |      $k++;
         |    }
         |    $codes[$nCodes] = $bestCode; $nCodes++;
         |    $dotsum += $bestDot;
         |    $i = $k;
         |  }
         |  if ($nCodes != $m)
         |    throw graft.functions.PqBestCodes.malformed((long) $nCodes, $m);
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(new Object[]{
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($codes), $dotsum});
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqBestCodes =
    copy(emb = newLeft, cb = newRight)
}

object PqBestCodes {
  /** The malformed-codebook error both evaluation paths throw (static so
    * whole-stage-codegen can call it; see the Hash31 note on naming —
    * no same-named class member, so the forwarder survives). */
  def malformed(seen: Long, m: Int): IllegalArgumentException =
    new IllegalArgumentException(
      "pq_best_codes: malformed codebook — expected the subspace groups " +
        s"s = 0..${m - 1} once each, in ascending order, saw $seen")
}
