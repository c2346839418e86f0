package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path.
  *
  * The `functions.zip_with`/`aggregate` formulation evaluates one interpreted
  * expression tree per ELEMENT; at 64-dim × 160 hyperplanes that is ~10k
  * interpreted evals per row. These expressions run the same math as tight
  * JVM loops over the unsafe array data — [[DotProductExpr]] participates in
  * whole-stage codegen (it sits inside join conditions and projections, the
  * pairwise-hot path), [[HyperplaneBucketsExpr]] computes ALL tables' LSH
  * buckets in one pass per row.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "two array<float|double> children",
      (left.dataType.catalogString, TextExprTypes.isVecArray(left.dataType)),
      (right.dataType.catalogString, TextExprTypes.isVecArray(right.dataType)))

  // loud on a wrong type even when the analyzer was bypassed (manually
  // built plans): a silent "Double" fallback would reinterpret raw bytes
  private def elemKind(e: Expression): String = e.dataType match {
    case ArrayType(FloatType, _) => "Float"
    case ArrayType(DoubleType, _) => "Double"
    case other => throw new IllegalArgumentException(
      s"vec_dot expects array<float|double>, got $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // equal dimensions, loudly: a silent min-length truncation would
    // score vectors from two different models (a 64-dim table joined
    // to a 32-dim one) on a PARTIAL dot product with no error anywhere
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"vec_dot dimension mismatch: ${x.numElements()} vs " +
          s"${y.numElements()}")
    val n = x.numElements()
    var s = 0.0
    var i = 0
    (elemKind(left), elemKind(right)) match {
      case ("Float", "Float") =>
        while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i); i += 1 }
      case ("Float", "Double") =>
        while (i < n) { s += x.getFloat(i) * y.getDouble(i); i += 1 }
      case ("Double", "Float") =>
        while (i < n) { s += x.getDouble(i) * y.getFloat(i); i += 1 }
      case _ =>
        while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val lk = elemKind(left); val rk = elemKind(right)
      // fresh locals: several vec_dot instances can share one generated
      // function (whole-stage codegen) — fixed names would collide in
      // Janino and silently drop the stage to interpreted execution
      val n = ctx.freshName("vdN")
      val s = ctx.freshName("vdS")
      val i = ctx.freshName("vdI")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "vec_dot dimension mismatch: " + $a.numElements() +
         |    " vs " + $b.numElements());
         |}
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.get$lk($i) * (double) $b.get$rk($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** All hyperplane-LSH bucket ids for one vector in a single pass:
  * output[t] = Σ_b (v · planes(t)(b) >= 0 ? 1L << b : 0).
  * `planes` ride along as a plain serialized field (tables × bits × dim
  * doubles — small), flattened once at construction for cache-friendly
  * access. CodegenFallback: one virtual call per ROW, tight loops inside —
  * the per-element interpretation is what mattered, not this dispatch.
  */
case class HyperplaneBucketsExpr(child: Expression,
                                 planes: Seq[Seq[Array[Double]]])
    extends UnaryExpression with CodegenFallback {

  // loud at CONSTRUCTION: 1L << b for b >= 64 wraps modulo 64 and
  // silently aliases bucket bits (LSH recall decays with no error);
  // empty planes would NPE lazily from a task at first row
  require(planes.nonEmpty && planes.head.nonEmpty,
    "hyperplane_buckets needs at least one table with one plane")
  require(planes.head.length <= 64,
    s"at most 64 bits per table (bucket is a long), got ${planes.head.length}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_buckets"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "an array<float|double> child",
      (child.dataType.catalogString, TextExprTypes.isVecArray(child.dataType)))

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"hyperplane_buckets expects array<float|double>, got $other")
  }
  @transient private lazy val nTables = planes.length
  @transient private lazy val nBits = planes.head.length
  @transient private lazy val dim = planes.head.head.length
  // flat[t*nBits*dim + b*dim + i]
  @transient private lazy val flat: Array[Double] = {
    val out = new Array[Double](nTables * nBits * dim)
    var o = 0
    planes.foreach(_.foreach { p =>
      System.arraycopy(p, 0, out, o, dim); o += dim
    })
    out
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dim)
    val vec = new Array[Double](n)
    var i = 0
    if (isFloat) while (i < n) { vec(i) = v.getFloat(i); i += 1 }
    else while (i < n) { vec(i) = v.getDouble(i); i += 1 }
    val buckets = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var acc = 0L
      var b = 0
      while (b < nBits) {
        val base = (t * nBits + b) * dim
        var s = 0.0
        i = 0
        while (i < n) { s += vec(i) * flat(base + i); i += 1 }
        if (s >= 0) acc |= (1L << b)
        b += 1
      }
      buckets(t) = acc
      t += 1
    }
    new GenericArrayData(buckets)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketsExpr =
    copy(child = newChild)
}

/** Indices of the `k` nearest centroids (cosine, ties → lower index) for
  * one vector — the IVF routing step as a pure per-row expression: no
  * crossJoin against a centroid table, no row_number window over
  * rows × centroids.
  *
  * Two probe shapes:
  *  - FLAT (`coarse` empty): score every fine centroid — O(nFine) dots.
  *  - TWO-LEVEL: score the `coarse` routing centroids, keep the
  *    `coarseProbes` best groups, score only their `members` —
  *    O(nCoarse + coarseProbes × nFine/nCoarse) dots, which is what lets
  *    nCentroids reach 10³⁺ (√n coarse over √n-sized groups).
  *
  * Centroid matrices ride in the expression: they are driver-trained and
  * control-plane-sized (nFine × dim doubles), broadcast with the task
  * binary like the LSH plane tensor above.
  */
case class NearestCentroidsExpr(child: Expression,
                                fine: Seq[Array[Double]],
                                coarse: Seq[Array[Double]],
                                members: Seq[Seq[Int]],
                                k: Int,
                                coarseProbes: Int)
    extends UnaryExpression with CodegenFallback {

  require(k >= 1, "k must be >= 1")
  require(coarseProbes >= 1, "coarseProbes must be >= 1")
  require(coarse.isEmpty == members.isEmpty,
    "coarse centroids and their member lists come together")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "an array<float|double> child",
      (child.dataType.catalogString, TextExprTypes.isVecArray(child.dataType)))

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"nearest_centroids expects array<float|double>, got $other")
  }
  @transient private lazy val fineArr = fine.toArray
  @transient private lazy val fineNorm = fineArr.map(c => normOf(c))
  @transient private lazy val coarseArr = coarse.toArray
  @transient private lazy val coarseNorm = coarseArr.map(c => normOf(c))
  @transient private lazy val memberArr = members.map(_.toArray).toArray

  private def normOf(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  private def dotWith(vec: Array[Double], c: Array[Double]): Double = {
    val n = math.min(vec.length, c.length)
    var s = 0.0; var i = 0
    while (i < n) { s += vec(i) * c(i); i += 1 }
    s
  }

  /** Top-`kk` candidate ids by (score desc, id asc), insertion-sorted —
    * kk is small (nprobe-scale), candidates iterate in ascending id.
    */
  private def topIds(vec: Array[Double], ids: Array[Int],
                     cents: Array[Array[Double]], norms: Array[Double],
                     kk: Int): Array[Int] = {
    val m = math.min(kk, ids.length)
    val outId = new Array[Int](m)
    val outScore = new Array[Double](m)
    var filled = 0
    var i = 0
    while (i < ids.length) {
      val id = ids(i)
      val s =
        if (norms(id) == 0.0) Double.NegativeInfinity
        else dotWith(vec, cents(id)) / norms(id)
      if (filled < m || s > outScore(filled - 1)) {
        var p = math.min(filled, m - 1)
        while (p > 0 && outScore(p - 1) < s) {
          outId(p) = outId(p - 1); outScore(p) = outScore(p - 1); p -= 1
        }
        outId(p) = id; outScore(p) = s
        if (filled < m) filled += 1
      }
      i += 1
    }
    if (filled == m) outId else outId.take(filled)
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val vec = new Array[Double](n)
    var i = 0
    if (isFloat) while (i < n) { vec(i) = v.getFloat(i); i += 1 }
    else while (i < n) { vec(i) = v.getDouble(i); i += 1 }

    val candidates: Array[Int] =
      if (coarseArr.isEmpty) Array.tabulate(fineArr.length)(identity)
      else {
        val groups = topIds(vec, Array.tabulate(coarseArr.length)(identity),
          coarseArr, coarseNorm, coarseProbes)
        val out = Array.newBuilder[Int]
        groups.foreach(g => out ++= memberArr(g))
        // sort + DEDUP: routing groups may overlap (a fine centroid can
        // be assigned to several coarse groups), and a duplicated
        // candidate would pass topIds' fill phase twice — the same id
        // returned twice, crowding out a genuine k-th neighbor
        val a = out.result(); java.util.Arrays.sort(a)
        var w = 0
        var r = 0
        while (r < a.length) {
          if (w == 0 || a(r) != a(w - 1)) { a(w) = a(r); w += 1 }
          r += 1
        }
        java.util.Arrays.copyOf(a, w)
      }
    new GenericArrayData(topIds(vec, candidates, fineArr, fineNorm, k))
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroidsExpr =
    copy(child = newChild)
}

/** Product-quantization codes for one vector: the dim-dimensional input is
  * split into `m = codebooks.length` contiguous sub-vectors and each is
  * replaced by the index of its nearest codeword (L2, ties → lower index)
  * in that subspace's codebook — `m` bytes instead of `dim` floats, the
  * 32×-compression representation a 100 TB ANN corpus actually stores.
  * Codebooks are driver-trained control-plane data (m × k × dsub doubles)
  * and ride in the expression like the centroid matrices above.
  */
case class PqEncodeExpr(child: Expression, codebooks: Seq[Seq[Array[Double]]])
    extends UnaryExpression with CodegenFallback {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "pq_encode needs at least one non-empty codebook")
  require(codebooks.forall(_.length <= 128),
    "pq_encode codes are signed bytes: codebook size must be <= 128")

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "an array<float|double> child",
      (child.dataType.catalogString, TextExprTypes.isVecArray(child.dataType)))

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"pq_encode expects array<float|double>, got $other")
  }
  @transient private lazy val m = codebooks.length
  @transient private lazy val dsub = codebooks.head.head.length
  // flat[(j*k + c)*dsub + i] with per-subspace k constant
  @transient private lazy val k = codebooks.head.length
  @transient private lazy val flat: Array[Double] = {
    require(codebooks.forall(_.length == k),
      "pq_encode codebooks must share one size k")
    require(codebooks.forall(_.forall(_.length == dsub)),
      "pq_encode codewords must share one sub-dimension")
    val out = new Array[Double](m * k * dsub)
    var o = 0
    codebooks.foreach(_.foreach { cw =>
      System.arraycopy(cw, 0, out, o, dsub); o += dsub
    })
    out
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val codes = new Array[Byte](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        val base = (j * k + c) * dsub
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val pos = j * dsub + i
          val x = if (pos >= n) 0.0
                  else if (isFloat) v.getFloat(pos).toDouble
                  else v.getDouble(pos)
          val diff = x - flat(base + i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best.toByte
      j += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** Asymmetric-distance lookup table for one QUERY vector: out[j*k + c] =
  * dot(querySub_j, codeword_jc). Evaluated once per query row (the small,
  * broadcast side); after it, scoring a corpus vector costs `m` array
  * lookups ([[PqAdcDotExpr]]) instead of a `dim`-wide dot product.
  */
case class PqLutExpr(child: Expression, codebooks: Seq[Seq[Array[Double]]])
    extends UnaryExpression with CodegenFallback {

  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "pq_lut needs at least one non-empty codebook")
  require(codebooks.forall(_.length == codebooks.head.length),
    "pq_lut codebooks must share one size k")
  require(codebooks.forall(_.forall(_.length == codebooks.head.head.length)),
    "pq_lut codewords must share one sub-dimension")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName, "an array<float|double> child",
      (child.dataType.catalogString, TextExprTypes.isVecArray(child.dataType)))

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"pq_lut expects array<float|double>, got $other")
  }
  @transient private lazy val m = codebooks.length
  @transient private lazy val k = codebooks.head.length
  @transient private lazy val dsub = codebooks.head.head.length

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val lut = new Array[Double](m * k)
    var j = 0
    while (j < m) {
      val cb = codebooks(j)
      var c = 0
      while (c < k) {
        val cw = cb(c)
        var s = 0.0
        var i = 0
        while (i < dsub) {
          val pos = j * dsub + i
          if (pos < n) {
            val x = if (isFloat) v.getFloat(pos).toDouble else v.getDouble(pos)
            s += x * cw(i)
          }
          i += 1
        }
        lut(j * k + c) = s
        c += 1
      }
      j += 1
    }
    new GenericArrayData(lut)
  }

  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
}

/** ADC dot product: Σ_j lut[j*k + codes(j)] — the pairwise-hot PQ scoring
  * step, scoring a corpus vector against a query in `m` lookups. Sits in
  * the candidate join's projection, so it participates in whole-stage
  * codegen like [[DotProductExpr]]. `k` is recovered per row from the two
  * array widths (lut carries m*k entries for the same m as codes).
  */
case class PqAdcDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_dot"

  // the one vector expression that had NO input validation: wrong-typed
  // arguments must fail analysis with the function's name, not
  // ClassCastException from a task (the file-wide convention)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextExprTypes.expect(prettyName,
      "array<tinyint> codes and array<double> lut",
      (left.dataType.catalogString,
        TextExprTypes.isArrayOf(left.dataType, ByteType)),
      (right.dataType.catalogString,
        TextExprTypes.isArrayOf(right.dataType, DoubleType)))

  override def nullSafeEval(codes: Any, lut: Any): Any = {
    val c = codes.asInstanceOf[ArrayData]
    val l = lut.asInstanceOf[ArrayData]
    val m = c.numElements()
    if (m == 0) 0.0
    else {
      // the LUT must be exactly m contiguous k-entry tables: a silent
      // truncating division would score codes against a DIFFERENT
      // codebook configuration's table with no error
      if (l.numElements() % m != 0)
        throw new IllegalArgumentException(
          s"pq_adc_dot: lut length ${l.numElements()} is not a " +
            s"multiple of code length $m")
      val k = l.numElements() / m
      var s = 0.0
      var j = 0
      while (j < m) { s += l.getDouble(j * k + c.getByte(j)); j += 1 }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, l) => {
      // fresh locals: two pq_adc_dot instances can land in ONE generated
      // function (whole-stage codegen) — fixed names would collide,
      // failing Janino and silently dropping the stage to interpreted
      val m = ctx.freshName("adcM")
      val k = ctx.freshName("adcK")
      val j = ctx.freshName("adcJ")
      val s = ctx.freshName("adcS")
      s"""
         |int $m = $c.numElements();
         |double $s = 0.0;
         |if ($m > 0) {
         |  if ($l.numElements() % $m != 0) {
         |    throw new IllegalArgumentException(
         |      "pq_adc_dot: lut length " + $l.numElements() +
         |      " is not a multiple of code length " + $m);
         |  }
         |  int $k = $l.numElements() / $m;
         |  for (int $j = 0; $j < $m; $j++) {
         |    $s += $l.getDouble($j * $k + $c.getByte($j));
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDotExpr =
    copy(left = newLeft, right = newRight)
}
