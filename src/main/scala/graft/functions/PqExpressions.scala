package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._

/** Codegen'd product-quantization assignment kernels (round 21).
  *
  * The PQ assign/encode stages previously expressed "nearest codeword
  * per subspace" either as a K-way broadcast join + min_by shuffle
  * (N×M×K row explosion) or — the first round-21 attempt — as nested
  * `transform`/`array_min` lambdas over a codebook literal. The lambda
  * form re-evaluates the vector expression once per REFERENCE per
  * lambda application (the documented CollapseProject hazard — see
  * [[VectorFunctions]]'s scaladoc): with an upstream OPQ rotation as
  * the vector expression, one q239 encode stage became ~10⁶ interpreted
  * ops per row. These kernels evaluate their input exactly once per row
  * and run the argmin as a tight JVM loop, with the codebooks attached
  * as plan metadata (M×K×subDim doubles — the collect-a-sketch class).
  *
  * Arithmetic is byte-for-byte the join form's: the candidate distance
  * is ((dot(v,v) − 2·dot(v,c)) + dot(c,c)) with every dot accumulated
  * left-to-right in double (dot(v,v) is loop-invariant and hoisted —
  * the identical IEEE value the per-candidate re-evaluation produced),
  * and the argmin compares via `java.lang.Double.compare`, i.e. the
  * (distance, cid) struct ordering min_by used (NaN greatest, ties to
  * the lowest cid).
  */
object PqFunctions {

  /** Case-class fields carry the codebooks as immutable nested Seqs so
    * that `equals`/`semanticEquals`/`canonicalized` compare STRUCTURALLY
    * (ADVICE r21: Array fields degrade to reference equality, defeating
    * subexpression elimination and exchange/cache reuse); the kernels
    * convert to primitive arrays lazily, once per (de)serialized
    * instance.
    */
  private[functions] def deep(cb: Array[Array[Array[Double]]])
      : Seq[Seq[Seq[Double]]] =
    cb.toSeq.map(_.toSeq.map(_.toSeq))

  /** Full-vector PQ encode: array<int> of length M, codes(m) = nearest
    * codeword of subspace m. Fails loudly on a ragged vector (the
    * [[graft.operators.Similarity]] subVectors contract).
    */
  def pqCodes(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    ExpressionUtils.column(
      PqCodesExpr(ExpressionUtils.expression(vec), deep(codebooks)))

  /** Single-subspace nearest codeword for an already-sliced subvector
    * (the training-sweep form, where subvectors are exploded rows).
    */
  def pqNearestCode(subvec: Column, m: Column,
      codebooks: Array[Array[Array[Double]]]): Column =
    ExpressionUtils.column(PqNearestCodeExpr(
      ExpressionUtils.expression(subvec),
      ExpressionUtils.expression(m), deep(codebooks)))

  /** argmax_cid cosine(vec, centroid) with ties to the LOWEST cid — the
    * codegen'd form of the IVF/kmeans assignment argmax
    * `max_by(cid, struct(cosine, -cid))` (round 22; ADVICE r21: the
    * per-centroid `struct(lit, typedLit(array))` literal bloats the
    * Catalyst tree and the `transform` lambda re-evaluates a DERIVED
    * vector input once per centroid — the CollapseProject hazard the PQ
    * kernels already close). Returns the winning cid as a long; the
    * caller casts back to the centroid frame's cid type.
    */
  def nearestCentroidId(vec: Column, cids: Seq[Long],
      centroids: Seq[Seq[Double]]): Column =
    ExpressionUtils.column(NearestCentroidExpr(
      ExpressionUtils.expression(vec), cids, centroids))
}

object PqCodesExpr {
  /** Nearest codeword of `cb` for the subvector at [base, base+subDim)
    * of `vec` — shared by eval and generated code (static forwarder).
    */
  def nearest(vec: ArrayData, isFloat: Boolean, base: Int,
      cb: Array[Array[Double]]): Int = {
    @inline def get(i: Int): Double =
      if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
    val subDim = cb(0).length
    var dv = 0.0
    var i = 0
    while (i < subDim) { val x = get(base + i); dv += x * x; i += 1 }
    var best = 0
    var bestD = Double.NaN
    var k = 0
    while (k < cb.length) {
      val c = cb(k)
      var dvc = 0.0
      var dcc = 0.0
      i = 0
      while (i < subDim) {
        val x = get(base + i); val y = c(i)
        dvc += x * y; dcc += y * y; i += 1
      }
      val d = (dv - 2.0 * dvc) + dcc
      if (k == 0 || java.lang.Double.compare(d, bestD) < 0) {
        bestD = d; best = k
      }
      k += 1
    }
    best
  }

  def codes(vec: ArrayData, isFloat: Boolean,
      cb: Array[Array[Array[Double]]]): ArrayData = {
    val m = cb.length
    val subDim = cb(0)(0).length
    val dim = m * subDim
    if (vec.numElements() != dim) {
      throw new RuntimeException(
        s"pq: expected dim $dim, got ${vec.numElements()}")
    }
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      out(j) = nearest(vec, isFloat, j * subDim, cb(j))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** See [[PqFunctions.pqCodes]]. */
case class PqCodesExpr(child: Expression,
    codebooks: Seq[Seq[Seq[Double]]]) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_codes"
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.vector(prettyName, child.dataType)

  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected override def nullSafeEval(input: Any): Any =
    PqCodesExpr.codes(input.asInstanceOf[ArrayData], elemIsFloat, cbArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", cbArr, "double[][][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.PqCodesExpr.codes($c, $elemIsFloat, $cbRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** See [[PqFunctions.pqNearestCode]]. */
case class PqNearestCodeExpr(left: Expression, right: Expression,
    codebooks: Seq[Seq[Seq[Double]]]) extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_nearest_code"
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.both(TypeChecks.vector(prettyName, left.dataType),
      right.dataType match {
        case IntegerType => TypeCheckResult.TypeCheckSuccess
        case o => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an int subspace index, got ${o.simpleString}")
      })

  @transient private lazy val cbArr: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray

  private def elemIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected override def nullSafeEval(sub: Any, m: Any): Any = {
    val arr = sub.asInstanceOf[ArrayData]
    val cb = cbArr(m.asInstanceOf[Int])
    if (arr.numElements() != cb(0).length) {
      throw new RuntimeException(
        s"pq: expected subvector dim ${cb(0).length}, got " +
          s"${arr.numElements()}")
    }
    PqCodesExpr.nearest(arr, elemIsFloat, 0, cb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", cbArr, "double[][][]")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cb = ctx.freshName("cb")
      s"""
         |double[][] $cb = $cbRef[$b];
         |if ($a.numElements() != $cb[0].length) {
         |  throw new RuntimeException("pq: expected subvector dim " +
         |    $cb[0].length + ", got " + $a.numElements());
         |}
         |${ev.value} = graft.functions.PqCodesExpr.nearest(
         |  $a, $elemIsFloat, 0, $cb);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NearestCentroidExpr {

  /** Spark's double ordering (SQLOrderingUtil.compareDoubles): −0.0 and
    * 0.0 compare equal, NaN greater than everything — exactly what the
    * `struct(cosine, −cid)` array_max compared.
    */
  def cmp(a: Double, b: Double): Int =
    if (a < b) -1
    else if (a > b) 1
    else if (a == b) 0
    else {
      val an = java.lang.Double.isNaN(a)
      val bn = java.lang.Double.isNaN(b)
      if (an && bn) 0 else if (an) 1 else -1
    }

  /** Winning cid of the cosine argmax — shared by eval and generated
    * code (static forwarder). A vector whose length differs from a
    * centroid's fails loudly, as the PQ kernels do on ragged input: a
    * dot truncated to the shorter length would rank a plausible but
    * wrong centroid. Arithmetic is byte-for-byte the HOF form's: each
    * dot is a left-to-right double accumulation ([[DotProductExpr]]'s
    * loop), the cosine is
    * dot(v,c) / (sqrt(dot(v,v))·sqrt(dot(c,c))) — dot(v,v) is
    * loop-invariant and hoisted, the identical IEEE value the lambda
    * recomputed per centroid — and ties break to the lowest cid (the
    * −cid struct field).
    */
  def nearest(vec: ArrayData, isFloat: Boolean, cids: Array[Long],
      cents: Array[Array[Double]]): Long = {
    @inline def get(i: Int): Double =
      if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
    val n = vec.numElements()
    var dvv = 0.0
    var i = 0
    while (i < n) { val x = get(i); dvv += x * x; i += 1 }
    val nv = math.sqrt(dvv)
    var bestCid = 0L
    var bestS = 0.0
    var k = 0
    while (k < cents.length) {
      val c = cents(k)
      if (c.length != n) {
        throw new IllegalArgumentException(
          s"nearest_centroid: vector dim $n, centroid dim ${c.length}")
      }
      var dvc = 0.0
      i = 0
      while (i < n) { dvc += get(i) * c(i); i += 1 }
      var dcc = 0.0
      i = 0
      while (i < c.length) { val y = c(i); dcc += y * y; i += 1 }
      val den = nv * math.sqrt(dcc)
      // the sessions run ANSI (Spark 4 default): the HOF form's cosine
      // threw DIVIDE_BY_ZERO on a zero-norm vector or centroid — keep
      // that degenerate fail-loud rather than quietly ranking NaNs
      if (den == 0.0) {
        throw new ArithmeticException(
          "nearest_centroid: zero-norm vector or centroid (cosine " +
            "undefined; ANSI division by zero)")
      }
      val s = dvc / den
      val c0 = if (k == 0) 1 else cmp(s, bestS)
      if (c0 > 0 || (c0 == 0 && cids(k) < bestCid)) {
        bestS = s; bestCid = cids(k)
      }
      k += 1
    }
    bestCid
  }
}

/** See [[PqFunctions.nearestCentroidId]]. */
case class NearestCentroidExpr(child: Expression, cids: Seq[Long],
    centroids: Seq[Seq[Double]]) extends UnaryExpression {

  require(cids.nonEmpty && cids.length == centroids.length,
    "nearest_centroid needs matching non-empty cid/centroid lists")

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_centroid"
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.vector(prettyName, child.dataType)

  @transient private lazy val cidArr: Array[Long] = cids.toArray
  @transient private lazy val centArr: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected override def nullSafeEval(input: Any): Any =
    NearestCentroidExpr.nearest(input.asInstanceOf[ArrayData],
      elemIsFloat, cidArr, centArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidRef = ctx.addReferenceObj("centroidIds", cidArr, "long[]")
    val cvRef = ctx.addReferenceObj("centroids", centArr, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NearestCentroidExpr.nearest($c, $elemIsFloat, " +
        s"$cidRef, $cvRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
