package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
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
  *
  * The ADC probes score with one more kernel, [[PqAdcScanExpr]]: a
  * per-row sum over driver-built lookup tables that ship as a
  * broadcast rather than as plan metadata.
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

  /** ADC scan of one PQ-coded row against every query that probes it:
    * array<struct<query_id, sim>> (see [[PqAdcScanExpr.scan]]). `cid`
    * (long) selects the row's coarse list; pass None for flat ADC, whose
    * tables carry no coarse part. The tables are a driver-made broadcast,
    * so they reach each executor once, not inside every task.
    */
  private[graft] def pqAdcScan(codes: Column, cid: Option[Column],
      tables: Broadcast[PqAdcTables], queryIdType: DataType): Column =
    ExpressionUtils.column(PqAdcScanExpr(
      (Seq(codes) ++ cid).map(ExpressionUtils.expression), tables,
      queryIdType))
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

/** Driver-built asymmetric-distance lookup tables (Jégou, Douze, Schmid,
  * TPAMI 2011 §IV–V, inner-product form) for [[PqAdcScanExpr]]. Indexing
  * is flat: `qd((q·M + m)·K + code)`, `cwn(m·K + code)`.
  *
  * @param queryIds internal values of the query id column, one per query
  * @param qn       ‖q‖ per query
  * @param qd       dot(q_m, codeword(m, code)): the Q×M×K query table
  * @param cwn      ‖codeword(m, code)‖²: the M×K norm table
  * @param coarse   the IVF-PQ probe's centroid part; null for flat ADC
  */
private[graft] final class PqAdcTables(
    val queryIds: Array[Any],
    val qn: Array[Double],
    val numSubspaces: Int,
    val codebookSize: Int,
    val qd: Array[Double],
    val cwn: Array[Double],
    val coarse: PqAdcCoarse) extends Serializable {

  /** Flat ADC: every query scores every row. */
  @transient private[functions] lazy val allQueries: Array[Int] =
    Array.range(0, queryIds.length)
}

/** The coarse-quantizer part of [[PqAdcTables]].
  *
  * @param cids    the index's centroid ids, ascending
  * @param cn0     ‖c‖² per centroid
  * @param cc      dot(c_m, codeword(m, code)): the C×M×K centroid table,
  *                indexed `(c·M + m)·K + code`
  * @param probers per centroid, the indices of the queries probing it
  * @param qc0     per centroid, dot(q, c) aligned with `probers`
  */
private[graft] final class PqAdcCoarse(
    val cids: Array[Long],
    val cn0: Array[Double],
    val cc: Array[Double],
    val probers: Array[Array[Int]],
    val qc0: Array[Array[Double]]) extends Serializable

private[graft] object PqAdcScanExpr {

  private val empty = new GenericArrayData(Array.empty[Any])

  /** Scores one coded row — shared by eval and generated code (static
    * forwarder). Each sum starts at 0.0 and adds its terms in m order,
    * the order the per-group `sum` aggregates of the join form saw them,
    * so every sum is the same IEEE value:
    *
    *  - flat: n2 = Σ cwn; sim = Σ qd / (qn·sqrt(n2));
    *  - coarse: n2 = cn0 + 2.0·Σ cc + Σ cwn;
    *    sim = (qc0 + Σ qd) / (qn·sqrt(n2)).
    *
    * Rows with n2 ≤ 0 (Spark's double ordering: NaN passes) emit nothing;
    * a zero denominator fails as ANSI division does. Codes must be M
    * non-null ints in [0, K): a short, long or out-of-range code array
    * would otherwise score against a truncated reconstruction.
    */
  def scan(t: PqAdcTables, codes: ArrayData, cid: Long): ArrayData = {
    val m = t.numSubspaces
    val k = t.codebookSize
    if (codes.numElements() != m) {
      throw new IllegalArgumentException(
        s"pq_adc_scan: expected $m codes, got ${codes.numElements()}")
    }
    val cs = new Array[Int](m)
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) {
        throw new IllegalArgumentException(s"pq_adc_scan: null code at $j")
      }
      val code = codes.getInt(j)
      if (code < 0 || code >= k) {
        throw new IllegalArgumentException(
          s"pq_adc_scan: code $code at $j outside [0, $k)")
      }
      cs(j) = code
      j += 1
    }
    val c = t.coarse
    val ci = if (c != null) java.util.Arrays.binarySearch(c.cids, cid) else -1
    val qs =
      if (c == null) t.allQueries else if (ci < 0) null else c.probers(ci)
    if (qs == null || qs.isEmpty) return empty
    var rn = 0.0
    j = 0
    while (j < m) { rn += t.cwn(j * k + cs(j)); j += 1 }
    val n2 = if (c != null) {
      var cross = 0.0
      val base = ci * m
      j = 0
      while (j < m) { cross += c.cc((base + j) * k + cs(j)); j += 1 }
      c.cn0(ci) + 2.0 * cross + rn
    } else rn
    if (SQLOrderingUtil.compareDoubles(n2, 0.0) <= 0) return empty
    val sn = math.sqrt(n2)
    val out = new Array[Any](qs.length)
    var p = 0
    while (p < qs.length) {
      val q = qs(p)
      var num = 0.0
      val base = q * m
      j = 0
      while (j < m) { num += t.qd((base + j) * k + cs(j)); j += 1 }
      val den = t.qn(q) * sn
      if (den == 0.0) {
        throw new ArithmeticException(
          "pq_adc_scan: zero cosine denominator (ANSI division by zero)")
      }
      val top = if (c != null) c.qc0(ci)(p) + num else num
      out(p) = new GenericInternalRow(Array[Any](t.queryIds(q), top / den))
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** See [[PqFunctions.pqAdcScan]]. Children: the codes (array<int>) and,
  * for a coarse-quantized index, the row's cid (long). The broadcast
  * handle is the tables' identity: one probe call makes one broadcast,
  * so two references to the same scan compare equal.
  */
private[graft] case class PqAdcScanExpr(children: Seq[Expression],
    tables: Broadcast[PqAdcTables], queryIdType: DataType)
    extends Expression {

  require(children.length == 1 || children.length == 2,
    "pq_adc_scan takes codes and an optional cid")

  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("query_id", queryIdType, nullable = false),
    StructField("sim", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "pq_adc_scan"
  override def checkInputDataTypes(): TypeCheckResult =
    TypeChecks.both(children.head.dataType match {
      case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
      case o => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<int> codes, got ${o.simpleString}")
    }, children.drop(1).map(_.dataType) match {
      case Seq() | Seq(LongType) => TypeCheckResult.TypeCheckSuccess
      case o => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a bigint cid, got ${o.head.simpleString}")
    })

  override def eval(input: InternalRow): Any = {
    val codes = children.head.eval(input)
    val cid = if (children.length == 2) children(1).eval(input) else 0L
    if (codes == null || cid == null) null
    else PqAdcScanExpr.scan(tables.value, codes.asInstanceOf[ArrayData],
      cid.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("adcBroadcast", tables,
      classOf[Broadcast[_]].getName)
    val cls = classOf[PqAdcTables].getName
    // the broadcast value is fetched once per generated-class instance
    val t = ctx.addMutableState(cls, "adcTables",
      v => s"$v = ($cls) $bcRef.value();")
    val gens = children.map(_.genCode(ctx))
    val cid = if (gens.length == 2) gens(1).value.toString else "0L"
    ev.copy(code = code"""
      |${gens.map(_.code).mkString("\n")}
      |boolean ${ev.isNull} = ${gens.map(_.isNull.toString).mkString(" || ")};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = graft.functions.PqAdcScanExpr.scan($t,
      |    ${gens.head.value}, $cid);
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
