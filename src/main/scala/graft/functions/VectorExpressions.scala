package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}

/** Scalar kernels shared by interpreted eval and generated code.
  *
  * TOP-LEVEL object on purpose: an object nested in `VectorExpressions`
  * compiles to JVM class `VectorExpressions$VecOps$`, which Janino cannot
  * resolve from the `VectorExpressions.VecOps$.MODULE$` spelling — every
  * generated projection failed to compile and Spark silently fell back to
  * INTERPRETED eval for the whole projection/predicate (the exact hot-path
  * regression these expressions exist to avoid). A top-level object gets
  * static forwarders, so generated code calls `graft.functions.VecOps
  * .dotLong(...)` as a plain static method. */
object VecOps {
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    var s = 0L
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** Top-n centroid ids by (cosine desc, id asc) for one vector.
    * Bit-identical to the HOF/DuckDB form: per-index double products
    * summed left-to-right, cos = dot / (sqrt(‖c‖²)·sqrt(‖v‖²)). */
  def nearestCentroids(v: ArrayData, cents: Array[Array[Double]],
                       ids: Array[Long], n: Int): ArrayData = {
    val dim = v.numElements()
    val vd = new Array[Double](dim)
    var nb = 0.0
    var i = 0
    while (i < dim) { vd(i) = v.getDouble(i); nb += vd(i) * vd(i); i += 1 }
    val nbs = math.sqrt(nb)
    val k = cents.length
    val negcos = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cv = cents(c)
      val m = math.min(dim, cv.length)
      var dot = 0.0
      var na = 0.0
      var j = 0
      while (j < m) { dot += vd(j) * cv(j); na += cv(j) * cv(j); j += 1 }
      negcos(c) = -(dot / (math.sqrt(na) * nbs))
      c += 1
    }
    val order = Array.range(0, k).sortBy(x => (negcos(x), ids(x)))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      order.take(math.min(n, k)).map(ids(_)))
  }

  /** `round(x.cast("double") * 1000000d).cast("long")` per element, as
    * Spark computes it: HALF_UP on the double's shortest decimal form
    * (`BigDecimal.valueOf`), then the ANSI cast, which fails outside the
    * long range. Null elements stay null. */
  def quantizeE6(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var nulls = false
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) nulls = true
      else {
        val y = v.getDouble(i) * 1000000d
        val r = if (y.isNaN || y.isInfinite) y
          else java.math.BigDecimal.valueOf(y).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue
        if (!(math.floor(r) <= Long.MaxValue.toDouble && math.ceil(r) >= Long.MinValue.toDouble))
          throw new ArithmeticException(s"$r cannot be cast to a long")
        out(i) = r.toLong
      }
      i += 1
    }
    if (!nulls) UnsafeArrayData.fromPrimitiveArray(out)
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate[Any](n)(j => if (v.isNullAt(j)) null else out(j)))
  }

  /** Random-hyperplane signature of a quantized vector: bit p is set iff
    * Σ_j qv(j)·planes(p)(j) > 0, the integer projection in ANSI (exact)
    * arithmetic. As in the `aggregate(zip_with(...))` form it replaces, a
    * null or missing element (length mismatch) makes the projection null
    * and the bit 0; a null vector signs 0. */
  def lshSignature(qv: ArrayData, planes: Array[Array[Int]]): Long = {
    if (qv == null) return 0L
    val n = qv.numElements()
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      val row = planes(p)
      var acc = 0L
      var j = 0
      while (j < n && j < row.length && !qv.isNullAt(j)) {
        acc = Math.addExact(acc, Math.multiplyExact(qv.getLong(j), row(j).toLong))
        j += 1
      }
      if (j == math.max(n, row.length) && acc > 0) sig |= 1L << p
      p += 1
    }
    sig
  }

  /** Away-from-zero half rounding of v·1000 — matches DuckDB `round`
    * exactly (Java Math.round is floor(x+0.5): differs at negative exact
    * halves, which float embeddings DO produce, e.g. -0.0625f·1000). */
  def quant1000(v: Double): Long = {
    val x = v * 1000.0
    if (x < 0) -Math.round(-x) else Math.round(x)
  }

  /** PQ encode: split the vector into m dsub-dim subvectors, quantize each
    * coordinate to ⌊·1000⌉ (away-from-zero), and per subspace pick the
    * centroid minimizing the INTEGER squared L2 distance (tie → lowest
    * code). cents is [m][k][dsub] integer-quantized centroids. Integer
    * arithmetic end-to-end ⇒ summation-order-free and bit-reproducible in
    * the DuckDB oracle. */
  def pqEncode(v: ArrayData, cents: Array[Array[Array[Long]]]): ArrayData = {
    val m = cents.length
    val out = new Array[Long](m)
    var s = 0
    while (s < m) {
      val sub = cents(s)
      val dsub = sub(0).length
      var best = Long.MaxValue
      var bestC = 0
      var c = 0
      while (c < sub.length) {
        var d = 0L
        var j = 0
        while (j < dsub) {
          val diff = quant1000(v.getDouble(s * dsub + j)) - sub(c)(j)
          d += diff * diff
          j += 1
        }
        if (d < best) { best = d; bestC = c }
        c += 1
      }
      out(s) = bestC.toLong
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** PQ asymmetric-distance table for one query vector: flattened m×k
    * array where entry s·k + c is the integer squared L2 distance from
    * the query's s-th subvector to centroid c of subspace s. */
  def pqDistTable(v: ArrayData, cents: Array[Array[Array[Long]]]): ArrayData = {
    val m = cents.length
    val k = cents(0).length
    val out = new Array[Long](m * k)
    var s = 0
    while (s < m) {
      val sub = cents(s)
      val dsub = sub(0).length
      var c = 0
      while (c < k) {
        var d = 0L
        var j = 0
        while (j < dsub) {
          val diff = quant1000(v.getDouble(s * dsub + j)) - sub(c)(j)
          d += diff * diff
          j += 1
        }
        out(s * k + c) = d
        c += 1
      }
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Native codegen'd vector kernels.
  *
  * Spark's higher-order functions (`aggregate`, `zip_with`) are
  * CodegenFallback — every evaluation walks an interpreted expression tree
  * per element (measured ~µs per 64-dim dot). These expressions emit a
  * primitive `long` loop instead (~ns), keeping similarity/dedup hot paths
  * inside whole-stage codegen. Integer-only on purpose: the engine's exact
  * similarity tests run on 10^-6-quantized vectors, where 64-bit dots are
  * overflow-free for unit-scale embeddings (|x|·10^6 ≤ ~2^21, dim ≤ 2^20).
  */
object VectorExpressions {

  /** vec_dot_long(array<long>, array<long>) → long — element-wise dot. */
  case class DotLong(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(a: Any, b: Any): Any =
      VecOps.dotLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.functions.VecOps.dotLong($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  def vec_dot_long(a: Column, b: Column): Column =
    toColumn(DotLong(toExpression(a), toExpression(b)))

  /** nearest_centroids(vec, n) → array<long> of the n best centroid ids by
    * (cosine desc, id asc). The centroid matrix rides along as a plan
    * REFERENCE OBJECT, not as literal child expressions — a k-centroid
    * ranking stays one small tree node (the naive k×3-HOF column form made
    * Catalyst re-walk a huge tree on every plan pass; measured seconds of
    * pure driver time at k=40). */
  case class NearestCentroids(child: Expression, ids: Array[Long],
                              cents: Array[Array[Double]], n: Int)
      extends UnaryExpression {
    require(ids.length == cents.length && n >= 1)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      VecOps.nearestCentroids(v.asInstanceOf[ArrayData], cents, ids, n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val refC = ctx.addReferenceObj("cents", cents, "double[][]")
      val refI = ctx.addReferenceObj("ids", ids, "long[]")
      defineCodeGen(ctx, ev, v =>
        s"graft.functions.VecOps.nearestCentroids($v, $refC, $refI, $n)")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Column form; casts the vector to array<double> (float inputs upcast
    * exactly). */
  def nearest_centroids(vec: Column, centroids: Seq[(Long, Seq[Double])],
                        n: Int): Column =
    toColumn(NearestCentroids(
      toExpression(vec.cast(ArrayType(DoubleType))),
      centroids.map(_._1).toArray,
      centroids.map(_._2.toArray).toArray, n))

  /** vec_quantize_e6(array<double>) → array<long>: round(x·10^6) per
    * element ([[VecOps.quantizeE6]]). */
  case class QuantizeE6(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType,
      child.dataType.asInstanceOf[ArrayType].containsNull)
    override def nullSafeEval(v: Any): Any = VecOps.quantizeE6(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, v => s"graft.functions.VecOps.quantizeE6($v)")
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** lsh_signature(array<long>) → long ([[VecOps.lshSignature]]); the ±1
    * plane matrix rides as a reference object like NearestCentroids'
    * centroids. Never null: a null vector signs 0. */
  case class LshSignature(child: Expression, planes: Array[Array[Int]])
      extends UnaryExpression {
    require(planes.length <= 63, "signature packs into one long")
    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any =
      VecOps.lshSignature(child.eval(input).asInstanceOf[ArrayData], planes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val refP = ctx.addReferenceObj("planes", planes, "int[][]")
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        long ${ev.value} = graft.functions.VecOps.lshSignature(
          ${c.isNull} ? null : ${c.value}, $refP);""", isNull = FalseLiteral)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Quantized vector of `vec` (any numeric array, upcast to double). */
  def vec_quantize_e6(vec: Column): Column =
    toColumn(QuantizeE6(toExpression(vec.cast(ArrayType(DoubleType)))))

  def lsh_signature(qv: Column, planes: Array[Array[Int]]): Column =
    toColumn(LshSignature(toExpression(qv), planes))

  /** pq_encode(vec) → array<long> of m codes (see [[VecOps.pqEncode]]).
    * Codebooks ride as a plan reference object like NearestCentroids —
    * the 10^12-row side encodes in one narrow codegen'd node. */
  case class PqEncode(child: Expression, cents: Array[Array[Array[Long]]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      VecOps.pqEncode(v.asInstanceOf[ArrayData], cents)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val refC = ctx.addReferenceObj("cents", cents, "long[][][]")
      defineCodeGen(ctx, ev, v => s"graft.functions.VecOps.pqEncode($v, $refC)")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** pq_dist_table(vec) → array<long> of m·k asymmetric distances
    * (see [[VecOps.pqDistTable]]). */
  case class PqDistTable(child: Expression, cents: Array[Array[Array[Long]]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      VecOps.pqDistTable(v.asInstanceOf[ArrayData], cents)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val refC = ctx.addReferenceObj("cents", cents, "long[][][]")
      defineCodeGen(ctx, ev, v => s"graft.functions.VecOps.pqDistTable($v, $refC)")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  def pq_encode(vec: Column, cents: Array[Array[Array[Long]]]): Column =
    toColumn(PqEncode(toExpression(vec.cast(ArrayType(DoubleType))), cents))

  def pq_dist_table(vec: Column, cents: Array[Array[Array[Long]]]): Column =
    toColumn(PqDistTable(toExpression(vec.cast(ArrayType(DoubleType))), cents))
}
