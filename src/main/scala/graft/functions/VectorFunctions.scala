package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Static vector kernels. Public static methods so generated (whole-stage
  * codegen) Java can call them directly — the expressions below compile to
  * a single static call and stay inside the codegen span instead of
  * falling back to interpreted eval.
  */
object VectorMath {
  /** dot product of two float arrays, accumulated in double, index order. */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** cosine = dot / (sqrt(|a|^2) * sqrt(|b|^2)); 0.0 for a zero vector.
    * Single pass over both arrays (dot and both norms accumulated
    * together — one memory walk instead of three). */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n  = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na  = 0.0
    var nb  = 0.0
    var i   = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    // tail elements of the longer vector still count toward its norm
    var j = n
    while (j < a.numElements()) { val x = a.getFloat(j).toDouble; na += x * x; j += 1 }
    j = n
    while (j < b.numElements()) { val y = b.getFloat(j).toDouble; nb += y * y; j += 1 }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d == 0.0) 0.0 else dot / d
  }

  /** 0-based index of the nearest centroid by squared L2 distance over a
    * float vector and an array<array<double>> centroid matrix; strict
    * less-than keeps the FIRST (lowest-index) centroid on exact ties,
    * and per-centroid accumulation runs in index order d=0..n — both
    * invariants the SQL oracle's `ORDER BY dist, label` + left-fold
    * reproduce bit-for-bit. */
  def nearestCentroid(emb: ArrayData, cents: ArrayData): Int = {
    var best  = -1
    var bestD = Double.PositiveInfinity
    var c     = 0
    while (c < cents.numElements()) {
      val cv = cents.getArray(c)
      val n  = math.min(emb.numElements(), cv.numElements())
      var d  = 0.0
      var i  = 0
      while (i < n) {
        val x = emb.getFloat(i).toDouble - cv.getDouble(i)
        d += x * x
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** 0-based indices of the `p` nearest centroids by squared L2
    * distance, ordered (dist asc, index asc) — the multi-probe
    * generalization of [[nearestCentroid]] (whose result is always
    * element 0 of this list). Same strict-less-than/index-order
    * accumulation contract, so the SQL oracle's
    * `row_number() OVER (ORDER BY dist, label) <= p` reproduces the
    * probe set bit-for-bit. k is the coarse-quantizer arity (tiny);
    * selection is one insertion pass over a p-length array. */
  def topCentroids(emb: ArrayData, cents: ArrayData, p: Int): ArrayData = {
    val k    = cents.numElements()
    val take = math.min(p, k)
    val idx  = new Array[Int](take)
    val dst  = new Array[Double](take)
    var m    = 0 // filled slots
    var c    = 0
    while (c < k) {
      val d = sqDistFD(emb, cents.getArray(c))
      // insertion position: after all strictly-better (dist, idx) pairs —
      // ties keep the lower index, which arrived first
      if (m < take || d < dst(m - 1)) {
        var i = if (m < take) m else m - 1
        while (i > 0 && dst(i - 1) > d) { dst(i) = dst(i - 1); idx(i) = idx(i - 1); i -= 1 }
        dst(i) = d; idx(i) = c
        if (m < take) m += 1
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(idx)
  }

  /** squared L2 distance between two DOUBLE vectors, index-order
    * accumulation — the centroid→super-centroid leg of the two-level
    * quantizer; same fold order (hence same double) as the SQL oracle. */
  def sqDistDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i) - b.getDouble(i)
      d += x * x
      i += 1
    }
    d
  }

  /** [[nearestCentroid]] for a DOUBLE query vector (strict less-than,
    * lowest index on exact ties, index-order accumulation — the same
    * contract, so the oracle's `ORDER BY dist, label` reproduces it). */
  def nearestCentroidD(emb: ArrayData, cents: ArrayData): Int = {
    var best  = -1
    var bestD = Double.PositiveInfinity
    var c     = 0
    while (c < cents.numElements()) {
      val d = sqDistDD(emb, cents.getArray(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** 8-bit scalar quantization of a float vector against per-dimension
    * [lo, hi] bounds: code_d = clamp(floor((x_d − lo_d)·255/(hi_d −
    * lo_d)), 0, 255), 0 where hi_d = lo_d. Every step is a correctly-
    * rounded IEEE double op in a fixed order, so any engine evaluating
    * the same formula (the SQL oracle does) produces bit-identical
    * codes. */
  def quantize8(emb: ArrayData, lo: ArrayData, hi: ArrayData): ArrayData = {
    val n   = emb.numElements()
    val out = new Array[Int](n)
    var i   = 0
    while (i < n) {
      val l = lo.getDouble(i)
      val h = hi.getDouble(i)
      val c =
        if (h == l) 0
        else {
          val q = math.floor((emb.getFloat(i).toDouble - l) * 255.0 / (h - l)).toInt
          if (q < 0) 0 else if (q > 255) 255 else q
        }
      out(i) = c
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** squared L2 distance between two int code vectors — EXACT integer
    * arithmetic, no rounding contract needed. */
  def sqDistI(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0L
    var i = 0
    while (i < n) {
      val x = (a.getInt(i) - b.getInt(i)).toLong
      d += x * x
      i += 1
    }
    d
  }

  /** squared L2 distance between a float vector and a double centroid,
    * accumulated in index order d=0..n — the same order (and hence the
    * same double, bit-for-bit) as one [[nearestCentroid]] candidate and
    * as the SQL oracle's left-fold. */
  def sqDistFD(emb: ArrayData, cent: ArrayData): Double = {
    val n = math.min(emb.numElements(), cent.numElements())
    var d = 0.0
    var i = 0
    while (i < n) {
      val x = emb.getFloat(i).toDouble - cent.getDouble(i)
      d += x * x
      i += 1
    }
    d
  }
}

/** Plain-array twins of VectorMath for driver/executor Scala loops
  * (block all-pairs kernels, tests). Same accumulation order as the
  * ArrayData versions → identical doubles.
  */
object VectorMathArr {
  def dot(a: Array[Float], b: Array[Float]): Double = {
    val n   = math.min(a.length, b.length)
    var acc = 0.0
    var i   = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }
}

/** Codegen'd dot product over `array<float>` columns (single pass, no
  * intermediate array allocation — unlike `aggregate(zip_with(...))`
  * which builds the product array and evaluates interpreted).
  */
case class DotProductF(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.dotF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorMath.dotF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Codegen'd cosine similarity over `array<float>` columns. */
case class CosineSimilarityF(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorMath.cosineF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Codegen'd nearest-centroid index: (array<float>, array<array<double>>)
  * -> int. The centroid matrix is a (foldable) literal built from a
  * collected k×dim coarse quantizer — the IVF assignment step stays in
  * whole-stage codegen instead of boxing Seq[Float] through a Scala UDF.
  */
case class NearestCentroidIdx(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.nearestCentroid(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorMath.nearestCentroid($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Codegen'd nearest-centroid index for a DOUBLE query vector:
  * (array<double>, array<array<double>>) -> int — the centroid→super
  * assignment of the two-level (IVF-coarse) quantizer.
  */
case class NearestCentroidIdxD(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.nearestCentroidD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorMath.nearestCentroidD($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Codegen'd top-p nearest-centroid indices: (array<float>,
  * array<array<double>>) -> array<int>, ordered (dist asc, index asc) —
  * the IVF multi-probe assignment. `p` is a plan-time constant baked
  * into the generated call, not a child expression.
  */
case class TopCentroidIdxs(left: Expression, right: Expression, p: Int)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.topCentroids(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorMath.topCentroids($a, $b, $p)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Codegen'd squared L2 distance: (array<float>, array<double>) -> double
  * — the per-member inertia term of a k-means assignment (the centroid
  * side is a foldable literal, so the whole expression stays in
  * whole-stage codegen).
  */
case class SqDistFD(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.sqDistFD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorMath.sqDistFD($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Codegen'd 8-bit scalar quantization: (array<float>, array<double> lo,
  * array<double> hi) -> array<int> codes. The bounds are (foldable)
  * literals from a 64-row corpus aggregate, so quantization is a pure
  * map inside whole-stage codegen — the compression step of an SQ8
  * vector index.
  */
case class Quantize8(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(emb: Any, lo: Any, hi: Any): Any =
    VectorMath.quantize8(emb.asInstanceOf[ArrayData], lo.asInstanceOf[ArrayData],
      hi.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c) => s"graft.functions.VectorMath.quantize8($a, $b, $c)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** Codegen'd exact integer squared L2 over int code vectors — the SQ8
  * asymmetric-scan distance (both sides quantized, so the comparison is
  * pure integer arithmetic and cross-engine exact by construction).
  */
case class SqDistInt(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.sqDistI(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorMath.sqDistI($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-level API. `cosineBuiltin` is the pure-`functions._` composition
  * (higher-order functions, interpreted) kept as a cross-check for the
  * codegen'd expression; `cosine` is the fast path.
  */
object VectorFunctions {
  import ColumnBridge.{column, expression}

  def dot(a: Column, b: Column): Column    = column(DotProductF(expression(a), expression(b)))
  def cosine(a: Column, b: Column): Column = column(CosineSimilarityF(expression(a), expression(b)))
  def nearestCentroidIdx(emb: Column, cents: Column): Column =
    column(NearestCentroidIdx(expression(emb), expression(cents)))
  def nearestCentroidIdxD(emb: Column, cents: Column): Column =
    column(NearestCentroidIdxD(expression(emb), expression(cents)))
  def sqDist(emb: Column, cent: Column): Column =
    column(SqDistFD(expression(emb), expression(cent)))
  def topCentroidIdxs(emb: Column, cents: Column, p: Int): Column =
    column(TopCentroidIdxs(expression(emb), expression(cents), p))
  def quantize8(emb: Column, lo: Column, hi: Column): Column =
    column(Quantize8(expression(emb), expression(lo), expression(hi)))
  def sqDistInt(a: Column, b: Column): Column =
    column(SqDistInt(expression(a), expression(b)))

  /** Same semantics as `cosine`, built only from org.apache.spark.sql.functions. */
  def cosineBuiltin(a: Column, b: Column): Column = {
    val ad  = a.cast(ArrayType(DoubleType))
    val bd  = b.cast(ArrayType(DoubleType))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na  = aggregate(ad, lit(0.0), (acc, v) => acc + v * v)
    val nb  = aggregate(bd, lit(0.0), (acc, v) => acc + v * v)
    val den = sqrt(na) * sqrt(nb)
    when(den === 0.0, 0.0).otherwise(dot / den)
  }
}
