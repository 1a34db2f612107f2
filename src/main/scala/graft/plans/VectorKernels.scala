package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Native float-vector kernel backing every cosine in the ANN/SemDeDup ops.
  *
  * The HOF formulation it replaces — `aggregate(zip_with(x, y, a·b), 0, +)`
  * — evaluates an interpreted lambda per ELEMENT per pair (ArrayAggregate
  * does not participate in codegen), which dominated q64's within-cluster
  * pair mining (~6M pairs × 64 dims at sf0.1). The kernel is one generated
  * static call per pair with a primitive while-loop inside.
  *
  * Bit-parity contract (gated in VectorKernelsSpec and by the q30–q33/q64
  * oracles + pins staying green): float→double widening per element, one
  * double multiply, left-to-right double accumulation — the exact IEEE
  * operation sequence of the HOF fold, so every cosine in the repo is
  * unchanged to the last ulp. Inputs must be equal-length `array<float>`
  * without null elements (every embedding column in the repo): a length
  * mismatch or a null element throws `IllegalArgumentException` instead of
  * truncating or reading 0.0. A null array yields null (the expression is
  * null-safe). */
object VectorKernel {
  def dotF(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    require(n == y.numElements(), s"float_dot: vector lengths differ ($n vs ${y.numElements()})")
    requireNoNull(x, "float_dot")
    requireNoNull(y, "float_dot")
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  /** Throws `IllegalArgumentException` naming `fn` and the first null
    * element's index if `v` holds a null, checked ahead of (not inside) the
    * arithmetic loop. An `UnsafeArrayData` (an array read from an
    * `UnsafeRow`) is checked a 64-bit word of its null bitmap at a time:
    * the bitmap follows the 8-byte element count, one bit per element,
    * unused bits zero. */
  def requireNoNull(v: ArrayData, fn: String): Unit = {
    val n = v.numElements()
    val clean = v match {
      case u: UnsafeArrayData =>
        var w = 0
        while (w < (n + 63) / 64 &&
          Platform.getLong(u.getBaseObject, u.getBaseOffset + 8 + 8L * w) == 0L) w += 1
        w == (n + 63) / 64
      case _ => false
    }
    var i = 0
    while (!clean && i < n) {
      if (v.isNullAt(i)) throw new IllegalArgumentException(s"$fn: null vector element at index $i")
      i += 1
    }
  }
}

/** Native nearest-centroid kernel for the IVF coarse quantizer
  * (graft.ops.IvfIndex). Replaces an `array(...)` of nCentroids independent
  * `aggregate(zip_with(v, c, (a−b)²))` folds + `array_min` — interpreted
  * lambdas per row — with one generated static call.
  *
  * Bit-parity contract (gated by the q33 golden pin and IvfSpec): per
  * centroid, float→double widening per element, (a−b)² in double,
  * LEFT-TO-RIGHT double accumulation — the exact IEEE sequence of the HOF
  * fold; ties break to the LOWEST cell index, exactly what
  * `array_min(array(struct(d, cell)…))` returned (lexicographic struct
  * minimum). The vector must match the centroids' dimension and hold no
  * null element; otherwise the kernel throws `IllegalArgumentException`
  * instead of truncating or reading 0.0. A null vector yields null. */
object IvfKernel {
  def nearestCell(v: ArrayData, cents: Array[Array[Double]]): Int = {
    val n = v.numElements()
    require(n == cents(0).length,
      s"ivf_nearest_cell: vector length $n, centroid dimension ${cents(0).length}")
    VectorKernel.requireNoNull(v, "ivf_nearest_cell")
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var d = 0.0
      var i = 0
      while (i < n) {
        val t = v.getFloat(i).toDouble - c(i)
        d += t * t
        i += 1
      }
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }
}

/** `ivf_nearest_cell(v)` → int against the literal centroid matrix. */
case class IvfNearestCellExpression(child: Expression, cents: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes {
  require(cents.nonEmpty, "ivf_nearest_cell needs at least one centroid")
  require(cents.forall(_.length == cents(0).length),
    "ivf_nearest_cell: centroids of different dimensions")
  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "ivf_nearest_cell"

  override def nullSafeEval(v: Any): Any =
    IvfKernel.nearestCell(v.asInstanceOf[ArrayData], cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("cents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.IvfKernel$$.MODULE$$.nearestCell($v, $centsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfNearestCellExpression =
    copy(child = newChild)
}

/** `float_dot(x, y)` → double. */
case class FloatDotExpression(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def prettyName: String = "float_dot"

  override def nullSafeEval(x: Any, y: Any): Any =
    VectorKernel.dotF(x.asInstanceOf[ArrayData], y.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.plans.VectorKernel$$.MODULE$$.dotF($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotExpression =
    copy(left = newLeft, right = newRight)
}
